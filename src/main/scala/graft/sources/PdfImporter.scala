package graft.sources

import scala.jdk.CollectionConverters._

import graft.model.ParserAnswer
import graft.sources.pdf.{PdfParser, PdfTextExtractor}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{IntegerType, StructField, StructType}

/** PDF table importer — the reference's `ImportPDF` (`main.py:371-412`),
  * which shells out to the tabula JAR via tabula-py (`pages="all"`,
  * `header=None`). No PDF jar exists on the offline classpath, so the
  * extraction itself is the hand-rolled [[graft.sources.pdf.PdfParser]] +
  * [[graft.sources.pdf.PdfTextExtractor]] pair (built from the public ISO
  * 32000 spec — same decision as the BIFF8 `.xls` reader): lenient object
  * scan, FlateDecode, text-operator interpretation, stream-mode row/column
  * clustering. One table per page with any text; pages without text are
  * skipped, matching tabula's "tables found" list shape.
  *
  * Reference dataflow reproduced exactly (`main.py:382-404`):
  *  - `concat = true` (default): tables whose column count equals the
  *    FIRST table's are positionally concatenated into the
  *    `"PDF file content (concated)"` answer; the rest into
  *    `"PDF file content (unsized)"`, emitted only when non-empty. Both
  *    carry the `reset_index` surplus `index` column (the observable
  *    pandas quirk) — [[concat]] with `withIndexColumn = true`.
  *  - `concat = false`: one `"PDF file content (by page)"` answer per
  *    table.
  *
  * Cells are all-string positional columns (tabula `header=None` parity).
  * Zero extractable tables → the never-throw Failed answer. Decode and
  * concat are in process at every size, into driver-local frames: a PDF's
  * pages aren't independently addressable without parsing the whole
  * object graph (the reference's tabula subprocess is single-file
  * single-threaded too); at scale parallelism comes from many files, not
  * from inside one.
  */
object PdfImporter {

  /** The two concat groups; `invalid` is None when every table has the
    * first one's arity. */
  final case class Concat(valid: Option[DataFrame], invalid: Option[DataFrame])

  /** One entry per extracted TABLE (pages can hold several, split at
    * large vertical gaps — tabula's list-of-tables granularity). */
  def tables(path: String): Seq[Seq[IndexedSeq[String]]] =
    PdfParser.parse(FsIO.readAllBytes(path)) match {
      case None => Nil
      case Some(doc) =>
        doc.pages.flatMap { page =>
          val fonts = doc.pageFonts(page)
          doc.pageContent(page).toSeq
            .flatMap(c => PdfTextExtractor.tables(PdfTextExtractor.page(c, fonts)))
            .filter(_.nonEmpty)
        }
    }

  def answers(spark: SparkSession, r: Route, concat: Boolean = true): Seq[ParserAnswer] = {
    val found = tables(r.path)
    if (found.isEmpty) return Nil
    val engine = r.format.engine
    if (concat) {
      val c = this.concat(spark, found, withIndexColumn = true)
      // the first table is always in the valid group; parseInfo on a
      // driver-local frame runs no job
      ParserAnswer(c.valid.get, r.path,
        sheetName = "PDF file content (concated)", engine = engine) +:
        c.invalid.toSeq.map(inv => ParserAnswer(inv, r.path,
          sheetName = "PDF file content (unsized)", engine = engine))
    } else found.map { rows =>
      ParserAnswer(Formats.frame(spark, Sheet("", rows)), r.path,
        sheetName = "PDF file content (by page)",
        engine = engine, knownRowCount = Some(rows.length.toLong))
    }
  }

  /** The reference's concat (`main.py:382-404`) over decoded tables, in
    * process: tables with the FIRST table's arity form the valid group,
    * the rest the invalid one, each concatenated positionally and
    * null-padded to its widest table (pandas `concat` NaN-pads the mixed
    * arities of the invalid group, `main.py:388-390`). With
    * `withIndexColumn`, a 0-based running `index` column comes first
    * (`reset_index`, `main.py:391-392`). */
  def concat(
      spark: SparkSession,
      tables: Seq[Seq[IndexedSeq[String]]],
      withIndexColumn: Boolean = false): Concat = {
    def width(t: Seq[IndexedSeq[String]]): Int = Sheet("", t).width
    def group(ts: Seq[Seq[IndexedSeq[String]]]): Option[DataFrame] =
      if (ts.isEmpty) None
      else {
        val w = ts.map(width).max
        val rows = ts.flatten.map(_.padTo(w, null))
        val cells = TextImporter.positionalSchema(w)
        Some(
          if (!withIndexColumn)
            spark.createDataFrame(rows.map(Row.fromSeq).asJava, cells)
          else
            spark.createDataFrame(
              rows.zipWithIndex.map { case (row, i) => Row.fromSeq(i +: row) }.asJava,
              StructType(StructField("index", IntegerType, nullable = false) +: cells.fields)))
      }
    val arity = tables.headOption.fold(0)(width)
    val (valid, invalid) = tables.partition(width(_) == arity)
    Concat(group(valid), group(invalid))
  }
}
