package graft.sources

import graft.model.ParserAnswer
import graft.operators.UnionByArity
import graft.sources.pdf.{PdfParser, PdfTextExtractor}
import org.apache.spark.sql.SparkSession

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
  *    pandas quirk) — [[graft.operators.UnionByArity]] with
  *    `withIndexColumn = true`.
  *  - `concat = false`: one `"PDF file content (by page)"` answer per
  *    table.
  *
  * Cells are all-string positional columns (tabula `header=None` parity).
  * Zero extractable tables → the never-throw Failed answer. Decode is
  * driver-side by design: a PDF's pages aren't independently addressable
  * without parsing the whole object graph (the reference's tabula
  * subprocess is single-file single-threaded too); at scale parallelism
  * comes from many files, not from inside one.
  */
object PdfImporter {

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
    val frames = found.map(rows => Formats.frame(spark, Sheet("", rows)))
    if (concat) {
      val u = UnionByArity(frames, withIndexColumn = true)
      // the first table is always in the valid group
      ParserAnswer(u.valid.get, r.path,
        sheetName = "PDF file content (concated)", engine = engine) +:
        u.invalid.toSeq.map(inv => ParserAnswer(inv, r.path,
          sheetName = "PDF file content (unsized)", engine = engine))
    } else found.zip(frames).map { case (rows, df) =>
      ParserAnswer(df, r.path, sheetName = "PDF file content (by page)",
        engine = engine, knownRowCount = Some(rows.length.toLong))
    }
  }
}
