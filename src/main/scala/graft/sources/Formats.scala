package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import graft.model.ParserAnswer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** One decoded sheet (worksheet, table, page group, record catalog):
  * ragged all-string rows, the encoding the decode detected, and column
  * names when the format declares them (SQLite) — positional otherwise. */
final case class Sheet(
    name: String,
    rows: Seq[IndexedSeq[String]],
    encoding: Option[String] = None,
    columns: Option[IndexedSeq[String]] = None) {

  /** Declared column count, else the widest row; 0 = an empty sheet,
    * which answers Failed under its own name on both roads. */
  def width: Int =
    columns.fold(if (rows.isEmpty) 0 else rows.map(_.length).max)(_.length)
}

/** The big-file split roads of `BulkIngest.parseTreeAuto`. */
sealed trait Split
object Split {
  case object Xlsx extends Split
  case object Xlsb extends Split
  case object Xmlss extends Split
  case object Ods extends Split
  case object WarcGz extends Split
  case object Tar extends Split
  case object TarZst extends Split
  case object JsonlZst extends Split
}

/** One registered format (the reference's per-extension `AbstractImporter`
  * strategy, reference `main.py:147-187`).
  *
  *  - `engine` is `ParserAnswer.engine` and `CellRow.engine` on both roads;
  *    `sheet` is the format's fixed sheet name, where it has one.
  *  - `codecs` are the compression suffixes accepted over the extension
  *    (`x.csv.gz` routes as `.csv` under `.gz`); any other compressed form
  *    is an unknown extension.
  *  - `split` maps a codec (`""` = uncompressed) to the big-file road
  *    `parseTreeAuto` sends files of that form through.
  *  - `nativeScan`: Spark reads the format itself, so the bulk road
  *    catalogues it as `Native` instead of decoding it, except under zstd,
  *    which Spark's scans cannot decode without Hadoop's native library.
  *  - `decode` is the pure sheet decode both roads share; no sheets means
  *    the file answers Failed. It runs inside executor tasks.
  *  - `driver` overrides the `AnyFile` projection of `decode` where the
  *    driver road is a Spark plan (DSv2 reads, the text aggregate, native
  *    scans, the PDF concat, the ranged SQLite job). */
final case class Format(
    engine: String,
    extensions: Seq[String],
    sheet: String = "None",
    codecs: Set[String] = Set.empty,
    split: Map[String, Split] = Map.empty,
    nativeScan: Boolean = false,
    decode: Route => Seq[Sheet] = _ => Nil,
    driver: Option[(SparkSession, Route) => Seq[ParserAnswer]] = None)

/** A path routed to its format, with the compression suffix peeled off
  * (`""` when there is none). */
final case class Route(path: String, format: Format, codec: String) {
  def zstd: Boolean = codec == ".zst" || codec == ".zstd"
  def split: Option[Split] = format.split.get(codec)
}

/** The one extension → format table. `graft.AnyFile.parse` and
  * `graft.operators.BulkIngest.parseOne` are two projections of it: the
  * first answers one [[ParserAnswer]] per sheet, the second one
  * `CellRow` per sheet row.
  *
  * | extension | engine | decode | driver road |
  * |---|---|---|---|
  * | `.xlsx` | ImportExcel | zip + StAX | `graft-excel` DSv2, shape probe job |
  * | `.xls` `.xlsb` `.ods .odf .odt` | ImportExcel | BIFF8 / MS-XLSB / ODF | decode |
  * | `.xml` | ImportXML | SpreadsheetML | `graft-xmlss` DSv2 |
  * | `.txt .csv .ini` `.ant` `.tsv` | ImportText | sniffed / `~~@~~` / tab | text aggregate plan |
  * | `.pdf` | ImportPDF | ISO 32000 tables | positional concat |
  * | `.html .htm` | ImportHTML | tables or main content | decode |
  * | `.docx` `.pptx` | ImportDocx / ImportPptx | tables or paragraphs | decode |
  * | `.sqlite .sqlite3 .db` | ImportSqlite | one sheet per table | ranged job past 4 MiB |
  * | `.warc` `.tar` | ImportWARC / ImportTar | record / member catalog | decode |
  * | `.parquet` `.json` `.jsonl .ndjson` | ImportParquet / ImportJSON / ImportJSONL | Native | Spark scans |
  * | `.pk1 .pickle` | ImportPickle | documented gap: always Failed | — |
  *
  * Codecs: text, json, jsonl, warc and tar accept `.gz`, `.bz2`, `.zst`
  * and `.zstd` (and `.tgz` for `.tar.gz`); sqlite accepts only zstd, as a
  * capped decoded image ([[FsIO.readAllBytesDecodedCapped]]). Byte roads
  * decode every codec through [[FsIO.openDecoded]]; Spark's text and json
  * scans decode gzip and bzip2 inline, while zstd (whose Hadoop codec
  * needs a native library) reaches them through the `graft-zstd-lines`
  * DSv2 source or a capped decoded image. Container formats that need
  * random access have no compressed form.
  *
  * The reference matches the literal `"pickle"` without a dot
  * (`main.py:161` bug); per SURVEY.md §7 `.pk1` and `.pickle` both route
  * to the gap. */
object Formats {

  private val Excel = "ImportExcel"
  private val Text = "ImportText"
  private val Streams = Set(".gz", ".bz2", ".zst", ".zstd")

  val Xlsx: Format = Format(Excel, Seq(".xlsx"), split = Map("" -> Split.Xlsx),
    decode = r => graft.sources.xlsx.XlsxParser.openWorkbook(r.path).toSeq
      .flatMap(wb => wb.sheets.map(s => Sheet(s.name,
        graft.sources.xlsx.XlsxParser.sheetRows(r.path, s.target, wb.shared)))),
    driver = Some(ExcelImporter.xlsx))

  val Xls: Format = Format(Excel, Seq(".xls"),
    decode = r => graft.sources.xls.XlsParser.parse(FsIO.readAllBytes(r.path))
      .toSeq.flatten.map(s => Sheet(s.name, s.rows)))

  val Xlsb: Format = Format(Excel, Seq(".xlsb"), split = Map("" -> Split.Xlsb),
    decode = r => graft.sources.xlsb.XlsbParser.parse(r.path)
      .toSeq.flatten.map(s => Sheet(s.name, s.rows)))

  val Ods: Format = Format(Excel, Seq(".ods", ".odf", ".odt"),
    split = Map("" -> Split.Ods),
    decode = r => graft.sources.ods.OdsParser.sheets(r.path)
      .toSeq.flatten.map { case (name, rows) => Sheet(name, rows) })

  val Xmlss: Format = Format("ImportXML", Seq(".xml"), split = Map("" -> Split.Xmlss),
    decode = r => {
      import graft.sources.xmlss.{XmlSpreadsheetParser, XmlssRowIterator}
      val (mode, shapes) = XmlSpreadsheetParser.tableShapes(r.path)
      shapes.map { sh =>
        val it = new XmlssRowIterator(r.path, mode == "worksheet", sh.index)
        try Sheet(sh.sheetName, it.map(_.toIndexedSeq).toIndexedSeq)
        finally it.close()
      }
    },
    driver = Some(XmlImporter.answers))

  private def text(exts: Seq[String], delimiter: Option[String]): Format =
    Format(Text, exts, "Text file content", Streams,
      decode = r => TextImporter.sheets(r, delimiter),
      driver = Some(TextImporter.answers(_, _, delimiter)))
  val PlainText: Format = text(Seq(".txt", ".csv", ".ini"), None)
  val Ant: Format = text(Seq(".ant"), Some(TextImporter.AntDelimiter))
  val Tsv: Format = text(Seq(".tsv"), Some("\t"))

  val Pdf: Format = Format("ImportPDF", Seq(".pdf"),
    decode = r => PdfImporter.tables(r.path).zipWithIndex
      .map { case (rows, i) => Sheet(s"PDF table $i", rows) },
    driver = Some(PdfImporter.answers(_, _)))

  val Html: Format = Format("ImportHTML", Seq(".html", ".htm"), "HTML main content",
    decode = r => {
      import graft.sources.html.HtmlParser
      val bytes = FsIO.readAllBytes(r.path)
      // HTML declares its own charset: honour <meta charset>, then the
      // byte sniffer, then UTF-8 (which subsumes ASCII)
      val encoding = HtmlParser.metaCharset(bytes)
        .orElse(Sniffers.detectEncoding(r.path)).getOrElse("utf-8")
      val cs =
        try java.nio.charset.Charset.forName(encoding)
        catch { case _: Exception => StandardCharsets.UTF_8 }
      val html = new String(bytes, cs)
      val tables = HtmlParser.tables(html)
      if (tables.nonEmpty)
        tables.zipWithIndex.map { case (rows, i) => Sheet(s"table$i", rows, Some(encoding)) }
      else {
        val main = HtmlParser.blocks(html).filterNot(HtmlParser.isBoiler(_))
        if (main.isEmpty) Nil
        else Seq(Sheet(Html.sheet, main.map(b => IndexedSeq(b.text)), Some(encoding)))
      }
    })

  val Docx: Format = Format("ImportDocx", Seq(".docx"), "document text",
    decode = r => graft.sources.docx.DocxParser.parse(r.path).toSeq.flatMap { doc =>
      if (doc.tables.nonEmpty)
        doc.tables.zipWithIndex.map { case (rows, i) => Sheet(s"table$i", rows) }
      else if (doc.paragraphs.nonEmpty)
        Seq(Sheet(Docx.sheet, doc.paragraphs.map(IndexedSeq(_))))
      else Nil
    })

  // per slide: its tables, else its text lines; empty slides add nothing
  val Pptx: Format = Format("ImportPptx", Seq(".pptx"),
    decode = r => graft.sources.pptx.PptxParser.parse(r.path).toSeq.flatten.flatMap { sl =>
      if (sl.tables.nonEmpty)
        sl.tables.zipWithIndex.map { case (rows, i) => Sheet(s"${sl.name}_table$i", rows) }
      else if (sl.paragraphs.nonEmpty) Seq(Sheet(sl.name, sl.paragraphs.map(IndexedSeq(_))))
      else Nil
    })

  val Sqlite: Format = Format("ImportSqlite", Seq(".sqlite", ".sqlite3", ".db"),
    codecs = Set(".zst", ".zstd"),
    decode = SqliteImporter.sheets,
    driver = Some(SqliteImporter.answers))

  val Warc: Format = Format("ImportWARC", Seq(".warc"), "WARC records", Streams,
    split = Map(".gz" -> Split.WarcGz),
    decode = r => {
      import graft.sources.warc.WarcReader
      // gunzipIfNeeded stays as the net for gzip bytes behind a plain name
      val recs = WarcReader.records(
        WarcReader.gunzipIfNeeded(FsIO.readAllBytesDecoded(r.path)))
      if (recs.isEmpty) Nil else Seq(Sheet(Warc.sheet, recs.map(warcCells)))
    })

  /** One WARC catalog row: target URI, record type, block length. */
  def warcCells(r: graft.sources.warc.WarcReader.WarcRecord): IndexedSeq[String] =
    IndexedSeq(r.header("warc-target-uri").getOrElse(""),
      r.header("warc-type").getOrElse(""), r.payload.length.toString)

  // one row per regular member: name, typeflag, size, payload md5
  val Tar: Format = Format("ImportTar", Seq(".tar"), "TAR members", Streams,
    split = Map("" -> Split.Tar, ".zst" -> Split.TarZst, ".zstd" -> Split.TarZst),
    decode = r => {
      import graft.sources.tar.TarWalk
      // openDecoded covers every codec form, the .tgz contraction included
      val in = FsIO.openDecoded(r.path)
      val cells = try TarWalk.walk(in)(TarWalk.memberCells) finally in.close()
      if (cells.isEmpty) Nil else Seq(Sheet(Tar.sheet, cells.map(_.toIndexedSeq)))
    })

  val Parquet: Format = Format("ImportParquet", Seq(".parquet"), "Parquet file content",
    nativeScan = true,
    driver = Some((spark, r) => Seq(ParserAnswer(spark.read.parquet(r.path), r.path,
      sheetName = Parquet.sheet, engine = Parquet.engine))))

  val Json: Format = Format("ImportJSON", Seq(".json"), "JSON file content", Streams,
    nativeScan = true,
    // zstd: the decoded document as one raw-JSON cell, behind the same
    // first-structural-character gate as the driver road
    decode = r => JsonImporter.zstdDocument(r.path).toSeq
      .map(doc => Sheet(Json.sheet, Seq(IndexedSeq(new String(doc, StandardCharsets.UTF_8))))),
    driver = Some(JsonImporter.answers))

  val JsonLines: Format = Format("ImportJSONL", Seq(".jsonl", ".ndjson"), "JSON lines content",
    Streams, split = Map(".zst" -> Split.JsonlZst, ".zstd" -> Split.JsonlZst),
    nativeScan = true,
    decode = r => JsonImporter.zstdLines(r.path).toSeq.map(Sheet(JsonLines.sheet, _)),
    driver = Some(JsonImporter.linesAnswers))

  // Python pickle encodes arbitrary Python object graphs, not portable to
  // the JVM (`main.py:441-451`): the documented gap, always Failed
  val Pickle: Format = Format("ImportPickle", Seq(".pk1", ".pickle"))

  private val byExtension: Map[String, Format] =
    Seq(Xlsx, Xls, Xlsb, Ods, Xmlss, PlainText, Ant, Tsv, Pdf, Html, Docx, Pptx,
      Sqlite, Warc, Tar, Parquet, Json, JsonLines, Pickle)
      .flatMap(f => f.extensions.map(_ -> f)).toMap

  /** Python `Path.suffix`: a leading dot does not start an extension. */
  private def extOf(name: String): String = {
    val dot = name.lastIndexOf('.')
    if (dot <= 0) "" else name.substring(dot)
  }

  /** Route by lowercased extension, peeling one accepted compression
    * suffix; None = unknown extension (or a codec the format refuses). */
  def route(path: String): Option[Route] = {
    val name = FsIO.fileName(path).toLowerCase
    val last = extOf(name)
    val (ext, codec) =
      if (last == ".tgz") (".tar", ".gz")
      else if (Streams(last)) (extOf(name.dropRight(last.length)), last)
      else (last, "")
    byExtension.get(ext)
      .filter(f => codec.isEmpty || f.codecs(codec))
      .map(Route(path, _, codec))
  }

  /** The `AnyFile` projection of one routed file. Never throws: a failed
    * decode, a thrown exception or no sheets answer one Failed answer
    * (`main.py:140-144` parity). */
  def answers(spark: SparkSession, r: Route): Seq[ParserAnswer] = {
    val f = r.format
    val out =
      try f.driver match {
        case Some(project) => project(spark, r)
        case None => f.decode(r).map(answer(spark, r.path, f.engine, _))
      } catch { case _: Exception => Nil }
    if (out.isEmpty) Seq(ParserAnswer.failed(spark, r.path, f.engine)) else out
  }

  /** Sheet → ParserAnswer: rows null-padded to the sheet's width, an
    * all-string schema (positional unless the format names its columns —
    * pandas `header=None, dtype=str` parity, `main.py:255-259`), and the
    * known row count, so `parseInfo` needs no job. An empty sheet answers
    * Failed under its own name. */
  def answer(spark: SparkSession, path: String, engine: String, s: Sheet): ParserAnswer =
    ParserAnswer(frame(spark, s), path, sheetName = s.name,
      encoding = s.encoding.getOrElse(ParserAnswer.EncodingDefault),
      engine = engine,
      knownRowCount = Some(if (s.width == 0) 0L else s.rows.length.toLong))

  /** The sheet's rows as a driver-local frame (`spark.emptyDataFrame` for
    * an empty sheet). */
  def frame(spark: SparkSession, s: Sheet): DataFrame = {
    val width = s.width
    if (width == 0) spark.emptyDataFrame
    else {
      val schema = s.columns.fold(TextImporter.positionalSchema(width))(cs =>
        StructType(cs.map(StructField(_, StringType, nullable = true))))
      spark.createDataFrame(s.rows.map(r => Row.fromSeq(r.padTo(width, null))).asJava, schema)
    }
  }
}
