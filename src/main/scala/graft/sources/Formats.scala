package graft.sources

import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import graft.model.ParserAnswer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** One decoded sheet (worksheet, table, page group, record catalog):
  * ragged all-string rows, the encoding and separator the decode detected
  * (text), and column names when the format declares them (SQLite) —
  * positional otherwise. */
final case class Sheet(
    name: String,
    rows: Seq[IndexedSeq[String]],
    encoding: Option[String] = None,
    columns: Option[IndexedSeq[String]] = None,
    separator: Option[String] = None) {

  /** Declared column count, else the widest row; 0 = an empty sheet,
    * which answers Failed under its own name on both roads. */
  def width: Int =
    columns.fold(if (rows.isEmpty) 0 else rows.map(_.length).max)(_.length)
}

/** One registered format (the reference's per-extension `AbstractImporter`
  * strategy, reference `main.py:147-187`).
  *
  *  - `engine` is `ParserAnswer.engine` and `CellRow.engine` on both roads;
  *    `sheet` is the format's fixed sheet name, where it has one.
  *  - `codecs` are the compression suffixes accepted over the extension
  *    (`x.csv.gz` routes as `.csv` under `.gz`); any other compressed form
  *    is an unknown extension.
  *  - `split` maps a codec (`""` = uncompressed) to the [[Splitter]] a
  *    big file of that form splits through: `BulkIngest.parseTreeAuto`
  *    past its `bigBytes`, and `AnyFile` past [[Formats.DriverDecodeBytes]],
  *    both through the one split scan (`graft.operators.SplitScan`).
  *  - `decode` is the pure sheet decode both roads share; no sheets means
  *    the file answers Failed. It runs inside executor tasks, and on the
  *    driver for every file of at most [[Formats.DriverDecodeBytes]].
  *  - `native` is Spark's own scan of the format (parquet, JSON, JSON
  *    lines): the `AnyFile` road past [[Formats.DriverDecodeBytes]], where
  *    a format without one takes the split scan if its form has a
  *    splitter ([[Formats.road]]). The bulk road catalogues a native file
  *    as one `Native` row instead of decoding it, except under zstd, which
  *    Spark's scans cannot decode without Hadoop's native library.
  *  - `project` replaces the `AnyFile` projection of `decode` wherever
  *    the file answers in process: the native formats' typed frames
  *    (the schema and rows `spark.read` gives, read on the driver) and
  *    the PDF concat, which has no road and so answers at every size. */
final case class Format(
    engine: String,
    extensions: Seq[String],
    sheet: String = "None",
    codecs: Set[String] = Set.empty,
    split: Map[String, Splitter[_ <: SplitUnit]] = Map.empty,
    decode: Route => Seq[Sheet] = _ => Nil,
    native: Option[(SparkSession, Route) => Seq[ParserAnswer]] = None,
    project: Option[(SparkSession, Route) => Seq[ParserAnswer]] = None)

/** A path routed to its format, with the compression suffix peeled off
  * (`""` when there is none). `image` holds the decoded bytes when the
  * size rule has already read them, so a small codec file inflates once
  * per parse. */
final case class Route(path: String, format: Format, codec: String,
    image: Option[Array[Byte]] = None) {
  def zstd: Boolean = codec == ".zst" || codec == ".zstd"
  def splitter: Option[Splitter[_ <: SplitUnit]] = format.split.get(codec)

  /** The decoded file: the held image, else one decoded read. */
  def bytes: Array[Byte] = image.getOrElse(FsIO.readAllBytesDecoded(path))

  /** The decoded file as a stream: the held image, else a decoded open. */
  def openDecoded(): java.io.InputStream =
    image.fold(FsIO.openDecoded(path))(new java.io.ByteArrayInputStream(_))

  /** [[bytes]] under the shared decoded cap ([[FsIO.DecodedCapBytes]]):
    * None past it. */
  def bytesCapped: Option[Array[Byte]] = image.orElse(FsIO.readAllBytesDecodedCapped(path))
}

/** The one extension → format table. `graft.AnyFile.parse` and
  * `graft.operators.BulkIngest.parseOne` are two projections of it: the
  * first answers one [[ParserAnswer]] per sheet, the second one
  * `CellRow` per sheet row.
  *
  * One size rule ([[answers]]): a file of at most [[DriverDecodeBytes]]
  * (a zip workbook also by its inflated entries) answers its decode in
  * process, as driver-local frames whose `collect()` runs no Spark job;
  * past that size a native format takes Spark's own scan, and a form with
  * a splitter the split scan (an executor index job, a job probing each
  * unit, then one DSv2 scan whose partitions are the units) ([[road]]).
  *
  * | extension | engine | decode | road past 4 MiB (split unit) |
  * |---|---|---|---|
  * | `.xlsx` `.xlsb` `.ods .odf .odt` | ImportExcel | zip + StAX / MS-XLSB / ODF | split: one unit per sheet |
  * | `.xls` | ImportExcel | BIFF8 | decode (BIFF8 caps a sheet's cells) |
  * | `.xml` | ImportXML | SpreadsheetML | split: one unit per table |
  * | `.txt .csv .ini` `.ant` `.tsv` | ImportText | sniffed / `~~@~~` / tab | split: byte ranges; `.zst` frame batches; `.gz`/`.bz2` one unit |
  * | `.pdf` | ImportPDF | ISO 32000 tables | in-process positional concat, any size |
  * | `.html .htm` | ImportHTML | tables or main content | decode |
  * | `.docx` `.pptx` | ImportDocx / ImportPptx | tables or paragraphs | decode |
  * | `.sqlite .sqlite3 .db` | ImportSqlite | one sheet per table | split: leaf-page batches; `.zst` decode |
  * | `.warc` | ImportWARC | record catalog | `.warc.gz` split: gzip member batches; else decode |
  * | `.tar` | ImportTar | member catalog | `.tar` split: member batches; `.tar.zst` split: declared-size frame batches; else decode |
  * | `.parquet` `.json` `.jsonl .ndjson` | ImportParquet / ImportJSON / ImportJSONL | Native: typed frames read on the driver (a parquet file also by its row groups' inflated size) | Spark's scans (`.jsonl.zst` over frame-batch lines, the units its bulk split uses); a parquet directory always |
  * | `.pk1 .pickle` | ImportPickle | documented gap: always Failed | — |
  *
  * Codecs: text, json, jsonl, warc and tar accept `.gz`, `.bz2`, `.zst`
  * and `.zstd` (and `.tgz` for `.tar.gz`); sqlite accepts only zstd, as a
  * capped decoded image ([[FsIO.readAllBytesDecodedCapped]]). Byte roads
  * decode every codec through [[FsIO.openDecoded]], and ranged zstd units
  * through [[FsIO.openRange]]. Spark's json scans decode gzip and bzip2
  * inline, while zstd (whose Hadoop codec needs a native library) reaches
  * them as lines streamed one task per frame batch (`ZstdFrames.lines`)
  * or as a capped decoded image. Container formats that need random
  * access have no compressed form.
  *
  * The reference matches the literal `"pickle"` without a dot
  * (`main.py:161` bug); per SURVEY.md §7 `.pk1` and `.pickle` both route
  * to the gap. */
object Formats {

  /** Files at most this big decode in process: the per-job fixed cost of
    * a Spark road outweighs the decode. Codec forms are held to it twice,
    * on disk and decoded. */
  final val DriverDecodeBytes: Int = 4 << 20

  private val Excel = "ImportExcel"
  private val Text = "ImportText"
  private val Streams = Set(".gz", ".bz2", ".zst", ".zstd")

  /** Zip workbooks: the sheet list from the central directory, each
    * sheet's shape from a streaming probe of its own. */
  private def sheetSplitter(
      list: String => Option[Seq[graft.sources.xlsx.XlsxParser.SheetRef]],
      shape: (String, String) => (Int, Long),
      rows: (String, String) => Iterator[Seq[String]]): Splitter[SheetUnit] =
    Splitter[SheetUnit](
      (p, _) => list(p).toSeq.flatten.map(s => SheetUnit(s.name, s.target)),
      (p, u) => rows(p, u.part),
      probe = Some { (p, u) =>
        val (width, count) = shape(p, u.part)
        u.copy(width = width, count = count)
      },
      zip = true)

  val Xlsx: Format = Format(Excel, Seq(".xlsx"),
    split = Map("" -> {
      import graft.sources.xlsx.{SheetRowIterator, XlsxParser}
      sheetSplitter(XlsxParser.openSheetList, XlsxParser.sheetShape,
        (p, target) => new SheetRowIterator(p, target, XlsxParser.openWorkbook(p)
          .getOrElse(throw new IllegalStateException(s"not an xlsx: $p")).shared))
    }),
    decode = r => graft.sources.xlsx.XlsxParser.openWorkbook(r.path).toSeq
      .flatMap(wb => wb.sheets.map(s => Sheet(s.name,
        graft.sources.xlsx.XlsxParser.sheetRows(r.path, s.target, wb.shared)))))

  val Xls: Format = Format(Excel, Seq(".xls"),
    decode = r => graft.sources.xls.XlsParser.parse(FsIO.readAllBytes(r.path))
      .toSeq.flatten.map(s => Sheet(s.name, s.rows)))

  val Xlsb: Format = Format(Excel, Seq(".xlsb"),
    split = Map("" -> {
      import graft.sources.xlsb.{XlsbRowIterator, XlsbStream}
      sheetSplitter(XlsbStream.openSheetList, XlsbStream.sheetShape,
        (p, target) => new XlsbRowIterator(p, target, XlsbStream.loadSst(p)))
    }),
    decode = r => graft.sources.xlsb.XlsbParser.parse(r.path)
      .toSeq.flatten.map(s => Sheet(s.name, s.rows)))

  val Ods: Format = Format(Excel, Seq(".ods", ".odf", ".odt"),
    split = Map("" -> Splitter[SheetUnit](
      (p, _) => graft.sources.ods.OdsStream.tableShapes(p)
        .map(t => SheetUnit(t.name, t.index.toString, t.width, t.rows)),
      (p, u) => new graft.sources.ods.OdsRowIterator(p, u.part.toInt), zip = true)),
    decode = r => graft.sources.ods.OdsParser.sheets(r.path)
      .toSeq.flatten.map { case (name, rows) => Sheet(name, rows) })

  // a table's part is "<mode>:<ordinal>": the probe's mode decides which
  // tables the ordinal counts
  val Xmlss: Format = Format("ImportXML", Seq(".xml"),
    split = Map("" -> Splitter[SheetUnit](
      (p, _) => {
        val (mode, shapes) = graft.sources.xmlss.XmlSpreadsheetParser.tableShapes(p)
        shapes.map(t => SheetUnit(t.sheetName, s"$mode:${t.index}", t.width, t.rows))
      },
      (p, u) => {
        val Array(mode, idx) = u.part.split(":")
        new graft.sources.xmlss.XmlssRowIterator(p, mode == "worksheet", idx.toInt)
      })),
    decode = r => {
      import graft.sources.xmlss.{XmlSpreadsheetParser, XmlssRowIterator}
      val (mode, shapes) = XmlSpreadsheetParser.tableShapes(r.path)
      shapes.map { sh =>
        val it = new XmlssRowIterator(r.path, mode == "worksheet", sh.index)
        try Sheet(sh.sheetName, it.map(_.toIndexedSeq).toIndexedSeq)
        finally it.close()
      }
    })

  /** A text format: the delimiter sniffed, or fixed by the format. */
  def text(exts: Seq[String], delimiter: Option[String]): Format =
    Format(Text, exts, "Text file content", Streams,
      split = TextImporter.splitters("Text file content", delimiter),
      decode = r => TextImporter.sheets(r, delimiter))
  val PlainText: Format = text(Seq(".txt", ".csv", ".ini"), None)
  val Ant: Format = text(Seq(".ant"), Some(TextImporter.AntDelimiter))
  val Tsv: Format = text(Seq(".tsv"), Some("\t"))

  val Pdf: Format = Format("ImportPDF", Seq(".pdf"),
    decode = r => PdfImporter.tables(r.path).zipWithIndex
      .map { case (rows, i) => Sheet(s"PDF table $i", rows) },
    project = Some(PdfImporter.answers(_, _)))

  val Html: Format = Format("ImportHTML", Seq(".html", ".htm"), "HTML main content",
    decode = r => {
      import graft.sources.html.HtmlParser
      val bytes = r.bytes
      // HTML declares its own charset: honour <meta charset>, then the
      // byte sniffer, then UTF-8 (which subsumes ASCII)
      val encoding = HtmlParser.metaCharset(bytes)
        .orElse(Sniffers.detectEncoding(bytes)).getOrElse("utf-8")
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
    split = Map("" -> SqliteImporter.splitter),
    decode = SqliteImporter.sheets)

  // gzip has no random access: the index inflates and discards once,
  // recording member ends; member boundaries are record boundaries (ISO
  // 28500 annex), so firstMember + i is the whole-file record number on
  // conforming archives. A member past Int.MaxValue compressed bytes
  // cannot ride the ranged read and refuses rather than truncate.
  val Warc: Format = Format("ImportWARC", Seq(".warc"), "WARC records", Streams,
    split = Map(".gz" -> Splitter[RangeUnit](
      (p, batchBytes) => graft.sources.warc.WarcReader.gzMemberBatches(p, batchBytes).map { b =>
        if (b.length > Int.MaxValue) throw new java.io.IOException(s"$p: member past 2 GiB")
        RangeUnit(Warc.sheet, 3, b.offset, b.length, Some(b.firstMember))
      },
      (p, u) => {
        import graft.sources.warc.WarcReader
        WarcReader.records(WarcReader.gunzipIfNeeded(FsIO.readRange(p, u.offset, u.length.toInt)))
          .iterator.map(warcCells)
      })),
    decode = r => {
      import graft.sources.warc.WarcReader
      // gunzipIfNeeded stays as the net for gzip bytes behind a plain name
      val recs = WarcReader.records(WarcReader.gunzipIfNeeded(r.bytes))
      if (recs.isEmpty) Nil else Seq(Sheet(Warc.sheet, recs.map(warcCells)))
    })

  /** One WARC catalog row: target URI, record type, block length. */
  def warcCells(r: graft.sources.warc.WarcReader.WarcRecord): IndexedSeq[String] =
    IndexedSeq(r.header("warc-target-uri").getOrElse(""),
      r.header("warc-type").getOrElse(""), r.payload.length.toString)

  // one row per regular member: name, typeflag, size, payload md5. A
  // plain shard indexes its header chain (payload skips seek); a .tar.zst
  // one splits on declared frame sizes. Member ordinals are intrinsic, so
  // firstMember + i is the whole-file numbering.
  private val tarSplitter: Boolean => Splitter[RangeUnit] = zstd => Splitter[RangeUnit](
    (p, batchBytes) => {
      import graft.sources.tar.TarWalk
      if (zstd) TarWalk.zstBatches(p, batchBytes).map(b =>
        RangeUnit(Tar.sheet, 4, b.offset, b.length, Some(b.firstMember), b.skip, b.span))
      else TarWalk.memberBatches(p, batchBytes).map(b =>
        RangeUnit(Tar.sheet, 4, b.offset, b.length, Some(b.firstMember)))
    },
    (p, u) => graft.sources.tar.TarWalk.rangeCells(p, u.offset, u.length, zstd, u.skip, u.span)
      .iterator)
  val Tar: Format = Format("ImportTar", Seq(".tar"), "TAR members", Streams,
    split = Map("" -> tarSplitter(false), ".zst" -> tarSplitter(true), ".zstd" -> tarSplitter(true)),
    decode = r => {
      import graft.sources.tar.TarWalk
      // openDecoded covers every codec form, the .tgz contraction included
      val in = r.openDecoded()
      val cells = try TarWalk.walk(in)(TarWalk.memberCells) finally in.close()
      if (cells.isEmpty) Nil else Seq(Sheet(Tar.sheet, cells.map(_.toIndexedSeq)))
    })

  val Parquet: Format = Format("ImportParquet", Seq(".parquet"), "Parquet file content",
    native = Some((spark, r) => Seq(ParserAnswer(spark.read.parquet(r.path), r.path,
      sheetName = Parquet.sheet, engine = Parquet.engine))),
    project = Some(ParquetLocal.answers))

  val Json: Format = Format("ImportJSON", Seq(".json"), "JSON file content", Streams,
    // zstd: the decoded document as one raw-JSON cell, behind the same
    // first-structural-character gate as the `AnyFile` road
    decode = r => JsonImporter.zstdDocument(r.path).toSeq
      .map(doc => Sheet(Json.sheet, Seq(IndexedSeq(new String(doc, StandardCharsets.UTF_8))))),
    native = Some(JsonImporter.answers),
    project = Some(JsonImporter.local))

  // zstd has no random access within a frame, but parallel compressors
  // cut many independent frames: the index walks block headers only, and
  // each frame batch owns the lines that start inside it. Lines carry no
  // intrinsic number, so the probe counts each batch's.
  private val jsonlSplitter = Splitter[RangeUnit](
    (p, batchBytes) => {
      import graft.sources.zstd.ZstdFrames
      val batches = ZstdFrames.frameBatches(p, batchBytes)
      if (batches.length <= 1 || ZstdFrames.fewerThanTwoLines(p)) Nil
      else batches.map(b => RangeUnit(JsonLines.sheet, 1, b.offset, b.length,
        if (b.offset == 0L) Some(0L) else None))
    },
    (p, u) => OwnedLines.range(p, u.offset, u.length, zstd = true)(IndexedSeq(_)),
    probe = Some { (p, u) =>
      val lines = OwnedLines.range(p, u.offset, u.length, zstd = true)(_ => ())
      try u.copy(count = lines.size.toLong) finally lines.close()
    })
  val JsonLines: Format = Format("ImportJSONL", Seq(".jsonl", ".ndjson"), "JSON lines content",
    Streams, split = Map(".zst" -> jsonlSplitter, ".zstd" -> jsonlSplitter),
    decode = r => JsonImporter.zstdLines(r.path).toSeq.map(Sheet(JsonLines.sheet, _)),
    native = Some(JsonImporter.linesAnswers),
    project = Some(JsonImporter.localLines))

  // Python pickle encodes arbitrary Python object graphs, not portable to
  // the JVM (`main.py:441-451`): the documented gap, always Failed
  val Pickle: Format = Format("ImportPickle", Seq(".pk1", ".pickle"))

  /** Every registered format. */
  val registry: Seq[Format] =
    Seq(Xlsx, Xls, Xlsb, Ods, Xmlss, PlainText, Ant, Tsv, Pdf, Html, Docx, Pptx,
      Sqlite, Warc, Tar, Parquet, Json, JsonLines, Pickle)

  private val byExtension: Map[String, Format] =
    registry.flatMap(f => f.extensions.map(_ -> f)).toMap

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

  /** The `AnyFile` projection of one routed file, under the one size
    * rule: a file that passes [[inProcess]], or whose form has no
    * [[road]], answers in process (the format's `project`, else its
    * decode); any other takes its road. Never throws: a failed decode, a
    * thrown exception or no sheets answer one Failed answer
    * (`main.py:140-144` parity). */
  def answers(spark: SparkSession, r: Route): Seq[ParserAnswer] = {
    val f = r.format
    val out =
      try road(r) match {
        case Some(big) => inProcess(r).fold(big(spark, r))(local(spark, _))
        case None => local(spark, r)
      } catch { case _: Exception => Nil }
    if (out.isEmpty) Seq(ParserAnswer.failed(spark, r.path, f.engine)) else out
  }

  /** The in-process answer: the format's `project`, else its decode. */
  private def local(spark: SparkSession, r: Route): Seq[ParserAnswer] =
    r.format.project.fold(decoded(spark, r))(_(spark, r))

  /** The `AnyFile` road past the size rule: the format's `native` scan
    * where it has one, else the split scan where the form has a splitter. */
  def road(r: Route): Option[(SparkSession, Route) => Seq[ParserAnswer]] =
    r.format.native.orElse(r.splitter.map(_ => graft.operators.SplitScan.answers(_, _)))

  /** The format's decode, answered in process. */
  def decoded(spark: SparkSession, r: Route): Seq[ParserAnswer] =
    r.format.decode(r).map(answer(spark, r.path, r.format.engine, _))

  /** The size rule: a regular file of at most [[DriverDecodeBytes]] whose
    * decoded stream, for a codec form, is no bigger either; the decoded
    * read stops one byte past the cap, so a compression bomb never
    * inflates on the driver. A zip container that splits is held to the
    * cap by the sum of its entries' inflated sizes too, and a parquet file
    * by its row groups' uncompressed sizes. Some(route) = in process, the
    * route holding the decoded image a codec form was judged by. */
  private def inProcess(r: Route): Option[Route] =
    if (!FsIO.isFile(r.path)) None
    else {
      val len = FsIO.len(r.path)
      val fits = len <= DriverDecodeBytes &&
        r.splitter.forall(s => !s.zip || zipInflatesWithinCap(r.path, len)) &&
        (r.format != Parquet || ParquetLocal.inflatesWithin(r.path, DriverDecodeBytes))
      if (!fits) None
      else if (r.codec.isEmpty) Some(r)
      else FsIO.readAllBytesDecodedCapped(r.path, DriverDecodeBytes).map(b => r.copy(image = Some(b)))
    }

  /** A zip container's entries inflate to at most [[DriverDecodeBytes]];
    * anything that is not a readable zip is left to its decode. */
  private def zipInflatesWithinCap(path: String, len: Long): Boolean =
    try graft.sources.zip.RangedZip.entries(path, len).valuesIterator
      .map(_.uncompressedSize).sum <= DriverDecodeBytes
    catch { case _: Exception => true }

  /** Sheet → ParserAnswer: rows null-padded to the sheet's width, an
    * all-string schema (positional unless the format names its columns —
    * pandas `header=None, dtype=str` parity, `main.py:255-259`), and the
    * known row count, so `parseInfo` needs no job. An empty sheet answers
    * Failed under its own name. */
  def answer(spark: SparkSession, path: String, engine: String, s: Sheet): ParserAnswer =
    ParserAnswer(frame(spark, s), path, sheetName = s.name,
      encoding = s.encoding.getOrElse(ParserAnswer.EncodingDefault),
      separator = s.separator.getOrElse(ParserAnswer.SeparatorDefault),
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
