package graft.sources.xlsx

import java.util.zip.ZipFile
import javax.xml.stream.XMLStreamConstants._

import graft.sources.StaxUtil

import scala.collection.mutable.ArrayBuffer
import scala.xml.XML

/** Pure OOXML (`.xlsx`) workbook parser — the reference's `ImportExcel`
  * (`main.py:239-265`: every sheet, `header=None, index_col=None,
  * dtype=str`, workbook order). No Spark dependencies, so the same code
  * runs in process and inside executor tasks (the split scan's sheet
  * index and per-sheet units).
  *
  * Parses the three container parts pandas' openpyxl engine reads
  * (reference `main.py:249-259` semantics): `xl/workbook.xml` for sheet
  * order, the workbook rels for sheet targets, `xl/sharedStrings.xml`, and
  * per-sheet `sheetData`. Cell semantics: gap cells → null, numeric cells
  * keep the RAW stored string (`dtype=str` parity, SURVEY.md §7),
  * `True`/`False` booleans, multi-run shared strings joined.
  *
  * Sheet XML and the shared-string table are decoded with a streaming StAX
  * cursor, NOT a DOM: [[SheetRowIterator]] holds one row at a time and
  * [[sheetShape]] folds it into (width, rowCount) without retaining rows,
  * so a million-row sheet costs O(row) memory on whichever node decodes it.
  * Only the sheet-list metadata (`workbook.xml` + rels, a few hundred
  * bytes) still goes through scala-xml.
  */
object XlsxParser {

  private val RelsNs =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships"

  final case class Workbook(
      sheets: Seq[SheetRef],
      shared: IndexedSeq[String]
  )
  final case class SheetRef(name: String, target: String)

  /** Container access is RANGED by default ([[graft.sources.zip.RangedZip]]
    * — tail read + central directory + per-entry bounded streams, no
    * whole-file copy for remote paths), with a localize+`ZipFile` fallback
    * for containers the ranged reader rejects (unusual method/feature —
    * `java.util.zip` is the tolerance backstop). */
  def openWorkbook(path: String): Option[Workbook] =
    try {
      val view = new graft.sources.zip.RangedZip.ZipView(path)
      sheetListOf(e => view.readAll(e))
        .map(sheets => Workbook(sheets, sharedStrings(view.open(SstEntry))))
    } catch {
      case _: Exception =>
        graft.sources.FsIO.withLocal(path) { f =>
          val zip = new ZipFile(f)
          try {
            sheetListOf(e => zipEntryBytes(zip, e))
              .map(sheets => Workbook(sheets,
                sharedStrings(Option(zip.getEntry(SstEntry))
                  .map(zip.getInputStream))))
          } finally zip.close()
        }
    }

  /** Sheet names + targets ONLY — reads the zip central directory plus the
    * two few-hundred-byte metadata entries (`workbook.xml`, its rels).
    * The cheap open for callers that probe/decode sheets elsewhere; with
    * the ranged road this touches a bounded few KiB of the container on
    * ANY scheme — the driver never copies a remote multi-GB workbook to
    * read its sheet list. */
  def openSheetList(path: String): Option[Seq[SheetRef]] =
    try {
      val view = new graft.sources.zip.RangedZip.ZipView(path)
      sheetListOf(e => view.readAll(e))
    } catch {
      case _: Exception =>
        graft.sources.FsIO.withLocal(path) { f =>
          val zip = new ZipFile(f)
          try sheetListOf(e => zipEntryBytes(zip, e))
          finally zip.close()
        }
    }

  private val SstEntry = "xl/sharedStrings.xml"

  private def zipEntryBytes(zip: ZipFile, entry: String): Option[Array[Byte]] =
    Option(zip.getEntry(entry)).map { e =>
      val in = zip.getInputStream(e)
      try in.readAllBytes()
      finally in.close()
    }

  private def sheetListOf(
      load: String => Option[Array[Byte]]): Option[Seq[SheetRef]] =
    load("xl/workbook.xml")
      .map(b => XML.load(new java.io.ByteArrayInputStream(b)))
      .map { workbook =>
      val relTargets: Map[String, String] =
        load("xl/_rels/workbook.xml.rels")
          .map(b => XML.load(new java.io.ByteArrayInputStream(b))) match {
          case Some(rels) =>
            (rels \\ "Relationship").map { r =>
              val id = r.attribute("Id").map(_.text).getOrElse("")
              val tgt = r.attribute("Target").map(_.text).getOrElse("")
              id -> (if (tgt.startsWith("/")) tgt.drop(1) else "xl/" + tgt)
            }.toMap
          case None => Map.empty
        }
      (workbook \\ "sheet").zipWithIndex.map { case (s, i) =>
        val name = s.attribute("name").map(_.text).getOrElse("None")
        val rid = s.attribute(RelsNs, "id").map(_.text).getOrElse("")
        SheetRef(name,
          relTargets.getOrElse(rid, s"xl/worksheets/sheet${i + 1}.xml"))
      }
    }

  /** Shared-string table via StAX (it has one entry per unique cell string —
    * the other potentially huge part of the container). Multi-run strings
    * (`<si><r><t>..`) concatenate all `<t>` descendants, like openpyxl. */
  private def sharedStrings(inOpt: Option[java.io.InputStream]): IndexedSeq[String] =
    inOpt match {
      case None => IndexedSeq.empty
      case Some(in) =>
        try {
          val r = StaxUtil.reader(in)
          val out = IndexedSeq.newBuilder[String]
          val sb = new StringBuilder
          var inSi = false
          var inT = false
          while (r.hasNext) {
            r.next() match {
              case START_ELEMENT => r.getLocalName match {
                  case "si" => inSi = true; sb.clear()
                  case "t" if inSi => inT = true
                  case _ =>
                }
              case CHARACTERS | CDATA => if (inT) sb.append(r.getText)
              case END_ELEMENT => r.getLocalName match {
                  case "si" => inSi = false; out += sb.toString
                  case "t" => inT = false
                  case _ =>
                }
              case _ =>
            }
          }
          r.close()
          out.result()
        } finally in.close()
    }

  /** Streaming width/count probe: (max row arity, row count incl. trailing
    * gap-bounded rows) without materializing any row or decoding any cell
    * (positions only) — the split index's shape pass. */
  def sheetShape(path: String, target: String): (Int, Long) = {
    val it = new SheetRowIterator(path, target, IndexedSeq.empty, needed = Some(Set.empty))
    try {
      var width = 0
      var n = 0L
      while (it.hasNext) {
        val row = it.next()
        if (row.length > width) width = row.length
        n += 1
      }
      (width, n)
    } finally it.close()
  }

  /** Materialized decode — small sheets and tests; the split scan streams
    * via [[SheetRowIterator]] instead. */
  def sheetRows(
      path: String,
      target: String,
      shared: IndexedSeq[String]
  ): Seq[IndexedSeq[String]] = {
    val it = new SheetRowIterator(path, target, shared)
    try it.toIndexedSeq
    finally it.close()
  }

  /** `A1` → column 0, `C5` → 2. */
  def colOf(ref: String): Option[Int] = {
    val letters = ref.takeWhile(_.isLetter).toUpperCase
    if (letters.isEmpty) None
    else Some(letters.foldLeft(0)((acc, ch) => acc * 26 + (ch - 'A' + 1)) - 1)
  }

}

/** Where sheet decodes happen: every [[SheetRowIterator]] records the
  * opening thread's name (bounded). Spark-free by design — LargeSheetSpec
  * asserts the importer's parse path opens sheets only from executor task
  * threads, never the driver. */
object SheetOpenRecorder {
  private val names = new java.util.concurrent.ConcurrentLinkedQueue[String]
  private val Cap = 1024
  def record(): Unit = {
    if (names.size < Cap) names.add(Thread.currentThread().getName)
  }
  def drain(): Seq[String] = {
    val out = Vector.newBuilder[String]
    var n = names.poll()
    while (n != null) { out += n; n = names.poll() }
    out.result()
  }
}

/** One-row-at-a-time StAX decode of a sheet. Gap row numbers (no `<row>`
  * element) are emitted as empty rows, bounded by the max present row —
  * openpyxl `max_row` semantics. Assumes the spec-conformant monotonic `r`
  * attributes (an out-of-order row number is clamped to lastRow+1).
  * Close-safe: closes itself at exhaustion; callers should also `close()`
  * for the early-termination path.
  *
  * `needed` = the column ordinals to decode (default all): cells outside
  * the set are emitted as position-preserving nulls WITHOUT decoding —
  * no text accumulation, no shared-string lookup, no boolean/number
  * rendering. The XML walk still scans the sheet (the format is not
  * columnar), but per-cell decode work tracks the projection.
  * `decodedCells` counts actual decodes so tests can pin the claim.
  */
final class SheetRowIterator(
    path: String,
    target: String,
    shared: IndexedSeq[String],
    needed: Option[Set[Int]] = None
) extends Iterator[IndexedSeq[String]] with java.io.Closeable {
  SheetOpenRecorder.record()

  private var decoded = 0L
  /** Number of cells actually decoded (pruned cells excluded). */
  def decodedCells: Long = decoded

  // Ranged road first: stream exactly this sheet's deflate bytes via the
  // zip central directory (no container copy on ANY scheme). Containers
  // the ranged reader rejects fall back to the localize+ZipFile road
  // (pass-through for local paths, bounded task-local spill for
  // hdfs:/s3a:). A constructor failure past localize() (corrupt zip,
  // missing entry) must release the spill NOW: close() is unreachable
  // for an object that never finished constructing.
  private var localized: graft.sources.FsIO.Localized = null
  private var zip: ZipFile = null
  private val (inOpt, readerOpt) = {
    val ranged =
      try {
        val view = new graft.sources.zip.RangedZip.ZipView(path)
        val in = view.open(target)
        try Some((in, in.map(StaxUtil.reader)))
        catch { case e: Throwable => in.foreach(_.close()); throw e }
      } catch { case _: Exception => None }
    ranged.getOrElse {
      localized = graft.sources.FsIO.localize(path)
      try {
        zip = new ZipFile(localized.file)
        val in = Option(zip.getEntry(target)).map(zip.getInputStream)
        try (in, in.map(StaxUtil.reader))
        catch { case e: Throwable => in.foreach(_.close()); throw e }
      } catch {
        case e: Throwable =>
          if (zip != null) zip.close()
          localized.close()
          throw e
      }
    }
  }
  private var closed = false

  private var pendingGap = 0
  private var queued: IndexedSeq[String] = _
  private var lastRow = 0

  override def hasNext: Boolean =
    pendingGap > 0 || queued != null || (!closed && readerOpt.nonEmpty && fetch())

  override def next(): IndexedSeq[String] = {
    if (!hasNext) throw new NoSuchElementException("sheet exhausted")
    if (pendingGap > 0) { pendingGap -= 1; IndexedSeq.empty }
    else { val q = queued; queued = null; q }
  }

  /** Parse forward to the next `</row>`; queue its cells + any gap rows. */
  private def fetch(): Boolean = {
    val r = readerOpt.get
    var cells: ArrayBuffer[String] = null
    var rowNum = 0
    var autoCol = -1
    var cellCol = 0
    var cellType = "n"
    var inC = false; var inV = false; var inT = false
    var sawV = false; var sawIs = false
    var wantCell = true // false ⇒ pruned: position kept, decode skipped
    val text = new StringBuilder
    while (r.hasNext) {
      r.next() match {
        case START_ELEMENT => r.getLocalName match {
            case "row" =>
              rowNum = Option(r.getAttributeValue(null, "r")).map(_.toInt)
                .getOrElse(lastRow + 1)
              if (rowNum <= lastRow) rowNum = lastRow + 1
              cells = ArrayBuffer.empty
              autoCol = -1
            case "c" if cells != null =>
              inC = true
              cellCol = Option(r.getAttributeValue(null, "r"))
                .flatMap(XlsxParser.colOf).getOrElse(autoCol + 1)
              autoCol = cellCol
              wantCell = needed.forall(_.contains(cellCol))
              cellType = Option(r.getAttributeValue(null, "t")).getOrElse("n")
              sawV = false; sawIs = false
              text.clear()
            case "v" if inC => inV = true; sawV = true
            case "is" if inC => sawIs = true
            case "t" if inC && sawIs => inT = true
            case _ =>
          }
        case CHARACTERS | CDATA =>
          if ((inV || inT) && wantCell) text.append(r.getText)
        case END_ELEMENT => r.getLocalName match {
            case "v" => inV = false
            case "t" => inT = false
            case "c" if inC =>
              inC = false
              while (cells.length < cellCol) cells += null
              cells += (if (wantCell) {
                decoded += 1
                decodeCell(cellType, sawV, sawIs, text.toString)
              } else null)
            case "row" if cells != null =>
              pendingGap = rowNum - lastRow - 1
              lastRow = rowNum
              queued = cells.toIndexedSeq
              return true
            case _ =>
          }
        case _ =>
      }
    }
    close()
    false
  }

  private def decodeCell(
      t: String, sawV: Boolean, sawIs: Boolean, text: String): String =
    t match {
      case "s"         => if (!sawV) null else shared.lift(text.trim.toInt).orNull
      case "inlineStr" => if (!sawIs) null else text
      case "str"       => if (!sawV) null else text
      case "b"         => if (!sawV) null
                          else if (text.trim == "1") "True" else "False"
      case _           => if (!sawV) null else text // numeric/error: raw
    }

  override def close(): Unit = if (!closed) {
    closed = true
    readerOpt.foreach(r => try r.close() catch { case _: Exception => () })
    inOpt.foreach(i => try i.close() catch { case _: Exception => () })
    if (zip != null) zip.close()
    if (localized != null) localized.close()
  }
}
