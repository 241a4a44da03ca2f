package graft.sources.xlsb

import java.io.InputStream

import scala.collection.mutable.ArrayBuffer

import graft.sources.xlsx.XlsxParser.SheetRef
import graft.sources.zip.RangedZip

/** Streaming `.xlsb` access — the split road's big-workbook units for binary OOXML
  * (VERDICT r6 #2). [[XlsbParser]] documents the record layouts ([MS-XLSB]);
  * this layer re-expresses the same decode as bounded streams so a
  * multi-GB workbook never pins one task's memory to the whole file:
  *
  *  - [[XlsbStream.openSheetList]] reads the zip central directory plus
  *    `xl/workbook.bin` + its rels (a few KiB) via [[RangedZip]] — the
  *    index's metadata probe;
  *  - [[XlsbStream.loadSst]] streams `xl/sharedStrings.bin` record by
  *    record (the one table a decode task retains);
  *  - [[XlsbRowIterator]] walks one sheet part's records holding ONE row
  *    at a time; a column subset skips the decode of the rest (they keep
  *    their position as nulls, skipping string/SST work — the shape
  *    probe decodes none).
  *
  * Containers the ranged reader rejects fall back to the localize+ZipFile
  * road, same policy as the xlsx twin. Row semantics are pinned to
  * [[XlsbParser.parse]]'s materialized output: rows run 0..maxRow where
  * maxRow is the last row WITH cell records; interior gap rows (missing
  * or cell-less headers) surface as empty rows; each row's width is its
  * own last cell record + 1.
  */
object XlsbStream {

  /** Record-grain reader over a binary part: 1-2 byte 7-bit type, varint
    * size, payload ([MS-XLSB] 2.1.1). O(record) memory. */
  private[xlsb] final class RecordInputStream(in0: InputStream)
      extends java.io.Closeable {
    private val in = new java.io.BufferedInputStream(in0, 64 * 1024)

    /** Next (type, payload), or null at stream end / truncation. */
    def nextRecord(): (Int, Array[Byte]) = {
      val b0 = in.read()
      if (b0 < 0) return null
      var t = b0 & 0xff
      if ((t & 0x80) != 0) {
        val b1 = in.read()
        if (b1 < 0) return null
        t = (t & 0x7f) | ((b1 & 0x7f) << 7)
      }
      var size = 0
      var shift = 0
      var more = true
      while (more) {
        val b = in.read()
        if (b < 0) return null
        size |= (b & 0x7f) << shift
        shift += 7
        more = (b & 0x80) != 0 && shift < 28
      }
      val payload = in.readNBytes(size)
      if (payload.length < size) null else (t, payload)
    }

    override def close(): Unit = in.close()
  }

  /** Open one zip entry as a stream: ranged road first, localize+ZipFile
    * fallback (shared policy, [[RangedZip.entryStreamOrLocalize]]). */
  private[xlsb] def entryStream(
      path: String, entry: String): Option[(InputStream, () => Unit)] =
    RangedZip.entryStreamOrLocalize(path, entry)

  private def readEntryBytes(path: String, entry: String): Option[Array[Byte]] =
    entryStream(path, entry).map { case (in, closer) =>
      try in.readAllBytes()
      finally closer()
    }

  /** Sheet names + binary part targets — the cheap metadata probe
    * (central directory + two small entries; no sheet part touched). */
  def openSheetList(path: String): Option[Seq[SheetRef]] =
    try {
      val wb = readEntryBytes(path, "xl/workbook.bin").getOrElse(return None)
      val bundles = XlsbParser.bundleSheets(wb)
      if (bundles.isEmpty) return None
      val relTargets: Map[String, String] =
        readEntryBytes(path, "xl/_rels/workbook.bin.rels") match {
          case None => Map.empty
          case Some(rels) =>
            val root = scala.xml.XML.loadString(new String(rels, "UTF-8"))
            (root \\ "Relationship").map { r =>
              val id = r.attribute("Id").map(_.text).getOrElse("")
              val tgt = r.attribute("Target").map(_.text).getOrElse("")
              id -> (if (tgt.startsWith("/")) tgt.drop(1) else "xl/" + tgt)
            }.toMap
        }
      Some(bundles.zipWithIndex.map { case ((relId, name), i) =>
        SheetRef(name,
          relTargets.getOrElse(relId, s"xl/worksheets/sheet${i + 1}.bin"))
      })
    } catch { case _: Exception => None }

  /** Shared strings, streamed record by record. */
  def loadSst(path: String): IndexedSeq[String] =
    entryStream(path, "xl/sharedStrings.bin") match {
      case None => IndexedSeq.empty
      case Some((in, closer)) =>
        val rs = new RecordInputStream(in)
        try {
          val out = IndexedSeq.newBuilder[String]
          var rec = rs.nextRecord()
          while (rec != null) {
            if (rec._1 == XlsbParser.BrtSSTItemId)
              out += XlsbParser.wideStringAt(rec._2, 1)
            rec = rs.nextRecord()
          }
          out.result()
        } finally { rs.close(); closer() }
    }

  /** Streaming width/count probe — no row materialization, no SST load
    * (widths depend on cell POSITIONS, which the pruned decode keeps). */
  def sheetShape(path: String, target: String): (Int, Long) = {
    val it = new XlsbRowIterator(path, target, IndexedSeq.empty,
      needed = Some(Set.empty))
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
}

/** One-row-at-a-time decode of an `.xlsb` sheet part. `needed` = the
  * column ordinals to decode (default all): cells outside the set keep their position as
  * nulls without value decode (no SST lookup, no UTF-16 materialization).
  * `decodedCells` counts actual decodes so tests can pin the claim. */
final class XlsbRowIterator(
    path: String,
    target: String,
    sst: IndexedSeq[String],
    needed: Option[Set[Int]] = None
) extends Iterator[IndexedSeq[String]] with java.io.Closeable {

  private var decoded = 0L
  def decodedCells: Long = decoded

  private val (records, closer) =
    XlsbStream.entryStream(path, target) match {
      case Some((in, c)) => (new XlsbStream.RecordInputStream(in), c)
      case None =>
        throw new java.io.FileNotFoundException(s"$target in $path")
    }
  private var closed = false

  // rows emitted so far cover header numbers < nextRowNum; cell-less
  // rows buffer in pendingEmpties and only flush when a later row WITH
  // cells emits — reproducing the materialized 0..maxRow semantics
  private var pendingEmpties = 0
  private var flushingEmpties = 0
  private var queued: IndexedSeq[String] = _
  private var nextRowNum = 0
  private var curCells: ArrayBuffer[String] = _
  private var exhausted = false

  override def hasNext: Boolean =
    flushingEmpties > 0 || queued != null || (!exhausted && fetch())

  override def next(): IndexedSeq[String] = {
    if (!hasNext) throw new NoSuchElementException("sheet exhausted")
    if (flushingEmpties > 0) { flushingEmpties -= 1; IndexedSeq.empty }
    else { val q = queued; queued = null; q }
  }

  /** `true` when a row (or its preceding empties) got queued. */
  private def finishRow(): Boolean = {
    if (curCells == null) return false
    if (curCells.isEmpty) {
      pendingEmpties += 1
      curCells = null
      false
    } else {
      flushingEmpties = pendingEmpties
      pendingEmpties = 0
      queued = curCells.toIndexedSeq
      curCells = null
      true
    }
  }

  private def fetch(): Boolean = {
    var rec = records.nextRecord()
    while (rec != null) {
      val (t, b) = rec
      t match {
        case XlsbParser.BrtRowHdrId =>
          val emitted = finishRow()
          var r = XlsbParser.u32At(b, 0).toInt
          if (r < nextRowNum) r = nextRowNum // clamp non-monotonic headers
          pendingEmpties += r - nextRowNum
          nextRowNum = r + 1
          curCells = ArrayBuffer.empty
          if (emitted) return true
        case _ if curCells != null && XlsbParser.isCellRecord(t) =>
          val col = XlsbParser.u32At(b, 0).toInt
          while (curCells.length < col) curCells += null
          val want = needed.forall(_.contains(col))
          curCells += (if (want) {
            decoded += 1
            XlsbParser.decodeCellValue(t, b, sst)
          } else null)
        case _ =>
      }
      rec = records.nextRecord()
    }
    exhausted = true
    val emitted = finishRow()
    if (!emitted) close()
    emitted
  }

  override def close(): Unit = if (!closed) {
    closed = true
    try records.close() catch { case _: Exception => () }
    closer()
  }
}
