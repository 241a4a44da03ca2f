package graft.sources.xls

import scala.collection.mutable

/** Minimal BIFF8 + BIFF5/7 (`.xls`) workbook parser, from the public
  * [MS-XLS] record spec — the cell-record coverage xlrd needs for the
  * reference's `dtype=str` read (`main.py:245`: engine xlrd, which reads
  * BIFF5 through BIFF8): BOF/BOUNDSHEET/SST for structure,
  * LABELSST/LABEL/RSTRING/NUMBER/RK/MULRK/BOOLERR/FORMULA(+STRING) for
  * values. The BOF version field selects the dialect: BIFF5 has no
  * SST/LABELSST, and its strings are flag-less byte strings (decoded as
  * latin-1; per-CODEPAGE decoding is out of scope — xlrd defaults the
  * same way for files that omit CODEPAGE).
  *
  * Value rendering under the `dtype=str` contract (same decision as the
  * xlsx reader: the raw stored value, stringified): BIFF stores every
  * number as an IEEE double or an RK-packed variant — integral doubles
  * render without a trailing `.0`, booleans as `True`/`False`, error cells
  * as null (pandas reads them as NaN).
  *
  * SST continuation: string data may span CONTINUE records, and each
  * continuation segment re-declares its own encoding byte; the cursor
  * below reads fields byte-at-a-time across segment boundaries and picks
  * up the fresh flags byte when a string's characters cross one.
  *
  * Driver-side decode is deliberate here (unlike the split xlsx road):
  * the format caps sheets at 65536×256, so there is no large-sheet scale
  * path to preserve.
  */
object XlsParser {

  final case class XlsSheet(name: String, rows: Seq[IndexedSeq[String]])

  // record ids
  private val BOF = 0x0809
  private val EOF = 0x000A
  private val BOUNDSHEET = 0x0085
  private val SST = 0x00FC
  private val CONTINUE = 0x003C
  private val LABELSST = 0x00FD
  private val LABEL = 0x0204
  private val RSTRING = 0x00D6
  private val NUMBER = 0x0203
  private val RK = 0x027E
  private val MULRK = 0x00BD
  private val BOOLERR = 0x0205
  private val FORMULA = 0x0006
  private val STRING = 0x0207

  private def u8(b: Array[Byte], o: Int): Int = b(o) & 0xff
  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], o: Int): Int =
    u16(b, o) | (u16(b, o + 2) << 16)
  private def f64(b: Array[Byte], o: Int): Double = {
    var bits = 0L
    var i = 7
    while (i >= 0) { bits = (bits << 8) | (b(o + i) & 0xffL); i -= 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** Parse a whole `.xls` file (CFB bytes): sheets in BOUNDSHEET order. */
  def parse(fileBytes: Array[Byte]): Option[Seq[XlsSheet]] =
    Cfb.readStream(fileBytes, Seq("Workbook", "Book")).flatMap { wb =>
      try Some(parseWorkbookStream(wb))
      catch { case _: Exception => None }
    }

  private def parseWorkbookStream(wb: Array[Byte]): Seq[XlsSheet] = {
    // ---- globals substream: BOUNDSHEETs + SST
    var sheets = Vector.empty[(String, Int)] // (name, stream offset of BOF)
    var sst = IndexedSeq.empty[String]
    var biff5 = false
    var pos = 0
    var depth = 0
    var done = false
    while (!done && pos + 4 <= wb.length) {
      val id = u16(wb, pos)
      val len = u16(wb, pos + 2)
      val body = pos + 4
      id match {
        case BOF =>
          if (depth == 0) biff5 = u16(wb, body) < 0x0600
          depth += 1
        case EOF => depth -= 1; if (depth <= 0) done = true
        case BOUNDSHEET =>
          val off = u32(wb, body)
          val cch = u8(wb, body + 6)
          val name =
            if (biff5) // BIFF5 sheet names are flag-less byte strings
              new String(wb, body + 7, cch, "ISO-8859-1")
            else if ((u8(wb, body + 7) & 1) == 0)
              new String(wb, body + 8, cch, "ISO-8859-1")
            else new String(wb, body + 8, cch * 2, "UTF-16LE")
          sheets :+= (name, off)
        case SST =>
          // gather SST + its CONTINUE records into segments
          val segs = mutable.ArrayBuffer(slice(wb, body, len))
          var p = body + len
          while (p + 4 <= wb.length && u16(wb, p) == CONTINUE) {
            val clen = u16(wb, p + 2)
            segs += slice(wb, p + 4, clen)
            p += 4 + clen
          }
          sst = parseSst(segs.toIndexedSeq)
        case _ =>
      }
      pos = body + len
    }

    sheets.map { case (name, off) =>
      XlsSheet(name, parseSheetSubstream(wb, off, sst, biff5))
    }
  }

  private def slice(b: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val out = new Array[Byte](len)
    System.arraycopy(b, off, out, 0, len)
    out
  }

  /** Cursor over CONTINUE-split record segments: fixed fields read
    * byte-at-a-time across boundaries; character reads pick up the fresh
    * flags byte a continuation starts with. */
  private final class SegCursor(segs: IndexedSeq[Array[Byte]]) {
    private var seg = 0
    private var off = 0

    private def ensure(): Unit =
      while (seg < segs.length && off >= segs(seg).length) { seg += 1; off = 0 }

    def atSegmentBoundary: Boolean = { ensure(); off == 0 && seg > 0 }
    def hasMore: Boolean = { ensure(); seg < segs.length }

    def byte(): Int = { ensure(); val v = segs(seg)(off) & 0xff; off += 1; v }
    def u16c(): Int = byte() | (byte() << 8)
    def u32c(): Int = u16c() | (u16c() << 16)
    def skip(n: Int): Unit = { var i = 0; while (i < n) { byte(); i += 1 } }

    /** XLUnicodeRichExtendedString (16-bit length). */
    def richString(): String = {
      val cch = u16c()
      var grbit = byte()
      val fRich = (grbit & 8) != 0
      val fExt = (grbit & 4) != 0
      val cRun = if (fRich) u16c() else 0
      val cbExt = if (fExt) u32c() else 0
      val sb = new StringBuilder(cch)
      var i = 0
      while (i < cch) {
        ensure()
        if (off == 0 && seg > 0 && i > 0) {
          // continuation segment re-declares the encoding of its chars
          grbit = byte()
        }
        val ch =
          if ((grbit & 1) == 0) byte().toChar
          else (byte() | (byte() << 8)).toChar
        sb.append(ch)
        i += 1
      }
      skip(cRun * 4 + cbExt)
      sb.toString
    }
  }

  private def parseSst(segs: IndexedSeq[Array[Byte]]): IndexedSeq[String] = {
    val cur = new SegCursor(segs)
    cur.skip(4) // cstTotal
    val unique = cur.u32c()
    val out = IndexedSeq.newBuilder[String]
    var i = 0
    while (i < unique && cur.hasMore) {
      out += cur.richString()
      i += 1
    }
    out.result()
  }

  /** Single-record XLUnicodeString (LABEL/RSTRING/STRING bodies). */
  private def inlineString(b: Array[Byte], off: Int): String = {
    val cch = u16(b, off)
    val grbit = u8(b, off + 2)
    if ((grbit & 1) == 0) new String(b, off + 3, cch, "ISO-8859-1")
    else new String(b, off + 3, cch * 2, "UTF-16LE")
  }

  private def renderNum(d: Double): String =
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString

  private def decodeRk(rk: Int): String = {
    val x100 = (rk & 1) != 0
    val isInt = (rk & 2) != 0
    val v =
      if (isInt) (rk >> 2).toDouble
      else java.lang.Double.longBitsToDouble((rk.toLong & 0xFFFFFFFCL) << 32)
    renderNum(if (x100) v / 100.0 else v)
  }

  /** BIFF5 byte string (cch u16 + codepage bytes, no flags). */
  private def byteString(b: Array[Byte], off: Int): String =
    new String(b, off + 2, u16(b, off), "ISO-8859-1")

  private def parseSheetSubstream(
      wb: Array[Byte], start: Int, sst: IndexedSeq[String], biff5: Boolean
  ): Seq[IndexedSeq[String]] = {
    val cells = mutable.Map.empty[(Int, Int), String]
    var pendingStringCell: Option[(Int, Int)] = None // FORMULA string result
    var pos = start
    var depth = 0
    var done = false
    while (!done && pos + 4 <= wb.length) {
      val id = u16(wb, pos)
      val len = u16(wb, pos + 2)
      val b = pos + 4
      id match {
        case BOF => depth += 1
        case EOF => depth -= 1; if (depth <= 0) done = true
        case LABELSST =>
          cells((u16(wb, b), u16(wb, b + 2))) =
            sst.lift(u32(wb, b + 6)).orNull
        case LABEL | RSTRING =>
          cells((u16(wb, b), u16(wb, b + 2))) =
            if (biff5) byteString(wb, b + 6) else inlineString(wb, b + 6)
        case NUMBER =>
          cells((u16(wb, b), u16(wb, b + 2))) = renderNum(f64(wb, b + 6))
        case RK =>
          cells((u16(wb, b), u16(wb, b + 2))) = decodeRk(u32(wb, b + 6))
        case MULRK =>
          val row = u16(wb, b)
          val colFirst = u16(wb, b + 2)
          val n = (len - 6) / 6
          var i = 0
          while (i < n) {
            cells((row, colFirst + i)) = decodeRk(u32(wb, b + 4 + i * 6 + 2))
            i += 1
          }
        case BOOLERR =>
          val fErr = u8(wb, b + 7)
          cells((u16(wb, b), u16(wb, b + 2))) =
            if (fErr != 0) null // error cell → NaN under dtype=str
            else if (u8(wb, b + 6) != 0) "True" else "False"
        case FORMULA =>
          val row = u16(wb, b)
          val col = u16(wb, b + 2)
          if (u16(wb, b + 12) == 0xFFFF) {
            u8(wb, b + 6) match {
              case 0 => pendingStringCell = Some((row, col)) // STRING follows
              case 1 =>
                cells((row, col)) = if (u8(wb, b + 8) != 0) "True" else "False"
              case 3 => cells((row, col)) = ""
              case _ => cells((row, col)) = null // error result
            }
          } else cells((row, col)) = renderNum(f64(wb, b + 6))
        case STRING =>
          pendingStringCell.foreach { rc =>
            cells(rc) = if (biff5) byteString(wb, b) else inlineString(wb, b)
          }
          pendingStringCell = None
        case _ =>
      }
      pos = b + len
    }
    if (cells.isEmpty) Seq.empty
    else {
      val byRow = cells.groupBy(_._1._1)
      val maxRow = byRow.keysIterator.max
      (0 to maxRow).map { r =>
        byRow.get(r) match {
          case None => IndexedSeq.empty[String]
          case Some(rowCells) =>
            val w = rowCells.keysIterator.map(_._2).max + 1
            val arr = Array.fill[String](w)(null)
            rowCells.foreach { case ((_, c), v) => arr(c) = v }
            arr.toIndexedSeq
        }
      }
    }
  }
}
