package graft.sources.xlsb

/** Minimal binary-OOXML (`.xlsb`) workbook parser, from the public
  * [MS-XLSB] record layouts — the format pandas reads via pyxlsb
  * (reference `main.py:245-247`). Same container as `.xlsx` (a zip with
  * workbook rels), but the parts are binary record streams:
  * variable-length record type (1-2 bytes, 7 bits each) + varint payload
  * size, then the payload.
  *
  * Coverage for `dtype=str` parity, mirroring the BIFF8 reader: sheet list
  * (BrtBundleSh + rels), shared strings (BrtSSTItem), and the cell records
  * BrtCellRk/Real/Bool/St/Isst/Blank + cached formula results
  * (BrtFmlaNum/String/Bool/Error), positioned by BrtRowHdr + per-cell
  * column. Value rendering is identical to [[graft.sources.xls.XlsParser]]:
  * integral doubles without `.0`, `True`/`False`, error cells → null.
  *
  * Since round 7 the decode itself is STREAMED ([[XlsbStream]] /
  * [[XlsbRowIterator]] — ranged zip reads, one row in memory at a time),
  * shared by this materialized whole-file API, the file-grain BulkIngest
  * road, and the split scan's per-sheet units, so all roads decode
  * byte-identically. */
object XlsbParser {

  final case class XlsbSheet(name: String, rows: Seq[IndexedSeq[String]])

  // record ids ([MS-XLSB] 2.1.2)
  private[xlsb] val BrtRowHdrId = 0
  private val BrtCellRk = 2
  private val BrtCellError = 3
  private val BrtCellBool = 4
  private val BrtCellReal = 5
  private val BrtCellSt = 6
  private val BrtCellIsst = 7
  private val BrtFmlaString = 8
  private val BrtFmlaNum = 9
  private val BrtFmlaBool = 10
  private val BrtFmlaError = 11
  private[xlsb] val BrtSSTItemId = 19
  private val BrtBundleSh = 156

  private def u16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private[xlsb] def u32At(b: Array[Byte], o: Int): Int =
    u16(b, o) | (u16(b, o + 2) << 16)
  private def f64(b: Array[Byte], o: Int): Double = {
    var bits = 0L
    var i = 7
    while (i >= 0) { bits = (bits << 8) | (b(o + i) & 0xffL); i -= 1 }
    java.lang.Double.longBitsToDouble(bits)
  }

  /** XLWideString at `o` (value only). */
  private[xlsb] def wideStringAt(b: Array[Byte], o: Int): String =
    wideString(b, o)._1

  /** XLWideString at `o`: (string, bytes consumed). */
  private def wideString(b: Array[Byte], o: Int): (String, Int) = {
    val cch = u32At(b, o)
    if (cch == -1) (null, 4) // XLNullableWideString null marker
    else (new String(b, o + 4, cch * 2, "UTF-16LE"), 4 + cch * 2)
  }

  /** (relId, name) pairs of the workbook part's BrtBundleSh records. */
  private[xlsb] def bundleSheets(wbBytes: Array[Byte]): Seq[(String, String)] = {
    val rs = new XlsbStream.RecordInputStream(
      new java.io.ByteArrayInputStream(wbBytes))
    try {
      val out = Seq.newBuilder[(String, String)]
      var rec = rs.nextRecord()
      while (rec != null) {
        if (rec._1 == BrtBundleSh) {
          // BrtBundleSh = hsState u32, iTabID u32, relId, name
          val b = rec._2
          val (relId, n) = wideString(b, 8)
          val (name, _) = wideString(b, 8 + n)
          out += ((relId, if (name == null) "None" else name))
        }
        rec = rs.nextRecord()
      }
      out.result()
    } finally rs.close()
  }

  private[xlsb] def isCellRecord(t: Int): Boolean = t match {
    case BrtCellRk | BrtCellError | BrtCellBool | BrtCellReal | BrtCellSt |
        BrtCellIsst | BrtFmlaString | BrtFmlaNum | BrtFmlaBool |
        BrtFmlaError => true
    case _ => false
  }

  /** Render one cell record's VALUE (payload = col u32, style+flags u32,
    * then the typed value at offset 8). Identical rendering to the BIFF8
    * reader: integral doubles without `.0`, `True`/`False`, error → null. */
  private[xlsb] def decodeCellValue(
      t: Int, b: Array[Byte], sst: IndexedSeq[String]): String = t match {
    case BrtCellRk => decodeRk(u32At(b, 8))
    case BrtCellReal | BrtFmlaNum => renderNum(f64(b, 8))
    case BrtCellBool | BrtFmlaBool =>
      if ((b(8) & 0xff) != 0) "True" else "False"
    case BrtCellSt | BrtFmlaString => wideStringAt(b, 8)
    case BrtCellIsst => sst.lift(u32At(b, 8)).orNull
    case _ => null // BrtCellError/BrtFmlaError: NaN under dtype=str
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

  /** Materialized whole-workbook decode (file-grain BulkIngest road and
    * the driver importer) — the same streaming iterator the split scan
    * uses, collected. A sheet whose part is missing yields empty rows; a
    * structurally broken container yields None. */
  def parse(path: String): Option[Seq[XlsbSheet]] =
    try {
      val sheets = XlsbStream.openSheetList(path) match {
        case None => return None
        case Some(s) => s
      }
      val sst = XlsbStream.loadSst(path)
      Some(sheets.map { sr =>
        val rows =
          try {
            val it = new XlsbRowIterator(path, sr.target, sst)
            try it.toIndexedSeq
            finally it.close()
          } catch {
            case _: java.io.FileNotFoundException =>
              Seq.empty[IndexedSeq[String]]
          }
        XlsbSheet(sr.name, rows)
      })
    } catch { case _: Exception => None }
}
