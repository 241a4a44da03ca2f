package graft

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Hand-assembled `.xlsb` fixture (varint-framed records per the public
  * MS-XLSB layouts) shared by XlsbImporterSpec and BulkIngestSpec. */
object XlsbFixture {

  private def u32(v: Int): Array[Byte] =
    Array((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def f64(d: Double): Array[Byte] = {
    val bits = java.lang.Double.doubleToLongBits(d)
    Array.tabulate(8)(i => ((bits >> (8 * i)) & 0xff).toByte)
  }
  private def varint(n: Int): Array[Byte] = {
    var v = n
    val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
    while (v >= 0x80) { out += ((v & 0x7f) | 0x80).toByte; v >>= 7 }
    out += v.toByte
    out.toArray
  }
  private def rec(id: Int, body: Array[Byte]): Array[Byte] = {
    val idBytes =
      if (id < 0x80) Array(id.toByte)
      else Array(((id & 0x7f) | 0x80).toByte, ((id >> 7) & 0x7f).toByte)
    idBytes ++ varint(body.length) ++ body
  }
  private def ws(s: String): Array[Byte] =
    u32(s.length) ++ s.getBytes("UTF-16LE")
  private def cellHdr(col: Int): Array[Byte] = u32(col) ++ u32(0)

  /** One sheet "BinSheet" with RK/real/SST/bool/inline/error/formula cells
    * and a gap row — the canonical 4-row fixture. */
  def makeXlsb(path: String): Unit = {
    def rkInt(v: Int): Array[Byte] = u32((v << 2) | 2)
    val workbook = rec(156, u32(0) ++ u32(1) ++ ws("rId1") ++ ws("BinSheet"))
    val rels =
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.bin"/>
        |</Relationships>""".stripMargin.getBytes("UTF-8")
    val sstPart = rec(159, u32(2) ++ u32(2)) ++
      rec(19, Array(0.toByte) ++ ws("shared")) ++
      rec(19, Array(0.toByte) ++ ws("wörld"))
    val sheet = Array(
      rec(0, u32(0) ++ new Array[Byte](21)), // BrtRowHdr row 0
      rec(2, cellHdr(0) ++ rkInt(123)),      // RK int → "123"
      rec(5, cellHdr(1) ++ f64(2.5)),        // real → "2.5"
      rec(7, cellHdr(2) ++ u32(0)),          // isst → "shared"
      rec(0, u32(1) ++ new Array[Byte](21)), // row 1
      rec(4, cellHdr(0) ++ Array(1.toByte)), // bool → "True"
      rec(6, cellHdr(1) ++ ws("inline")),    // inline string
      rec(3, cellHdr(2) ++ Array(0x2A.toByte)), // error → null
      rec(0, u32(3) ++ new Array[Byte](21)), // row 3 (row 2 is a gap)
      // cached formula number; trailing formula bytes must be ignored
      rec(9, cellHdr(0) ++ f64(41.0) ++ u32(0) ++ u32(0)),
      rec(7, cellHdr(1) ++ u32(1))           // isst → "wörld"
    ).flatten

    val out = new ZipOutputStream(new FileOutputStream(path))
    def entry(name: String, bytes: Array[Byte]): Unit = {
      out.putNextEntry(new ZipEntry(name))
      out.write(bytes)
      out.closeEntry()
    }
    entry("xl/workbook.bin", workbook)
    entry("xl/_rels/workbook.bin.rels", rels)
    entry("xl/sharedStrings.bin", sstPart)
    entry("xl/worksheets/sheet1.bin", sheet)
    out.close()
  }

  /** One sheet "Blank" whose part holds no records — the empty-sheet shape
    * every workbook format must still answer (one Failed sheet). */
  def makeBlankXlsb(path: String): Unit = {
    val out = new ZipOutputStream(new FileOutputStream(path))
    def entry(name: String, bytes: Array[Byte]): Unit = {
      out.putNextEntry(new ZipEntry(name))
      out.write(bytes)
      out.closeEntry()
    }
    entry("xl/workbook.bin", rec(156, u32(0) ++ u32(1) ++ ws("rId1") ++ ws("Blank")))
    entry("xl/_rels/workbook.bin.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
        |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.bin"/>
        |</Relationships>""".stripMargin.getBytes("UTF-8"))
    entry("xl/worksheets/sheet1.bin", Array.emptyByteArray)
    out.close()
  }
}
