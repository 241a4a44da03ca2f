package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row

/** Legacy `.xls` (BIFF8 in a CFB container): the fixture is hand-assembled
  * from the public MS-CFB/MS-XLS layouts — small enough that the Workbook
  * stream lands in the mini-stream, exercising the miniFAT path too.
  */
class XlsImporterSpec extends SparkSpec {
  import XlsFixture._

  /** BIFF8 Workbook stream: globals (SST, BOUNDSHEET) + one sheet with
    * every supported cell record. */
  private def biffStream(): Array[Byte] = {
    val bof5 = rec(0x0809, u16(0x0600) ++ u16(0x0005) ++ u16(0x0DBB) ++
      u16(0x07CC) ++ u32(0) ++ u32(0x0606))
    val bof10 = rec(0x0809, u16(0x0600) ++ u16(0x0010) ++ u16(0x0DBB) ++
      u16(0x07CC) ++ u32(0) ++ u32(0x0606))
    val eof = rec(0x000A, Array.empty)

    // SST: "hello" compressed + "wörld" utf-16
    val sst = rec(0x00FC,
      u32(2) ++ u32(2) ++
        (u16(5) ++ Array(0.toByte) ++ latin1("hello")) ++
        (u16(5) ++ Array(1.toByte) ++ utf16("wörld")))

    def cell(row: Int, col: Int): Array[Byte] = u16(row) ++ u16(col) ++ u16(0)
    def rkInt(v: Int): Array[Byte] = u32((v << 2) | 2)
    def rkX100Int(v: Int): Array[Byte] = u32((v << 2) | 3)
    def rkFloat(d: Double): Array[Byte] = {
      val top = (java.lang.Double.doubleToLongBits(d) >>> 32).toInt
      u32(top & 0xFFFFFFFC)
    }

    val sheet = Array(
      bof10,
      rec(0x0203, cell(0, 0) ++ f64(42.0)),     // NUMBER integral → "42"
      rec(0x0203, cell(0, 1) ++ f64(1.5)),      // NUMBER → "1.5"
      rec(0x027E, cell(0, 2) ++ rkInt(123)),    // RK int → "123"
      rec(0x027E, cell(1, 0) ++ rkX100Int(12345)), // RK int/100 → "123.45"
      // MULRK: cols 1..2 = "7", "2.5"
      rec(0x00BD, u16(1) ++ u16(1) ++
        (u16(0) ++ rkInt(7)) ++ (u16(0) ++ rkFloat(2.5)) ++ u16(2)),
      rec(0x00FD, cell(2, 0) ++ u32(0)),        // LABELSST → "hello"
      rec(0x00FD, cell(2, 1) ++ u32(1)),        // LABELSST → "wörld"
      rec(0x0204, cell(2, 2) ++ u16(6) ++ Array(0.toByte) ++ latin1("inline")),
      rec(0x0205, cell(3, 0) ++ Array(1.toByte, 0.toByte)), // BOOL true
      rec(0x0205, cell(3, 1) ++ Array(0x2A.toByte, 1.toByte)), // error → null
      // FORMULA with cached numeric result
      rec(0x0006, cell(3, 2) ++ f64(9.75) ++ u16(0) ++ u32(0) ++ u16(0)),
      // FORMULA with cached string result + STRING record ("fx")
      rec(0x0006, cell(4, 0) ++
        Array[Byte](0, 0, 0, 0, 0, 0, -1, -1) ++ u16(0) ++ u32(0) ++ u16(0)),
      rec(0x0207, u16(2) ++ Array(0.toByte) ++ latin1("fx")),
      // gap: row 5 has no cells; row 6 has one
      rec(0x027E, cell(6, 1) ++ rkInt(-4)),     // negative RK int
      eof
    ).flatten

    val out = new ByteArrayOutputStream()
    // globals with BOUNDSHEET pointing at the sheet BOF — assemble twice
    // (the offset depends on the globals' own length, which is fixed here)
    def globals(sheetOff: Int): Array[Byte] = Array(
      bof5,
      sst,
      rec(0x0085, u32(sheetOff) ++ u16(0) ++
        Array(6.toByte, 0.toByte) ++ latin1("Legacy")),
      eof
    ).flatten
    val globalsLen = globals(0).length
    out.write(globals(globalsLen))
    out.write(sheet)
    out.toByteArray
  }

  test("xls: BIFF8 cell records through the CFB mini-stream") {
    val dir = tmpDir("xls")
    val p = dir.resolve("legacy.xls").toString
    Files.write(Paths.get(p), cfb(biffStream()))

    val answers = AnyFile.parse(spark, p)
    assert(answers.length == 1)
    val a = answers.head
    assert(a.sheetName == "Legacy")
    assert(a.engine == "ImportExcel")
    assert(a.parseInfo == "OK")
    val rows = a.data.collect()
    assert(a.data.columns.toSeq == Seq("0", "1", "2"))
    assert(rows(0) == Row("42", "1.5", "123"))
    assert(rows(1) == Row("123.45", "7", "2.5"))
    assert(rows(2) == Row("hello", "wörld", "inline"))
    assert(rows(3) == Row("True", null, "9.75"))
    assert(rows(4) == Row("fx", null, null))
    assert(rows(5) == Row(null, null, null)) // gap row
    assert(rows(6) == Row(null, "-4", null))
  }

  test("xls: SST string split across CONTINUE with encoding switch") {
    // string 0 = 25 compressed 'A's in the SST record + 15 UTF-16 'ü's in
    // the CONTINUE (which re-declares its own encoding byte); string 1
    // starts fresh inside the CONTINUE
    val sstBody = u32(2) ++ u32(2) ++
      u16(40) ++ Array(0.toByte) ++ latin1("A" * 25)
    val contBody = Array(1.toByte) ++ utf16("ü" * 15) ++
      (u16(3) ++ Array(1.toByte) ++ utf16("xyž"))
    val bof5 = rec(0x0809, u16(0x0600) ++ u16(0x0005) ++ u16(0x0DBB) ++
      u16(0x07CC) ++ u32(0) ++ u32(0x0606))
    val bof10 = rec(0x0809, u16(0x0600) ++ u16(0x0010) ++ u16(0x0DBB) ++
      u16(0x07CC) ++ u32(0) ++ u32(0x0606))
    val eof = rec(0x000A, Array.empty)
    val sheet = Array(
      bof10,
      rec(0x00FD, u16(0) ++ u16(0) ++ u16(0) ++ u32(0)),
      rec(0x00FD, u16(0) ++ u16(1) ++ u16(0) ++ u32(1)),
      eof).flatten
    def globals(off: Int): Array[Byte] = Array(
      bof5, rec(0x00FC, sstBody), rec(0x003C, contBody),
      rec(0x0085, u32(off) ++ u16(0) ++ Array(1.toByte, 0.toByte) ++ latin1("S")),
      eof).flatten
    val wb = globals(globals(0).length) ++ sheet

    val dir = tmpDir("xlscont")
    val p = dir.resolve("cont.xls").toString
    Files.write(Paths.get(p), cfb(wb))
    val rows = AnyFile.parse(spark, p).head.data.collect()
    assert(rows(0) == Row("A" * 25 + "ü" * 15, "xyž"))
  }

  test("xls: BIFF5 dialect (no SST, flag-less byte strings)") {
    // xlrd reads BIFF5 through BIFF8; the dialect differences a minimal
    // reader must honor: BOF version 0x0500, BOUNDSHEET names without the
    // unicode-flags byte, LABEL/STRING as cch(u16)+codepage bytes.
    val bofG = rec(0x0809, u16(0x0500) ++ u16(0x0005) ++ u16(0x0DBB) ++
      u16(0x07CC))
    val bofS = rec(0x0809, u16(0x0500) ++ u16(0x0010) ++ u16(0x0DBB) ++
      u16(0x07CC))
    val eof = rec(0x000A, Array.empty)
    def cell(row: Int, col: Int): Array[Byte] = u16(row) ++ u16(col) ++ u16(0)
    val sheet = Array(
      bofS,
      rec(0x0203, cell(0, 0) ++ f64(7.0)),                 // NUMBER → "7"
      rec(0x0204, cell(0, 1) ++ u16(5) ++ latin1("héllo")), // BIFF5 LABEL
      rec(0x027E, cell(1, 0) ++ u32((99 << 2) | 2)),       // RK int → "99"
      rec(0x0205, cell(1, 1) ++ Array(0.toByte, 0.toByte)), // BOOL false
      // FORMULA with cached string result + BIFF5 STRING record
      rec(0x0006, cell(2, 0) ++
        Array[Byte](0, 0, 0, 0, 0, 0, -1, -1) ++ u16(0) ++ u32(0) ++ u16(0)),
      rec(0x0207, u16(3) ++ latin1("fx5")),
      eof
    ).flatten
    def globals(off: Int): Array[Byte] = Array(
      bofG,
      rec(0x0085, u32(off) ++ u16(0) ++ Array(8.toByte) ++ latin1("OldSheet")),
      eof).flatten
    val wb = globals(globals(0).length) ++ sheet

    val dir = tmpDir("xls5")
    val p = dir.resolve("old.xls").toString
    Files.write(Paths.get(p), cfb(wb))
    val a = AnyFile.parse(spark, p).head
    assert(a.sheetName == "OldSheet")
    assert(a.parseInfo == "OK")
    val rows = a.data.collect()
    assert(rows(0) == Row("7", "héllo"))
    assert(rows(1) == Row("99", "False"))
    assert(rows(2) == Row("fx5", null))
  }

  test("corrupt xls → Failed answer, no exception") {
    val dir = tmpDir("xlsbad")
    val p = writeFile(dir, "bad.xls", "not really excel")
    val a = AnyFile.parse(spark, p).head
    assert(a.parseInfo == "Failed")
    assert(a.engine == "ImportExcel")
  }
}
