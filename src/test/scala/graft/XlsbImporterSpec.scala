package graft

import org.apache.spark.sql.Row

/** Binary OOXML (`.xlsb`): hand-assembled varint-framed record parts per
  * the public MS-XLSB layouts. */
class XlsbImporterSpec extends SparkSpec {

  private def makeXlsb(path: String): Unit = XlsbFixture.makeXlsb(path)

  test("xlsb: varint records, sheet bundle, SST, cell kinds, gap row") {
    val dir = tmpDir("xlsb")
    val p = dir.resolve("modern.xlsb").toString
    makeXlsb(p)
    val answers = AnyFile.parse(spark, p)
    assert(answers.length == 1)
    val a = answers.head
    assert(a.sheetName == "BinSheet")
    assert(a.engine == "ImportExcel")
    assert(a.parseInfo == "OK")
    val rows = a.data.collect()
    assert(a.data.columns.toSeq == Seq("0", "1", "2"))
    assert(rows(0) == Row("123", "2.5", "shared"))
    assert(rows(1) == Row("True", "inline", null))
    assert(rows(2) == Row(null, null, null)) // gap row
    assert(rows(3) == Row("41", "wörld", null))
  }

  test("xlsb streaming iterator: pruning reaches the decode") {
    val dir = tmpDir("xlsb_prune")
    val p = dir.resolve("modern.xlsb").toString
    makeXlsb(p)
    import graft.sources.xlsb.{XlsbRowIterator, XlsbStream}
    val sheets = XlsbStream.openSheetList(p).get
    assert(sheets.map(_.name) == Seq("BinSheet"))
    val sst = XlsbStream.loadSst(p)
    assert(sst == IndexedSeq("shared", "wörld"))
    // full decode
    val full = new XlsbRowIterator(p, sheets.head.target, sst)
    val fullRows = try full.toIndexedSeq finally full.close()
    assert(fullRows.map(_.toList) == Seq(
      List("123", "2.5", "shared"), List("True", "inline", null),
      Nil, List("41", "wörld")))
    assert(full.decodedCells == 8L)
    // pruned to column 0: positions kept, decodes skipped
    val pruned = new XlsbRowIterator(p, sheets.head.target, sst, Some(Set(0)))
    val prunedRows = try pruned.toIndexedSeq finally pruned.close()
    assert(prunedRows.map(_.toList) == Seq(
      List("123", null, null), List("True", null, null),
      Nil, List("41", null)))
    assert(pruned.decodedCells == 3L)
    // shape probe decodes nothing
    assert(XlsbStream.sheetShape(p, sheets.head.target) == (3, 4L))
  }

  test("xlsb DSv2 decodes spill-free on a remote scheme") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.spill.impl", classOf[SpillFs].getName)
    graft.sources.FsIO.install(graft.sources.FsIO.captureProps(spark))
    val dir = tmpDir("xlsb_remote")
    val p = dir.resolve("modern.xlsb").toString
    makeXlsb(p)
    val before = graft.sources.FsIO.spillCount.get()
    // the split road's first sheet, as AnyFile answers a big xlsb
    def read(path: String) = graft.operators.SplitScan
      .answers(spark, graft.sources.Formats.route(path).get).head.data
    val local = read(p).collect().toSeq
    val remote = read("spill:" + p).collect().toSeq
    assert(remote == local)
    assert(graft.sources.FsIO.spillCount.get() == before,
      "xlsb DSv2 must stream via ranged reads, never localize")
  }
}
