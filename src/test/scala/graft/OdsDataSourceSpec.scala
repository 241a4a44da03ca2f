package graft

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}


/** Streaming ODS decode and the split road: table-per-partition executor
  * reads identical to the materialized OdsParser road, repeat discipline
  * preserved streaming, spill-free on remote schemes. */
class OdsDataSourceSpec extends SparkSpec {

  private val tableNs = "urn:oasis:names:tc:opendocument:xmlns:table:1.0"
  private val officeNs = "urn:oasis:names:tc:opendocument:xmlns:office:1.0"

  private def writeOds(path: String): Unit = {
    val content =
      s"""<office:document-content xmlns:office="$officeNs" xmlns:table="$tableNs">
         |<office:body><office:spreadsheet>
         |<table:table table:name="First">
         |<table:table-row>
         |<table:table-cell office:value-type="string"><text:p xmlns:text="x">a</text:p></table:table-cell>
         |<table:table-cell office:value-type="float" office:value="7"><text:p xmlns:text="x">7</text:p></table:table-cell>
         |<table:table-cell office:value-type="boolean" office:boolean-value="true"/>
         |</table:table-row>
         |<table:table-row table:number-rows-repeated="2">
         |<table:table-cell office:value-type="string" table:number-columns-repeated="2"><text:p xmlns:text="x">r</text:p></table:table-cell>
         |</table:table-row>
         |<table:table-row/>
         |<table:table-row>
         |<table:table-cell/>
         |<table:table-cell office:value-type="string"><text:p xmlns:text="x">tail</text:p></table:table-cell>
         |</table:table-row>
         |<table:table-row table:number-rows-repeated="900"/>
         |</table:table>
         |<table:table table:name="Second">
         |<table:table-row>
         |<table:table-cell office:value-type="string"><text:p xmlns:text="x">z</text:p></table:table-cell>
         |</table:table-row>
         |</table:table>
         |</office:spreadsheet></office:body>
         |</office:document-content>""".stripMargin
    val out = new ZipOutputStream(new FileOutputStream(path))
    out.putNextEntry(new ZipEntry("content.xml"))
    out.write(content.getBytes("UTF-8"))
    out.closeEntry()
    out.close()
  }

  test("streaming shapes + iterator match the materialized reader") {
    val dir = tmpDir("ods_stream")
    val p = dir.resolve("t.ods").toString
    writeOds(p)
    import graft.sources.ods.{OdsParser, OdsRowIterator, OdsStream}
    val shapes = OdsStream.tableShapes(p)
    assert(shapes.map(s => (s.index, s.name, s.width, s.rows)) ==
      Seq((0, "First", 3, 5L), (1, "Second", 1, 1L)))
    val sheets = OdsParser.sheets(p).get
    assert(sheets.map(_._1) == Seq("First", "Second"))
    val first = sheets.head._2
    // rows: data, repeated twice, interior empty, tail; 900 trailing
    // empties trimmed
    assert(first == Seq(
      IndexedSeq("a", "7", "True"),
      IndexedSeq("r", "r"), IndexedSeq("r", "r"),
      IndexedSeq(),
      IndexedSeq(null, "tail")))
    // iterator road is identical
    val it = new OdsRowIterator(p, 0)
    val streamed = try it.toIndexedSeq finally it.close()
    assert(streamed == first)
  }

  test("ods DSv2 decodes spill-free on a remote scheme; planner routes big ods") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.spill.impl", classOf[SpillFs].getName)
    graft.sources.FsIO.install(graft.sources.FsIO.captureProps(spark))
    val dir = tmpDir("ods_remote")
    val p = dir.resolve("t.ods").toString
    writeOds(p)
    val before = graft.sources.FsIO.spillCount.get()
    // the split road's first table, as AnyFile answers a big ods
    def read(path: String) = graft.operators.SplitScan
      .answers(spark, graft.sources.Formats.route(path).get).head.data
    val local = read(p).collect().toSeq
    val remote = read("spill:" + p)
      .collect().toSeq
    assert(remote == local)
    assert(graft.sources.FsIO.spillCount.get() == before,
      "ods DSv2 must stream via ranged reads, never localize")

    // planner: threshold 1 byte routes the ods through graft-ods with
    // output identical to the file-grain road
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (graft.sources.FsIO.fileName(r.getString(0)),
        r.getString(2), r.getLong(4), r.getSeq[String](5).toList))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
    val auto = graft.operators.BulkIngest.parseTreeAuto(
      spark, dir.toString, bigBytes = 1L)
    assert(key(auto) ==
      key(graft.operators.BulkIngest.parseTree(spark, dir.toString)))
    assert(auto.queryExecution.executedPlan.toString.contains("BatchScan"))
  }
}
