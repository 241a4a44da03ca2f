package graft

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import org.apache.spark.sql.functions.col

/** The streaming-decode scale path: a ~100 MB (uncompressed) generated
  * sheet must flow through the StAX shape probe and the DSv2 reader without
  * ever materializing the row set on the driver (the probe is a width/count
  * fold; the partition reader holds one row at a time). A DOM-based decode
  * of this fixture would allocate gigabytes; the streaming one is O(row).
  */
class LargeSheetSpec extends SparkSpec {

  private val Rows = 600000
  private val Cols = 6

  /** Stream-writes the sheet XML straight into the zip — the generator
    * itself must not hold the document either. */
  private def makeBigXlsx(path: String): Unit = {
    val mainNs = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    val out = new ZipOutputStream(new FileOutputStream(path))
    out.putNextEntry(new ZipEntry("xl/workbook.xml"))
    out.write(
      s"""<workbook xmlns="$mainNs"><sheets>
         |<sheet name="big" sheetId="1"/>
         |</sheets></workbook>""".stripMargin.getBytes("UTF-8"))
    out.closeEntry()
    out.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
    val w = new java.io.BufferedOutputStream(out, 1 << 16)
    w.write(s"""<worksheet xmlns="$mainNs"><sheetData>""".getBytes("UTF-8"))
    var r = 1
    while (r <= Rows) {
      val sb = new StringBuilder(256)
      sb.append("<row r=\"").append(r).append("\">")
      var c = 0
      while (c < Cols) {
        // letter works for the first 26 columns only — fine for Cols=6
        val ref = s"${('A' + c).toChar}$r"
        sb.append("<c r=\"").append(ref).append("\"><v>")
          .append((r.toLong * 31 + c) % 1000003)
          .append("</v></c>")
        c += 1
      }
      sb.append("</row>")
      w.write(sb.toString.getBytes("UTF-8"))
      r += 1
    }
    w.write("</sheetData></worksheet>".getBytes("UTF-8"))
    w.flush()
    out.closeEntry()
    out.close()
  }

  test("streaming probe + DSv2 read of a 600k-row sheet") {
    val p = tmpDir("bigsheet").resolve("big.xlsx").toString
    makeBigXlsx(p)

    // shape probe: width/count only, no rows retained
    val (width, rowCount) = graft.sources.xlsx.XlsxParser.sheetShape(
      p, "xl/worksheets/sheet1.xml")
    assert(width == Cols)
    assert(rowCount == Rows.toLong)

    // executor-side streamed decode through the public read path (past
    // the size rule: the split road)
    val df = AnyFile.parse(spark, p).head.data
    assert(df.columns.length == Cols)
    assert(df.count() == Rows.toLong)
    // spot-check an interior row survives the stream intact
    val row = df.filter(col("0") === ((123456L * 31) % 1000003).toString)
      .collect()
    assert(row.length == 1)
    assert(row.head.getString(Cols - 1) ==
      ((123456L * 31 + (Cols - 1)) % 1000003).toString)
  }

  test("ExcelImporter.parse decodes sheets ONLY on executor task threads") {
    val p = tmpDir("bigsheet2").resolve("big2.xlsx").toString
    makeBigXlsx(p)
    // past the size rule, or parse() would decode in process
    assert(java.nio.file.Files.size(java.nio.file.Paths.get(p)) >
      graft.sources.Formats.DriverDecodeBytes)

    graft.sources.xlsx.SheetOpenRecorder.drain() // discard earlier opens
    val answers = AnyFile.parse(spark, p)
    val opens = graft.sources.xlsx.SheetOpenRecorder.drain()
    // the shape probe runs as a Spark job: every sheet decode during
    // parse() must be on an executor task thread, never the driver
    assert(opens.nonEmpty)
    assert(opens.forall(_.startsWith("Executor task launch worker")),
      s"sheet decoded outside executor threads: $opens")
    assert(answers.head.knownRowCount.contains(Rows.toLong))
    assert(answers.head.data.columns.length == Cols)

    // the action-time DSv2 decode is executor-side too
    assert(answers.head.data.count() == Rows.toLong)
    val actionOpens = graft.sources.xlsx.SheetOpenRecorder.drain()
    assert(actionOpens.forall(_.startsWith("Executor task launch worker")))
  }

  test("pushed-down column pruning reaches the cell DECODE, not just row building") {
    val p = tmpDir("bigsheet3").resolve("big3.xlsx").toString
    makeBigXlsx(p)

    // iterator-level proof: with needed={2}, only column C's cells are
    // ever decoded; the rest are position-preserving nulls
    val it = new graft.sources.xlsx.SheetRowIterator(
      p, "xl/worksheets/sheet1.xml", IndexedSeq.empty, Some(Set(2)))
    try {
      var n = 0L
      var ok = true
      while (it.hasNext) {
        val row = it.next()
        ok &&= row.zipWithIndex.forall { case (v, i) =>
          if (i == 2) v == ((n * 31 + 2 + 31) % 1000003).toString // row n+1
          else v == null
        }
        n += 1
      }
      assert(ok, "pruned row content wrong")
      assert(n == Rows.toLong)
      assert(it.decodedCells == Rows.toLong,
        s"expected exactly one decode per row, got ${it.decodedCells}")
    } finally it.close()
  }
}
