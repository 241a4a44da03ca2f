package graft

import java.io.FileOutputStream
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.operators.BulkIngest
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Distributed bulk ingestion: the single-file `AnyFile.parse` semantics
  * over a file TREE, parsed inside executor tasks — per-format parity
  * with the driver-side importers, failure isolation per file, and a
  * shuffle-free plan. */
class BulkIngestSpec extends SparkSpec {

  private val xmlNs = "urn:schemas-microsoft-com:office:spreadsheet"
  private val relsNs =
    "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
  private val mainNs =
    "http://schemas.openxmlformats.org/spreadsheetml/2006/main"

  private def writeZip(path: String, entries: (String, String)*): Unit = {
    val out = new ZipOutputStream(new FileOutputStream(path))
    entries.foreach { case (name, content) =>
      out.putNextEntry(new ZipEntry(name))
      out.write(content.getBytes("UTF-8"))
      out.closeEntry()
    }
    out.close()
  }

  private def makeTree(): java.nio.file.Path = {
    val dir = tmpDir("bulk")
    writeFile(dir, "a.txt", "x\ty\tz\n1\t2\t3\n")
    writeFile(dir, "ragged.csv", "a,b,c\nd,e\nf\n")
    writeFile(dir, "fixed.ant", "k~~@~~v\n1~~@~~2\n")
    writeFile(dir, "sheet.xml",
      s"""<?xml version="1.0"?><Workbook xmlns:ss="$xmlNs">
         |<ss:Worksheet ss:Name="S_A"><ss:Table>
         |<ss:Row><ss:Cell><ss:Data>r0c0</ss:Data></ss:Cell><ss:Cell><ss:Data>r0c1</ss:Data></ss:Cell></ss:Row>
         |<ss:Row/>
         |<ss:Row><ss:Cell><ss:Data>r2c0</ss:Data></ss:Cell></ss:Row>
         |</ss:Table></ss:Worksheet></Workbook>""".stripMargin)
    writeZip(dir.resolve("book.xlsx").toString,
      "xl/workbook.xml" ->
        s"""<workbook xmlns="$mainNs" xmlns:r="$relsNs"><sheets>
           |<sheet name="P1" sheetId="1" r:id="rId1"/>
           |</sheets></workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        s"""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
           |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
           |</Relationships>""".stripMargin,
      "xl/sharedStrings.xml" ->
        s"""<sst xmlns="$mainNs" count="1" uniqueCount="1"><si><t>hi</t></si></sst>""",
      "xl/worksheets/sheet1.xml" ->
        s"""<worksheet xmlns="$mainNs"><sheetData>
           |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1"><v>7</v></c></row>
           |<row r="2"><c r="B2"><v>8</v></c></row>
           |</sheetData></worksheet>""".stripMargin)
    writeFile(dir, "broken.xlsx", "this is not a zip")
    writeFile(dir, "mystery.xyz", "???")
    writeFile(dir, "obj.pk1", "not a pickle either")
    XlsbFixture.makeXlsb(dir.resolve("modern.xlsb").toString)
    dir
  }

  private def writeParquetFile(target: java.nio.file.Path): Unit = {
    val out = tmpDir("pq").resolve("t").toString
    spark.range(3).toDF("x").coalesce(1).write.parquet(out)
    val part = java.nio.file.Files.list(java.nio.file.Paths.get(out)).iterator()
      .asScala.find(_.toString.endsWith(".parquet")).get
    java.nio.file.Files.copy(part, target)
  }

  /** `AnyFile.parse` and `BulkIngest.parseOne` agree on one file: engine,
    * sheet names in order, per-sheet `parse_info`, and cells. Natively
    * scanned files (parquet, json, jsonl) are catalogued by the bulk road
    * as `Native` without decoding, so there only names and status agree;
    * the zstd json roads decode to raw JSON text, so row counts agree for
    * lines; a PDF's driver answer is the positional concat of the tables
    * the bulk road lists one sheet each. */
  private def assertParity(p: String): Unit = {
    val name = java.nio.file.Paths.get(p).getFileName.toString
    val lower = name.toLowerCase
    val answers = AnyFile.parse(spark, p)
    val rows = BulkIngest.parseOne(p)
    val bySheet = rows.map(_.sheet_idx).distinct.map(i => rows.filter(_.sheet_idx == i))
    val sheets = bySheet.map(_.head.sheet)
    def cells(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] =
      df.collect().toSeq.map(_.toSeq.map(v => if (v == null) null else v.toString))
    def okCells(rs: Seq[BulkIngest.CellRow]): Seq[Seq[String]] =
      rs.filter(_.parse_info == "OK").sortBy(_.row_idx).map(_.cells.toSeq)

    val bulkEngine = rows.map(_.engine).distinct.map(e =>
      if (e.isEmpty) graft.model.ParserAnswer.EngineDefault else e)
    assert(answers.map(_.engine).distinct == bulkEngine, name)
    if (rows.exists(_.parse_info == "Native")) {
      assert(answers.map(_.sheetName) == sheets, name)
      assert(answers.forall(_.parseInfo == "OK"), name)
    } else if (lower.endsWith(".pdf") && answers.exists(!_.isFailed)) {
      assert(answers.map(_.sheetName) == Seq("PDF file content (concated)"), name)
      assert(rows.forall(_.parse_info == "OK"), name)
      assert(cells(answers.head.data).map(_.drop(1)) == bySheet.flatMap(okCells), name)
    } else if (lower.contains("json") && (lower.endsWith(".zst") || lower.endsWith(".zstd"))) {
      assert(answers.map(_.sheetName) == sheets, name)
      assert(answers.map(_.parseInfo) == bySheet.map(_.map(_.parse_info).distinct.mkString), name)
      if (!lower.contains(".json."))
        assert(answers.map(_.data.count()) == bySheet.map(_.length.toLong), name)
    } else {
      assert(answers.map(_.sheetName) == sheets, name)
      assert(answers.map(_.parseInfo) == bySheet.map(_.map(_.parse_info).distinct.mkString), name)
      assert(answers.map(a => cells(a.data)) == bySheet.map(okCells), name)
    }
  }

  test("parseTree: every file lands exactly once, with per-file failure isolation") {
    val dir = makeTree()
    val df = BulkIngest.parseTree(spark, dir.toString).cache()
    val byFile = df.select("path", "parse_info").distinct().collect()
      .map(r => java.nio.file.Paths.get(r.getString(0)).getFileName.toString
        -> r.getString(1)).toMap
    assert(byFile("a.txt") == "OK")
    assert(byFile("ragged.csv") == "OK")
    assert(byFile("fixed.ant") == "OK")
    assert(byFile("sheet.xml") == "OK")
    assert(byFile("book.xlsx") == "OK")
    // corrupt + unknown + pickle: one Failed catalog row each, no throw
    assert(byFile("broken.xlsx") == "Failed")
    assert(byFile("mystery.xyz") == "Failed")
    assert(byFile("obj.pk1") == "Failed")
    assert(df.filter(col("parse_info") === "Failed")
      .agg(count(lit(1))).head.getLong(0) == 3L)
  }

  test("cells match the driver-side AnyFile parse, format by format") {
    val dir = makeTree()
    val rows = BulkIngest.parseTree(spark, dir.toString)
      .filter(col("parse_info") === "OK").collect()
      .map(r => (java.nio.file.Paths.get(r.getString(0)).getFileName.toString,
        r.getString(2), r.getLong(5), r.getSeq[String](6)))

    def bulkCells(file: String): Seq[Seq[String]] =
      rows.filter(_._1 == file).sortBy(_._3).map(_._4.toSeq).toSeq
    def anyFileCells(file: String): Seq[Seq[String]] =
      AnyFile.parse(spark, dir.resolve(file).toString)
        .flatMap(_.data.collect().toSeq)
        .map(_.toSeq.map(v => if (v == null) null else v.toString))

    for (f <- Seq("a.txt", "ragged.csv", "fixed.ant", "sheet.xml", "book.xlsx",
        "modern.xlsb"))
      assert(bulkCells(f) == anyFileCells(f), f)

    // sheet names carried through
    assert(rows.filter(_._1 == "sheet.xml").forall(_._2 == "S_A"))
    assert(rows.filter(_._1 == "book.xlsx").forall(_._2 == "P1"))

    // every registered extension × accepted codec, one malformed file per
    // container format, an unknown extension and the pickle gap
    val tree = IngestFixtures.parityTree(tmpDir("parity"))
    writeParquetFile(tree.resolve("t.parquet"))
    val files = java.nio.file.Files.list(tree).iterator().asScala
      .map(_.toString).toSeq.sorted
    assert(files.length >= 60, files.length)
    files.foreach(assertParity)
  }

  test("bulk HTML honours the declared charset, like AnyFile") {
    val dir = tmpDir("html1251")
    val p = dir.resolve("ru.html")
    java.nio.file.Files.write(p, IngestFixtures.htmlTables(
      Seq(Seq(Seq("Привет", "мир"), Seq("данные", "ячейка"))), "windows-1251"))
    assertParity(p.toString)
    assert(BulkIngest.parseOne(p.toString).head.cells == Seq("Привет", "мир"))
  }

  test("empty sheets answer one Failed row each, on both bulk roads") {
    import IngestFixtures._
    val dir = tmpDir("empty_sheets")
    def put(name: String, bytes: Array[Byte]): Unit =
      java.nio.file.Files.write(dir.resolve(name), bytes)
    val grid = Seq(Seq("a", "b"), Seq("c"))
    put("mixed.xlsx", xlsx(Seq("Full" -> grid, "Blank" -> Nil)))
    put("blank.xlsx", xlsx(Seq("B1" -> Nil, "B2" -> Nil)))
    put("mixed.xls", XlsFixture.workbook(Seq("Full" -> grid, "Blank" -> Nil)))
    put("blank.xls", XlsFixture.workbook(Seq("B1" -> Nil)))
    XlsbFixture.makeBlankXlsb(dir.resolve("blank.xlsb").toString)
    put("mixed.ods", ods(Seq("Full" -> grid, "Blank" -> Nil)))
    put("blank.ods", ods(Seq("B1" -> Nil)))
    put("mixed.xml", xmlss(Seq("Full" -> grid, "Blank" -> Nil)).getBytes("UTF-8"))
    put("blank.xml", xmlss(Seq("B1" -> Nil, "B2" -> Nil)).getBytes("UTF-8"))

    val files = java.nio.file.Files.list(dir).iterator().asScala
      .map(_.toString).toSeq.sorted
    files.foreach(assertParity)

    // every workbook lands in the catalog, one Failed row per empty sheet
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (java.nio.file.Paths.get(r.getString(0)).getFileName.toString,
        r.getString(2), r.getString(4), r.getLong(5), r.getSeq[String](6).toList))
      .sortBy(_.toString).toSeq
    val grain = key(BulkIngest.parseTree(spark, dir.toString))
    assert(grain.map(_._1).distinct == files.map(f =>
      java.nio.file.Paths.get(f).getFileName.toString))
    assert(grain.contains(("blank.xlsx", "B2", "Failed", -1L, Nil)))
    assert(grain.contains(("mixed.ods", "Blank", "Failed", -1L, Nil)))
    // the DSv2 split roads (every workbook above a 1-byte threshold)
    // answer the same rows as the file-grain road
    assert(key(BulkIngest.parseTreeAuto(spark, dir.toString, bigBytes = 1L)) == grain)
  }

  test("tar catalog digest is independent of nested Md5Prefix64 calls") {
    val payload = Array.tabulate[Byte](200000)(i => (i * 31).toByte)
    // a stream whose every read hashes on the same thread, as a UDF
    // evaluated between reads could
    val in = new java.io.FilterInputStream(new java.io.ByteArrayInputStream(payload)) {
      override def read(b: Array[Byte], off: Int, len: Int): Int = {
        graft.functions.Md5Prefix64.hash(
          org.apache.spark.unsafe.types.UTF8String.fromString("nested"))
        super.read(b, off, math.min(len, 4096))
      }
    }
    val want = java.security.MessageDigest.getInstance("MD5").digest(payload)
    assert(graft.sources.tar.TarWalk.streamMd5Hex(in) ==
      want.map(b => f"${b & 0xff}%02x").mkString)
  }

  test("the plan is a shuffle-free narrow map over the path list") {
    val dir = makeTree()
    val df = BulkIngest.parseTree(spark, dir.toString, partitions = 3)
    val plan = df.queryExecution.executedPlan.toString
    // one round-robin repartition of PATHS (bytes: a few dozen strings),
    // then mapPartitions — no hash exchange, no join, no aggregate
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(2000))
    assert(df.rdd.getNumPartitions == 3)
  }

  test("parseTreeAuto routes big workbooks through DSv2, cell-identical to parseTree") {
    val dir = makeTree()
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (java.nio.file.Paths.get(r.getString(0))
          .getFileName.toString, r.getString(1), r.getString(2),
        r.getString(4), r.getLong(5), r.getSeq[String](6).toList))
        .sortBy(t => (t._1, t._3, t._5)).toSeq
    // threshold 1 byte: every .xlsx (incl. the corrupt one) takes the
    // DSv2 road; output must be indistinguishable from the file-grain road
    val auto = BulkIngest.parseTreeAuto(spark, dir.toString, bigBytes = 1L)
    assert(key(auto) == key(BulkIngest.parseTree(spark, dir.toString)))
    // and the DSv2 road was actually taken: the plan carries a BatchScan
    assert(auto.queryExecution.executedPlan.toString.contains("BatchScan"),
      auto.queryExecution.executedPlan.toString.take(1500))
    // default threshold: small files stay file-grain (no BatchScan)
    val plain = BulkIngest.parseTreeAuto(spark, dir.toString)
    assert(!plain.queryExecution.executedPlan.toString.contains("BatchScan"))
  }

  test("parseTreeAuto: deep tree plans with executor-side listing only") {
    // deep tree: big + small files spread across subdirectories — the
    // planner must compose the size split WITH the distributed listing
    val dir = tmpDir("bulk_deep")
    val s1 = dir.resolve("s1"); val s2 = dir.resolve("s2/deeper")
    java.nio.file.Files.createDirectories(s1)
    java.nio.file.Files.createDirectories(s2)
    writeFile(dir, "root.txt", "a\tb\n1\t2\n")
    writeFile(s1, "one.csv", "1,2\n3,4\n")
    XlsbFixture.makeXlsb(s1.resolve("big.xlsb").toString)
    writeFile(s2, "two.txt", "z\n")
    writeZip(s2.resolve("big.xlsx").toString,
      "xl/workbook.xml" ->
        s"""<workbook xmlns="$mainNs" xmlns:r="$relsNs"><sheets>
           |<sheet name="P1" sheetId="1" r:id="rId1"/>
           |</sheets></workbook>""".stripMargin,
      "xl/_rels/workbook.xml.rels" ->
        s"""<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">
           |<Relationship Id="rId1" Type="t" Target="worksheets/sheet1.xml"/>
           |</Relationships>""".stripMargin,
      "xl/worksheets/sheet1.xml" ->
        s"""<worksheet xmlns="$mainNs"><sheetData>
           |<row r="1"><c r="A1"><v>5</v></c></row>
           |</sheetData></worksheet>""".stripMargin)

    graft.sources.ListingRecorder.drain() // reset
    def key(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (graft.sources.FsIO.fileName(r.getString(0)),
        r.getString(2), r.getLong(5), r.getSeq[String](6).toList))
        .sortBy(t => (t._1, t._2, t._3)).toSeq
    // threshold 1: both workbooks take the DSv2 road; everything else
    // parses from the executor-side listing without a driver collect
    val auto = BulkIngest.parseTreeAuto(spark, dir.toString, bigBytes = 1L)
    val rows = key(auto)
    // the full-tree sweep (planning + execution above) ran ONLY inside
    // executor tasks: the driver's whole role was one listStatus of the
    // root's immediate children. Drained BEFORE the file-grain
    // comparison run below, which lists driver-side by design.
    val listingThreads = graft.sources.ListingRecorder.drain()
    assert(listingThreads.nonEmpty)
    assert(listingThreads.forall(_.startsWith("Executor task launch worker")),
      s"driver-side recursive listing detected: $listingThreads")
    assert(rows == key(BulkIngest.parseTree(spark, dir.toString)))
    assert(rows.exists(t => t._1 == "big.xlsb" && t._2 == "BinSheet"))
    assert(rows.exists(t => t._1 == "big.xlsx" && t._2 == "P1"))
    // and the DSv2 road is in the plan
    assert(auto.queryExecution.executedPlan.toString.contains("BatchScan"))
  }

  test("streaming ingestion: arrivals parse exactly once across restarts, cells ≡ batch") {
    val in = tmpDir("bulk_stream_in")
    val out = tmpDir("bulk_stream_out").toString
    val ckpt = tmpDir("bulk_stream_ckpt").toString
    def run(): Unit = {
      val q = graft.operators.BulkIngest.stream(spark, in.toString)
        .writeStream
        .outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.processAllAvailable()
      q.stop()
    }
    def read() = spark.read.parquet(out)
      .collect().map(r => (graft.sources.FsIO.fileName(r.getString(0)),
        r.getString(4), r.getLong(5), r.getSeq[String](6).toList))
      .sortBy(t => (t._1, t._3)).toSeq

    // batch 1: a text file and a CORRUPT xlsx (failure isolation)
    writeFile(in, "a.txt", "x\ty\n1\t2\n")
    writeFile(in, "bad.xlsx", "not a zip")
    run()
    val after1 = read()
    assert(after1.map(_._1).distinct == Seq("a.txt", "bad.xlsx"))
    assert(after1.filter(_._1 == "bad.xlsx").map(_._2) == Seq("Failed"))

    // batch 2 is a RESTART: only the new arrival parses (no re-emission)
    writeFile(in, "b.csv", "p,q\nr,s\n")
    run()
    val after2 = read()
    assert(after2.count(_._1 == "a.txt") == after1.count(_._1 == "a.txt"))
    assert(after2.exists(_._1 == "b.csv"))
    // cells equal the batch road, file for file
    val batch = graft.operators.BulkIngest
      .parseFiles(spark, Seq(in.resolve("a.txt").toString,
        in.resolve("b.csv").toString, in.resolve("bad.xlsx").toString))
      .collect().map(r => (graft.sources.FsIO.fileName(r.getString(0)),
        r.getString(4), r.getLong(5), r.getSeq[String](6).toList))
      .sortBy(t => (t._1, t._3)).toSeq
    assert(after2 == batch)
  }

  test("parquet and json files are cataloged as Native, not re-decoded") {
    val dir = tmpDir("bulk_native")
    spark.range(3).toDF("x").coalesce(1)
      .write.mode("overwrite").parquet(dir.resolve("t.parquet").toString)
    writeFile(dir, "d.json", """[{"a": 1}]""")
    val rows = BulkIngest.parseTree(spark, dir.toString).collect()
      .map(r => (r.getString(1), r.getString(4)))
    // every parquet part file + the json file catalogs as Native;
    // spark-written _SUCCESS markers and checksums surface as Failed
    // catalog rows (unknown extensions), never as exceptions
    assert(rows.contains(("ImportParquet", "Native")))
    assert(rows.contains(("ImportJSON", "Native")))
  }
}
