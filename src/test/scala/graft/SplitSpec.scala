package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.model.ParserAnswer
import graft.operators.{BulkIngest, SplitScan}
import graft.sources.{Formats, FsIO}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** The one split protocol: every big file of every format splits through
  * its registry `Splitter`, one index job, one probe job and one DSv2
  * scan, answering
  * exactly what the file-grain road answers. */
class SplitSpec extends SparkSpec {

  private def key(df: DataFrame) =
    df.collect().map(r => (FsIO.fileName(r.getString(0)), r.getString(1), r.getString(2),
      r.getInt(3), r.getString(4), r.getLong(5), r.getSeq[String](6).toList))
      .sortBy(t => (t._1, t._4, t._6)).toSeq

  test("parity tree through the split road ≡ parseTree, every splittable file included") {
    val tree = IngestFixtures.parityTree(tmpDir("split_parity"))
    val auto = BulkIngest.parseTreeAuto(spark, tree.toString, bigBytes = 1L)
    val got = key(auto)
    assert(got == key(BulkIngest.parseTree(spark, tree.toString)))
    // the malformed workbooks took the split road too, and answered Failed
    val split = Files.list(tree).iterator().asScala.map(_.toString).toSeq
      .filter(p => Formats.route(p).exists(_.splitter.isDefined)).map(FsIO.fileName)
    assert(split.contains("broken.xlsx") && split.contains("gz.warc.gz") && split.length >= 12, split)
    assert(got.exists(t => t._1 == "broken.ods" && t._5 == "Failed"))
    assert(auto.queryExecution.executedPlan.toString.contains("BatchScan"))
  }

  /** A conforming `.warc.gz`: one gzip member per record. */
  private def warcGz(records: Int): Array[Byte] = (0 until records)
    .map(i => IngestFixtures.gz(graft.operators.WebCorpus.warcRecord(i.toLong, s"<p>page $i</p>")))
    .reduce(_ ++ _)

  /** Multi-frame one-shot zstd: every frame declares its decoded size. */
  private def framed(bytes: Array[Byte]): Array[Byte] =
    bytes.grouped(2048).map(c => com.github.luben.zstd.Zstd.compress(c)).reduce(_ ++ _)

  /** A 512-byte-page database of four tables: `items`, an INTEGER PRIMARY
    * KEY alias over three leaf pages, one row with an overflow payload;
    * `empty`, no rows; `wor`, WITHOUT ROWID; `tags`, one row. */
  private def sqliteDb(path: Path): Array[Byte] = {
    import SqliteFixture._
    val b = new Builder()
    b.allocPage()
    val leaves = Seq.fill(3)(b.allocPage())
    val Seq(itemsRoot, emptyRoot, worRoot, tagsRoot) = Seq.fill(4)(b.allocPage())
    b.writeMaster(Seq(
      ("table", "items", itemsRoot.toLong, "CREATE TABLE items(id INTEGER PRIMARY KEY, name TEXT, body TEXT)"),
      ("table", "empty", emptyRoot.toLong, "CREATE TABLE empty(x TEXT, y INT)"),
      ("table", "wor", worRoot.toLong, "CREATE TABLE wor(k TEXT PRIMARY KEY, v TEXT) WITHOUT ROWID"),
      ("table", "tags", tagsRoot.toLong, "CREATE TABLE tags(tag TEXT)")))
    leaves.zipWithIndex.foreach { case (leaf, l) =>
      b.writeTableLeaf(leaf, (1 to 4).map { j =>
        val id = l * 4L + j
        val body = if (id == 6) "overflow " * 200 else s"body $id"
        b.leafCell(id, record(Seq(VNull, VText(s"name $id"), VText(body)), b.cs))
      })
    }
    b.writeTableInterior(itemsRoot, Seq(leaves(0) -> 4L, leaves(1) -> 8L), rightmost = leaves(2))
    b.writeTableLeaf(emptyRoot, Nil)
    b.writeIndexLeaf(worRoot)
    b.writeTableLeaf(tagsRoot, Seq(b.leafCell(1L, record(Seq(VText("t")), b.cs))))
    b.finish(path.toString)
    Files.readAllBytes(path)
  }

  /** Nodes of the executed plan, AQE's subtree included. */
  private def nodes(df: DataFrame) =
    new AdaptiveSparkPlanHelper {}.collect(df.queryExecution.executedPlan) { case n => n }

  test("the plan has one BatchScan and the same size for 1 and 8 big files") {
    import IngestFixtures._
    val grid = Seq(Seq("a", "b"), Seq("c"))
    def tree(name: String, big: Seq[(String, Array[Byte])]): Path = {
      val dir = tmpDir(name)
      Files.createDirectories(dir.resolve("sub"))
      Files.write(dir.resolve("small.csv"), "x,y\n1,2\n".getBytes("UTF-8"))
      Files.write(dir.resolve("sub/small.txt"), "p\tq\n".getBytes("UTF-8"))
      big.foreach { case (n, b) => Files.write(dir.resolve("sub").resolve(n), b) }
      dir
    }
    val book = "a.xlsx" -> xlsx(Seq("S1" -> grid, "S2" -> grid))
    val tarBytes = tar(12)
    val lines = (0 until 4).map(i => zst((0 until 30)
      .map(j => s"""{"i": $i, "j": $j, "k": "${"x" * j}"}\n""").mkString.getBytes("UTF-8")))
    val mixed = Seq(book,
      "b.ods" -> ods(Seq("O1" -> grid)),
      "c.xml" -> xmlss(Seq("X1" -> grid)).getBytes("UTF-8"),
      "d.warc.gz" -> warcGz(5),
      "e.tar" -> tarBytes,
      "f.tar.zst" -> framed(tarBytes),
      "g.jsonl.zst" -> lines.reduce(_ ++ _),
      "h.xlsb" -> {
        val x = tmpDir("xlsb8").resolve("h.xlsb")
        XlsbFixture.makeXlsb(x.toString)
        Files.readAllBytes(x)
      })
    val one = tree("split_one", Seq(book))
    val eight = tree("split_eight", mixed)
    def auto(dir: Path) =
      BulkIngest.parseTreeAuto(spark, dir.toString, bigBytes = 200L, splitBatchBytes = 1L)
    // both plans unexecuted: AQE has not yet added its query stages
    val (p1, p8) = (auto(one), auto(eight))
    assert(nodes(p1).count(_.isInstanceOf[BatchScanExec]) == 1)
    assert(nodes(p8).count(_.isInstanceOf[BatchScanExec]) == 1)
    assert(nodes(p1).length == nodes(p8).length,
      p1.queryExecution.executedPlan.toString + "\n" + p8.queryExecution.executedPlan.toString)
    // and the eight answer what the file-grain road answers
    assert(key(p8).map(_._1).distinct.length == 10)
    assert(key(p8) == key(BulkIngest.parseTree(spark, eight.toString)))
  }

  test("a small .xlsx that inflates past the cap takes the split road, same cells") {
    val dir = tmpDir("zip_bomb")
    val p = dir.resolve("deflated.xlsx")
    val grid = Seq.tabulate(60000)(i => Seq(s"row$i", "a repeated cell that deflates well"))
    Files.write(p, IngestFixtures.xlsx(Seq("Big" -> grid, "Small" -> Seq(Seq("x")))))
    assert(Files.size(p) <= Formats.DriverDecodeBytes) // small on disk
    val answers = AnyFile.parse(spark, p.toString)
    assert(answers.map(_.sheetName) == Seq("Big", "Small"))
    answers.foreach(a => assert(
      !a.data.queryExecution.analyzed.exists(_.isInstanceOf[LocalRelation]),
      a.data.queryExecution.analyzed.treeString))
    val inProcess = Formats.decoded(spark, Formats.route(p.toString).get)
    def cells(as: Seq[ParserAnswer]) = as.map(a => (a.sheetName, a.knownRowCount,
      a.data.collect().map(_.toSeq).toSeq))
    assert(cells(answers) == cells(inProcess))
  }

  test("big .warc.gz and .tar answers on AnyFile's split road equal the in-process decode") {
    val dir = tmpDir("split_anyfile")
    Files.write(dir.resolve("a.warc.gz"), warcGz(7))
    Files.write(dir.resolve("b.tar"), IngestFixtures.tar(9))
    for (f <- Seq("a.warc.gz", "b.tar")) {
      val r = Formats.route(dir.resolve(f).toString).get
      def shape(as: Seq[ParserAnswer]) = as.map(a => (a.sheetName, a.engine, a.parseInfo,
        a.data.schema.fieldNames.toSeq, a.data.collect().map(_.toSeq).toSeq))
      val split = SplitScan.answers(spark, r)
      assert(split.forall(_.data.queryExecution.executedPlan.toString.contains("BatchScan")), f)
      assert(shape(split) == shape(Formats.decoded(spark, r)), f)
    }
  }

  test("same-named SpreadsheetML tables answer apart on the split road, as in process") {
    val dir = tmpDir("split_same_name")
    val ns = "urn:schemas-microsoft-com:office:spreadsheet"
    def table(grid: Seq[Seq[String]]) = "<ss:Table>" + grid.map(row => "<ss:Row>" +
      row.map(v => s"<ss:Cell><ss:Data>$v</ss:Data></ss:Cell>").mkString + "</ss:Row>").mkString +
      "</ss:Table>"
    val (a, b) = (Seq(Seq("a1", "a2"), Seq("a3")), Seq(Seq("b1", "b2", "b3"), Seq("b4"), Seq("b5")))
    def book(body: String) = s"""<?xml version="1.0"?><Workbook xmlns:ss="$ns">$body</Workbook>"""
    // standalone: both bare tables are "Not defined"; a Worksheet holding
    // two Tables gives both its name
    Files.write(dir.resolve("bare.xml"), book(table(a) + table(b)).getBytes("UTF-8"))
    Files.write(dir.resolve("ws.xml"),
      book(s"""<ss:Worksheet ss:Name="W">${table(a) + table(b)}</ss:Worksheet>""").getBytes("UTF-8"))
    def shape(as: Seq[ParserAnswer]) = as.map(a => (a.sheetName, a.knownRowCount,
      a.data.schema.fieldNames.toSeq, a.data.collect().map(_.toSeq).toSeq))
    for ((f, name) <- Seq("bare.xml" -> "Not defined", "ws.xml" -> "W")) {
      val r = Formats.route(dir.resolve(f).toString).get
      val split = SplitScan.answers(spark, r)
      assert(split.map(_.sheetName) == Seq(name, name), f)
      assert(shape(split) == shape(Formats.decoded(spark, r)), f)
    }
    val auto = key(BulkIngest.parseTreeAuto(spark, dir.toString, bigBytes = 1L))
    assert(auto == key(BulkIngest.parseTree(spark, dir.toString)))
    // the bulk rows keep the two tables apart by sheet ordinal
    assert(auto.filter(_._1 == "bare.xml").groupBy(_._4).view.mapValues(_.length).toMap ==
      Map(0 -> 2, 1 -> 3))
  }

  test("a workbook's sheets probe in one task each, after a one-task index") {
    val p = tmpDir("split_probe").resolve("three.xlsx")
    val grids = Seq("A" -> Seq(Seq("1", "2")), "B" -> Seq(Seq("1"), Seq("2"), Seq("3")),
      "C" -> Seq(Seq("1", "2", "3", "4")))
    Files.write(p, IngestFixtures.xlsx(grids))
    val sc = spark.sparkContext
    sc.setJobGroup("split-probe", "split probe")
    val work = try SplitScan.plan(spark, Seq(p.toString), SplitScan.BatchBytes, 8)
    finally sc.clearJobGroup()
    val tracker = sc.statusTracker
    val tasks = tracker.getJobIdsForGroup("split-probe").sorted.toSeq.map(j =>
      tracker.getJobInfo(j).get.stageIds.map(s => tracker.getStageInfo(s).get.numTasks).sum)
    assert(tasks == Seq(1, 3))
    assert(work.map { case SplitScan.Piece(_, u, first, _) => (u.sheet, u.width, u.rows, first) } ==
      Seq(("A", 2, Some(1L), 0L), ("B", 1, Some(3L), 0L), ("C", 4, Some(1L), 0L)))
  }

  test("the split road in process answers parseOne's rows, over several units") {
    import IngestFixtures._
    val dir = tmpDir("split_local")
    val lines = (0 until 3).map(i => zst((0 until 20)
      .map(j => s"""{"i": $i, "j": $j}\n""").mkString.getBytes("UTF-8"))).reduce(_ ++ _)
    // CRLF, empty lines, quotes, no trailing newline, the widest row last
    val csv = "a;b\r\n1;\"2\"\r\n\r\n\n3\r\n\t'q';r\t\r\n\n4;5;6;7;8".getBytes("UTF-8")
    val csvFrames = Seq("h;i\nj;k;l\nm", "n;o\n\np;q\r\n", "r\ns;t;u;v\n")
      .map(t => zst(t.getBytes("UTF-8"))).reduce(_ ++ _)
    val files = Seq("a.tar" -> tar(9), "b.tar.zst" -> framed(tar(9)), "c.warc.gz" -> warcGz(5),
      "d.jsonl.zst" -> lines, "e.xlsx" -> xlsx(Seq("S1" -> Seq(Seq("a", "b")), "S2" -> Seq(Seq("c")))),
      "f.csv" -> csv, "g.csv.zst" -> csvFrames, "i.sqlite" -> sqliteDb(tmpDir("split_db").resolve("i.db")))
    for ((f, bytes) <- files) {
      val p = dir.resolve(f).toString
      Files.write(dir.resolve(f), bytes)
      assert(Formats.route(p).get.splitter.get.index(p, 1L).length > 1, f)
      assert(SplitScan.local(p, 1L).toSeq == BulkIngest.parseOne(p), f)
    }
    // gzip has no random access: a .tsv.gz is one unit
    val tsv = dir.resolve("h.tsv.gz")
    Files.write(tsv, gz("x\ty\n\"z\"\n\tw\tv\tu\n".getBytes("UTF-8")))
    assert(Formats.route(tsv.toString).get.splitter.get.index(tsv.toString, 1L).length == 1)
    assert(SplitScan.local(tsv.toString, 1L).toSeq == BulkIngest.parseOne(tsv.toString))
  }

  test("parseTreeAuto splits a big .csv into byte ranges, the rows parseTree answers") {
    val dir = tmpDir("split_csv")
    Files.write(dir.resolve("big.csv"), (0 until 3000).map(i =>
      if (i % 211 == 0) "" else Seq.fill(1 + i % 5)(s"c$i").mkString("|"))
      .mkString("", "\r\n", "\n").getBytes("UTF-8"))
    val auto = BulkIngest.parseTreeAuto(spark, dir.toString, bigBytes = 1L, splitBatchBytes = 4096L)
    assert(key(auto) == key(BulkIngest.parseTree(spark, dir.toString)))
    val scans = nodes(auto).collect { case b: BatchScanExec => b.inputPartitions.length }
    assert(scans.length == 1 && scans.head > 1, scans)
  }

  test("parseTreeAuto splits a database into leaf-page batches, the rows parseTree answers") {
    val dir = tmpDir("split_sqlite")
    val p = dir.resolve("multi.sqlite")
    sqliteDb(p)
    val auto = BulkIngest.parseTreeAuto(spark, dir.toString, bigBytes = 1L, splitBatchBytes = 512L)
    val got = key(auto)
    assert(got == key(BulkIngest.parseTree(spark, dir.toString)))
    assert(got.map(t => (t._3, t._5)).distinct ==
      Seq(("items", "OK"), ("empty", "Failed"), ("wor", "Failed"), ("tags", "OK")))
    val scans = nodes(auto).collect { case b: BatchScanExec => b.inputPartitions.length }
    assert(scans.length == 1 && scans.head == 6, scans)
    // AnyFile's split road: named columns, known row counts, and the
    // empty table's named columns with no rows, as in process
    val r = Formats.route(p.toString).get
    def shape(as: Seq[ParserAnswer]) = as.map(a => (a.sheetName, a.parseInfo, a.knownRowCount,
      a.data.schema.fieldNames.toSeq, a.data.collect().map(_.toSeq).toSeq))
    val split = SplitScan.answers(spark, r)
    assert(shape(split) == shape(Formats.decoded(spark, r)))
    assert(split.map(a => (a.sheetName, a.knownRowCount, a.data.columns.toSeq)) == Seq(
      ("items", Some(12L), Seq("id", "name", "body")), ("empty", Some(0L), Seq("x", "y")),
      ("wor", Some(0L), Nil), ("tags", Some(1L), Seq("tag"))))
  }

  test("a PDF nested 200,000 deep answers Failed on both roads, and the JVM lives on") {
    val dir = tmpDir("pdf_deep")
    val depth = 200000
    val body = "%PDF-1.4\n1 0 obj << /Type /Catalog /Pages 2 0 R >> endobj\n" +
      "2 0 obj << /Type /Pages /Kids [3 0 R] /Count 1 >> endobj\n" +
      "3 0 obj << /Type /Page /Parent 2 0 R /Deep " + "[" * depth + "]" * depth +
      " >> endobj\ntrailer << /Root 1 0 R >>\n%%EOF\n"
    val p = dir.resolve("deep.pdf")
    Files.write(p, body.getBytes("ISO-8859-1"))
    val answers = AnyFile.parse(spark, p.toString)
    assert(answers.map(_.parseInfo) == Seq("Failed"))
    val rows = BulkIngest.parseTree(spark, dir.toString).collect()
    assert(rows.map(_.getString(4)).toSeq == Seq("Failed"))
    // a sibling at the bound still parses as a document
    assert(graft.sources.pdf.PdfParser.parse(("%PDF-1.4\n1 0 obj " + "[" * 500 + "]" * 500 +
      " endobj\ntrailer << /Root 1 0 R >>\n").getBytes("ISO-8859-1")).isDefined)
  }
}
