package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.model.ParserAnswer
import graft.sources.{Format, Formats, Route}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The one size rule of `Formats.answers`: a file of at most
  * `Formats.DriverDecodeBytes` answers its decode in process as
  * driver-local frames (no Spark job to parse or collect it), and bigger
  * ones take their format's Spark road, whose answers match. */
class DriverDecodeSpec extends SparkSpec {

  test("small files of every driver road parse and collect with zero Spark jobs") {
    import IngestFixtures._
    import spark.implicits._
    val dir = tmpDir("driver_decode")
    def put(name: String, bytes: Array[Byte]): String = {
      val p = dir.resolve(name)
      Files.write(p, bytes)
      p.toString
    }
    val csv = "h1,h2,h3\n1,2,3\n4,5\n".getBytes("UTF-8")
    val grid = Seq(Seq("a", "b"), Seq("c", "d"))
    val json = "[{\"a\": 1}, {\"a\": 2.5, \"b\": {\"c\": [1, 2]}}]".getBytes("UTF-8")
    val jsonl = "{\"a\": 1, \"b\": \"x\"}\n{\"a\": 2, \"c\": null}\n".getBytes("UTF-8")
    val xlsb = dir.resolve("fixture.xlsb.bin")
    XlsbFixture.makeXlsb(xlsb.toString)
    val fixture: Map[Format, Array[Byte]] = Map(
      Formats.Xlsx -> xlsx(Seq("S1" -> grid, "S2" -> Seq(Seq("x", "y", "z")))),
      Formats.Xls -> XlsFixture.workbook(Seq("L1" -> grid)),
      Formats.Xlsb -> Files.readAllBytes(xlsb),
      Formats.Ods -> ods(Seq("O1" -> grid)),
      Formats.Xmlss -> xmlss(Seq("X1" -> grid)).getBytes("UTF-8"),
      Formats.PlainText -> csv,
      Formats.Ant -> "k~~@~~v\n1~~@~~2~~@~~3\n".getBytes("UTF-8"),
      Formats.Tsv -> "a\tb\nc\td\te\n".getBytes("UTF-8"),
      Formats.Pdf -> pdf(Seq(grid, Seq(Seq("e", "f")))),
      Formats.Html -> htmlTables(Seq(grid), "utf-8"),
      Formats.Docx -> docx(Seq(grid), Nil),
      Formats.Pptx -> pptx(Seq(Left(grid))),
      Formats.Sqlite -> sqlite(4),
      Formats.Warc -> warc(3),
      Formats.Tar -> tar(3),
      Formats.Parquet -> parquet(Seq((1L, 1.5, Seq(0.5f))).toDF("l", "d", "arr")),
      Formats.Json -> json,
      Formats.JsonLines -> jsonl)
    // every registered extension has a small fixture here, but the
    // always-Failed pickle gap: a format cannot join the registry
    // without answering in process
    val registered = for {
      f <- Formats.registry if f != Formats.Pickle
      ext <- f.extensions
    } yield put("a" + ext, fixture.getOrElse(f, fail(s"no small fixture for ${f.extensions}")))
    val files = registered ++ Seq(
      put("b.json", "{\"a\": {\"0\": 1, \"1\": 2}, \"b\": {\"0\": \"x\"}}".getBytes("UTF-8")),
      put("a.csv.gz", gz(csv)),
      put("a.csv.zst", zst(csv)),
      put("a.jsonl.gz", gz(jsonl)),
      put("a.json.zst", zst(json)),
      put("a.jsonl.zst", zst(jsonl)))

    var answers = Seq.empty[ParserAnswer]
    val jobs = jobsDuring {
      answers = files.flatMap { f =>
        val as = AnyFile.parse(spark, f)
        as.foreach { a => a.data.collect(); a.parseInfo }
        as
      }
    }
    assert(jobs == 0, s"$jobs Spark jobs for ${files.length} small files")
    // the window saw real answers, not Failed ones
    assert(answers.map(_.filePath).distinct.length == files.length)
    assert(answers.forall(a => a.parseInfo == ParserAnswer.Ok && isLocal(a)),
      answers.filterNot(a => a.parseInfo == ParserAnswer.Ok && isLocal(a)).mkString("\n"))
  }

  test("a .csv.gz or .csv.zst that inflates past the cap takes the Spark text road") {
    val dir = tmpDir("codec_bomb")
    val line = "x" * 96
    for ((name, wrap) <- Seq[(String, java.io.OutputStream => java.io.OutputStream)](
        "big.csv.gz" -> (new java.util.zip.GZIPOutputStream(_)),
        "big.csv.zst" -> (new com.github.luben.zstd.ZstdOutputStream(_)))) {
      val p = dir.resolve(name)
      val out = wrap(Files.newOutputStream(p))
      var decoded = 0L
      var i = 0
      try while (decoded <= Formats.DriverDecodeBytes) {
        val l = s"$i,$line,${i % 7}\n".getBytes("UTF-8")
        out.write(l)
        decoded += l.length
        i += 1
      } finally out.close()
      assert(Files.size(p) <= Formats.DriverDecodeBytes) // small on disk

      var answers = Seq.empty[ParserAnswer]
      // the split road's index and probe jobs: also the canary that the
      // job count is live
      assert(jobsDuring { answers = AnyFile.parse(spark, p.toString) } > 0)
      assert(answers.length == 1)
      val a = answers.head
      assert(!a.data.queryExecution.analyzed.exists(_.isInstanceOf[LocalRelation]),
        a.data.queryExecution.analyzed.treeString)
      val r = Formats.route(p.toString).get
      val direct = Formats.road(r).get(spark, r).head
      assert(a.knownRowCount == Some(i.toLong) && a.knownRowCount == direct.knownRowCount)
      assert((a.encoding, a.separator) == ((direct.encoding, direct.separator)))
      assert(a.data.collect().toSeq == direct.data.collect().toSeq)
    }
  }

  test("a multi-frame .csv.zst / .jsonl.zst past the cap reads one task per batch") {
    import IngestFixtures.{skippable, zst}
    val dir = tmpDir("zst_batches")
    // three frames, each but the last padded past SplitScan.BatchBytes by
    // a skippable frame, so each is its own batch: the first ends inside a
    // long line, the second lies wholly inside it, and the third finishes
    // it; CRLF and empty lines throughout, no trailing newline
    def container(head: String, row: Int => String, long: String): (Array[Byte], Array[Byte]) = {
      def rows(from: Int) = (from until from + 200000).map(i =>
        if (i % 997 == 0) "" else if (i % 101 == 0) row(i) + "\r" else row(i)).mkString("\n")
      val (a, b) = long.splitAt(long.length / 2)
      val parts = Seq(s"$head\r\n${rows(0)}\n$a", b.take(40000), s"${b.drop(40000)}\n\n${rows(1 << 20)}")
        .map(_.getBytes("UTF-8"))
      val pad = skippable(graft.operators.SplitScan.BatchBytes.toInt)
      (parts.flatten.toArray, (zst(parts(0)) ++ pad ++ zst(parts(1)) ++ pad ++ zst(parts(2))))
    }
    val files = Seq(
      "big.csv" -> container("h1;h2;h3", i => s"$i;v${i % 13};w", "L;" + "y" * 300000),
      "big.jsonl" -> container("""{"id":-1}""", i => s"""{"id":$i,"v":"x${i % 13}"}""",
        s"""{"id":-2,"v":"${"y" * 300000}"}"""))
    files.foreach { case (name, (plain, zstd)) =>
      val twin = dir.resolve(name)
      val path = dir.resolve(name + ".zst")
      Files.write(twin, plain)
      Files.write(path, zstd)
      assert(plain.length > Formats.DriverDecodeBytes && zstd.length > Formats.DriverDecodeBytes)
      val batches = graft.sources.zstd.ZstdFrames
        .frameBatches(path.toString, graft.operators.SplitScan.BatchBytes).length
      assert(batches == 3, name)

      var viaZst = Seq.empty[Any]
      val tasks = scanTasksDuring { viaZst = shape(AnyFile.parse(spark, path.toString)) }
      val viaTwin = AnyFile.parse(spark, twin.toString)
      assert(viaTwin.forall(!isLocal(_)), name) // the twin's Spark road
      assert(viaZst == shape(viaTwin), name)
      // text: a one-task index, one probe task per batch, then the
      // collect's scan, one task per batch; JSON lines: Spark's json scans,
      // one task per batch
      if (name == "big.csv") assert(tasks == Seq(1, batches, batches), s"$name: $tasks")
      else assert(tasks.nonEmpty && tasks.forall(_ == batches), s"$name: $tasks")
    }
  }

  test("a plain .csv past the cap splits into byte ranges: one index task, one probe per range") {
    val p = tmpDir("csv_ranges").resolve("big.csv")
    val batch = graft.operators.SplitScan.BatchBytes.toInt
    val sb = new StringBuilder
    var i = 0
    def fill(to: Int, row: Int => String): Unit =
      while (sb.length < to) { sb ++= row(i); i += 1 }
    // the first range ends on a newline; the long line starts at the
    // second range's offset, which the first range owns, covers the whole
    // second range and crosses into the third; CRLF and empty rows follow,
    // the widest row last with no trailing newline
    fill(batch - 64, i => s"$i;v${i % 13};${"x" * (i % 50)}\n")
    sb ++= "z" * (batch - 1 - sb.length) + "\n"
    assert(sb.length == batch)
    sb ++= "L;" + "y" * (batch + 4096) + "\n"
    fill(2 * batch + (1 << 20), i => if (i % 97 == 0) "\r\n" else s"$i;w${i % 7}\r\n")
    sb ++= "a;b;c;d;e;f;g;h"
    Files.write(p, sb.toString.getBytes("UTF-8"))
    assert(Files.size(p) > 2L * batch && Files.size(p) < 3L * batch)

    var answers = Seq.empty[ParserAnswer]
    val tasks = scanTasksDuring { answers = AnyFile.parse(spark, p.toString) }
    assert(tasks == Seq(1, 3), tasks)
    assert(answers.forall(!isLocal(_)))
    val inProcess = Formats.decoded(spark, Formats.route(p.toString).get)
    assert(answers.map(_.knownRowCount) == inProcess.map(_.knownRowCount))
    assert(shape(answers) == shape(inProcess))
  }

  /** One file's answers, reduced to what both roads must agree on. The
    * member-batch splits leave their row count to a job (`knownRowCount`
    * None), so the count compared is the known one, else a counted one. */
  private def shape(as: Seq[ParserAnswer]) = as.map { a =>
    (a.sheetName, a.engine, a.encoding, a.separator, a.parseInfo,
      a.knownRowCount.getOrElse(a.data.count()),
      a.data.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      a.data.collect().map(_.toSeq).toSeq)
  }

  test("in-process answers equal each format's Spark road on the parity tree") {
    val tree: Path = IngestFixtures.parityTree(tmpDir("road_parity"))
    val routed = Files.list(tree).iterator().asScala.map(_.toString).toSeq.sorted
      .flatMap(Formats.route).filter(r => Formats.road(r).isDefined && r.format.native.isEmpty)
    assert(routed.map(_.format.engine).distinct.sorted ==
      Seq("ImportExcel", "ImportSqlite", "ImportTar", "ImportText", "ImportWARC", "ImportXML"))
    assert(routed.length >= 20, routed.length)
    routed.foreach { case r @ Route(path, format, _, _) =>
      val inProcess = AnyFile.parse(spark, path)
      assert(inProcess.forall(a => isLocal(a) && a.knownRowCount.isDefined), path)
      val spark0 =
        try Formats.road(r).get(spark, r) catch { case _: Exception => Nil }
      val sparkRoad =
        if (spark0.isEmpty) Seq(ParserAnswer.failed(spark, path, format.engine)) else spark0
      assert(shape(inProcess) == shape(sparkRoad), path)
      if (!Set(Formats.Warc, Formats.Tar)(format))
        assert(inProcess.map(_.knownRowCount) == sparkRoad.map(_.knownRowCount), path)
    }
  }
}
