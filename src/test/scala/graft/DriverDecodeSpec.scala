package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.model.ParserAnswer
import graft.sources.{Format, Formats, Route, TextImporter}
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

  test("a .csv.gz that inflates past the cap takes the Spark text road") {
    val dir = tmpDir("gz_bomb")
    val p = dir.resolve("big.csv.gz")
    val line = "x" * 96
    val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(p))
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
    // the text aggregate: also the canary that the job count is live
    assert(jobsDuring { answers = AnyFile.parse(spark, p.toString) } > 0)
    assert(answers.length == 1)
    val a = answers.head
    assert(!a.data.queryExecution.analyzed.exists(_.isInstanceOf[LocalRelation]),
      a.data.queryExecution.analyzed.treeString)
    val direct = TextImporter.answers(spark, Formats.route(p.toString).get, None).head
    assert(a.knownRowCount == Some(i.toLong) && a.knownRowCount == direct.knownRowCount)
    assert((a.encoding, a.separator) == ((direct.encoding, direct.separator)))
    assert(a.data.collect().toSeq == direct.data.collect().toSeq)
  }

  /** One file's answers, reduced to what both roads must agree on. The
    * ranged SQLite road and the member-batch splits leave their row count
    * to a job (`knownRowCount` None), so the count compared is the known
    * one, else a counted one. */
  private def shape(as: Seq[ParserAnswer]) = as.map { a =>
    (a.sheetName, a.engine, a.encoding, a.separator, a.parseInfo,
      a.knownRowCount.getOrElse(a.data.count()),
      a.data.schema.fields.map(f => (f.name, f.dataType)).toSeq,
      a.data.collect().map(_.toSeq).toSeq)
  }

  test("in-process answers equal each format's Spark road on the parity tree") {
    val tree: Path = IngestFixtures.parityTree(tmpDir("road_parity"))
    val routed = Files.list(tree).iterator().asScala.map(_.toString).toSeq.sorted
      .flatMap(Formats.route).filter(r => Formats.road(r).isDefined && !r.format.nativeScan)
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
      if (!Set(Formats.Sqlite, Formats.Warc, Formats.Tar)(format))
        assert(inProcess.map(_.knownRowCount) == sparkRoad.map(_.knownRowCount), path)
    }
  }
}
