package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.model.ParserAnswer
import graft.sources.{Formats, Route, TextImporter}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation

/** The one size rule of `Formats.answers`: a file of at most
  * `Formats.DriverDecodeBytes` answers its decode in process as
  * driver-local frames (no Spark job to parse or collect it), and bigger
  * ones take their format's Spark road, whose answers match. */
class DriverDecodeSpec extends SparkSpec {

  /** Spark jobs started while `body` runs. A marked sentinel job closes
    * the window: listener events arrive in order, so once the sentinel's
    * start is seen every earlier job start has been counted. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val Sentinel = "driver-decode-spec sentinel"
    val jobs = new AtomicInteger
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == Sentinel))
          closed.countDown()
        else jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(Sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(closed.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }

  private def isLocal(a: ParserAnswer): Boolean =
    a.data.queryExecution.analyzed.isInstanceOf[LocalRelation]

  test("small files of every driver road parse and collect with zero Spark jobs") {
    import IngestFixtures._
    val dir = tmpDir("driver_decode")
    def put(name: String, bytes: Array[Byte]): String = {
      val p = dir.resolve(name)
      Files.write(p, bytes)
      p.toString
    }
    val csv = "h1,h2,h3\n1,2,3\n4,5\n".getBytes("UTF-8")
    val grid = Seq(Seq("a", "b"), Seq("c", "d"))
    val files = Seq(
      put("a.txt", "p|q|r\ns|t|u\n".getBytes("UTF-8")),
      put("a.csv", csv),
      put("a.ant", "k~~@~~v\n1~~@~~2~~@~~3\n".getBytes("UTF-8")),
      put("a.tsv", "a\tb\nc\td\te\n".getBytes("UTF-8")),
      put("a.csv.gz", gz(csv)),
      put("a.csv.zst", zst(csv)),
      put("a.xlsx", xlsx(Seq("S1" -> grid, "S2" -> Seq(Seq("x", "y", "z"))))),
      put("a.xml", xmlss(Seq("X1" -> grid)).getBytes("UTF-8")),
      put("a.pdf", pdf(Seq(grid, Seq(Seq("e", "f"))))),
      put("a.sqlite", sqlite(4)))

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
      .flatMap(Formats.route).filter(Formats.road(_).isDefined)
    assert(routed.map(_.format.engine).distinct.sorted ==
      Seq("ImportExcel", "ImportSqlite", "ImportTar", "ImportText", "ImportWARC", "ImportXML"))
    assert(routed.length >= 20, routed.length)
    routed.foreach { case r @ Route(path, format, _) =>
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
