package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test run (per JVM fork). */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_warehouse")
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", wh.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Spark jobs started while `body` runs. */
  def jobsDuring(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    during(body) { case _: SparkListenerJobStart => jobs.incrementAndGet() }
    jobs.get
  }

  /** The task count of every stage that reads no shuffle (a scan stage),
    * in submission order, of the jobs `body` runs. */
  def scanTasksDuring(body: => Unit): Seq[Int] = {
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    during(body) {
      case e: SparkListenerStageSubmitted if e.stageInfo.parentIds.isEmpty =>
        tasks.add(e.stageInfo.numTasks)
    }
    tasks.asScala.toSeq
  }

  /** Runs `body` with `on` seeing its job-start and stage-submitted
    * events. A marked sentinel job closes the window: listener events
    * arrive in order, so once the sentinel's start is seen every earlier
    * event has been handled. */
  private def during(body: => Unit)(on: PartialFunction[SparkListenerEvent, Unit]): Unit = {
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    val sc = spark.sparkContext
    val Sentinel = "jobs-during sentinel"
    def sentinel(props: java.util.Properties) =
      Option(props).exists(_.getProperty("spark.job.description") == Sentinel)
    val closed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (sentinel(e.properties)) closed.countDown() else on.lift(e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (!sentinel(e.properties)) on.lift(e)
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription(Sentinel)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(closed.await(60, TimeUnit.SECONDS), "sentinel job never reached the listener")
    } finally sc.removeSparkListener(listener)
  }

  /** The answer's frame is driver-local: its `collect()` runs no job. */
  def isLocal(a: graft.model.ParserAnswer): Boolean =
    a.data.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  def tmpDir(prefix: String): java.nio.file.Path = {
    val d = java.nio.file.Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d
  }

  def writeFile(dir: java.nio.file.Path, name: String, content: String): String = {
    val p = dir.resolve(name)
    java.nio.file.Files.writeString(p, content)
    p.toString
  }
}
