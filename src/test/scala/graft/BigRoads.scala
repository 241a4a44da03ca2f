package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}

/** The big-file road probe: one ~130 MB delimited text file in five forms
  * (`.csv`, `.csv.gz`, `.csv.bz2`, and single- and multi-frame
  * `.csv.zst`), each timed through `AnyFile.parse` + `count` and through
  * `BulkIngest.parseTreeAuto` + `count` at its default `bigBytes`. Prints
  * one JSON line per file and road: wall time, Spark jobs, tasks per
  * stage, decoded MB/s, rows, an order-free row hash, the answer's schema,
  * encoding and separator, and the JVM's peak RSS so far.
  *
  * usage: sbt "Test/runMain graft.BigRoads <dir> [form] [road]"
  *   <dir>   where the files are written, once; later runs reuse them
  *   [form]  csv, csv_gz, csv_bz2, csv_zst or csv_zst_frames (default all)
  *   [road]  anyfile or bulk (default both)
  * Run one form and road per JVM to read the peak RSS as that road's.
  * It calls only `AnyFile.parse`, `BulkIngest.parseTreeAuto` and the
  * `IngestFixtures` writers, so it runs on older trees as well. */
object BigRoads {

  private val DecodedBytes = 130L << 20

  /** The forms: directory name, file name, and the encoder over the
    * decoded bytes. */
  private val Forms: Seq[(String, String, Array[Byte] => Array[Byte])] = Seq(
    ("csv", "big.csv", identity),
    ("csv_gz", "big.csv.gz", IngestFixtures.gz),
    ("csv_bz2", "big.csv.bz2", IngestFixtures.bz2),
    ("csv_zst", "big.csv.zst", IngestFixtures.zst),
    // 1 MiB frames, as a parallel compressor cuts them
    ("csv_zst_frames", "big.csv.zst", b => b.grouped(1 << 20).map(IngestFixtures.zst).reduce(_ ++ _)))

  /** Seeded ragged rows: 2 to 9 `;`-separated cells, some quoted, some
    * tab-padded, every 50th line CRLF and every 500th empty (never the
    * first, which the delimiter vote samples). */
  private def text(): Array[Byte] = {
    val rnd = new scala.util.Random(12)
    val out = new java.io.ByteArrayOutputStream(DecodedBytes.toInt + (1 << 16))
    var i = 0
    while (out.size() < DecodedBytes) {
      val line =
        if (i % 500 == 499) ""
        else (0 until 2 + rnd.nextInt(8)).map { c =>
          val v = s"v${rnd.nextInt(100000)}"
          if (c == 1 && i % 7 == 0) "\"" + v + "\"" else if (c == 2 && i % 11 == 0) s"'$v'" else v
        }.mkString(if (i % 13 == 5) "\t" else "", ";", if (i % 17 == 5) "\t\t" else "")
      out.write((line + (if (i % 50 == 0) "\r\n" else "\n")).getBytes("UTF-8"))
      i += 1
    }
    out.toByteArray
  }

  private def write(dir: Path): Unit = {
    lazy val bytes = text()
    Forms.foreach { case (form, name, encode) =>
      val p = dir.resolve(form).resolve(name)
      if (!Files.exists(p)) {
        Files.createDirectories(p.getParent)
        val tmp = p.resolveSibling(name + ".tmp")
        Files.write(tmp, encode(bytes))
        Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE)
      }
    }
  }

  /** Jobs started and tasks per stage submitted while `body` runs.
    * Listener events arrive in order, so once a marker job's start is seen
    * every event of `body` has been. */
  private def traced[T](spark: SparkSession)(body: => T): (T, Int, Seq[Int]) = {
    val sc = spark.sparkContext
    val Marker = "big-roads marker"
    def marked(props: java.util.Properties) =
      props != null && props.getProperty("spark.job.description") == Marker
    val seen = new java.util.concurrent.CountDownLatch(1)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (marked(e.properties)) seen.countDown() else jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (!marked(e.properties)) tasks.add(e.stageInfo.numTasks)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription(Marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      seen.await(60, java.util.concurrent.TimeUnit.SECONDS)
      (out, jobs.get, tasks.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  /** Order-free hash of every row: the sum of per-row xxhash64 values. */
  private def rowHash(df: DataFrame): String =
    String.valueOf(df.select(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)").as("h"))
      .agg(sum(col("h"))).head().get(0))

  private def peakRssMb: Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)

  private def json(fields: (String, Any)*): String = fields.map { case (k, v) =>
    val value = v match {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\t", "\\t") + "\""
      case xs: Seq[_] => xs.mkString("[", ",", "]")
      case d: Double => f"$d%.3f"
      case other => other.toString
    }
    s""""$k":$value"""
  }.mkString("{", ",", "}")

  def main(args: Array[String]): Unit = {
    val dir = Paths.get(args(0)).toAbsolutePath
    val forms = args.lift(1).fold(Forms)(f => Forms.filter(_._1 == f))
    val roads = args.lift(2).fold(Seq("anyfile", "bulk"))(Seq(_))
    write(dir)
    val mb = Files.size(dir.resolve("csv").resolve("big.csv")) / 1e6
    val spark = SparkSession.builder().master("local[4]").appName("big-roads")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for ((form, name, _) <- forms; road <- roads) {
      val path = dir.resolve(form).resolve(name).toString
      var wall = 0.0
      val ((rows, frames, meta), jobs, tasks) = traced(spark) {
        val t0 = System.nanoTime()
        val out =
          if (road == "anyfile") {
            val answers = AnyFile.parse(spark, path)
            (answers.map(_.data.count()).sum, answers.map(_.data),
              answers.map(a => (a.sheetName, a.encoding, a.separator, a.parseInfo,
                a.data.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(","))))
          } else {
            val df = graft.operators.BulkIngest.parseTreeAuto(spark, dir.resolve(form).toString)
            (df.count(), Seq(df.select("sheet", "sheet_idx", "parse_info", "row_idx", "cells")), Nil)
          }
        wall = (System.nanoTime() - t0) / 1e9
        out
      }
      println(json("form" -> form, "road" -> road, "wall_s" -> wall, "jobs" -> jobs,
        "stage_tasks" -> tasks, "mb_per_s" -> mb / wall, "rows" -> rows,
        "row_hash" -> frames.map(rowHash).mkString("+"),
        "answers" -> meta.map { case (s, e, sep, info, schema) => s"$s|$e|$sep|$info|$schema" }
          .mkString(" ; "),
        "peak_rss_mb" -> peakRssMb))
    }
    spark.stop()
  }
}
