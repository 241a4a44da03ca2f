package graft

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}

/** The big-file road probe: one ~130 MB delimited text file in five forms
  * (`.csv`, `.csv.gz`, `.csv.bz2`, and single- and multi-frame
  * `.csv.zst`), and one ~100 MB SQLite database, each timed through
  * `AnyFile.parse` + `count` and through `BulkIngest.parseTreeAuto` +
  * `count` at its default `bigBytes`. Prints one JSON line per file and
  * road: wall time, Spark jobs, tasks per stage, decoded MB/s, rows, an
  * order-free row hash, the answer's schema, encoding and separator, and
  * the JVM's peak RSS so far.
  *
  * usage: sbt "Test/runMain graft.BigRoads <dir> [form] [road]"
  *   <dir>   where the files are written, once; later runs reuse them
  *   [form]  csv, csv_gz, csv_bz2, csv_zst, csv_zst_frames or sqlite
  *           (default all)
  *   [road]  anyfile or bulk (default both)
  * Run one form and road per JVM to read the peak RSS as that road's.
  * It calls only `AnyFile.parse`, `BulkIngest.parseTreeAuto`, the
  * `IngestFixtures` writers and `SqliteWriter`, so it runs on older trees
  * as well. */
object BigRoads {

  private val DecodedBytes = 130L << 20

  /** The forms: directory name, file name, and the file's bytes from the
    * text's decoded bytes. */
  private val Forms: Seq[(String, String, (=> Array[Byte]) => Array[Byte])] = Seq(
    ("csv", "big.csv", b => b),
    ("csv_gz", "big.csv.gz", b => IngestFixtures.gz(b)),
    ("csv_bz2", "big.csv.bz2", b => IngestFixtures.bz2(b)),
    ("csv_zst", "big.csv.zst", b => IngestFixtures.zst(b)),
    // 1 MiB frames, as a parallel compressor cuts them
    ("csv_zst_frames", "big.csv.zst", b => b.grouped(1 << 20).map(IngestFixtures.zst).reduce(_ ++ _)),
    ("sqlite", "big.sqlite", _ => database()))

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

  /** Seeded rows of one table on 64 KiB pages, ~100 MB: an INTEGER
    * PRIMARY KEY alias, a name, an int, a real and a short note, and
    * every 97th row a 40-120 KB body; those past a page spill to
    * overflow chains (644 of the file's 1,798 pages). */
  private def database(): Array[Byte] = {
    import graft.sources.sqlite.SqliteParser.{Cell, IntCell, NullCell, RealCell, TextCell}
    val rnd = new scala.util.Random(14)
    val rows = Seq.newBuilder[(Long, Seq[Cell])]
    var bytes = 0L
    var id = 0L
    while (bytes < (100L << 20)) {
      id += 1
      val note = "n" * (100 + rnd.nextInt(400))
      val body = if (id % 97 == 0) TextCell("b" * (40000 + rnd.nextInt(80000))) else NullCell
      rows += id -> Seq(NullCell, TextCell(s"name ${rnd.nextInt(100000)}"), IntCell(rnd.nextInt(1000)),
        RealCell(rnd.nextInt(100000) / 8.0), TextCell(note), body)
      bytes += 40 + note.length + (body match { case TextCell(b) => b.length; case _ => 0 })
    }
    graft.sources.sqlite.SqliteWriter.build("big", Seq("id", "name", "qty", "price", "note", "body"),
      0, rows.result(), pageSize = 65536)
  }

  /** Writes the forms not yet written, and the plain `.csv` beside any
    * text form: its size is the text forms' decoded MB. */
  private def write(dir: Path, forms: Seq[(String, String, (=> Array[Byte]) => Array[Byte])]): Unit = {
    lazy val bytes = text()
    val todo = Forms.filter(f => f._1 == "csv" && forms.exists(_._1 != "sqlite")) ++ forms
    todo.distinct.foreach { case (form, name, encode) =>
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
    write(dir, forms)
    val spark = SparkSession.builder().master("local[4]").appName("big-roads")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for ((form, name, _) <- forms; road <- roads) {
      val path = dir.resolve(form).resolve(name).toString
      val mb = Files.size(dir.resolve(if (form == "sqlite") "sqlite/big.sqlite" else "csv/big.csv")) / 1e6
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
