package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.AnyFile
import graft.operators.BulkIngest
import graft.sources.FsIO

/** One benchmark process: SparkSession start and an untimed warm-up (the
  * set-up), then a fixed list of ops in a closed loop with one client
  * thread; every op's output is checked before the next op starts.
  *
  * Usage: `perfbench.Main key=value …` with keys workload, ops, trace,
  * cpus, localDir, result, warmPasses, and per workload input, seed, warm,
  * bigBytes (parse_files) or queries, sf, oracle (queries).
  */
object Main {
  /** Copies of every format in a parse_files corpus. */
  val ParseCopies = 2

  final case class Args(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing argument $k"))
    def get(k: String): Option[String] = m.get(k)
  }

  /** Result of one op: latency and, if the check failed, why. */
  final case class OpResult(seconds: Double, error: Option[String])

  final class Bench(val spark: SparkSession, val args: Args, val tracer: Tracer,
      val counters: Option[Counters]) {
    val layer = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    def add(k: String, v: Double): Unit = layer(k) = layer(k) + v
    /** Counter totals once the listener bus has delivered every event. */
    def snap: Counters.Snap = counters.map { c =>
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      c.snapshot
    }.getOrElse(Counters.Zero)
  }

  // ============================================================ parse_files

  /** A manifest line: expected answers as (sheet, rows, cols, accepted
    * cell hashes), and the expected BulkIngest per-path aggregate. */
  final case class Entry(rel: String, format: String,
      sheets: Seq[(String, Long, Int, Set[Long])], bulkInfo: String, bulkRows: Long,
      bulkHashes: Set[Long])

  def readManifest(dir: Path): Seq[Entry] =
    Files.readAllLines(Corpus.manifestPath(dir), UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val f = l.split("\t", -1)
      val sheets = f(2) match {
        case "" => Nil
        case s => s.split("\u001e", -1).toSeq.map { sh =>
          val p = sh.split("\u001f", -1)
          (p(0), p(1).toLong, p(2).toInt, p(3).split(",").map(_.toLong).toSet)
        }
      }
      Entry(f(0), f(1), sheets, f(3), f(4).toLong, f(5).split(",").map(_.toLong).toSet)
    }.toSeq

  def parseOp(b: Bench, dir: Path, e: Entry): OpResult = {
    val path = dir.resolve(e.rel).toString
    val t0 = System.nanoTime()
    val got = try {
      val answers = b.tracer.span("anyfile.parse") { AnyFile.parse(b.spark, path) }
      Right(answers.map { a =>
        val rows = b.tracer.span("parser_answer.collect") { a.data.collect() }
        (a.sheetName, rows, a.data.columns.length, a.parseInfo)
      })
    } catch { case t: Throwable => Left(s"${e.rel}: ${t.getClass.getName}: ${t.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    val error = got match {
      case Left(msg) => Some(msg)
      case Right(answers) =>
        if (b.tracer.enabled) {
          b.add("anyfile.answers", answers.size)
          b.add("anyfile.failed_answers", answers.count(_._4 == "Failed"))
        }
        checkAnswers(e, answers)
    }
    OpResult(secs, error)
  }

  def checkAnswers(e: Entry, got: Seq[(String, Array[Row], Int, String)]): Option[String] = {
    if (e.sheets.isEmpty) {
      if (got.size == 1 && got.head._4 == "Failed") None
      else Some(s"${e.rel}: expected one Failed answer, got ${got.map(g => (g._1, g._4))}")
    } else if (got.size != e.sheets.size)
      Some(s"${e.rel}: expected ${e.sheets.size} answers, got ${got.map(g => (g._1, g._2.length))}")
    else got.zip(e.sheets).collectFirst(Function.unlift { case ((name, rows, cols, info), (xn, xr, xc, xh)) =>
      val h = Canon.sheetHash(name, rows.toSeq.map(_.toSeq))
      if (name != xn || rows.length != xr || cols != xc || info != "OK" || !xh.contains(h))
        Some(s"${e.rel}: sheet ($name, $info, ${rows.length}x$cols, $h) != expected ($xn, OK, ${xr}x$xc, ${xh.mkString("|")})")
      else None
    })
  }

  /** Traced run only: the layers under `AnyFile.parse`, each called from
    * outside through its public function, after the op's clock stopped. */
  def probeLayers(b: Bench, dir: Path, e: Entry): Unit = {
    import graft.sources.{Sniffers, xlsx, xls, xlsb, ods, xmlss, pdf, html, docx, pptx, sqlite, tar, warc}
    val t = b.tracer
    val p = dir.resolve(e.rel).toString
    val bytes = t.span("sources.fsio.read") { FsIO.readAllBytes(p) }
    b.add("sources.fsio.read_mb", bytes.length / 1e6)
    if (e.format.startsWith("csv") || e.format == "txt_utf8" || e.format == "ant") {
      t.span("sources.sniffers.encoding") { Sniffers.detectEncoding(p) }
      if (e.format != "ant") t.span("sources.sniffers.delimiter") { Sniffers.detectDelimiter(p) }
    }
    if (e.format.endsWith("_bad")) return
    def decode(fmt: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      t.span(s"sources.$fmt.decode") { body }
      b.add(s"sources.$fmt.bytes", bytes.length.toDouble)
      b.add(s"sources.$fmt.wall", (System.nanoTime() - t0) / 1e9)
    }
    e.format match {
      case "xlsx" => decode("xlsx") {
        xlsx.XlsxParser.openWorkbook(p).foreach(wb =>
          wb.sheets.foreach(s => xlsx.XlsxParser.sheetRows(p, s.target, wb.shared)))
      }
      case "xls" => decode("xls") { xls.XlsParser.parse(bytes) }
      case "xlsb" => decode("xlsb") { xlsb.XlsbParser.parse(p) }
      case "ods" => decode("ods") { ods.OdsParser.sheets(p) }
      case "xmlss" => decode("xmlss") { xmlss.XmlSpreadsheetParser.tableShapes(p) }
      case "pdf" => decode("pdf") {
        pdf.PdfParser.parse(bytes).foreach { doc =>
          val pages = doc.pages
          pages.foreach { pg =>
            val fonts = doc.pageFonts(pg)
            doc.pageContent(pg).foreach(c =>
              pdf.PdfTextExtractor.tables(pdf.PdfTextExtractor.page(c, fonts)))
          }
          b.add("sources.pdf.pages", pages.size)
        }
      }
      case "html" => decode("html") { html.HtmlParser.tables(new String(bytes, UTF_8)) }
      case "docx" => decode("docx") { docx.DocxParser.parse(p) }
      case "pptx" => decode("pptx") { pptx.PptxParser.parse(p) }
      case "sqlite" => decode("sqlite") {
        val src = sqlite.SqliteParser.BytesSource(bytes)
        sqlite.SqliteParser.header(src).foreach { h =>
          sqlite.SqliteParser.tables(src, h).foreach { tm =>
            sqlite.SqliteParser.leafPages(src, h, tm.rootPage).getOrElse(Nil)
              .foreach(pg => sqlite.SqliteParser.leafRows(src, h, pg))
          }
        }
      }
      case "tar" => decode("tar") {
        val in = FsIO.openDecoded(p)
        try tar.TarWalk.walk(in)(tar.TarWalk.memberCells) finally in.close()
      }
      case "warc_gz" => decode("warc") {
        warc.WarcReader.records(warc.WarcReader.gunzipIfNeeded(FsIO.readAllBytesDecoded(p)))
      }
      case "csv_zst" => decode("zstd") { FsIO.readAllBytesDecoded(p) }
      case "jsonl_gz" => decode("gzip") { FsIO.readAllBytesDecoded(p) }
      case _ =>
    }
  }

  // ================================================== bulk parity (parse_files)

  /** Per-path aggregate: row count, parse_info set, order-independent
    * cell hash (the [[Canon]] rule in Spark SQL), cell count. */
  def bulkAggregate(df: DataFrame): DataFrame = {
    val cells = concat_ws("\u001f", transform(col("cells"), c => coalesce(c, lit("\u0000"))))
    val s = concat(col("sheet"), lit("\u001e"), cells)
    val h = conv(substring(md5(s.cast("binary")), 1, 12), 16, 10).cast("long")
    df.groupBy("path").agg(count(lit(1)).as("rows"), sort_array(collect_set("parse_info")).as("info"),
      sum(h).as("hash"), sum(size(col("cells"))).as("cells"))
  }

  /** The distributed road over the whole corpus: `BulkIngest.parseTreeAuto`
    * plus the per-path aggregate, checked against the same manifest as
    * the driver road, so driver/bulk parity is part of every run. */
  def bulkCheck(b: Bench, dir: Path, expected: Seq[Entry]): OpResult = {
    val root = dir.toString
    val t0 = System.nanoTime()
    val got = try {
      if (b.tracer.enabled) b.tracer.span("sources.fsio.list") { FsIO.listFilesRecursiveWithLen(root).size }
      val before = b.snap
      val df = b.tracer.span("operators.bulk_ingest.plan") {
        BulkIngest.parseTreeAuto(b.spark, root, bigBytes = b.args("bigBytes").toLong)
      }
      val rows = b.tracer.span("operators.bulk_ingest.exec") { bulkAggregate(df).collect() }
      val d = b.snap - before
      b.add("bulk.tasks", d.tasks); b.add("bulk.taskRunMs", d.taskRunMs)
      Right(rows)
    } catch { case t: Throwable => Left(s"bulk: ${t.getClass.getName}: ${t.getMessage}") }
    val secs = (System.nanoTime() - t0) / 1e9
    val error = got match {
      case Left(msg) => Some(msg)
      case Right(rows) =>
        b.add("operators.bulk_ingest.cells", rows.map(_.getLong(4)).sum)
        val byRel = rows.map { r =>
          val rel = dir.toAbsolutePath.relativize(Paths.get(new java.net.URI(r.getString(0)).getPath)).toString
          rel -> (r.getLong(1), r.getSeq[String](2), r.getLong(3))
        }.toMap
        val missing = expected.filterNot(e => byRel.contains(e.rel)).map(_.rel)
        val extra = byRel.keySet -- expected.map(_.rel)
        if (missing.nonEmpty || extra.nonEmpty) Some(s"bulk: missing $missing, unexpected $extra")
        else expected.collectFirst(Function.unlift { e =>
          val (n, info, h) = byRel(e.rel)
          if (n != e.bulkRows || info != Seq(e.bulkInfo) || !e.bulkHashes.contains(h))
            Some(s"${e.rel}: bulk ($n, $info, $h) != expected (${e.bulkRows}, ${e.bulkInfo}, ${e.bulkHashes.mkString("|")})")
          else None
        })
    }
    OpResult(secs, error)
  }

  // ================================================================ queries

  final case class QueryOracle(rows: Long, hash: Long)

  def readOracle(path: Path): Map[String, QueryOracle] =
    Files.readAllLines(path, UTF_8).asScala.filter(_.nonEmpty).map { l =>
      val Array(q, n, h) = l.split("\t")
      q -> QueryOracle(n.toLong, h.toLong)
    }.toMap

  private val rowHashUdf = udf((r: Row) => Canon.rowHash(r))
  private val observations = new java.util.concurrent.atomic.AtomicLong

  /** The `graft.Bench` contract: noop sink, then cached and persisted
    * data cleared. The output fingerprint rides along as observed metrics
    * of the same execution. */
  def queryOp(b: Bench, name: String, sfDir: String, oracle: QueryOracle): OpResult = {
    val fn = graft.SparkEntry.queries(name)
    val t0 = System.nanoTime()
    val got = try {
      b.tracer.span(s"queries.$name") {
        val df = fn(b.spark, sfDir)
        val sorted = struct(df.columns.sorted.map(c => col(s"`$c`")): _*)
        val obs = Observation(s"chk_${observations.incrementAndGet()}")
        df.observe(obs, count(lit(1)).as("rows"), sum(rowHashUdf(sorted)).as("hash"))
          .write.format("noop").mode("overwrite").save()
        val m = obs.get
        Right((m("rows").asInstanceOf[Long], Option(m("hash")).map(_.asInstanceOf[Long]).getOrElse(0L)))
      }
    } catch { case t: Throwable => Left(s"$name: ${t.getClass.getName}: ${t.getMessage}") }
    finally {
      b.spark.sharedState.cacheManager.clearCache()
      b.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    val secs = (System.nanoTime() - t0) / 1e9
    val error = got match {
      case Left(msg) => Some(msg)
      case Right((rows, hash)) =>
        if (rows == oracle.rows && hash == oracle.hash) None
        else Some(s"$name: (rows $rows, hash $hash) != oracle (rows ${oracle.rows}, hash ${oracle.hash})")
    }
    OpResult(secs, error)
  }

  // =================================================================== main

  def session(args: Args): SparkSession = {
    val cpus = args("cpus")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", args("localDir"))
      .config("spark.sql.warehouse.dir", Paths.get(args("localDir"), "warehouse").toUri.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** The timed op list of a workload; the layer probe that follows op i
    * in a traced run; an untimed check after the ops (counted as one
    * more op in attempted/failed, not in the latencies). */
  final case class Plan(ops: Seq[(String, () => OpResult)], probe: Int => Unit,
      after: Option[() => OpResult])

  /** The untimed warm-up: fixed inputs of the same shape as the timed
    * ones, `warmPasses` times. parse_files: passes over a fixed-seed
    * corpus, then the bulk road once; queries: every query per pass.
    * Returns the failures. */
  def warmUp(b: Bench): Seq[String] = {
    val a = b.args
    val (pass, last) = a("workload") match {
      case "parse_files" =>
        val dir = Paths.get(a("warm"))
        val entries = readManifest(dir)
        (entries.map(e => () => parseOp(b, dir, e)), Seq(() => bulkCheck(b, dir, entries)))
      case "queries" =>
        val oracle = readOracle(Paths.get(a("oracle")))
        (a("queries").split(",").toSeq.map(q => () => queryOp(b, q, a("sf"), oracle(q))), Nil)
    }
    (Seq.fill(a("warmPasses").toInt)(pass).flatten ++ last).flatMap(_().error)
  }

  def plan(b: Bench): Plan = {
    val a = b.args
    val nOps = a("ops").toInt
    a("workload") match {
      case "parse_files" =>
        val dir = Paths.get(a("input"))
        val entries = readManifest(dir)
        val ops = (0 until nOps).map { i =>
          val e = entries(i % entries.size)
          e.format -> (() => parseOp(b, dir, e))
        }
        Plan(ops, i => probeLayers(b, dir, entries(i % entries.size)), Some(() => bulkCheck(b, dir, entries)))
      case "queries" =>
        val qs = a("queries").split(",").toSeq
        val oracle = readOracle(Paths.get(a("oracle")))
        Plan((0 until nOps).map(i => qs(i % qs.size)).map(q => q -> (() => queryOp(b, q, a("sf"), oracle(q)))),
          _ => (), None)
    }
  }

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ >= 0).sum / 1e3
  private def jitSeconds: Double =
    Option(ManagementFactory.getCompilationMXBean).map(_.getTotalCompilationTime / 1e3).getOrElse(0.0)

  private def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** Runs the op list; returns per-op (label, latency), the JIT's
    * cumulative compile seconds after each op, and failures. */
  def runOps(p: Plan, b: Bench): (Seq[(String, Double)], Seq[Double], Seq[String]) = {
    val rs = p.ops.map { case (label, op) => val r = op(); (label, r, jitSeconds) }
    (rs.map { case (l, r, _) => l -> r.seconds }, rs.map(_._3), rs.flatMap(_._2.error))
  }

  /** Traced run: every op runs once traced (`traced`, with layer probes
    * after it) and once untraced (`plain`), in alternating order so that
    * neither side always gets the warmer caches. Counter and JVM deltas
    * are taken around the traced executions only. Returns (traced
    * latencies, untraced latencies, failures). */
  def runTraced(traced: Plan, plain: Plan, b: Bench): (Seq[(String, Double)], Seq[Double], Seq[String]) = {
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    val ref = mutable.ArrayBuffer.empty[Double]
    val fails = mutable.ArrayBuffer.empty[String]
    traced.ops.zip(plain.ops).zipWithIndex.foreach { case (((label, op), (_, plainOp)), i) =>
      def runPlain(): Unit = { val r = plainOp(); ref += r.seconds; r.error.foreach(fails += _) }
      if (i % 2 == 0) runPlain()
      val before = b.snap
      val gc0 = gcSeconds; val jit0 = jitSeconds
      val r = op()
      val d = b.snap - before
      b.add("jvm.gc_s", gcSeconds - gc0); b.add("jvm.jit_s", jitSeconds - jit0)
      lat += label -> r.seconds
      r.error.foreach(fails += _)
      b.add(s"jobs.$label", d.jobs); b.add(s"n.$label", 1); b.add(s"secs.$label", r.seconds)
      b.add("c.jobs", d.jobs); b.add("c.stages", d.stages); b.add("c.tasks", d.tasks)
      b.add("c.taskRunMs", d.taskRunMs); b.add("c.shuffleWrite", d.shuffleWriteBytes)
      b.add("c.spill", d.spillBytes)
      traced.probe(i)
      if (i % 2 == 1) runPlain()
    }
    (lat.toSeq, ref.toSeq, fails.toSeq)
  }

  def json(m: Seq[(String, Any)]): String = m.map {
    case (k, v: String) => "\"" + k + "\":\"" + v.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
    case (k, v: Seq[_]) => "\"" + k + "\":[" + v.map {
      case s: String => "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"").replace("\n", " ") + "\""
      case x => x.toString
    }.mkString(",") + "]"
    case (k, v: Map[_, _]) => "\"" + k + "\":" + json(v.toSeq.map { case (a, x) => a.toString -> x })
    case (k, v) => "\"" + k + "\":" + v.toString
  }.mkString("{", ",", "}")

  def main(argv: Array[String]): Unit = {
    val args = Args(argv.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap)
    val traced = args("trace") == "1"
    val spark = session(args)
    val sessionReady = System.currentTimeMillis()
    val b0 = new Bench(spark, args, new Tracer(false), None)
    val warmFails = warmUp(b0)
    val warmEnd = System.currentTimeMillis()
    // the seeded inputs are written after the set-up clock stopped
    args.get("seed").foreach(s =>
      Corpus.writeAll(Paths.get(args("input")), Corpus.parseCorpus(s.toLong, ParseCopies)))
    val out = mutable.ArrayBuffer[(String, Any)]("warm_end_ms" -> warmEnd,
      "session_ready_ms" -> sessionReady, "gen_s" -> (System.currentTimeMillis() - warmEnd) / 1e3,
      "warm_failed" -> warmFails.size, "warm_errors" -> warmFails.take(5))
    val p0 = plan(b0)
    if (!traced) {
      val gc0 = gcSeconds; val jit0 = jitSeconds
      val (lat, opJit, fails0) = runOps(p0, b0)
      val gc = gcSeconds - gc0; val jit = jitSeconds - jit0
      val after = p0.after.map(_())
      val fails = fails0 ++ after.flatMap(_.error)
      out ++= Seq("latencies" -> lat.map(_._2), "labels" -> lat.map(_._1), "failed" -> fails.size,
        "check_s" -> after.map(_.seconds).sum,
        "checks" -> p0.after.size, "errors" -> fails.take(10), "gc_s" -> gc, "jit_s" -> jit,
        "op_jit_s" -> opJit.map(_ - jit0))
    } else {
      val counters = new Counters
      spark.sparkContext.addSparkListener(counters)
      val b1 = new Bench(spark, args, new Tracer(true), Some(counters))
      val p1 = plan(b1)
      val (tlat, ref, tfails0) = runTraced(p1, p0, b1)
      val tfails = tfails0 ++ p1.after.flatMap(_().error)
      val opWall = tlat.map(_._2).sum
      val tot = b1.tracer.totals
      val self = b1.tracer.selfTotals
      val L = b1.layer
      val perOp = tlat.size.toDouble
      val layers = mutable.LinkedHashMap[String, Double](
        "trace.run_s" -> opWall,
        "trace.untraced_run_s" -> ref.sum,
        "trace.overhead" -> opWall / ref.sum,
        "spark.jobs" -> L("c.jobs"), "spark.stages" -> L("c.stages"),
        "spark.tasks" -> L("c.tasks"),
        "spark.parallelism" -> L("c.taskRunMs") / 1e3 / opWall,
        "spark.shuffle_write_mb" -> L("c.shuffleWrite") / 1e6,
        "spark.spill_mb" -> L("c.spill") / 1e6,
        "jvm.gc_s" -> L("jvm.gc_s"), "jvm.jit_s" -> L("jvm.jit_s"))
      args("workload") match {
        case "parse_files" =>
          layers ++= Seq(
            "anyfile.parse_s" -> tot.getOrElse("anyfile.parse", 0.0),
            "anyfile.answers" -> L("anyfile.answers"),
            "anyfile.failed_answers" -> L("anyfile.failed_answers"),
            "parser_answer.collect_s" -> tot.getOrElse("parser_answer.collect", 0.0),
            "parser_answer.jobs_per_op" -> L("c.jobs") / perOp,
            "sources.fsio.read_s" -> tot.getOrElse("sources.fsio.read", 0.0),
            "sources.fsio.read_mb" -> L("sources.fsio.read_mb"),
            "sources.sniffers.encoding_s" -> tot.getOrElse("sources.sniffers.encoding", 0.0),
            "sources.sniffers.delimiter_s" -> tot.getOrElse("sources.sniffers.delimiter", 0.0))
          Decoders.foreach { f =>
            val s = self.getOrElse(s"sources.$f.decode", 0.0)
            layers(s"sources.$f.decode_s") = s
            layers(s"sources.$f.mb_per_s") = if (s > 0) L(s"sources.$f.bytes") / 1e6 / s else 0.0
          }
          val pdfS = self.getOrElse("sources.pdf.decode", 0.0)
          layers("sources.pdf.pages_per_s") = if (pdfS > 0) L("sources.pdf.pages") / pdfS else 0.0
          val plan = tot.getOrElse("operators.bulk_ingest.plan", 0.0)
          val exec = tot.getOrElse("operators.bulk_ingest.exec", 0.0)
          layers ++= Seq(
            "sources.fsio.list_s" -> tot.getOrElse("sources.fsio.list", 0.0),
            "operators.bulk_ingest.plan_s" -> plan,
            "operators.bulk_ingest.exec_s" -> exec,
            "operators.bulk_ingest.cells" -> L("operators.bulk_ingest.cells"),
            "operators.bulk_ingest.parallelism" -> L("bulk.taskRunMs") / 1e3 / (plan + exec),
            "operators.bulk_ingest.tasks" -> L("bulk.tasks"))
        case "queries" =>
          args("queries").split(",").foreach { q =>
            val n = L(s"n.$q")
            layers(s"queries.${q.takeWhile(_ != '_')}.exec_s") = if (n > 0) L(s"secs.$q") / n else 0.0
            layers(s"queries.${q.takeWhile(_ != '_')}.jobs") = if (n > 0) L(s"jobs.$q") / n else 0.0
          }
      }
      b1.tracer.dump(Paths.get(args("result") + ".spans.tsv"))
      out ++= Seq("layers" -> layers.toMap, "latencies" -> tlat.map(_._2), "labels" -> tlat.map(_._1),
        "failed" -> tfails.size, "checks" -> p1.after.size, "errors" -> tfails.take(10), "gc_s" -> L("jvm.gc_s"),
        "jit_s" -> L("jvm.jit_s"))
    }
    out += "peak_rss_mb" -> peakRssMb
    Files.write(Paths.get(args("result")), json(out.toSeq).getBytes(UTF_8))
    spark.stop()
  }

  /** Hand-rolled decoders probed in the traced `parse_files` run. */
  val Decoders: Seq[String] = Seq("xlsx", "xls", "xlsb", "ods", "xmlss", "pdf", "html",
    "docx", "pptx", "sqlite", "tar", "warc", "zstd", "gzip")
}

/** Writes `name<TAB>sql` per line for the named queries' DuckDB oracle
  * SQL (`SparkEntry.oracleSql`), with backslash, newline and tab escaped. */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val Array(names, out) = args
    val sql = graft.SparkEntry.oracleSql
    val lines = names.split(",").map(q => q + "\t" +
      sql(q).replace("\\", "\\\\").replace("\n", "\\n").replace("\t", "\\t").replace("\r", ""))
    Files.write(Paths.get(out), lines.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
