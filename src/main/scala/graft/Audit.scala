package graft

import org.apache.spark.sql.SparkSession

/** Plan-audit measurements that are cheaper to RUN than to argue about —
  * prints one JSON line per audit:
  *
  *  - the q94 ball-cover pruning-power audit (candidate pairs the
  *    triangle/residual bounds admit vs all-pairs, plus the exact
  *    survivor count) — round-5's measure-don't-guess ask;
  *  - the SHUFFLE-VOLUME audit (round 6's): PLANS.md claims the dedup
  *    family shuffles digests, never text — a `SparkListener` tallies
  *    actual shuffle write bytes/records per flagship query, and the
  *    bytes-per-shuffled-record ratio makes the claim a number (a
  *    digest-grain exchange runs tens of bytes per record; leaking the
  *    ~300-char `text` column into any exchange would triple it).
  *
  *   sbt "runMain graft.Audit <sfDir>"
  */
object Audit {

  /** Tally of shuffle WRITE volume across all tasks while `body` runs.
    * Write-side is the right side to meter: every exchanged record is
    * written exactly once (reads can exceed writes under stage retry).
    * The listener bus is async, so the tally settles by polling until
    * two consecutive reads agree. */
  final class ShuffleTally extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val records = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        records.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        ()
      }
    }
  }

  /** (shuffleWriteBytes, shuffleWriteRecords) for `body`'s jobs. */
  def measureShuffle(spark: SparkSession)(body: => Unit): (Long, Long) = {
    val t = new ShuffleTally
    spark.sparkContext.addSparkListener(t)
    try {
      body
      // settle the async listener bus: stable across a 100 ms gap twice
      var stable = 0
      var prev = -1L
      var rounds = 0
      while (stable < 2 && rounds < 100) {
        val cur = t.bytes.get + t.records.get
        if (cur == prev) stable += 1 else stable = 0
        prev = cur
        rounds += 1
        if (stable < 2) Thread.sleep(100)
      }
    } finally spark.sparkContext.removeSparkListener(t)
    (t.bytes.get, t.records.get)
  }

  /** Queries whose PLANS.md scale story is "digests shuffle, text does
    * not" — the audited set, with the per-record byte ceiling a digest
    * exchange must stay under. */
  val DigestShuffleQueries: Seq[String] = Seq(
    "q20_dedup_exact", "q26_dup_spans", "q85_snapshot_diff",
    "q88_canonical_select", "q91_max_dup_span", "q134_span_excise",
    "q140_novel_ngrams", "q145_sequence_packing", "q147_rank_fluency",
    "q148_gapped_contamination",
    // q156: round 0 exchanges single bounded-width words; every later
    // doubling round exchanges (doc_id, pos, rank) integer rows — the
    // PLANS claim "a suffix is never materialized", metered
    "q156_suffix_rank",
    // round 9: split datasheet (32-byte cluster digests), ensemble
    // yield (source×policy counts), norm ladder (per-digest expand rows)
    "q163_cluster_split", "q169_filter_ensemble", "q170_norm_ladder")

  /** Queries whose ONE text-bearing exchange is the 31-word capped
    * suffix window (PLANS: "text shuffles only inside the 31-word LCP
    * windows") — metered against a window-grain ceiling instead of the
    * digest-grain one. */
  val CappedWindowQueries: Seq[String] = Seq(
    "q157_phrase_lrs", "q161_repeat_sweep", "q167_phrase_spectrum")

  def shuffleAudit(spark: SparkSession, sfDir: String): Seq[String] = {
    DigestShuffleQueries.map(shuffleAuditOne(spark, sfDir, _))
  }

  private def shuffleAuditOne(
      spark: SparkSession, sfDir: String, name: String): String = {
    val fn = SparkEntry.queries(name)
    val (bytes, records) = measureShuffle(spark) {
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    }
    Harness.clearState(spark)
    val perRec = if (records == 0) 0.0 else bytes.toDouble / records
    f"""{"audit":"shuffle","query":"$name","sf":"$sfDir","shuffle_bytes":$bytes,"shuffle_records":$records,"bytes_per_record":$perRec%.1f}"""
  }

  /** Meter EVERY declared query — the raw material for the suite-wide
    * shuffle-grain budget in ShuffleAuditSpec. */
  def shuffleAuditAll(spark: SparkSession, sfDir: String): Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.map(shuffleAuditOne(spark, sfDir, _))
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = Harness.session()
    if (args.length > 1 && args(1) == "all") {
      // meter every declared query and stop — budget-derivation mode
      val lines = shuffleAuditAll(spark, sfDir)
      lines.foreach(println)
      args.drop(2).headOption.foreach { f =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(f), lines.mkString("", "\n", "\n"))
      }
      spark.stop()
      return
    }
    val emb = graft.queries.Tables.embeddings(spark, sfDir)
    val n = emb.count()
    val allPairs = n * (n - 1) / 2
    val cand = graft.queries.SimilarityQueries
      .ballCoverCandidates(emb, 0.4).count()
    val survivors = graft.queries.SimilarityQueries
      .ballCover(emb, 0.4).count()
    println(
      s"""{"audit":"ballcover","sf":"$sfDir","n":$n,"all_pairs":$allPairs,""" +
        s""""candidates":$cand,"survivors":$survivors,""" +
        f""""candidate_frac":${cand.toDouble / allPairs}%.4f}""")
    shuffleAudit(spark, sfDir).foreach(println)
    spark.stop()
  }
}
