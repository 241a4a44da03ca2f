package graft

/** Suite-wide default-deny shuffle-grain budget (VERDICT r9 #6, promoting
  * the r6 curated audit to the BNLJ-allowlist discipline): EVERY declared
  * query runs under a SparkListener and must keep its average exchanged
  * record at digest grain — 64-bit digests + ids + UnsafeRow framing land
  * well under 100 B/record, while the ~300-byte `documents.text` column
  * leaking into any exchange triples it. A query may exceed the default
  * only through `ceilingOverrides`, each entry carrying the justified
  * wider grain (vector-width rerank rows, capped suffix windows,
  * result-sized assembly exchanges). A future query that leaks text into
  * a shuffle fails here by default instead of needing a reviewer to
  * notice. */
class ShuffleAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Digest-grain exchange ceiling — the default every query must meet. */
  private val DefaultCeiling = 128.0

  /** Justified exceptions, measured at sf0.001 (see `graft.Audit`'s `all`
    * mode for the raw numbers) with ~2× headroom against shuffle-
    * compression variance. Three legitimate grains exist above digests:
    *
    *  - VECTOR grain (≤512 B): ANN/dedup rerank or assignment rows carry
    *    the 64-float embedding — width bounded by DIMENSION, never by
    *    corpus text, and constant under corpus scale-up.
    *  - WINDOW grain (≤512 B): the suffix-array family's ONE text-bearing
    *    exchange is the ≤31-word capped LCP window (never documents).
    *  - ASSEMBLY grain: a final result-sized exchange (10s of audit rows
    *    with struct/decimal payloads) where per-record width is an
    *    artifact of tiny denominators, not a scale risk — the RECORD
    *    count is catalog-bounded, not corpus-bounded.
    */
  private val ceilingOverrides: Map[String, (Double, String)] = Map(
    // vector grain
    "q41_ann_lsh" -> ((512.0, "vector: LSH bucket rerank rows carry the 64-dim embedding")),
    "q45_semantic_dedup" -> ((512.0, "vector: codebook-assignment rows carry the embedding")),
    "q92_ann_multiprobe" -> ((512.0, "vector: multiprobe rerank rows carry the embedding")),
    "q94_dedup_embedding_ball" -> ((512.0, "vector: cell-keyed pair join exchanges embedding rows")),
    "q136_ann_recall" -> ((512.0, "vector: the audited LSH side exchanges embedding rows")),
    "q162_prefix_rerank" -> ((512.0, "vector: stage-2 rerank rows carry the full-width embedding")),
    "q165_kcenter_coreset" -> ((512.0, "vector: greedy rounds exchange remaining-point embeddings")),
    // window grain (suffix-array family)
    "q157_phrase_lrs" -> ((512.0, "window: the one exchange carries ≤31-word capped LCP windows")),
    "q158_excision_sweep" -> ((512.0, "window: rides adjacentLcp's capped-window exchange")),
    "q161_repeat_sweep" -> ((512.0, "window: sliding-min sweep over the capped-window sort")),
    "q167_phrase_spectrum" -> ((512.0, "window: LCP histogram over the capped-window sort")),
    // assembly grain — record counts are catalog/result-sized
    "q01_pricing_summary" -> ((256.0, "assembly: ≤12 partial-agg rows of 8 decimal sums")),
    "q35_quantiles" -> ((1024.0, "assembly: 10 quantile rows carrying histogram-refine structs")),
    "q118_range_layout" -> ((512.0, "assembly: 17 range-boundary audit rows")),
    "q122_robust_anomaly" -> ((2048.0, "assembly: 25 per-source rows with median/MAD quantile structs")),
    // record-grain by contract
    "q111_cdc_merge" -> ((256.0, "record: a CDC upsert's JOB is to move the record's columns")),
    "q179_warc_ingest" -> ((1024.0,
      "record: WARC shard assembly IS the corpus-write exchange — each page moves to its shard exactly once")),
    "q182_sqlite_roundtrip" -> ((1024.0,
      "record: SQLite shard assembly IS the corpus-write exchange (q179's shape) — each doc moves to its shard exactly once; bodies reduce to md5 before the presentation sort")),
    "q188_tar_webdataset" -> ((1024.0,
      "record: tar shard assembly IS the corpus-write exchange (q179's shape) — each doc moves to its shard exactly once; payloads reduce to digests/bands before the presentation sort (measured 124 B/rec at sf0.001 — the override is compression-variance headroom)")))

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    val (ceiling, why) = ceilingOverrides.getOrElse(name, (DefaultCeiling, "digest-grain default"))
    test(f"$name shuffles ≤ $ceiling%.0f B/record ($why)") {
      val (bytes, records) = Audit.measureShuffle(spark) {
        fn(spark, sf).write.format("noop").mode("overwrite").save()
      }
      Harness.clearState(spark)
      if (records > 0) {
        val perRec = bytes.toDouble / records
        info(f"$name: $bytes bytes / $records records = $perRec%.1f B/rec")
        assert(perRec <= ceiling,
          f"avg shuffled record $perRec%.1f B exceeds the $ceiling%.0f B " +
            f"ceiling ($why) — did a text column reach an exchange?")
      } else info(s"$name: no exchange at all (map-side / broadcast only)")
    }
  }

  // q172's five greedy steps run on the driver over ≤48 narrow top-12
  // rows: a relational round per step cost 52 jobs at sf0.1
  test("q172_mmr_diversify runs at most 10 Spark jobs") {
    val jobs = jobsDuring {
      SparkEntry.queries("q172_mmr_diversify")(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }
    Harness.clearState(spark)
    info(s"q172: $jobs jobs")
    assert(jobs <= 10, s"q172 ran $jobs jobs")
  }

  // Listener canary: a broken ShuffleTally would report 0 records for
  // every query, which the budget above treats as "no exchange at all" —
  // silently green-lighting the whole suite. q21's n-gram posting join
  // MUST shuffle; if it meters zero records the listener is dead.
  test("canary: q21_ngram_jaccard meters shuffled records > 0 (listener alive)") {
    val (_, records) = Audit.measureShuffle(spark) {
      SparkEntry.queries("q21_ngram_jaccard")(spark, sf)
        .write.format("noop").mode("overwrite").save()
    }
    Harness.clearState(spark)
    assert(records > 0,
      "q21 metered zero shuffled records — the shuffle listener is broken " +
        "and every budget test above is passing vacuously")
  }
}
