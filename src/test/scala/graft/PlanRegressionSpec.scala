package graft

import graft.queries.RelationalQueries

/** Plan-shape regression guards: the properties PLANS.md documents are
  * asserted here so a query edit can't silently lose pushdown, broadcast,
  * or top-k rewrites. String-matching the executed plan is deliberate —
  * it's what `.explain` shows and survives operator refactors. */
class PlanRegressionSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def planOf(q: graft.queries.Q): String =
    q.spark(spark, sf).queryExecution.executedPlan.toString

  test("q02: predicates and projection pushed into the parquet scan") {
    val plan = planOf(RelationalQueries.q02)
    assert(plan.contains("PushedFilters: ["), plan.take(2000))
    assert(plan.contains("GreaterThan(l_quantity"), plan.take(2000))
    // pruned read schema: none of the untouched columns appear in the scan
    assert(!plan.contains("l_comment") && !plan.contains("l_tax"))
  }

  test("q03: dimension joins are broadcast") {
    val plan = planOf(RelationalQueries.q03)
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("q04: semi join stays a semi join with filter pushed") {
    val plan = planOf(RelationalQueries.q04)
    assert(plan.contains("LeftSemi"), plan.take(2000))
    assert(plan.contains("GreaterThan(l_quantity,49.0)"), plan.take(2000))
  }

  test("q09: global top-k compiles to TakeOrderedAndProject") {
    val plan = planOf(RelationalQueries.q09)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("q01: aggregation is partial+final hash aggregate") {
    val plan = planOf(RelationalQueries.q01)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(2000))
  }

  test("q44: as-of joins through the custom AsOfJoinExec operator") {
    val plan = planOf(RelationalQueries.q44)
    assert(plan.contains("AsOfJoin"), plan.take(2000))
  }

  test("q172: the top-12 stage nests a loop only over the broadcast query panel") {
    // q172 answers a local frame of the driver's picks, so its own plan
    // shows no join; the brute-force stage it collects is guarded here
    val plan = graft.queries.SimilarityQueries
      .mmrTop12(graft.queries.Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert("BroadcastNestedLoopJoin".r.findAllIn(plan).size == 1, plan.take(3000))
    assert(plan.contains("BroadcastNestedLoopJoin BuildRight"), plan.take(3000))
    assert(plan.contains("LessThan(vec_id,4)"), plan.take(3000))
  }

  test("q28: binned range join is a real join, never a nested loop") {
    val plan = planOf(RelationalQueries.q28)
    // the whole point of RangeJoin.binned: the no-equi-key interval join
    // must NOT plan as BroadcastNestedLoopJoin / CartesianProduct
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(plan.contains("Join") || plan.contains("HashJoin"), plan.take(3000))
  }

  test("q29: RangeJoinRewrite rule eliminates the nested loop from the naive join") {
    val plan = planOf(RelationalQueries.q29)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    // the rewrite's fingerprints: the interval explode and the bin key
    assert(plan.contains("__graft_bin"), plan.take(3000))
  }

  test("RangeJoinRewrite leaves equi-keyed and non-range joins untouched") {
    import org.apache.spark.sql.functions.col
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RangeJoinRewrite))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RangeJoinRewrite
    spark.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "31")
    import spark.implicits._
    val a = Seq((1L, 2L), (2L, 5L)).toDF("k", "v")
    val b = Seq((1L, 1L, 3L)).toDF("kk", "lo", "hi")
    // equi conjunct present -> already hash-joinable, rule must not fire
    val equi = a.join(b, col("k") === col("kk") &&
      col("v") >= col("lo") && col("v") <= col("hi"))
    assert(!equi.queryExecution.optimizedPlan.toString.contains("__graft_bin"))
    // range-only -> rule fires, and results match the naive semantics
    val ranged = a.join(b, col("v") >= col("lo") && col("v") <= col("hi"))
    assert(ranged.queryExecution.optimizedPlan.toString.contains("__graft_bin"))
    assert(ranged.collect().map(_.toSeq).toSet ==
      Set(Seq(1L, 2L, 1L, 1L, 3L)))
  }

  test("q46: per-doc top-k terms uses WindowGroupLimit partial pruning") {
    val plan = planOf(graft.queries.PipelineQueries.q46)
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("q47: k-means assignment is map-side only (no vector-keyed exchange)") {
    // Lloyd scale shape: scan -> quantize+assign (pure projection) ->
    // partial agg -> one exchange keyed by `cluster` -> final agg. The
    // full vector set must never shuffle keyed by vec_id — that would mean
    // the assignment itself became a join/shuffle instead of map-side work.
    val plan = graft.queries.SimilarityQueries.q47.spark(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("array_min"), plan.take(3000))
    val vecKeyedShuffles = "Exchange hashpartitioning\\(vec_id".r
      .findAllIn(plan).size
    assert(vecKeyedShuffles == 0,
      s"vector set shuffled by vec_id:\n${plan.take(3000)}")
  }

  test("q21: exact Jaccard candidates come from the df-ranked prefix, not all shingles") {
    val plan = planOf(graft.queries.DedupQueries.q21)
    // prefix ranking = row_number over the (df, digest) order; the
    // n − ceil(n/20) + 1 prefix filter must gate the candidate self-join
    // (the md5 digesting itself sits above the materialize cut, so the
    // executed plan scans (doc_id, h) — never shingle text)
    assert("row_number".r.findAllIn(plan).size >= 1, plan.take(3000))
    assert(plan.contains("div 20"), plan.take(3000))
  }

  test("q27: KMV sketch aggregates partial+final (sketches shuffle, not rows)") {
    // TypedImperativeAggregate plans as ObjectHashAggregate with a partial
    // stage before the group-key exchange — the shuffle carries one <=k
    // sketch per (partition, flag), never the distinct expansion.
    val plan = planOf(graft.queries.SketchQueries.q27)
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan.take(3000))
  }

  test("q39: posting-list cap uses WindowGroupLimit before collection") {
    val plan = planOf(graft.queries.SketchQueries.q39)
    assert(plan.contains("WindowGroupLimit"), plan.take(3000))
  }

  test("q57: stratified top-k prunes partially before the stratum exchange") {
    val plan = planOf(graft.queries.PipelineQueries.q57)
    // Partial mode: a WindowGroupLimit runs on the map side, so each task
    // forwards <= k rows per stratum and the shuffle is k-per-stratum-sized
    assert("WindowGroupLimit".r.findAllIn(plan).size >= 2, plan.take(3000))
    // only the columns the query needs are read
    assert(!plan.contains("n_chars"), plan.take(3000))
  }

  test("q55: curation pipeline keeps doc bodies out of every exchange") {
    val plan = planOf(graft.queries.PipelineQueries.q55)
    // every Exchange key must be doc_id / the md5 hash / token — the
    // document text itself must never be a shuffle key
    val exchanges = "Exchange hashpartitioning\\(text".r.findAllIn(plan).size
    assert(exchanges == 0, plan.take(3000))
    // per-doc signal aggregation is partial+final hash agg
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(3000))
  }

  test("q24: one label-propagation round is a bounded-exchange, node-id-keyed plan") {
    // q24/q88's cost = rounds × per-round plan; this pins the per-round
    // shape so a refactor of the shared jaccardPairs path can't silently
    // flip it (round-5 follow-up to the r4 1.8× drift observation).
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    import graft.operators.Materialize.MaterializeOps
    val sym = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L))
      .toDF("src", "dst").materialized
    val labels = Seq((1L, 1L), (2L, 2L), (3L, 3L))
      .toDF("node", "lbl").materialized
    val round = graft.queries.DedupQueries.labelPropRound(sym, labels)
    round.collect() // AQE finalizes the executed plan
    val plan = round.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(3000))
    // every exchange keys on an 8-byte node id, never anything wider,
    // and a round never needs more than: 2 (equi-join) + 1 (re-key the
    // neighbor-min agg) + 2 (left join) = 5 exchanges
    val exchanges = "Exchange hashpartitioning\\((src|dst|node)#".r
      .findAllIn(plan).size
    val allExchanges = "Exchange hashpartitioning".r.findAllIn(plan).size
    assert(allExchanges == exchanges, s"non-node-id exchange key:\n${plan.take(3000)}")
    assert(allExchanges <= 5, s"round grew to $allExchanges exchanges:\n${plan.take(3000)}")
  }

  test("q96: benchmark shingle digests join via broadcast, corpus side streams") {
    val plan = planOf(graft.queries.PipelineQueries.q96)
    assert(plan.contains("BroadcastHashJoin"), plan.take(3000))
    // the contamination LEFT join must build on the (tiny) benchmark side
    assert(plan.contains("BuildRight"), plan.take(3000))
  }

  test("q97: tokenization is one projection over the vocab, topped by TakeOrdered") {
    val plan = planOf(graft.queries.TextQueries.q97)
    // the 20-merge replace chain must not introduce per-merge exchanges:
    // after the materialize cut the only plan steps are project + top-k
    assert(plan.contains("TakeOrderedAndProject"), plan.take(3000))
    assert(!plan.contains("Exchange hashpartitioning"), plan.take(3000))
  }

  test("q116/q117: rank and running sum share ONE source-keyed exchange") {
    // the cap and the calibration are each one window pass; a refactor
    // that splits rank and cumsum into differently-ordered windows would
    // double the exchange count
    for (q <- Seq(graft.queries.PipelineQueries.q116,
                  graft.queries.PipelineQueries.q117)) {
      val plan = planOf(q)
      assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
        s"${q.name}: ${plan.take(3000)}")
    }
  }

  test("q119: both dimension joins broadcast; only the aggregate shuffles") {
    val plan = planOf(RelationalQueries.q119)
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 2, plan.take(3000))
    assert(!plan.contains("SortMergeJoin"), plan.take(3000))
  }

  test("q120: vectors never shuffle — exchanges are keyed on (label, dim) sums") {
    val plan = planOf(graft.queries.SimilarityQueries.q120)
    // every hash exchange must be on label/pos keys, none on the embedding
    assert(!plan.contains("Exchange hashpartitioning(embedding"),
      plan.take(3000))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(3000))
  }

  test("suite-wide: no cartesian products; nested-loop joins only where intended") {
    // The 100 TB kill-switch: a CartesianProduct anywhere is a bug, and a
    // BroadcastNestedLoopJoin is legitimate ONLY for (a) one-row scalar
    // cross joins (corpus extents / rate denominators / corpus stats:
    // q46, q64, q67, q69, q72), (b) deliberately-broadcast tiny query
    // sets scored against a streaming big side (q40, q49, and q80 whose
    // per-row filter is two popcounts, not a dot product), and (c) the
    // documented quadratic exact verifier q42 whose scalable twin is q41.
    // Any new query that trips this list must either fix its join or
    // justify itself here. q84's one-row total-weight frame is a scalar
    // cross join (case a); q83's threshold sweep is a 10-row thresholds ×
    // ≤10-row histogram range join — both sides FIXED-size frames at any
    // corpus scale.
    // q45's BNLJ is its broadcast-codebook assignment: the build side is
    // K = ceil(sqrt(n)) rows (~8 MB at a BILLION vectors) scored against
    // the streaming corpus — case (b), with a sublinearly-growing side.
    // q94 inherits q45's assignment BNLJ plus a K×K centroid-pair bound
    // join (both sides √n rows — sublinear); its BIG pair join is the
    // equi-join on the cell-pair key, which this guard still checks.
    val bnljAllowed = Set(
      "q40_cosine_topk", "q42_dedup_embedding", "q45_semantic_dedup",
      "q94_dedup_embedding_ball",
      "q46_tfidf", "q49_pq_adc_topk", "q64_zorder", "q67_mixture_sample",
      "q69_recipe", "q72_bm25", "q75_heavy_hitters", "q80_sign_ann",
      "q83_threshold_sweep", "q84_weighted_sample",
      // q98/q99/q100 final assemblies: ONE-ROW frames (estimates, order
      // statistics, corpus totals) — scalar cross joins, fixed-size at
      // any corpus scale
      "q98_hll_merge", "q99_exact_select", "q100_pmi_collocations",
      // q106/q108: one-row audit totals (join cardinality / χ² N) cross
      // joined back over key-count-sized frames — case (a)
      "q106_skew_audit", "q108_chisq",
      // q118: the seven range boundaries are ONE aggregated row broadcast
      // over the scan — case (a); bucket assignment itself is map-side
      "q118_range_layout",
      // q121: the global max/sum frame is ONE row joined over the ≤64-row
      // bucket table — case (a)
      "q121_length_buckets",
      // q129: the 40% cut step is ONE scalar row broadcast over the
      // layout — case (a)
      "q129_resume_audit",
      // q133: the pair loop runs over source-catalog-sized signature
      // tables (K rows of 64 longs each side) — corpus-independent
      "q133_source_minhash",
      // q136: the exact-ground-truth side of the recall audit is q40's
      // broadcast probe panel (8 rows) scored against the streaming
      // corpus — case (b); the LSH side is a bucket equi-join
      "q136_ann_recall",
      // q139: two ONE-ROW scalar frames (corpus token total, kept-vocab
      // size) cross joined over vocab-sized / source-sized tables —
      // case (a); the corpus-sized paths are wordcount aggregates and a
      // broadcast anti-join on the kept set
      "q139_vocab_coverage",
      // q149: the totals frame and the ≤1-row waterfill bracket are
      // scalar cross/left joins over the source-catalog-sized frame —
      // case (a); the corpus-sized path is one map-side aggregate
      "q149_epoch_waterfill",
      // q152: the eval/benchmark panel (vec_id < 64) broadcasts against
      // the streaming train side with the cosine threshold fused into
      // the join condition — case (b); the only exchange downstream is
      // the train-keyed window over the rare flagged pairs
      "q152_semantic_decontam",
      // q158: the corpus token total is a ONE-ROW scalar frame cross
      // joined onto the ≤|thresholds|-row sweep — case (a); the
      // corpus-sized path is the q156 suffix-array machinery
      "q158_excision_sweep",
      // q162: both retrieval stages are q40's broadcast probe panel
      // (8 rows) scored against the streaming candidates — case (b);
      // the audit's ground truth REQUIRES the exact brute pass
      "q162_prefix_rerank",
      // q163: the corpus token total is a ONE-ROW scalar frame cross
      // joined onto the 3-row split datasheet — case (a)
      "q163_cluster_split",
      // q166: the per-geometry count assembly cross joins ONE-ROW count
      // frames (n_cand, tp, n_truth) — case (a); every corpus-sized path
      // is a capped-bucket or posting-list equi-join
      "q166_lsh_tuning",
      // q167: the 31-row length literal range joins the LCP histogram
      // (≤cap rows) and the doc-length histogram (≤max-doc-length rows)
      // — both sides FIXED-size at any corpus scale, q83's shape
      "q167_phrase_spectrum",
      // q180: the bigram-type total N1+(··) is a ONE-ROW scalar frame
      // cross joined over the scoring join — case (a); the three count
      // models are vocabulary-sized equi-joins
      "q180_kneser_ney",
      // q181: two ONE-ROW scalar frames (train vocab size V, train doc
      // total N + class count K) cross joined onto the K-row class
      // panel — case (a) — and the panel itself (K = |langs| rows, fixed
      // at any corpus scale) broadcast over the streaming test tokens —
      // case (b); the model lookup is a (cls, token) equi-join
      "q181_nb_langid")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian product")
      if (!bnljAllowed.contains(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name has an unexpected nested-loop join")
    }
  }
}
