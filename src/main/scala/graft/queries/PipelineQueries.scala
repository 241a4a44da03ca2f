package graft.queries

import graft.operators.Materialize.MaterializeOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Additional training-data-pipeline operators over `documents`, beyond the
  * round-1 dedup/similarity/text suites: corpus vocabulary statistics,
  * deterministic content-hash sampling, and exact distribution quantiles.
  * All three are fully hash-checked against DuckDB.
  */
object PipelineQueries {

  /** Corpus vocabulary: top-50 tokens by total frequency, with document
    * frequency. The shuffle carries (token, count) pairs after map-side
    * partial aggregation — at 100 TB this is the standard wordcount shape
    * (vocab-sized, not corpus-sized, after combine); the top-k is a
    * TakeOrdered over the vocab. Ties broken by token for determinism. */
  val q33 = Q(
    "q33_vocab",
    (s, dir) => {
      val tokens = documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      tokens
        .groupBy("token")
        .agg(count(lit(1)).as("tf"),
          countDistinct(col("doc_id")).as("df"))
        .orderBy(col("tf").desc, col("token"))
        .limit(50)
    },
    Some("""
      WITH tokens AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        FROM documents),
      vocab AS (
        SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
        FROM tokens WHERE length(token) > 0
        GROUP BY token)
      SELECT token, tf, df FROM vocab
      ORDER BY tf DESC, token LIMIT 50""")
  )

  /** Deterministic stratified sampling by content hash: keep a document iff
    * the first 8 md5 hex chars, as an integer, fall under the stratum's
    * threshold (en 10%, others 30% — downsample the dominant language).
    * Unlike `df.sample()`, the decision is a pure function of content, so
    * the same doc samples identically on any cluster size, partitioning, or
    * re-run, and survivors are re-derivable — the property a training
    * pipeline needs for reproducibility. Map-side filter, no shuffle
    * (beyond the verification ORDER BY). */
  val q34 = Q(
    "q34_hash_sample",
    (s, dir) => {
      val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
      val threshold = when(col("lang") === "en", lit((0.10 * (1L << 32)).toLong))
        .otherwise(lit((0.30 * (1L << 32)).toLong))
      documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"), bucket.as("bucket"))
        .filter(col("bucket") < threshold)
        .orderBy("doc_id")
    },
    Some(s"""
      SELECT doc_id, lang, n_chars,
             ('0x' || substr(md5(text), 1, 8))::BIGINT AS bucket
      FROM documents
      WHERE ('0x' || substr(md5(text), 1, 8))::BIGINT <
            CASE WHEN lang = 'en' THEN ${(0.10 * (1L << 32)).toLong}
                 ELSE ${(0.30 * (1L << 32)).toLong} END
      ORDER BY doc_id""")
  )

  /** Exact per-language quantiles of document length: p25/p50/p75 via the
    * exact `percentile` aggregate. Cross-engine exactness: the percentile
    * positions are dyadic (0.25/0.5/0.75), inputs are integers, and both
    * engines use the standard `h = 1 + (n-1)p` linear interpolation — every
    * intermediate is an exact double, so the results are bit-identical.
    * (The approximate scale path is q18's sketch pattern; this is the exact
    * twin, correct at any size but requiring a per-group sort.) */
  val q35 = Q(
    "q35_quantiles",
    (s, dir) =>
      documents(s, dir)
        .groupBy("lang")
        .agg(
          count(lit(1)).as("n_docs"),
          percentile(col("n_chars"), lit(0.25)).as("p25"),
          percentile(col("n_chars"), lit(0.5)).as("p50"),
          percentile(col("n_chars"), lit(0.75)).as("p75"))
        .orderBy("lang"),
    Some("""
      SELECT lang, COUNT(*) AS n_docs,
             quantile_cont(n_chars, 0.25) AS p25,
             quantile_cont(n_chars, 0.5) AS p50,
             quantile_cont(n_chars, 0.75) AS p75
      FROM documents GROUP BY lang ORDER BY lang""")
  )

  /** Skew-mitigated aggregation — the salting pattern from the 100 TB
    * design checklist, as a tested exemplar: a heavily skewed group key
    * (`lang` has a handful of values, so a plain groupBy sends each
    * language's entire corpus through ONE reducer) is salted into
    * `lang × 16` sub-keys for the first, corpus-sized shuffle, then the 16
    * partials per language are combined in a second, vocabulary-sized
    * shuffle. The salt is deterministic (`crc32(doc_id) % 16`) and the
    * result is salt-invariant, which is exactly what the oracle checks:
    * DuckDB computes the UNSALTED aggregate and the hashes must match.
    * (AQE's skew handling covers joins; skewed aggregation is still the
    * caller's job, and this is the shape.) Sums stay on integers so
    * regrouping cannot change the value. */
  val q37 = Q(
    "q37_salted_agg",
    (s, dir) => {
      val salted = documents(s, dir)
        .withColumn("salt",
          pmod(crc32(col("doc_id").cast("string")), lit(16)))
      salted
        .groupBy("lang", "salt")
        .agg(count(lit(1)).as("pn"), sum(col("n_chars")).as("pc"))
        .groupBy("lang")
        .agg(sum(col("pn")).cast("long").as("n_docs"),
          sum(col("pc")).cast("long").as("total_chars"))
        .withColumn("avg_chars",
          col("total_chars").cast("double") / col("n_docs"))
        .orderBy("lang")
    },
    Some("""
      SELECT lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars,
             CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE) / COUNT(*) AS avg_chars
      FROM documents GROUP BY lang ORDER BY lang""")
  )

  /** Per-document top-3 TF-IDF terms. The idf factor is integer-scaled
    * (`(1e9 * n_docs) div df` — floor division in both engines) instead of
    * the float `log(N/df)`: both are strictly decreasing in df, so the
    * RANKING is the classic tf-idf ranking, while every score stays an
    * exact BIGINT that cannot drift cross-engine (a libm `ln` is not
    * guaranteed bit-identical between engines; see the fixed-point dot
    * rationale in SimilarityQueries).
    *
    * Scale shape: tf is a (doc, token)-keyed count with map-side combine;
    * df aggregates tf (vocabulary-sized); the corpus count is one scalar
    * cross join. The tf→df join is keyed on token — vocabulary-sized build
    * side, AQE picks broadcast vs shuffle. Final per-doc ranking is q07's
    * window-top-k shape: one hash exchange on doc_id with partial
    * WindowGroupLimit keeping ≤4 rows per doc per partition. */
  val q46 = Q(
    "q46_tfidf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val tokens = documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val tf = tokens.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("token"))
      tf.join(df, "token")
        .crossJoin(n)
        .select(col("doc_id"), col("token"), col("tf"), col("df"),
          expr("tf * ((1000000000 * n_docs) div df)").as("score"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select("doc_id", "rank", "token", "tf", "df", "score")
        .orderBy("doc_id", "rank")
    },
    Some("""
      WITH tokens AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        FROM documents),
      tf AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM tokens
        WHERE length(token) > 0 GROUP BY doc_id, token),
      df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      n AS (SELECT COUNT(*) AS n_docs FROM documents),
      scored AS (
        SELECT doc_id, token, tf, df,
               tf * ((1000000000 * n_docs) // df) AS score
        FROM tf JOIN df USING (token) CROSS JOIN n),
      ranked AS (
        SELECT doc_id, token, tf, df, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score DESC, token) AS rank
        FROM scored)
      SELECT doc_id, rank, token, tf, df, score
      FROM ranked WHERE rank <= 3
      ORDER BY doc_id, rank""")
  )

  /** Bigram language-model scoring — the "LM-based quality filter" of a
    * training pipeline (KenLM-perplexity shape), integerized for oracle
    * parity: the corpus trains bigram counts C(w1,w2) and continuation
    * counts C(w1,·), each document scores the mean of
    * `(1e6 * C(w1,w2)) div C(w1,·)` over its bigrams (a scaled conditional
    * probability; monotone in the real LM score, every intermediate an
    * exact BIGINT — a libm `log` would not be bit-stable cross-engine).
    *
    * Scale shape: bigrams explode once (corpus-sized, map-side); the two
    * count models are wordcount-shaped aggregates (vocabulary²- and
    * vocabulary-sized after combine); scoring re-joins on the bigram key —
    * model tables are vocabulary-sized, so AQE broadcasts them while they
    * fit and shuffles when they don't; the final per-doc mean is one
    * doc-keyed aggregate with map-side combine. */
  val q53 = Q(
    "q53_bigram_lm",
    (s, dir) => {
      val toks = documents(s, dir)
        .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      val bigrams = toks
        .select(col("doc_id"),
          explode(sequence(lit(1), greatest(size(col("w")) - 1, lit(1))))
            .as("i"),
          col("w"))
        .select(col("doc_id"),
          try_element_at(col("w"), col("i")).as("w1"),
          try_element_at(col("w"), col("i") + 1).as("w2"))
        .filter(col("w2").isNotNull)
      val cbg = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c_bg"))
      val cw = bigrams.groupBy("w1").agg(count(lit(1)).as("c_w1"))
      bigrams
        .join(cbg, Seq("w1", "w2"))
        .join(cw, Seq("w1"))
        .select(col("doc_id"), expr("(1000000 * c_bg) div c_w1").as("p"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("p")).cast("long").as("lm_sum"))
        .withColumn("avg_p",
          col("lm_sum").cast("double") / col("n_bigrams"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      bg AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM (SELECT doc_id, w,
                     unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS i
              FROM w)
        WHERE w[i + 1] IS NOT NULL),
      cbg AS (SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY w1, w2),
      cw AS (SELECT w1, COUNT(*) AS c_w1 FROM bg GROUP BY w1),
      scored AS (
        SELECT doc_id, (1000000 * c_bg) // c_w1 AS p
        FROM bg JOIN cbg USING (w1, w2) JOIN cw USING (w1))
      SELECT doc_id, COUNT(*) AS n_bigrams,
             CAST(SUM(p) AS BIGINT) AS lm_sum,
             CAST(SUM(p) AS DOUBLE) / COUNT(*) AS avg_p
      FROM scored GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Hashed-feature linear classifier — the fastText-style quality-filter
    * shape: token → hash bucket (feature hashing, Weinberger et al. 2009)
    * → weight lookup → per-document sum → threshold label. In production
    * the 16k-bucket weight vector is a broadcast array from a trained
    * model; here the weight is DERIVED from the bucket index by a
    * deterministic integer mixer (`(j * 2654435761) % 1021 - 510`,
    * Knuth's multiplicative constant) so the oracle recomputes the whole
    * pipeline — the plumbing (hash, bucket, lookup, sum, threshold) is
    * identical either way. Pure map-side projection + one doc-keyed
    * aggregate with map-side combine; runs at scan speed at any corpus
    * size. */
  val q54 = Q(
    "q54_hash_classifier",
    (s, dir) => {
      val bucket = conv(substring(md5(col("t")), 1, 8), 16, 10)
        .cast("long") % 16384
      val wgt = (bucket * lit(2654435761L)) % 1021 - 510
      documents(s, dir)
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("t"))
        .filter(length(col("t")) > 0)
        .select(col("doc_id"), wgt.as("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(col("w")).cast("long").as("score"))
        .withColumn("label",
          when(col("score") > 0, "keep").otherwise("drop"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS t
        FROM documents),
      f AS (
        SELECT doc_id,
               ((CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16384)
                * 2654435761) % 1021 - 510 AS w
        FROM toks WHERE length(t) > 0)
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(w) AS BIGINT) AS score,
             CASE WHEN SUM(w) > 0 THEN 'keep' ELSE 'drop' END AS label
      FROM f GROUP BY doc_id ORDER BY doc_id""")
  )

  /** End-to-end curation: the full training-data filter chain as ONE
    * Catalyst plan — what a 100 TB corpus job actually runs, rather than
    * operator-at-a-time materialization:
    *
    *   1. exact dedup — min-doc_id survivor per `md5(text)` (q20's shape;
    *      the shuffle carries 32-byte hashes, never documents);
    *   2. one-pass per-document signals — token count, distinct-token
    *      count (type-token ratio) and the q54 hashed-classifier score all
    *      come out of a SINGLE groupBy(doc_id) over the exploded tokens:
    *      one corpus-sized shuffle with map-side combine instead of three;
    *   3. quality gate — length / TTR / classifier thresholds, all integer
    *      arithmetic (`ttr_pct = (100 * n_types) div n_tokens`);
    *   4. deterministic stratified sample — q34's content-hash rule
    *      (en 50 %, others 80 %), a map-side filter.
    *
    * The survivor and signal joins are doc_id-keyed with narrow build
    * sides; AQE broadcasts them at small SF and shuffles when they do not
    * fit. Because every stage is a pure function of content, the curated
    * set is reproducible on any cluster size — and the DuckDB oracle
    * re-runs the ENTIRE chain, so the hash check covers the composition,
    * not just the pieces. */
  /** The curation chain as a reusable DataFrame→DataFrame operator, run
    * by q55. Input schema: (doc_id, text, lang, source, ...). */
  def curate(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val keep = docs
      .groupBy(md5(col("text")).as("h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val bucket = conv(substring(md5(col("t")), 1, 8), 16, 10)
      .cast("long") % 16384
    val wgt = (bucket * lit(2654435761L)) % 1021 - 510
    val sig = docs.join(keep, "doc_id")
      .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("t"))
      .filter(length(col("t")) > 0)
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        countDistinct(col("t")).as("n_types"),
        sum(wgt).cast("long").as("score"))
      .withColumn("ttr_pct", expr("(100 * n_types) div n_tokens"))
    val sample = conv(substring(md5(col("text")), 1, 8), 16, 10).cast("long")
    val threshold = when(col("lang") === "en", lit((0.50 * (1L << 32)).toLong))
      .otherwise(lit((0.80 * (1L << 32)).toLong))
    docs
      .join(sig, "doc_id")
      .filter(col("n_tokens") >= 20 && col("ttr_pct") >= 35 &&
        col("score") > 0 && sample < threshold)
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("ttr_pct"), col("score"))
  }

  val q55 = Q(
    "q55_curation",
    (s, dir) => curate(documents(s, dir)).orderBy("doc_id"),
    Some(s"""
      WITH keep AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      toks AS (
        SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS t
        FROM documents JOIN keep USING (doc_id)),
      f AS (
        SELECT doc_id, t,
               ((CAST('0x' || substr(md5(t), 1, 8) AS BIGINT) % 16384)
                * 2654435761) % 1021 - 510 AS w
        FROM toks WHERE length(t) > 0),
      sig AS (
        SELECT doc_id, COUNT(*) AS n_tokens, COUNT(DISTINCT t) AS n_types,
               CAST(SUM(w) AS BIGINT) AS score
        FROM f GROUP BY doc_id)
      SELECT doc_id, lang, source, n_tokens,
             (100 * n_types) // n_tokens AS ttr_pct, score
      FROM documents JOIN sig USING (doc_id)
      WHERE n_tokens >= 20 AND (100 * n_types) // n_tokens >= 35
        AND score > 0
        AND ('0x' || substr(md5(text), 1, 8))::BIGINT <
            CASE WHEN lang = 'en' THEN ${(0.50 * (1L << 32)).toLong}
                 ELSE ${(0.80 * (1L << 32)).toLong} END
      ORDER BY doc_id""")
  )

  /** Regex scrub/redaction — the PII-removal shape of a training pipeline
    * (emails/phones/IDs → placeholder tokens), demonstrated on the digit
    * runs in `events.props`: count the sensitive spans, redact them, and
    * report the redacted payload. Pure map-side projection (regex applied
    * once per kind, shared subexpression), runs at scan speed at any size.
    *
    * Regex dialect: pattern restricted to syntax Java regex and RE2
    * (DuckDB) interpret identically — no lookarounds (RE2 has none), no
    * backreferences, explicit character classes (Java `\\s` and RE2 `\\s`
    * differ on \\x0B, so neither is used here). */
  val q56 = Q(
    "q56_regex_scrub",
    (s, dir) => {
      events(s, dir)
        .select(
          col("event_id"),
          col("event_type"),
          size(regexp_extract_all(col("props"), lit("[0-9]+"), lit(0)))
            .cast("long").as("n_spans"),
          regexp_replace(col("props"), "[0-9]+", "<NUM>").as("redacted"))
        .filter(col("n_spans") > 0)
        .orderBy("event_id")
    },
    Some("""
      SELECT event_id, event_type,
             CAST(len(regexp_extract_all(props, '[0-9]+', 0)) AS BIGINT) AS n_spans,
             regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted
      FROM events
      WHERE len(regexp_extract_all(props, '[0-9]+', 0)) > 0
      ORDER BY event_id""")
  )

  /** Deterministic fixed-size per-stratum sample: the k smallest content
    * hashes per (lang, source) stratum — the "exactly k docs per cell"
    * complement to q34's rate-based sampling, same reproducibility property
    * (a pure function of content, independent of partitioning and cluster
    * size).
    *
    * Scale shape: this is the window-top-k pattern — Spark plans a partial
    * `WindowGroupLimit` BEFORE the stratum exchange, so every map task
    * forwards at most k rows per stratum and the shuffle is k·strata-sized,
    * not corpus-sized (asserted for the same shape in PlanRegressionSpec's
    * q07 check). Rank by (hash, doc_id) so ties cannot make the sample
    * ambiguous. */
  val q57 = Q(
    "q57_stratified_topk",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // 12 hex chars = 48 bits: fits signed BIGINT in both engines (16
      // would overflow DuckDB's BIGINT on the '0x' cast path)
      val h = conv(substring(md5(col("text")), 1, 12), 16, 10).cast("long")
      val w = Window.partitionBy(col("lang"), col("source"))
        .orderBy(col("h"), col("doc_id"))
      documents(s, dir)
        .select(col("doc_id"), col("lang"), col("source"), h.as("h"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select("doc_id", "lang", "source", "rk")
        .orderBy("doc_id")
    },
    Some("""
      WITH ranked AS (
        SELECT doc_id, lang, source,
               ROW_NUMBER() OVER (
                 PARTITION BY lang, source
                 ORDER BY ('0x' || substr(md5(text), 1, 12))::BIGINT,
                          doc_id) AS rk
        FROM documents)
      SELECT doc_id, lang, source, rk
      FROM ranked WHERE rk <= 5
      ORDER BY doc_id""")
  )

  /** GPT-style sequence packing: concatenate documents and cut every
    * `PackCap` tokens — each doc is assigned the training-sequence bin its
    * FIRST token lands in, plus a flag for straddling a cut boundary (the
    * fraction of docs split across sequences is the packing-quality metric
    * pretraining cares about).
    *
    * Packing is inherently sequential (each offset depends on every prior
    * doc), so the distributed shape bounds the sequential unit: docs hash
    * deterministically onto 8 independent packer streams (md5-derived —
    * NOT lang/source, so one giant stratum can't serialize), and
    * the running offset is a window cumsum per (worker) ordered by doc_id.
    * ONE exchange keyed by worker; each stream is 1/W of the corpus, and W
    * scales with the cluster. The oracle replays the identical window. */
  /** Deterministic packer core shared by q65 and q69: route each row to
    * one of `streams` independent packer streams via an md5 half of
    * doc_id (`hexStart` 1 = lo half, 9 = hi half), then compute the
    * running token offset within the stream (doc_id order). Input needs
    * (doc_id, n_tokens); adds worker/end_off/start_off. */
  private def packOffsets(df: DataFrame, streams: Int, hexStart: Int): DataFrame = {
    val w = Window.partitionBy("worker").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("worker",
        (conv(substring(md5(col("doc_id").cast("string")), hexStart, 8), 16, 10)
          .cast("long") % streams).cast("int"))
      .withColumn("end_off", sum(col("n_tokens")).over(w))
      .withColumn("start_off", col("end_off") - col("n_tokens"))
  }

  val q65 = Q(
    "q65_pack_sequences",
    (s, dir) => {
      val cap = 2048L
      packOffsets(
        documents(s, dir).select(col("doc_id"), col("lang"),
          size(split(col("text"), "\\s+")).cast("long").as("n_tokens")),
        streams = 8, hexStart = 1)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("worker"),
          col("start_off"),
          expr(s"start_off div $cap").as("bin"),
          (expr(s"(end_off - 1) div $cap") > expr(s"start_off div $cap"))
            .as("straddles"))
        .orderBy("doc_id")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id, lang,
               CAST(len(string_split_regex(text, '\s+')) AS BIGINT) AS n_tokens,
               CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 8 AS INT) AS worker
        FROM documents),
      offs AS (
        SELECT *, CAST(SUM(n_tokens) OVER (
                 PARTITION BY worker ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS end_off
        FROM toks)
      SELECT doc_id, lang, n_tokens, worker,
             end_off - n_tokens AS start_off,
             (end_off - n_tokens) // 2048 AS bin,
             ((end_off - 1) // 2048) > ((end_off - n_tokens) // 2048) AS straddles
      FROM offs ORDER BY doc_id""")
  )

  /** Overlapping chunking (RAG / long-context prep): every document is cut
    * into windows of 512 tokens advancing by 448 (64-token overlap). Chunk
    * starts are generated per doc (`sequence` + explode — never shuffled),
    * the chunk itself is a slice of the token array, and the output carries
    * `md5(chunk)` instead of the chunk text, so downstream exact-dedup of
    * chunks (q20 shape) gets its 32-byte key for free and the shuffle never
    * carries chunk bodies. Pure map-side generate→project: scan speed. */
  val q66 = Q(
    "q66_chunk_overlap",
    (s, dir) => {
      val win = 512
      val stride = 448
      documents(s, dir)
        .select(col("doc_id"), split(col("text"), "\\s+").as("words"))
        .select(col("doc_id"), col("words"),
          explode(expr(s"sequence(0, size(words) - 1, $stride)")).as("start"))
        .select(col("doc_id"),
          expr(s"CAST(start div $stride AS BIGINT)").as("chunk_id"),
          expr(s"CAST(size(slice(words, start + 1, $win)) AS BIGINT)").as("chunk_tokens"),
          expr(s"md5(array_join(slice(words, start + 1, $win), ' '))").as("chunk_hash"))
        .orderBy("doc_id", "chunk_id")
    },
    Some("""
      WITH words AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      starts AS (
        SELECT doc_id, w, unnest(range(0, greatest(len(w), 1), 448)) AS start
        FROM words)
      SELECT doc_id, start // 448 AS chunk_id,
             len(w[start + 1 : start + 512]) AS chunk_tokens,
             md5(array_to_string(w[start + 1 : start + 512], ' ')) AS chunk_hash
      FROM starts ORDER BY doc_id, chunk_id""")
  )

  /** Temperature-based mixture sampling — the source-reweighting step of
    * every pretraining data recipe (Pile-style mixing, DoReMi's baseline):
    * draw a corpus of ~T docs where group g's share is proportional to
    * n_g^alpha with alpha = 0.5, so rare languages are up-weighted
    * relative to their raw share (rate ∝ 1/√n_g) without ever exceeding
    * availability (rate caps at 1).
    *
    * Everything is deterministic integer arithmetic so the oracle matches
    * bit-for-bit: weights are floor(√n) (IEEE sqrt is correctly rounded —
    * identical in both engines — and floor kills any boundary doubt), the
    * per-group keep-threshold is one integer division, and selection is
    * `md5-half(doc_id) < thresh` — the same deterministic-hash-gate
    * technique as q34, which also makes the sample REPRODUCIBLE and stable
    * under corpus growth (a doc's fate depends only on its id and its
    * group's stats, not on partitioning or row order).
    *
    * Scale shape: group stats are a 5-row aggregate; the rate table
    * broadcast-joins onto the corpus scan and the gate filters map-side —
    * the corpus itself never shuffles. */
  /** (lang, n, thresh) keep-rate table for alpha=0.5 temperature sampling
    * toward ~targetDocs — shared by q67 and q69 so the capstone recipe
    * provably applies the same sampler. thresh/2^32 = T·⌊√n⌋/(Σ⌊√n⌋·n),
    * capped at 1; all integer arithmetic (the oracles mirror it). */
  private def mixtureRates(grouped: DataFrame, targetDocs: Long): DataFrame = {
    val Scale = 1L << 32
    val stats = grouped.groupBy("lang").agg(count(lit(1)).as("n"))
      .withColumn("w", expr("CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT)"))
    val denom = stats.agg(sum(col("w")).as("denom"))
    stats.crossJoin(denom)
      .withColumn("thresh",
        least(lit(Scale), expr(s"($Scale * $targetDocs * w) div (denom * n)")))
      .select("lang", "n", "thresh")
  }

  val q67 = Q(
    "q67_mixture_sample",
    (s, dir) => {
      val docs = documents(s, dir)
      val rates = mixtureRates(docs, targetDocs = 200L)
      docs
        .select(col("doc_id"), col("lang"),
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long").as("hsh"))
        // rate table is ≤ #languages rows at ANY scale — a legitimate
        // explicit broadcast (same class as nation/region); without the
        // hint AQE happily broadcasts the CORPUS side at toy SFs
        .join(broadcast(rates), "lang")
        .filter(col("hsh") < col("thresh"))
        .select(col("doc_id"), col("lang"), col("n").as("lang_docs"),
          col("thresh"))
        .orderBy("doc_id")
    },
    Some("""
      WITH stats AS (
        SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang),
      w AS (
        SELECT lang, n, CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS w
        FROM stats),
      d AS (SELECT CAST(SUM(w) AS BIGINT) AS denom FROM w),
      rates AS (
        SELECT lang, n,
               CAST(LEAST(4294967296, (4294967296 * 200 * w) // (denom * n))
                    AS BIGINT) AS thresh
        FROM w, d)
      SELECT doc_id, lang, n AS lang_docs, thresh
      FROM documents JOIN rates USING (lang)
      WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
            < thresh
      ORDER BY doc_id""")
  )

  /** Capstone recipe — exact dedup → quality gate → temperature mixture
    * sample → sequence packing, as one declarative chain (the full
    * "raw corpus in, training sequences out" pipeline; q55 is the sibling
    * recipe ending in a stratified sample instead). Each stage is the
    * already-verified operator: q20's md5-groupBy dedup, a token-count
    * gate, q67's integer-threshold mixture sampler (T=150 here, computed
    * on the GATED survivor stats), q65's packer (4 streams, 1024-token
    * bins, worker from the hi md5 half so it is independent of the
    * sampling gate's lo half).
    *
    * The point of composing declaratively: Catalyst pipelines the gate
    * into the dedup join's scan, the sampler's rate table builds from the
    * checkpointed gated survivors (one narrow (doc_id, lang, n_tokens)
    * table serving both the stats and the gate — no second pass over the
    * corpus), and the whole recipe shuffles document text exactly once
    * (the dedup groupBy on md5), which is the minimum any content-dedup
    * recipe can do. */
  val q69 = Q(
    "q69_recipe",
    (s, dir) => {
      val docs = documents(s, dir)
      val keep = docs.groupBy(md5(col("text")).as("hh"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val gated = docs.join(keep, "doc_id")
        .select(col("doc_id"), col("lang"),
          size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
        .filter(col("n_tokens") >= 20)
        .materialized // two consumers: rate stats + sampling gate
      val rates = mixtureRates(gated, targetDocs = 150L).select("lang", "thresh")
      val sampled = gated
        .withColumn("hsh",
          conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
            .cast("long"))
        .join(broadcast(rates), "lang")
        .filter(col("hsh") < col("thresh"))
      packOffsets(sampled, streams = 4, hexStart = 9)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("worker"),
          col("start_off"),
          expr("start_off div 1024").as("bin"))
        .orderBy("doc_id")
    },
    Some("""
      WITH keep AS (
        SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
      gated AS (
        SELECT d.doc_id, d.lang,
               CAST(len(string_split_regex(d.text, '\s+')) AS BIGINT) AS n_tokens
        FROM documents d JOIN keep USING (doc_id)
        WHERE len(string_split_regex(d.text, '\s+')) >= 20),
      stats AS (SELECT lang, COUNT(*) AS n FROM gated GROUP BY lang),
      w AS (
        SELECT lang, n, CAST(FLOOR(SQRT(CAST(n AS DOUBLE))) AS BIGINT) AS w
        FROM stats),
      d AS (SELECT CAST(SUM(w) AS BIGINT) AS denom FROM w),
      rates AS (
        SELECT lang,
               CAST(LEAST(4294967296, (4294967296 * 150 * w) // (denom * n))
                    AS BIGINT) AS thresh
        FROM w, d),
      sampled AS (
        SELECT g.*,
               CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 9, 8))
                    AS BIGINT) % 4 AS INT) AS worker
        FROM gated g JOIN rates USING (lang)
        WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT)
              < thresh),
      offs AS (
        SELECT *, CAST(SUM(n_tokens) OVER (
                 PARTITION BY worker ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS end_off
        FROM sampled)
      SELECT doc_id, lang, n_tokens, worker,
             end_off - n_tokens AS start_off,
             (end_off - n_tokens) // 1024 AS bin
      FROM offs ORDER BY doc_id""")
  )

  /** BM25 document ranking — the retrieval scorer that pairs with q39's
    * inverted index (dense-side retrieval is q40/q43): Okapi BM25 with
    * k1 = 1.2, b = 0.75, in fully integer arithmetic. As in q46, the idf
    * factor is the integer surrogate `10^6·N div df` (strictly decreasing
    * in df) instead of a float log, and the length normalization
    * `(1-b) + b·dl/avgdl` is carried at scale 1000 with `dl/avgdl`
    * computed as `dl·N div total_tokens` — every division is integer
    * floor division, so DuckDB reproduces each score bit-for-bit (this
    * declares an integer BM25 VARIANT; a float-log BM25 could not be
    * hash-checked across engines and would drift across libm versions).
    *
    * The query = the 5 highest-df tokens of length ≥ 4 (data-derived, so
    * no magic literals). Scale shape: tf/df/dl are the q46 wordcount
    * aggregates; the 5-term query table broadcast-joins onto the posting
    * stream; the final top-20 is q09's TakeOrderedAndProject. */
  val q72 = Q(
    "q72_bm25",
    (s, dir) => {
      val docs = documents(s, dir)
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
        .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        .materialized // three consumers: df→query, dl, scoring join
      val dl = tf.groupBy("doc_id").agg(sum(col("tf")).cast("long").as("dl"))
      val corpus = dl.agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).cast("long").as("total_tokens"))
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val query = df.filter(length(col("token")) >= 4)
        .orderBy(col("df").desc, col("token")).limit(5)
      tf.join(broadcast(query), "token")
        .join(dl, "doc_id")
        .crossJoin(corpus)
        .withColumn("idf_int", expr("(1000000 * n_docs) div df"))
        .withColumn("norm1000",
          expr("250 + (750 * dl * n_docs) div total_tokens"))
        .withColumn("term_score",
          expr("idf_int * tf * 2200 div (tf * 1000 + 1200 * norm1000 div 1000)"))
        .groupBy("doc_id")
        .agg(sum(col("term_score")).cast("long").as("bm25_int"),
          count(lit(1)).as("n_query_terms"))
        .orderBy(col("bm25_int").desc, col("doc_id"))
        .limit(20)
    },
    Some("""
      WITH tokens AS (
        SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS token
        FROM documents),
      tok AS (SELECT doc_id, token FROM tokens WHERE len(token) > 0),
      tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY doc_id, token),
      dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id),
      corpus AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(dl) AS BIGINT) AS total_tokens
        FROM dl),
      df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
      query AS (
        SELECT token, df FROM df WHERE len(token) >= 4
        ORDER BY df DESC, token LIMIT 5),
      scored AS (
        SELECT tf.doc_id,
               ((1000000 * n_docs) // q.df) * tf.tf * 2200 //
                 (tf.tf * 1000 +
                  1200 * (250 + (750 * dl.dl * n_docs) // total_tokens) // 1000)
                 AS term_score
        FROM tf
        JOIN query q USING (token)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN corpus)
      SELECT doc_id, CAST(SUM(term_score) AS BIGINT) AS bm25_int,
             COUNT(*) AS n_query_terms
      FROM scored GROUP BY doc_id
      ORDER BY bm25_int DESC, doc_id LIMIT 20""")
  )

  /** Quality-threshold sweep (classifier calibration): for every candidate
    * cutoff t ∈ [0,10), how many documents and tokens survive `score ≥ t`,
    * and what corpus fraction that is. This is the operational companion to
    * any quality gate (q53/q54/q55): pick the threshold from the yield
    * curve instead of guessing. The score here is a deterministic integer
    * proxy (word-count bucket, capped at 9) so the oracle is
    * engine-exact — a model-based score plugs into the same sweep.
    *
    * Scale shape: one map-side score projection → a ≤10-row histogram
    * (partial+final agg) → the sweep is a 10×10-row range join on the
    * driver-side-sized frame. Nothing corpus-sized ever shuffles twice. */
  val q83 = Q(
    "q83_threshold_sweep",
    (s, dir) => {
      val docs = documents(s, dir)
      val scored = docs.select(
        least(lit(9), floor(size(split(col("text"), "\\s+")) / 12)).cast("long").as("score"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tokens"))
      val hist = scored.groupBy("score")
        .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      val totals = scored.agg(
        count(lit(1)).as("total_docs"), sum("n_tokens").as("total_tokens"))
      val thresholds = s.range(0, 10).select(col("id").as("threshold"))
      thresholds.join(hist, col("score") >= col("threshold"), "left")
        .groupBy("threshold")
        .agg(coalesce(sum("n_docs"), lit(0L)).as("docs_retained"),
          coalesce(sum("n_tokens"), lit(0L)).as("tokens_retained"))
        .crossJoin(totals)
        .select(col("threshold"), col("docs_retained"), col("tokens_retained"),
          (col("docs_retained").cast("double") / col("total_docs"))
            .as("doc_frac"),
          (col("tokens_retained").cast("double") / col("total_tokens"))
            .as("token_frac"))
        .orderBy("threshold")
    },
    Some("""
      WITH scored AS (
        SELECT LEAST(9, len(string_split_regex(text, '\s+')) // 12) AS score,
               len(string_split_regex(text, '\s+'))::BIGINT AS n_tokens
        FROM documents),
      hist AS (
        SELECT score, COUNT(*) AS n_docs, SUM(n_tokens)::BIGINT AS n_tokens
        FROM scored GROUP BY score),
      totals AS (
        SELECT COUNT(*) AS total_docs, SUM(n_tokens)::BIGINT AS total_tokens
        FROM scored),
      sweep AS (
        SELECT t.threshold,
               COALESCE(SUM(h.n_docs), 0)::BIGINT AS docs_retained,
               COALESCE(SUM(h.n_tokens), 0)::BIGINT AS tokens_retained
        FROM (SELECT unnest(range(0, 10)) AS threshold) t
        LEFT JOIN hist h ON h.score >= t.threshold
        GROUP BY t.threshold)
      SELECT threshold, docs_retained, tokens_retained,
             CAST(docs_retained AS DOUBLE) / total_docs AS doc_frac,
             CAST(tokens_retained AS DOUBLE) / total_tokens AS token_frac
      FROM sweep CROSS JOIN totals
      ORDER BY threshold""")
  )

  /** DSIR-style importance weighting (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS'23 shape): score
    * every document by how much its hashed n-gram feature distribution
    * looks like a TARGET domain relative to the raw corpus, then keep the
    * top-scoring docs. Features are hashed BIGRAMS (md5 → one of 64
    * buckets); the target proxy is the `lang = 'en'` slice; each feature's
    * weight is the Laplace-smoothed target/source frequency ratio as a
    * SCALED INTEGER — `((tgt+1)·10⁶) div (src+1)` — instead of the paper's
    * log-ratio, so scores are engine-exact integers (a float log diverges
    * cross-engine in the last bit; an integer ratio cannot). A doc's score
    * sums its occurrence-weighted feature ratios; ties rank by doc_id.
    *
    * Scale shape: the feature-ratio table is B = 64 rows REGARDLESS of
    * corpus size — Spark broadcasts it to the per-(doc, feature) counts
    * (map-side-combined wordcount shuffle, keys are (int, int)); the
    * final top-100 is a TakeOrdered, not a global sort. Nothing driver-
    * side, nothing corpus-sized crosses the network twice. */
  val q86 = Q(
    "q86_dsir_weighting",
    (s, dir) => {
      val docs = documents(s, dir)
      val words = filter(split(col("text"), "\\s+"),
        x => length(x) > 0)
      // sequence(1, 0) would COUNT DOWN ([1, 0] — step defaults to -1 when
      // start > stop) and element_at(w, 0) throws under ANSI, so the
      // single-token case must short-circuit to an empty array
      val bigrams = docs
        .select(col("doc_id"), col("lang"), words.as("w"))
        .select(col("doc_id"), col("lang"),
          explode(when(size(col("w")) >= 2,
            transform(sequence(lit(1), size(col("w")) - 1),
              i => concat_ws(" ",
                element_at(col("w"), i), element_at(col("w"), i + 1))))
            .otherwise(array().cast("array<string>"))).as("bg"))
        .select(col("doc_id"), col("lang"),
          (conv(substring(md5(col("bg")), 1, 8), 16, 10).cast("long") % 64)
            .as("f"))
      // lang rides along (functionally dependent on doc_id) so the SAME
      // materialized table feeds source counts, target counts, and the
      // scoring join — one tokenize+hash scan total
      val docFeat = bigrams.groupBy("doc_id", "lang", "f")
        .agg(count(lit(1)).as("cnt"))
        .materialized // consumers: src counts, tgt counts, scoring join
      val src = docFeat.groupBy("f").agg(sum(col("cnt")).as("src_cnt"))
      val tgt = docFeat.filter(col("lang") === "en")
        .groupBy("f").agg(sum(col("cnt")).as("tgt_cnt"))
      val ratio = src.join(tgt, Seq("f"), "left")
        .select(col("f"), expr(
          "((coalesce(tgt_cnt, 0) + 1) * 1000000) div (src_cnt + 1)")
          .as("ratio"))
      docFeat.join(broadcast(ratio), "f")
        .groupBy("doc_id")
        .agg(sum(col("cnt") * col("ratio")).as("score"))
        .orderBy(col("score").desc, col("doc_id"))
        .limit(100)
        .select(col("doc_id"), col("score"))
    },
    Some("""
      WITH words AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(text, '\s+'),
                           x -> length(x) > 0) AS w
        FROM documents),
      idx AS (
        SELECT doc_id, lang, w, unnest(range(1, len(w))) AS i FROM words),
      bigrams AS (
        SELECT doc_id, lang,
               ('0x' || substr(md5(w[i] || ' ' || w[i + 1]), 1, 8))::BIGINT
                 % 64 AS f
        FROM idx),
      doc_feat AS (
        SELECT doc_id, lang, f, COUNT(*) AS cnt
        FROM bigrams GROUP BY doc_id, lang, f),
      src AS (SELECT f, SUM(cnt) AS src_cnt FROM doc_feat GROUP BY f),
      tgt AS (
        SELECT f, SUM(cnt) AS tgt_cnt FROM doc_feat
        WHERE lang = 'en' GROUP BY f),
      ratio AS (
        SELECT src.f,
               ((COALESCE(tgt_cnt, 0) + 1) * 1000000) // (src_cnt + 1)
                 AS ratio
        FROM src LEFT JOIN tgt ON src.f = tgt.f)
      SELECT doc_id, SUM(cnt * ratio)::BIGINT AS score
      FROM doc_feat JOIN ratio ON doc_feat.f = ratio.f
      GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT 100""")
  )

  /** Benchmark-contamination SCORING — the measurement companion to q60's
    * Bloom decontamination gate. q60 answers "does this doc share ANY
    * shingle with the eval set" (a boolean, prefiltered by a broadcast
    * Bloom); audits of training corpora (GPT-3 App. C, PaLM §7, the Lee
    * et al. dedup paper's eval-overlap tables) need the GRADED version:
    * per document, what fraction of its 5-word shingles appears verbatim
    * in the benchmark. Benchmark stand-in: docs with doc_id < 50 (an eval
    * set is externally supplied in production); corpus = the rest.
    *
    * Scale shape: the benchmark shingle set is distinct-hashed and
    * BROADCAST — eval benchmarks are a few thousand documents against a
    * 100 TB corpus, the canonical small-side join. Corpus shingles are
    * md5 digests (32 bytes) and the per-doc aggregate is a map-side-
    * combined count pair; document text never shuffles. The contamination
    * flag uses integer arithmetic (overlap·10 ≥ n) so no float compare
    * can diverge; the reported fraction is a ratio of identical ints. */
  val q96 = Q(
    "q96_contamination_score",
    (s, dir) => {
      val docs = documents(s, dir)
      // 128-bit digest as two longs (shingleDigests) — same sets as the
      // hex key (bijection), primitive join keys through the broadcast
      val sh = DedupQueries.shingleDigests(docs)
      val benchSh = sh.filter(col("doc_id") < 50).select("h1", "h2").distinct()
      val corpusSh = sh.filter(col("doc_id") >= 50)
      val perDoc = corpusSh
        .join(broadcast(benchSh.withColumn("hit", lit(1))), Seq("h1", "h2"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"),
          sum(coalesce(col("hit"), lit(0))).as("n_overlap"))
      perDoc
        .filter(col("n_overlap") > 0)
        .select(col("doc_id"), col("n_shingles"), col("n_overlap"),
          (col("n_overlap").cast("double") / col("n_shingles"))
            .as("contamination"),
          (col("n_overlap") * 10 >= col("n_shingles")).cast("int")
            .as("flagged"))
        .orderBy("doc_id")
    },
    Some("""
      WITH words AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      idx AS (
        SELECT doc_id, w, unnest(range(1, greatest(len(w) - 4, 1) + 1)) AS i
        FROM words),
      sh AS (
        SELECT DISTINCT doc_id, array_to_string(w[i:i+4], ' ') AS sh FROM idx),
      bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 50),
      scored AS (
        SELECT s.doc_id, COUNT(*) AS n_shingles,
               CAST(SUM(CASE WHEN b.sh IS NULL THEN 0 ELSE 1 END) AS BIGINT)
                 AS n_overlap
        FROM sh s LEFT JOIN bench b USING (sh)
        WHERE s.doc_id >= 50
        GROUP BY s.doc_id)
      SELECT doc_id, n_shingles, n_overlap,
             CAST(n_overlap AS DOUBLE) / n_shingles AS contamination,
             CAST(n_overlap * 10 >= n_shingles AS INT) AS flagged
      FROM scored WHERE n_overlap > 0
      ORDER BY doc_id""")
  )

  /** Domain-level quality gating — the C4/RefinedWeb "drop bad SOURCES,
    * not just bad documents" curation step: per-document quality is a
    * scaled type-token ratio (1000·|distinct tokens| div |tokens| —
    * integer, so both engines agree exactly), sources are gated on their
    * MEAN document quality (integer mean: sum div count) and a minimum
    * volume, and the verdict row reports what each gate keeps. Per-doc
    * filters (q55 etc.) cannot express this: the keep/drop decision here
    * depends on the source aggregate, not the document.
    *
    * Scale shape: one map-side projection (tokenize + distinct-count per
    * doc — no shuffle), one source-keyed aggregate (map-side combined,
    * output = #sources rows). At 100 TB the only exchange carries
    * (source, partial sums). */
  val q104 = Q(
    "q104_domain_gate",
    (s, dir) => {
      val scored = documents(s, dir)
        .select(col("source"),
          filter(split(col("text"), "\\s+"), x => length(x) > 0).as("ws"))
        .select(col("source"),
          expr("(1000 * size(array_distinct(ws))) div size(ws)").as("q"))
      scored.groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          expr("sum(q) div count(1)").as("mean_q"))
        .withColumn("kept",
          (col("mean_q") >= 520 && col("n_docs") >= 20).cast("int"))
        .withColumn("docs_kept",
          when(col("kept") === 1, col("n_docs")).otherwise(0L))
        .orderBy("source")
    },
    Some("""
      WITH scored AS (
        SELECT source,
               (1000 * len(list_distinct(ws)) // len(ws)) AS q
        FROM (SELECT source,
                     list_filter(string_split_regex(text, '\s+'),
                                 x -> length(x) > 0) AS ws
              FROM documents)),
      gated AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(q) // COUNT(*) AS BIGINT) AS mean_q
        FROM scored GROUP BY source)
      SELECT source, CAST(n_docs AS BIGINT) AS n_docs, mean_q,
             CAST(mean_q >= 520 AND n_docs >= 20 AS INT) AS kept,
             CAST(CASE WHEN mean_q >= 520 AND n_docs >= 20
                       THEN n_docs ELSE 0 END AS BIGINT) AS docs_kept
      FROM gated ORDER BY source""")
  )

  /** Chi-square independence audit of two metadata columns (lang ×
    * source) — the dataset-composition check behind "is language mix
    * uniform across crawl sources?", run before q67-style mixture
    * sampling trusts the marginals. Per contingency cell: observed count
    * O, expected-under-independence E = R·C/N, and the cell's χ²
    * contribution (O−E)²/E — all carried as exact scaled integers
    * ((O·N − R·C)² div (R·C·N), the rational identity of (O−E)²/E scaled
    * by N... with DECIMAL(38,0) intermediates so the squares cannot
    * overflow BIGINT at corpus scale).
    *
    * Scale shape: one (lang, source)-keyed count (map-side combined to
    * #cells rows), two marginal re-aggregations of THAT tiny table, one
    * scalar total — everything after the first aggregate is
    * broadcast-sized. */
  val q108 = Q(
    "q108_chisq",
    (s, dir) => {
      val cells = documents(s, dir)
        .groupBy("lang", "source").agg(count(lit(1)).as("o"))
        .materialized // marginals + total re-read it
      val rowM = cells.groupBy("lang").agg(sum("o").as("r"))
      val colM = cells.groupBy("source").agg(sum("o").as("c"))
      val total = cells.agg(sum("o").as("n"))
      cells.join(rowM, "lang").join(colM, "source").crossJoin(total)
        .select(col("lang"), col("source"), col("o"),
          expr("cast(cast(r as decimal(38,0)) * c * 1000000 div n as bigint)")
            .as("e_x1e6"),
          expr("""(cast(o as decimal(38,0)) * n - cast(r as decimal(38,0)) * c)
                  * (cast(o as decimal(38,0)) * n - cast(r as decimal(38,0)) * c)
                  * 1000000 div (cast(r as decimal(38,0)) * c * n)""")
            .cast("long").as("chi2_x1e6"))
        .orderBy("lang", "source")
    },
    Some("""
      WITH cells AS (
        SELECT lang, source, COUNT(*) AS o
        FROM documents GROUP BY 1, 2),
      rm AS (SELECT lang, SUM(o) AS r FROM cells GROUP BY lang),
      cm AS (SELECT source, SUM(o) AS c FROM cells GROUP BY source),
      n AS (SELECT SUM(o) AS n FROM cells)
      SELECT lang, source, CAST(o AS BIGINT) AS o,
             CAST(CAST(r AS HUGEINT) * c * 1000000 // n AS BIGINT) AS e_x1e6,
             CAST((CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                  * (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c)
                  * 1000000 // (CAST(r AS HUGEINT) * c * n) AS BIGINT)
               AS chi2_x1e6
      FROM cells JOIN rm USING (lang) JOIN cm USING (source) CROSS JOIN n
      ORDER BY lang, source""")
  )

  /** Per-source token-budget cap — the data-recipe enforcement step
    * ("Wikipedia at most N tokens, keep the best first"): within each
    * source, documents are ranked by integer TTR quality (q104's metric)
    * descending, and the running token total is cut at the budget. A doc
    * is kept iff its cumulative token count (inclusive) still fits.
    * Deterministic tiebreak (quality, then doc_id) makes the retained set
    * reproducible — a recipe, not a sample.
    *
    * Scale shape: one map-side projection (tokens + quality), then ONE
    * source-keyed window doing both the rank and the running sum in the
    * same sort — a single exchange + sort per stratum. Sources are the
    * partition key, so a pathologically large stratum serializes; the
    * distributed prefix-sum of q84 (per-shard sums + broadcast offsets) is
    * the drop-in replacement when one source outweighs an executor. */
  val q116 = Q(
    "q116_token_cap",
    (s, dir) => {
      val cap = 3000L
      val toks = documents(s, dir)
        .select(col("doc_id"), col("source"),
          filter(split(col("text"), "\\s+"), x => length(x) > 0).as("ws"))
        .select(col("doc_id"), col("source"),
          size(col("ws")).cast("long").as("toks"),
          expr("(1000 * size(array_distinct(ws))) div size(ws)").as("q"))
      val bySrc = Window.partitionBy("source")
        .orderBy(col("q").desc, col("doc_id"))
      toks
        .withColumn("cum_toks",
          sum(col("toks")).over(bySrc.rowsBetween(
            Window.unboundedPreceding, Window.currentRow)))
        .withColumn("kept", (col("cum_toks") <= cap).cast("int"))
        .select("doc_id", "source", "toks", "q", "cum_toks", "kept")
        .orderBy("doc_id")
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, source, CAST(len(ws) AS BIGINT) AS toks,
               (1000 * len(list_distinct(ws)) // len(ws)) AS q
        FROM (SELECT doc_id, source,
                     list_filter(string_split_regex(text, '\s+'),
                                 x -> length(x) > 0) AS ws
              FROM documents))
      SELECT doc_id, source, toks, q,
             CAST(SUM(toks) OVER (PARTITION BY source
                                  ORDER BY q DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS cum_toks,
             CAST(SUM(toks) OVER (PARTITION BY source
                                  ORDER BY q DESC, doc_id
                                  ROWS UNBOUNDED PRECEDING) <= 3000 AS INT)
               AS kept
      FROM scored ORDER BY doc_id""")
  )

  /** Cross-source quality calibration by within-source percentile rank —
    * the fix for "a raw quality score of 600 means different things on
    * different crawls": each document's integer quality (q104's TTR
    * metric) is converted to its percent_rank WITHIN its source, making
    * scores comparable across sources with different score distributions
    * (the classifier-calibration move quality-filter pipelines apply
    * before a single global cutoff). The gate keeps each source's top
    * half — by construction the retention rate is uniform per source,
    * which a raw-score cutoff cannot guarantee.
    *
    * Cross-engine exactness: percent_rank = (rank−1)/(n−1) with a
    * total order (quality, doc_id), so both engines divide the same
    * small exact integers — bit-identical doubles.
    *
    * Scale shape: one source-keyed window (single exchange + sort); the
    * gate is map-side on the window output. Same stratum-skew caveat and
    * q84 prefix-sum escape hatch as q116. */
  val q117 = Q(
    "q117_quantile_norm",
    (s, dir) => {
      val scored = documents(s, dir)
        .select(col("doc_id"), col("source"),
          filter(split(col("text"), "\\s+"), x => length(x) > 0).as("ws"))
        .select(col("doc_id"), col("source"),
          expr("(1000 * size(array_distinct(ws))) div size(ws)").as("q"))
      val bySrc = Window.partitionBy("source")
        .orderBy(col("q"), col("doc_id"))
      scored
        .withColumn("pr", percent_rank().over(bySrc))
        .withColumn("kept", (col("pr") >= 0.5).cast("int"))
        .select("doc_id", "source", "q", "pr", "kept")
        .orderBy("doc_id")
    },
    Some("""
      WITH scored AS (
        SELECT doc_id, source,
               (1000 * len(list_distinct(ws)) // len(ws)) AS q
        FROM (SELECT doc_id, source,
                     list_filter(string_split_regex(text, '\s+'),
                                 x -> length(x) > 0) AS ws
              FROM documents))
      SELECT doc_id, source, q,
             percent_rank() OVER (PARTITION BY source ORDER BY q, doc_id)
               AS pr,
             CAST(percent_rank() OVER (PARTITION BY source
                                       ORDER BY q, doc_id) >= 0.5 AS INT)
               AS kept
      FROM scored ORDER BY doc_id""")
  )

  /** Sequence-length bucketing + padding-waste audit — the dynamic-batching
    * decision input: group documents into power-of-two token-length
    * buckets (floor(log2(toks)) via the binary-string length, identical
    * integer arithmetic in both engines) and, per bucket, the padding
    * waste a batcher padding to the bucket max would incur
    * (n·max − Σtoks, and its ppm share). The one-row global frame
    * computes the UNBUCKETED waste (pad everything to the corpus max) so
    * the output quantifies exactly what bucketing buys — the argument for
    * length-aware batch assembly made measurable.
    *
    * Scale shape: tokenize is map-side; the bucket aggregate map-side
    * combines to ~log(max_len) groups; the global max/sum is a one-row
    * scalar frame joined back over the BUCKET table (≤ 64 rows), not the
    * corpus. Scan-bound at any size. */
  val q121 = Q(
    "q121_length_buckets",
    (s, dir) => {
      val toks = documents(s, dir)
        .select(col("doc_id"),
          size(filter(split(col("text"), "\\s+"), x => length(x) > 0))
            .cast("long").as("toks"))
      val bucketed = toks
        .withColumn("bucket_lo",
          expr("shiftleft(cast(1 as bigint), length(bin(toks)) - 1)"))
        .groupBy("bucket_lo")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("sum_toks"),
          max(col("toks")).as("max_toks"))
        .withColumn("pad_waste",
          col("n_docs") * col("max_toks") - col("sum_toks"))
        .withColumn("waste_ppm",
          expr("1000000 * pad_waste div (n_docs * max_toks)"))
      val global = toks.agg(
        count(lit(1)).as("gn"), sum(col("toks")).as("gsum"),
        max(col("toks")).as("gmax"))
      bucketed.crossJoin(broadcast(global))
        .withColumn("unbucketed_waste_ppm",
          expr("1000000 * (gn * gmax - gsum) div (gn * gmax)"))
        .select("bucket_lo", "n_docs", "sum_toks", "max_toks", "pad_waste",
          "waste_ppm", "unbucketed_waste_ppm")
        .orderBy("bucket_lo")
    },
    Some("""
      WITH toks AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> length(x) > 0)) AS BIGINT) AS toks
        FROM documents),
      bucketed AS (
        SELECT CAST(1 AS BIGINT) << (length(bin(toks)) - 1) AS bucket_lo,
               COUNT(*) AS n_docs,
               CAST(SUM(toks) AS BIGINT) AS sum_toks,
               MAX(toks) AS max_toks
        FROM toks GROUP BY 1),
      g AS (
        SELECT COUNT(*) AS gn, CAST(SUM(toks) AS BIGINT) AS gsum,
               MAX(toks) AS gmax
        FROM toks)
      SELECT bucket_lo, n_docs, sum_toks, max_toks,
             n_docs * max_toks - sum_toks AS pad_waste,
             1000000 * (n_docs * max_toks - sum_toks)
               // (n_docs * max_toks) AS waste_ppm,
             1000000 * (gn * gmax - gsum) // (gn * gmax)
               AS unbucketed_waste_ppm
      FROM bucketed CROSS JOIN g
      ORDER BY bucket_lo""")
  )

  /** k-anonymity generalization over quasi-identifiers — the release gate
    * for metadata columns: any (lang, source) combination carried by
    * fewer than k = 5 documents is a re-identification handle, so those
    * cells are generalized to '*' before the metadata ships. Output is
    * the released histogram: every surviving non-generalized cell has
    * n ≥ k BY CONSTRUCTION (the property the release gate certifies),
    * and the '*' bucket aggregates the suppressed mass so totals still
    * reconcile.
    *
    * Scale shape: one cell-count aggregate (map-side combined,
    * #cells rows) broadcast back over the corpus, then the release
    * re-aggregate — the q107/q122 broadcast-stats discipline applied to
    * governance. */
  val q131 = Q(
    "q131_k_anonymity",
    (s, dir) => {
      val k = 5L
      val docs = documents(s, dir).select("doc_id", "lang", "source")
      val cells = docs.groupBy("lang", "source")
        .agg(count(lit(1)).as("cn"))
      docs.join(broadcast(cells), Seq("lang", "source"))
        .select(
          when(col("cn") < k, "*").otherwise(col("lang")).as("lang_out"),
          when(col("cn") < k, "*").otherwise(col("source")).as("source_out"))
        .groupBy("lang_out", "source_out")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("generalized", (col("lang_out") === "*").cast("int"))
        .orderBy("lang_out", "source_out")
    },
    Some("""
      WITH cells AS (
        SELECT lang, source, COUNT(*) AS cn
        FROM documents GROUP BY 1, 2),
      recoded AS (
        SELECT CASE WHEN cn < 5 THEN '*' ELSE lang END AS lang_out,
               CASE WHEN cn < 5 THEN '*' ELSE source END AS source_out
        FROM documents JOIN cells USING (lang, source))
      SELECT lang_out, source_out, COUNT(*) AS n_docs,
             CAST(lang_out = '*' AS INT) AS generalized
      FROM recoded GROUP BY 1, 2
      ORDER BY lang_out, source_out""")
  )

  /** Largest-remainder (Hamilton) apportionment of an epoch TOKEN BUDGET
    * across sources — the allocation step a mixture spec feeds (q67
    * samples a given mixture; q116 caps per source; THIS decides the
    * integer budget each source gets): quota = budget·tokensᵢ/total,
    * floors assigned first, the `budget − Σfloor` leftover goes to the
    * largest fractional remainders (ties → source asc). The classic
    * apportionment guarantee — every source within 1 token of its exact
    * quota, Σ alloc ≡ budget — becomes a hash-checked law here.
    *
    * Exactness: the fractional compare uses the integer remainder
    * `(budget·tokensᵢ) mod total` directly (same denominator ⇒ same
    * order) — no floats anywhere; budget·tokens ≈ 10⁵·10⁷ stays far
    * under 2⁶³.
    *
    * Scale shape: one map-side token count + a source-sized aggregate;
    * the apportionment itself runs on the #sources-row frame (two
    * unpartitioned windows over a catalog-sized table). */
  val q137 = Q(
    "q137_mixture_alloc",
    (s, dir) => {
      val budget = 100000L
      val srcToks = documents(s, dir)
        .select(col("source"),
          size(filter(split(col("text"), "\\s+"), x => length(x) > 0))
            .cast("long").as("toks"))
        .groupBy("source").agg(sum(col("toks")).as("n_tokens"))
      val wAll = Window.partitionBy(lit(1))
      val quotas = srcToks
        .withColumn("total", sum(col("n_tokens")).over(wAll))
        .withColumn("floor_alloc",
          expr(s"($budget * n_tokens) div total"))
        .withColumn("rem", expr(s"($budget * n_tokens) % total"))
      quotas
        .withColumn("leftover",
          lit(budget) - sum(col("floor_alloc")).over(wAll))
        .withColumn("rk", row_number().over(Window.partitionBy(lit(1))
          .orderBy(col("rem").desc, col("source"))))
        .select(col("source"), col("n_tokens"), col("floor_alloc"),
          col("rem"),
          when(col("rk") <= col("leftover"), 1L).otherwise(0L).as("extra"))
        .withColumn("alloc", col("floor_alloc") + col("extra"))
        .orderBy("source")
    },
    Some("""
      WITH srctoks AS (
        SELECT source, CAST(SUM(len(list_filter(
                 string_split_regex(text, '\s+'),
                 x -> length(x) > 0))) AS BIGINT) AS n_tokens
        FROM documents GROUP BY source),
      quotas AS (
        SELECT source, n_tokens,
               CAST(SUM(n_tokens) OVER () AS BIGINT) AS total
        FROM srctoks),
      floored AS (
        SELECT source, n_tokens,
               (100000 * n_tokens) // total AS floor_alloc,
               (100000 * n_tokens) % total AS rem
        FROM quotas),
      ranked AS (
        SELECT source, n_tokens, floor_alloc, rem,
               CAST(100000 - SUM(floor_alloc) OVER () AS BIGINT) AS leftover,
               ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rk
        FROM floored)
      SELECT source, n_tokens, CAST(floor_alloc AS BIGINT) AS floor_alloc,
             CAST(rem AS BIGINT) AS rem,
             CAST(CASE WHEN rk <= leftover THEN 1 ELSE 0 END AS BIGINT)
               AS extra,
             CAST(floor_alloc + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
               AS BIGINT) AS alloc
      FROM ranked ORDER BY source""")
  )

  /** Frequency-pruned vocabulary with an OOV audit — the tokenizer-design
    * question every pipeline answers before training: what is the SMALLEST
    * vocabulary covering ≥80% of the corpus token mass, and what OOV rate
    * does each source then pay? The kept set is the shortest prefix of the
    * (tf DESC, token) ordering whose running mass reaches the threshold —
    * computed with integer arithmetic (`cum_before * 100 < total * 80`) so
    * the boundary token is engine-exact; OOV rates are reported in basis
    * points via integer division for the same reason.
    *
    * Scale shape (r16 pass — previously a SINGLE-PARTITION window ran the
    * cumulative sum over the whole vocabulary): one wordcount aggregate
    * (map-side combined, vocab-sized after), then the prefix-mass test is
    * decomposed by tf GROUP — a token's mass-before is its group's offset
    * plus (rank-in-group − 1)·tf, so the kept set is: every token of a
    * group whose whole span fits under the threshold, plus the first
    * `keep_k` tokens (by token order) of the one group that straddles it.
    * Group offsets run over the DISTINCT-tf table (O(√corpus-tokens) rows
    * — Σ distinct tf values ≤ total) as a bitlength-PARTITIONED window
    * plus a ≤64-row bounded bucket-offset window (the q103 shard-offset
    * discipline); the straddling group's token ranks shard by first char
    * (a prefix of the token order) with their own bounded offset window.
    * No vocab-sized single-partition stage remains; every unpartitioned
    * window left is over provably bounded rows (≤64 buckets / ≤alphabet
    * shards). The kept SET is identical — the per-group arithmetic is the
    * same integer test the window form evaluated row-by-row. Then a
    * broadcast anti-join of the token stream against the kept set and a
    * source-keyed count, as before. Document text never shuffles; the
    * only corpus-sized exchange carries (source, token) pairs
    * pre-aggregated by the combiner. */
  val q139 = Q(
    "q139_vocab_coverage",
    (s, dir) => {
      val toks = documents(s, dir)
        .select(col("source"),
          explode(split(col("text"), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
        .materialized // consumers: vocab counts, per-source totals, OOV
      val counts = toks.groupBy("token").agg(count(lit(1)).as("tf"))
        .materialized // consumers: group stats, full-group kept, boundary rank
      // per-tf groups of the (tf DESC, token) order; bitlen(tf) is the
      // q68 integer log2 — exact at power-of-two boundaries — and is
      // monotone in tf, so (bitlen DESC, tf DESC) is the group order
      val grp = counts.groupBy("tf").agg(count(lit(1)).as("cnt"))
        .withColumn("mass", col("tf") * col("cnt"))
        .withColumn("bl", length(conv(col("tf"), 10, 2)).cast("long"))
      // two-phase group offsets: in-bucket running mass (PARTITIONED
      // window) + bucket offsets over ≤64 rows (bounded, benign)
      val wInB = Window.partitionBy("bl").orderBy(col("tf").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val bktTot = grp.groupBy("bl").agg(sum(col("mass")).as("bmass"))
      val wB = Window.orderBy(col("bl").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      // total rides the same ≤64-row single-partition window pass as the
      // bucket offsets — one broadcast instead of two
      val wAll = Window.orderBy(col("bl").desc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val bktOff = bktTot
        .withColumn("boff", coalesce(sum(col("bmass")).over(wB), lit(0L)))
        .withColumn("total", sum(col("bmass")).over(wAll))
        .select("bl", "boff", "total")
      // mass strictly before the group, then the group's kept count:
      // token r (1-based, by token ASC within the group) is kept iff
      // (off + (r−1)·tf)·100 < 80·total  ⇔  r ≤ keep_k with
      // keep_k = min(cnt, (80·total − 100·off − 1) div (100·tf) + 1)
      // (0 when the group starts at/past the threshold). Exact longs:
      // 100·total fits until ~9·10^16 corpus tokens.
      val gk = grp
        .withColumn("loff", coalesce(sum(col("mass")).over(wInB), lit(0L)))
        .join(broadcast(bktOff), "bl")
        .withColumn("off", col("boff") + col("loff"))
        .withColumn("keep_k",
          when(col("total") * 80 - col("off") * 100 <= 0, lit(0L))
            .otherwise(least(col("cnt"),
              expr("(total * 80 - off * 100 - 1) div (100 * tf) + 1"))))
        .select("tf", "cnt", "keep_k")
      // whole groups under the threshold: every token kept. The join is
      // vocab ⋈ distinct-tf — AQE's strategy call, no broadcast hint (the
      // group table grows with the corpus).
      val keptFull = counts
        .join(gk.filter(col("keep_k") === col("cnt")).select("tf"),
          Seq("tf"), "left_semi")
        .select("token")
      // the (at most one) straddling group: rank by token via first-char
      // shards — a PREFIX of the token order, so shard order composes
      // with in-shard order (q103's pattern); offsets window runs over
      // ≤|alphabet| rows
      val bnd = counts
        .join(broadcast(gk.filter(col("keep_k") > 0 && col("keep_k") < col("cnt"))),
          "tf")
        .withColumn("shard", substring(col("token"), 1, 1))
      val sOff = bnd.groupBy("tf", "shard").agg(count(lit(1)).as("scnt"))
        .withColumn("soff", coalesce(
          sum(col("scnt")).over(Window.partitionBy("tf").orderBy("shard")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select("tf", "shard", "soff")
      val keptBnd = bnd
        .withColumn("rn", row_number().over(
          Window.partitionBy("tf", "shard").orderBy("token")))
        .join(broadcast(sOff), Seq("tf", "shard"))
        .filter(col("soff") + col("rn") <= col("keep_k"))
        .select("token")
      val kept = keptFull.union(keptBnd)
        .materialized // consumers: vocab_size + the OOV anti-join
      val vocabSize = kept.agg(count(lit(1)).as("vocab_size"))
      val perSource = toks.groupBy("source")
        .agg(count(lit(1)).as("total_tokens"))
      val oov = toks.join(broadcast(kept), Seq("token"), "left_anti")
        .groupBy("source").agg(count(lit(1)).as("oov_tokens"))
      perSource.join(oov, Seq("source"), "left")
        .na.fill(0L, Seq("oov_tokens"))
        .crossJoin(broadcast(vocabSize))
        .select(col("source"), col("total_tokens"), col("oov_tokens"),
          expr("oov_tokens * 10000 div total_tokens").as("oov_bp"),
          col("vocab_size"))
        .orderBy("source")
    },
    Some("""
      WITH toks AS (
        SELECT source, unnest(string_split_regex(text, '\s+')) AS token
        FROM documents),
      tok AS (SELECT * FROM toks WHERE length(token) > 0),
      counts AS (SELECT token, COUNT(*) AS tf FROM tok GROUP BY token),
      total AS (SELECT CAST(SUM(tf) AS BIGINT) AS total FROM counts),
      cum AS (
        SELECT token, tf,
               CAST(SUM(tf) OVER (ORDER BY tf DESC, token
                 ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM counts),
      kept AS (
        SELECT token FROM cum, total WHERE (cum - tf) * 100 < total * 80),
      vs AS (SELECT COUNT(*) AS vocab_size FROM kept),
      per AS (SELECT source, COUNT(*) AS total_tokens FROM tok GROUP BY source),
      oov AS (
        SELECT source, COUNT(*) AS oov_tokens FROM tok
        WHERE token NOT IN (SELECT token FROM kept)
        GROUP BY source)
      SELECT p.source, p.total_tokens,
             COALESCE(o.oov_tokens, 0) AS oov_tokens,
             COALESCE(o.oov_tokens, 0) * 10000 // p.total_tokens AS oov_bp,
             vs.vocab_size
      FROM per p LEFT JOIN oov o USING (source), vs
      ORDER BY p.source""")
  )

  /** Deterministic per-source quota sampling — the per-domain cap a web
    * corpus applies so no single source dominates training: each source
    * keeps its `Cap` documents with the smallest content-hash buckets
    * (ties by doc_id). Unlike a threshold sample (q34), the yield per
    * source is EXACT; unlike `df.sample`, selection is a pure function of
    * content — reproducible on any cluster size, and survivors are
    * re-derivable for audit.
    *
    * Scale shape: one map-side hash projection + one window over
    * source-sized groups (`WindowGroupLimit` prunes rank > Cap before the
    * sort spills at 100 TB) — no joins, text never shuffles. */
  val q142 = Q(
    "q142_quota_sample",
    (s, dir) => {
      val bucket = conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("long")
      val w = Window.partitionBy("source")
        .orderBy(col("bucket"), col("doc_id"))
      documents(s, dir)
        .select(col("doc_id"), col("source"), bucket.as("bucket"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 8)
        .orderBy("doc_id")
    },
    Some("""
      WITH b AS (
        SELECT doc_id, source,
               ('0x' || substr(md5(text), 1, 8))::BIGINT AS bucket
        FROM documents),
      ranked AS (
        SELECT doc_id, source, bucket,
               ROW_NUMBER() OVER (PARTITION BY source
                 ORDER BY bucket, doc_id) AS rk
        FROM b)
      SELECT doc_id, source, bucket, CAST(rk AS BIGINT) AS rk
      FROM ranked WHERE rk <= 8 ORDER BY doc_id""")
  )

  /** Per-document start offsets of the GPT-style concat-and-chunk packing
    * order: documents concatenated by ascending `doc_id`, each document's
    * `startp` = tokens of everything before it. Shared by q145/q146.
    *
    * The oracle computes this with ONE global window (`SUM OVER (ORDER BY
    * doc_id)`), which on Spark would funnel the corpus through a single
    * task. Here the cumulative sum is two-phase: per-doc token counts roll
    * up into `doc_id div 4096` range buckets (a map-side-combined
    * aggregate producing corpus/4096 rows), an unpartitioned window runs
    * ONLY over that bucket table to produce each bucket's prefix total,
    * and the per-document remainder is a window PARTITIONED by bucket —
    * so no task ever sees more than one bucket of documents. The bucket
    * prefixes broadcast back. Bucket order ⊆ doc_id order, so the
    * reconstructed offsets are bit-identical to the oracle's single
    * window. */
  private def packedOffsets(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val toks = documents(s, dir)
      .select(col("doc_id"),
        size(filter(split(col("text"), "\\s+"), x => length(x) > 0))
          .cast("long").as("ntok"))
      .filter(col("ntok") > 0)
      .withColumn("bucket", expr("doc_id div 4096"))
    val bucketPrefix = toks
      .groupBy("bucket").agg(sum(col("ntok")).as("btok"))
      .withColumn("bprefix",
        coalesce(sum(col("btok")).over(Window.partitionBy(lit(1))
          .orderBy("bucket")
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select("bucket", "bprefix")
    val within = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    toks.join(broadcast(bucketPrefix), "bucket")
      .withColumn("startp",
        col("bprefix") + sum(col("ntok")).over(within) - col("ntok"))
      .select("doc_id", "ntok", "startp")
  }

  /** Oracle-side twin of [[packedOffsets]] (single global window — fine
    * for DuckDB, replaced by the two-phase shape on Spark). */
  private val PackedOffsetsSql = """
      toks AS (
        SELECT doc_id,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    t -> length(t) > 0)) AS BIGINT) AS ntok
        FROM documents),
      pos AS (
        SELECT doc_id, ntok,
               CAST(SUM(ntok) OVER (ORDER BY doc_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    - ntok AS BIGINT) AS startp
        FROM toks WHERE ntok > 0)"""

  /** Sequence-packing audit — the training-example assembly step of an
    * LLM pipeline made relational: documents concatenate in deterministic
    * `doc_id` order and split into fixed 512-token context windows
    * (concat-and-chunk, the padding-free packing GPT-style pipelines
    * use). Output is the docs-per-chunk histogram with full-chunk and
    * token accounting — the shape that tells you how many examples cross
    * document boundaries and how much attention-mask fragmentation to
    * expect per context length. Complements q65: THAT packs onto W
    * independent per-worker streams (offsets only meaningful within a
    * stream); THIS audits the single globally-ordered packing a
    * reproducible eval corpus needs, which is exactly the case where the
    * naive global-window cumsum becomes the scale hazard.
    *
    * Exactness: token counts, offsets and chunk ids are all BIGINT
    * integer algebra (`div` ↔ `//` at the same points); no floats.
    *
    * Scale shape: offsets via the two-phase cumsum of [[packedOffsets]]
    * (nothing corpus-sized ever crosses one task); each document then
    * explodes into only the ⌈ntok/512⌉+1 chunks it touches; the chunk
    * roll-up is a wordcount-shaped HashAggregate keyed by chunk_id whose
    * shuffle carries 24-byte rows; the histogram over chunks is tiny. */
  val q145 = Q(
    "q145_sequence_packing",
    (s, dir) => {
      val spans = packedOffsets(s, dir)
        .withColumn("endp", col("startp") + col("ntok"))
        .withColumn("c0", expr("startp div 512"))
        .withColumn("c1", expr("(startp + ntok - 1) div 512"))
      val chunks = spans
        .select(explode(sequence(col("c0"), col("c1"))).as("chunk_id"),
          col("startp"), col("endp"))
        .groupBy("chunk_id")
        .agg(count(lit(1)).as("n_docs"),
          sum(least(col("endp"), (col("chunk_id") + 1) * 512) -
            greatest(col("startp"), col("chunk_id") * 512)).as("n_tokens"))
      chunks.groupBy("n_docs")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("n_tokens") === 512, 1L).otherwise(0L))
            .as("full_chunks"),
          sum(col("n_tokens")).as("tokens"))
        .orderBy("n_docs")
    },
    Some(s"""
      WITH $PackedOffsetsSql,
      spans AS (
        SELECT doc_id, ntok, startp, startp + ntok AS endp,
               startp // 512 AS c0, (startp + ntok - 1) // 512 AS c1
        FROM pos),
      cells AS (
        SELECT doc_id, unnest(range(c0, c1 + 1)) AS chunk_id, startp, endp
        FROM spans),
      chunks AS (
        SELECT chunk_id, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LEAST(endp, (chunk_id + 1) * 512)
                        - GREATEST(startp, chunk_id * 512)) AS BIGINT)
                 AS n_tokens
        FROM cells GROUP BY chunk_id)
      SELECT n_docs, COUNT(*) AS n_chunks,
             CAST(SUM(CASE WHEN n_tokens = 512 THEN 1 ELSE 0 END) AS BIGINT)
               AS full_chunks,
             CAST(SUM(n_tokens) AS BIGINT) AS tokens
      FROM chunks GROUP BY n_docs ORDER BY n_docs""")
  )

  /** Context-length sweep over the same packing: for each candidate
    * window size C ∈ {128, 256, 512, 1024, 2048}, how many documents get
    * split across a chunk boundary, how many chunks the epoch needs, and
    * the final-chunk padding — the table a pretraining config review
    * reads before fixing sequence length. Key fact exploited: under
    * concat-and-chunk the OFFSETS are C-independent, so one offset pass
    * (the [[packedOffsets]] two-phase cumsum) serves all five C values
    * via a literal-array explode — map-side, no join, no re-scan.
    *
    * Scale shape: 5× row multiplication of (doc_id, ntok, startp) tuples
    * only (24 bytes each, text never leaves the first projection), then
    * a 5-group map-side-combined aggregate. */
  val q146 = Q(
    "q146_context_sweep",
    (s, dir) => {
      val perdoc = packedOffsets(s, dir)
        .select(col("ntok"), col("startp"),
          explode(array(lit(128), lit(256), lit(512), lit(1024), lit(2048)))
            .as("c"))
        .withColumn("is_split",
          when(expr("startp div c") < expr("(startp + ntok - 1) div c"), 1)
            .otherwise(0))
      perdoc.groupBy("c")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("is_split")).as("docs_split"),
          expr("(sum(ntok) + c - 1) div c").as("n_chunks"),
          expr("((sum(ntok) + c - 1) div c) * c - sum(ntok)")
            .as("pad_tokens"))
        .orderBy("c")
    },
    Some(s"""
      WITH $PackedOffsetsSql,
      perdoc AS (
        SELECT p.doc_id, p.ntok, c.c,
               CAST(p.startp // c.c < (p.startp + p.ntok - 1) // c.c AS INT)
                 AS is_split
        FROM pos p CROSS JOIN
             (SELECT unnest([128, 256, 512, 1024, 2048]) AS c) c)
      SELECT c, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(is_split) AS BIGINT) AS docs_split,
             CAST((SUM(ntok) + c - 1) // c AS BIGINT) AS n_chunks,
             CAST(((SUM(ntok) + c - 1) // c) * c - SUM(ntok) AS BIGINT)
               AS pad_tokens
      FROM perdoc GROUP BY c ORDER BY c""")
  )

  /** Gapped-shingle contamination — the paraphrase extension of q96:
    * verbatim 5-gram overlap misses eval examples that entered the corpus
    * with a single token edited (dates localized, a name swapped, a typo
    * fixed). For every 5-token window this keys BOTH the verbatim shingle
    * and the GAPPED shingle (middle token wildcarded, `w1 w2 * w4 w5`);
    * a window whose gapped key hits the benchmark's gapped set while its
    * verbatim key misses is exactly a one-middle-token substitution —
    * reported as `paraphrase_only`, the contamination verbatim dedup
    * can never see. Benchmark stand-in: doc_id < 50 (q96 convention; the
    * eval set is externally supplied in production).
    *
    * Exactness: hit counters are integer sums over identical md5-prefix
    * keys in both engines; no floats anywhere.
    *
    * Scale shape: identical to q96 — both benchmark key sets are
    * distinct-hashed and BROADCAST (an eval benchmark is thousands of
    * docs against a 100 TB corpus); corpus windows carry two 16-char
    * digests, the joins are map-side, and the per-doc aggregate is a
    * map-side-combined counter 4-tuple. Text never shuffles. */
  val q148 = Q(
    "q148_gapped_contamination",
    (s, dir) => {
      val keyed = documents(s, dir)
        .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
        .filter(size(col("w")) >= 5)
        .select(col("doc_id"), col("w"),
          explode(sequence(lit(0), size(col("w")) - 5)).as("i"))
        // md5_prefix64 longs ≡ the 16-hex-char substrings (bijection):
        // same key sets, primitive columns through both broadcasts
        .select(col("doc_id"),
          graft.functions.GraftFunctions.md5_prefix64(
            concat_ws(" ", expr("slice(w, i + 1, 5)"))).as("v"),
          graft.functions.GraftFunctions.md5_prefix64(
            concat_ws(" ", expr("w[i]"), expr("w[i+1]"),
              lit("*"), expr("w[i+3]"), expr("w[i+4]"))).as("g"))
        .materialized // consumers: two bench key sets + the corpus scan
      val benchV = keyed.filter(col("doc_id") < 50).select("v").distinct()
      val benchG = keyed.filter(col("doc_id") < 50).select("g").distinct()
      keyed.filter(col("doc_id") >= 50)
        .join(broadcast(benchV.withColumn("hv", lit(1))), Seq("v"), "left")
        .join(broadcast(benchG.withColumn("hg", lit(1))), Seq("g"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_windows"),
          sum(coalesce(col("hv"), lit(0))).cast("long").as("verbatim_hits"),
          sum(coalesce(col("hg"), lit(0))).cast("long").as("gapped_hits"),
          sum(when(col("hg") === 1 && col("hv").isNull, 1).otherwise(0))
            .cast("long").as("paraphrase_only"))
        .filter(col("gapped_hits") > 0)
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      k AS (
        SELECT doc_id,
               substr(md5(array_to_string(w[i:i+4], ' ')), 1, 16) AS v,
               substr(md5(w[i] || ' ' || w[i+1] || ' * ' ||
                          w[i+3] || ' ' || w[i+4]), 1, 16) AS g
        FROM (SELECT doc_id, w,
                     unnest(range(1, greatest(len(w) - 4, 1) + 1)) AS i
              FROM w)
        WHERE len(w) >= 5),
      bv AS (SELECT DISTINCT v FROM k WHERE doc_id < 50),
      bg AS (SELECT DISTINCT g FROM k WHERE doc_id < 50),
      per AS (
        SELECT doc_id, COUNT(*) AS n_windows,
               CAST(SUM(CASE WHEN bv.v IS NULL THEN 0 ELSE 1 END) AS BIGINT)
                 AS verbatim_hits,
               CAST(SUM(CASE WHEN bg.g IS NULL THEN 0 ELSE 1 END) AS BIGINT)
                 AS gapped_hits,
               CAST(SUM(CASE WHEN bg.g IS NOT NULL AND bv.v IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT)
                 AS paraphrase_only
        FROM k LEFT JOIN bv ON k.v = bv.v LEFT JOIN bg ON k.g = bg.g
        WHERE k.doc_id >= 50 GROUP BY doc_id)
      SELECT doc_id, n_windows, verbatim_hits, gapped_hits, paraphrase_only
      FROM per WHERE gapped_hits > 0 ORDER BY doc_id""")
  )

  /** Epoch waterfill — the data-constrained budget split (the planning
    * step behind "repeat high-quality sources more"): a token budget
    * B = 2.5·(corpus tokens) is allocated across sources proportionally
    * to their unique token mass, but each source is capped at `e_max`
    * epochs of itself — 4 for high-quality sources (mean scaled
    * type-token ratio ≥ 500, the q104 metric), 2 for the rest. The
    * exact solution is the classic WATERFILL: find the level λ where
    * Σ min(λ·u_s, cap_s) = B; sources below the level hit their cap,
    * the rest share the residual proportionally. Output per source:
    * tokens, quality, cap, the exact integer allocation (Σ alloc ≡ B
    * whenever Σ cap ≥ B — Hamilton largest-remainder on the residual,
    * q137's discipline), and realized epochs in basis points.
    *
    * Exactness: all integer; the residual shares u·R div den run in
    * DECIMAL(38,0) ↔ HUGEINT (q100/q110 pattern — u·R overflows BIGINT
    * long before 100 TB); ties in the remainder rank break on source.
    *
    * Scale shape: ONE corpus scan into a map-side-combined per-source
    * aggregate (catalog-sized output); everything after — tier prefix
    * sums, the bracket search, the remainder rank — is algebra over
    * source-catalog-sized and tier-count-sized frames whose
    * single-partition windows are bounded by |catalog|, with one-row
    * scalar frames (totals, bracket) broadcast back (case-(a) BNLJ).
    * Text never shuffles; nothing corpus-sized crosses a task twice. */
  val q149 = Q(
    "q149_epoch_waterfill",
    (s, dir) => {
      val src = documents(s, dir)
        .select(col("source"),
          filter(split(col("text"), "\\s+"), x => length(x) > 0).as("ws"))
        .select(col("source"), size(col("ws")).cast("long").as("nt"),
          expr("(1000 * size(array_distinct(ws))) div size(ws)").as("q"))
        .groupBy("source")
        .agg(sum(col("nt")).as("u"), expr("sum(q) div count(1)").as("mean_q"))
        .withColumn("e_max", when(col("mean_q") >= 500, 4L).otherwise(2L))
        .withColumn("cap", col("e_max") * col("u"))
        .materialized // consumers: totals, tier table, allocation join
      val tot = src.agg(sum(col("u")).as("t"), sum(col("cap")).as("sumcap"))
        .withColumn("b", expr("(5 * t) div 2"))
      val wTier = Window.orderBy("e_max")
        .rowsBetween(Window.unboundedPreceding, -1)
      val bracket = src.groupBy("e_max")
        .agg(sum(col("cap")).as("tier_cap"), sum(col("u")).as("tier_u"))
        .withColumn("cap_below",
          coalesce(sum(col("tier_cap")).over(wTier), lit(0L)))
        .withColumn("u_below",
          coalesce(sum(col("tier_u")).over(wTier), lit(0L)))
        .crossJoin(tot)
        .filter(col("cap_below") + col("e_max") * (col("t") - col("u_below"))
          >= col("b"))
        .orderBy("e_max").limit(1)
        .select(lit(1).as("k"), col("e_max").as("bracket_e"),
          (col("b") - col("cap_below")).as("r"),
          (col("t") - col("u_below")).as("den"))
      val joined = src.withColumn("k", lit(1))
        .join(broadcast(bracket), Seq("k"), "left")
      val capped = joined
        .filter(col("bracket_e").isNull || col("e_max") < col("bracket_e"))
        .select(col("source"), col("u"), col("mean_q"), col("e_max"),
          col("cap"), col("cap").as("alloc"))
      val wRem = Window.orderBy(col("rem").desc, col("source"))
      val wAll = Window.partitionBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val uncapped = joined
        .filter(col("bracket_e").isNotNull && col("e_max") >= col("bracket_e"))
        .withColumn("fs", expr(
          "cast(cast(u as decimal(38,0)) * r div cast(den as decimal(38,0)) as bigint)"))
        .withColumn("rem",
          expr("cast(u as decimal(38,0)) * r % cast(den as decimal(38,0))"))
        .withColumn("extra_n", col("r") - sum(col("fs")).over(wAll))
        .withColumn("rn", row_number().over(wRem))
        .select(col("source"), col("u"), col("mean_q"), col("e_max"),
          col("cap"),
          (col("fs") + when(col("rn") <= col("extra_n"), 1L).otherwise(0L))
            .as("alloc"))
      capped.unionByName(uncapped)
        .select(col("source"), col("u").as("n_tokens"), col("mean_q"),
          col("e_max"), col("cap"), col("alloc"),
          expr("alloc * 10000 div u").as("epochs_bp"))
        .orderBy("source")
    },
    Some("""
      WITH perdoc AS (
        SELECT source,
               CAST(len(list_filter(string_split_regex(text, '\s+'),
                                    x -> length(x) > 0)) AS BIGINT) AS nt,
               1000 * len(list_distinct(list_filter(
                     string_split_regex(text, '\s+'), x -> length(x) > 0)))
                 // len(list_filter(string_split_regex(text, '\s+'),
                                    x -> length(x) > 0)) AS q
        FROM documents),
      srcagg AS (
        SELECT source, CAST(SUM(nt) AS BIGINT) AS u,
               CAST(SUM(q) AS BIGINT) // COUNT(*) AS mean_q
        FROM perdoc GROUP BY source),
      src2 AS (
        SELECT source, u, mean_q,
               CAST(CASE WHEN mean_q >= 500 THEN 4 ELSE 2 END AS BIGINT)
                 AS e_max,
               CAST(CASE WHEN mean_q >= 500 THEN 4 ELSE 2 END * u AS BIGINT)
                 AS cap
        FROM srcagg),
      tot AS (
        SELECT CAST(SUM(u) AS BIGINT) AS t,
               CAST(SUM(cap) AS BIGINT) AS sumcap,
               (5 * CAST(SUM(u) AS BIGINT)) // 2 AS b
        FROM src2),
      tiers AS (
        SELECT e_max, CAST(SUM(cap) AS BIGINT) AS tier_cap,
               CAST(SUM(u) AS BIGINT) AS tier_u
        FROM src2 GROUP BY e_max),
      tiers2 AS (
        SELECT e_max,
               CAST(COALESCE(SUM(tier_cap) OVER (ORDER BY e_max
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS cap_below,
               CAST(COALESCE(SUM(tier_u) OVER (ORDER BY e_max
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    AS BIGINT) AS u_below
        FROM tiers),
      bracket AS (
        SELECT e_max AS bracket_e, b - cap_below AS r, t - u_below AS den
        FROM tiers2, tot
        WHERE cap_below + e_max * (t - u_below) >= b
        ORDER BY e_max LIMIT 1),
      un AS (
        SELECT s.source, s.u, s.mean_q, s.e_max, s.cap,
               CAST(CAST(s.u AS HUGEINT) * r // CAST(den AS HUGEINT)
                    AS BIGINT) AS fs,
               CAST(s.u AS HUGEINT) * r % CAST(den AS HUGEINT) AS rem, r
        FROM src2 s, bracket WHERE s.e_max >= bracket_e),
      alloc_un AS (
        SELECT source, u, mean_q, e_max, cap,
               fs + CASE WHEN ROW_NUMBER() OVER (ORDER BY rem DESC, source)
                            <= r - (SELECT SUM(fs) FROM un)
                         THEN 1 ELSE 0 END AS alloc
        FROM un),
      alloc_cap AS (
        SELECT source, u, mean_q, e_max, cap, cap AS alloc FROM src2
        WHERE NOT EXISTS (SELECT 1 FROM bracket)
           OR e_max < (SELECT bracket_e FROM bracket)),
      allrows AS (
        SELECT * FROM alloc_un UNION ALL SELECT * FROM alloc_cap)
      SELECT source, u AS n_tokens, mean_q, e_max, cap,
             CAST(alloc AS BIGINT) AS alloc,
             CAST(alloc AS BIGINT) * 10000 // u AS epochs_bp
      FROM allrows ORDER BY source""")
  )

  /** Temperature-scaled source sampling (the multilingual-pretraining
    * staple: draw from source i with probability ∝ count^α, α < 1, so
    * low-resource sources are up-sampled without drowning the head —
    * mC4/XLM-R style). α = 1/2 keeps the arithmetic engine-exact:
    * weight = ⌊√tokens⌋ (IEEE sqrt is correctly rounded and every count
    * is < 2^52, so both engines floor the same double), shares in ppm by
    * integer division, and the redistributed draw of one corpus-sized
    * token budget in DECIMAL(38,0)/HUGEINT so the products cannot
    * overflow at any corpus size. `oversample_ppm` > 1e6 marks sources
    * the temperature up-samples relative to natural frequency.
    *
    * Scale shape: one corpus scan collapsing to the per-source aggregate
    * (map-side combined, catalog-sized); everything after is windows and
    * projections over the ≤|sources| frame — the lone unpartitioned
    * window is catalog-bounded by construction. Text never shuffles;
    * q137 apportions a FIXED budget by largest remainder, q149
    * waterfills under per-source epoch caps, and this query is the
    * power-law-tempered third policy on the same catalog frame. */
  val q151 = Q(
    "q151_temperature_mix",
    (s, dir) => {
      val perSrc = documents(s, dir)
        .select(col("source"),
          size(split(col("text"), "\\s+")).cast("long").as("n"))
        .groupBy("source").agg(sum(col("n")).as("n_tokens"))
        .withColumn("weight", floor(sqrt(col("n_tokens"))).cast("long"))
      val wAll = Window.partitionBy(lit(1))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      perSrc
        .withColumn("tot_w", sum(col("weight")).over(wAll))
        .withColumn("tot_n", sum(col("n_tokens")).over(wAll))
        .withColumn("share_ppm",
          expr("weight * 1000000 div tot_w"))
        .withColumn("draw_tokens", expr(
          "cast(cast(tot_n as decimal(38,0)) * weight div cast(tot_w as decimal(38,0)) as bigint)"))
        .withColumn("oversample_ppm", expr(
          "cast(cast(draw_tokens as decimal(38,0)) * 1000000 div cast(n_tokens as decimal(38,0)) as bigint)"))
        .select(col("source"), col("n_tokens"), col("weight"),
          col("share_ppm"), col("draw_tokens"), col("oversample_ppm"))
        .orderBy("source")
    },
    Some(raw"""
      WITH perSrc AS (
        SELECT source,
               CAST(SUM(len(string_split_regex(text, '\s+'))) AS BIGINT)
                 AS n_tokens
        FROM documents GROUP BY source),
      w AS (
        SELECT source, n_tokens,
               CAST(FLOOR(SQRT(n_tokens)) AS BIGINT) AS weight
        FROM perSrc),
      t AS (
        SELECT source, n_tokens, weight,
               CAST(SUM(weight) OVER () AS BIGINT) AS tot_w,
               CAST(SUM(n_tokens) OVER () AS BIGINT) AS tot_n
        FROM w),
      d AS (
        SELECT source, n_tokens, weight,
               weight * 1000000 // tot_w AS share_ppm,
               CAST(CAST(tot_n AS HUGEINT) * weight // CAST(tot_w AS HUGEINT)
                 AS BIGINT) AS draw_tokens
        FROM t)
      SELECT source, n_tokens, weight, share_ppm, draw_tokens,
             CAST(CAST(draw_tokens AS HUGEINT) * 1000000
                  // CAST(n_tokens AS HUGEINT) AS BIGINT) AS oversample_ppm
      FROM d ORDER BY source""")
  )

  /** Cluster-atomic train/val/test split — the near-dup-leakage-free
    * split discipline: documents are grouped by their NORMALIZED-text
    * digest (q95's cluster key), and the whole cluster is assigned to
    * one split by a deterministic ppm bucket of the cluster id (1% val,
    * 1% test by bucket), so two near-identical documents can never land
    * on opposite sides of the train/eval boundary — the structural
    * guarantee q115 audits after the fact, enforced at assignment time.
    * Output is the split datasheet: clusters, docs, tokens, and the
    * realized token share (×1e6) per split — the deviation from the
    * 10000/10000 ppm targets is the honest cost of cluster atomicity.
    *
    * Scale shape: one projection (digest + ppm bucket, both map-side),
    * one 3-group aggregate with map-side combine (COUNT DISTINCT over
    * cluster digests is the only shuffle, keyed by 32-byte hashes), a
    * 1-row broadcast total; the ×1e6 share rides DECIMAL(38,0) so
    * corpus-scale token counts cannot overflow under ANSI mode. */
  val q163 = Q(
    "q163_cluster_split",
    (s, dir) => {
      val norm = trim(regexp_replace(regexp_replace(regexp_replace(
        lower(col("text")),
        "[0-9]", "0"),
        "[^a-z0 ]", " "),
        " +", " "))
      val h = documents(s, dir).select(col("doc_id"),
        size(split(col("text"), "\\s+")).cast("long").as("n_tok"),
        md5(norm).as("cl"))
      val bucket = conv(substring(col("cl"), 1, 12), 16, 10)
        .cast("long") % 1000000L
      val tot = h.agg(sum(col("n_tok")).as("t_all"))
      h.withColumn("split",
          when(bucket < 10000L, "val")
            .when(bucket < 20000L, "test")
            .otherwise("train"))
        .groupBy("split")
        .agg(countDistinct(col("cl")).as("n_clusters"),
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"))
        .crossJoin(broadcast(tot))
        .select(col("split"), col("n_clusters"), col("n_docs"),
          col("n_tokens"),
          expr("""cast(cast(n_tokens as decimal(38,0)) * 1000000 div t_all
                  as bigint)""").as("tok_ppm"))
        .orderBy("split")
    },
    Some(raw"""
      WITH h AS (
        SELECT doc_id, len(string_split_regex(text, '\s+')) AS n_tok,
               md5(trim(regexp_replace(regexp_replace(regexp_replace(
                 lower(text),
                 '[0-9]', '0', 'g'),
                 '[^a-z0 ]', ' ', 'g'),
                 ' +', ' ', 'g'))) AS cl
        FROM documents),
      b AS (
        SELECT cl, n_tok,
               CASE WHEN CAST('0x' || substr(cl, 1, 12) AS BIGINT) % 1000000
                      < 10000 THEN 'val'
                    WHEN CAST('0x' || substr(cl, 1, 12) AS BIGINT) % 1000000
                      < 20000 THEN 'test'
                    ELSE 'train' END AS split
        FROM h),
      t AS (SELECT CAST(SUM(n_tok) AS BIGINT) AS t_all FROM h)
      SELECT split, CAST(COUNT(DISTINCT cl) AS BIGINT) AS n_clusters,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
             CAST(CAST(SUM(n_tok) AS HUGEINT) * 1000000 // t_all AS BIGINT)
               AS tok_ppm
      FROM b, t GROUP BY split, t_all ORDER BY split""")
  )

  /** Quality-filter ensemble yield — the rules-ensemble knob every
    * Gopher/FineWeb-style pipeline tunes: three cheap per-document
    * signals (length ≥ 30 tokens; lexical diversity — distinct words ≥
    * half the tokens; stopword ratio ≥ 4%) combined under three
    * policies (strict = all 3, majority ≥ 2, lenient ≥ 1), with
    * docs/tokens retained and the doc-retention ppm PER SOURCE — the
    * table that shows which sources a stricter ensemble starves before
    * anyone commits to a policy. The report covers the FULL source ×
    * policy grid: a source every doc of which fails a policy still gets
    * its row, with zeros — the fully-starved source is exactly the row
    * the table exists to show. All three signals are integer
    * comparisons (count×k vs count — no float thresholds), so the sweep
    * is engine-exact.
    *
    * Scale shape: one map-side projection computes all three signals
    * (array ops on the token vector, no shuffle) and is `materialized`
    * so the per-source totals and the policy aggregate both read the cut
    * instead of re-scanning the corpus; then a ×3 literal policy
    * explode, one (source × policy)-keyed aggregate with map-side
    * combine, and a broadcast left join of that (≤ sources×3)-row
    * aggregate onto the grid; ppm rides DECIMAL(38,0). */
  val q169 = Q(
    "q169_filter_ensemble",
    (s, dir) => {
      val stop = array(Seq("a", "the", "of", "to", "and").map(lit): _*)
      val sig = documents(s, dir)
        .select(col("doc_id"), col("source"),
          split(col("text"), "\\s+").as("w"))
        .select(col("doc_id"), col("source"),
          size(col("w")).cast("long").as("n_tok"),
          size(array_distinct(col("w"))).cast("long").as("n_dis"),
          size(filter(col("w"), x => array_contains(stop, x)))
            .cast("long").as("n_stop"))
        .select(col("source"), col("n_tok"),
          ((col("n_tok") >= 30L).cast("int") +
            (col("n_dis") * 2 >= col("n_tok")).cast("int") +
            (col("n_stop") * 100 >= col("n_tok") * 4).cast("int"))
            .as("votes"))
        .materialized
      val grid = sig.groupBy("source")
        .agg(count(lit(1)).as("src_docs"))
        .select(col("source"), col("src_docs"),
          explode(array(lit(3), lit(2), lit(1))).as("need"))
      val kept = sig
        .select(col("source"), col("n_tok"), col("votes"),
          explode(array(lit(3), lit(2), lit(1))).as("need"))
        .filter(col("votes") >= col("need"))
        .groupBy("source", "need")
        .agg(count(lit(1)).as("n_docs_kept"),
          sum(col("n_tok")).as("n_tokens_kept"))
      grid.join(broadcast(kept), Seq("source", "need"), "left")
        .select(col("source"),
          when(col("need") === 3, "strict")
            .when(col("need") === 2, "majority")
            .otherwise("lenient").as("policy"),
          coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
          coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"),
          expr("""cast(cast(coalesce(n_docs_kept, 0) as decimal(38,0))
                  * 1000000 div src_docs as bigint)""").as("keep_ppm"))
        .orderBy("source", "policy")
    },
    Some(raw"""
      WITH sig AS MATERIALIZED (
        SELECT source, len(w) AS n_tok,
               CAST(len(w) >= 30 AS INT)
               + CAST(len(list_distinct(w)) * 2 >= len(w) AS INT)
               + CAST(len(list_filter(w,
                   x -> x IN ('a','the','of','to','and'))) * 100
                   >= len(w) * 4 AS INT) AS votes
        FROM (SELECT source, string_split_regex(text, '\s+') AS w
              FROM documents)),
      pol AS (SELECT unnest([3, 2, 1]) AS need),
      grid AS (
        SELECT source, COUNT(*) AS src_docs, need
        FROM sig, pol GROUP BY source, need),
      kept AS (
        SELECT source, need,
               CAST(COUNT(*) AS BIGINT) AS n_docs_kept,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens_kept
        FROM sig, pol WHERE votes >= need GROUP BY source, need)
      SELECT grid.source,
             CASE grid.need WHEN 3 THEN 'strict' WHEN 2 THEN 'majority'
                       ELSE 'lenient' END AS policy,
             COALESCE(n_docs_kept, 0) AS n_docs_kept,
             COALESCE(n_tokens_kept, 0) AS n_tokens_kept,
             CAST(CAST(COALESCE(n_docs_kept, 0) AS HUGEINT) * 1000000
               // src_docs AS BIGINT) AS keep_ppm
      FROM grid LEFT JOIN kept
        ON grid.source = kept.source AND grid.need = kept.need
      ORDER BY grid.source, policy""")
  )

  /** Interpolated Kneser–Ney bigram scoring — q53's count-ratio LM
    * upgraded to the smoothing CCNet actually deploys for its quality
    * signal (Heafield's KenLM lineage; Kneser & Ney 1995, Chen & Goodman
    * 1998). Absolute discount D = 3/4 as an EXACT rational, so the whole
    * model is integer arithmetic and hash-identical cross-engine (a libm
    * `log`/float discount would not be):
    *
    *   P_KN(w|v) = max(c(vw) − D, 0)/c(v·) + D·N1+(v·)/c(v·) · P_cont(w)
    *   P_cont(w) = N1+(·w)/N1+(··)
    *
    * over the common denominator 4·c(v·)·N1+(··):
    *
    *   p9 = (1e9 · (max(4·c(vw)−3, 0)·N11 + 3·N1+(v·)·N1+(·w)))
    *        div (4·c(v·)·N11)
    *
    * — the numerator reaches ~1e25 at large SF, so the product rides
    * DECIMAL(38,0) (Spark) / HUGEINT (DuckDB); the quotient is ≤ 1e9 and
    * lands back in BIGINT. Per document: bigram count, the summed scaled
    * probability mass, and its mean — the per-doc fluency score a KN-LM
    * filter thresholds on.
    *
    * Scale shape (q53's argument): bigrams explode once map-side; the
    * THREE count models are wordcount-shaped aggregates (bigram-type-,
    * context-, and continuation-vocabulary-sized after combine); N11 is
    * a 1-row broadcast; scoring re-joins on the bigram/word keys — AQE
    * broadcasts the model tables while they fit, shuffles when they
    * don't; the per-doc mean is one doc-keyed aggregate with map-side
    * combine. */
  val q180 = Q(
    "q180_kneser_ney",
    (s, dir) => {
      val toks = documents(s, dir)
        .select(col("doc_id"), split(col("text"), "\\s+").as("w"))
      val bigrams = toks
        .select(col("doc_id"),
          explode(sequence(lit(1), greatest(size(col("w")) - 1, lit(1))))
            .as("i"),
          col("w"))
        .select(col("doc_id"),
          try_element_at(col("w"), col("i")).as("w1"),
          try_element_at(col("w"), col("i") + 1).as("w2"))
        .filter(col("w2").isNotNull)
      val cbg = bigrams.groupBy("w1", "w2").agg(count(lit(1)).as("c_bg"))
      val cw = bigrams.groupBy("w1")
        .agg(count(lit(1)).as("c_w1"), countDistinct(col("w2")).as("nv"))
      val nwT = bigrams.groupBy("w2").agg(countDistinct(col("w1")).as("nw"))
      val n11 = cbg.agg(count(lit(1)).as("n11"))
      bigrams
        .join(cbg, Seq("w1", "w2"))
        .join(cw, Seq("w1"))
        .join(nwT, Seq("w2"))
        .crossJoin(broadcast(n11))
        .select(col("doc_id"),
          expr("""CAST(
              (CAST(1000000000 AS DECIMAL(38,0)) *
               (greatest(4 * c_bg - 3, 0) * n11 + 3 * nv * nw))
              div (CAST(4 AS DECIMAL(38,0)) * c_w1 * n11) AS BIGINT)""")
            .as("p9"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          sum(col("p9")).cast("long").as("kn_sum"))
        .withColumn("avg_p9",
          col("kn_sum").cast("double") / col("n_bigrams"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (
        SELECT doc_id, string_split_regex(text, '\s+') AS w FROM documents),
      bg AS (
        SELECT doc_id, w[i] AS w1, w[i + 1] AS w2
        FROM (SELECT doc_id, w,
                     unnest(range(1, greatest(len(w) - 1, 1) + 1)) AS i
              FROM w)
        WHERE w[i + 1] IS NOT NULL),
      cbg AS (SELECT w1, w2, COUNT(*) AS c_bg FROM bg GROUP BY w1, w2),
      cw AS (SELECT w1, COUNT(*) AS c_w1, COUNT(DISTINCT w2) AS nv
             FROM bg GROUP BY w1),
      nw AS (SELECT w2, COUNT(DISTINCT w1) AS nw FROM bg GROUP BY w2),
      n11 AS (SELECT COUNT(*) AS n11 FROM cbg),
      scored AS (
        SELECT doc_id,
               CAST((1000000000::HUGEINT *
                     (greatest(4 * c_bg - 3, 0)::HUGEINT * n11
                      + 3::HUGEINT * nv * nw))
                    // (4::HUGEINT * c_w1 * n11) AS BIGINT) AS p9
        FROM bg JOIN cbg USING (w1, w2) JOIN cw USING (w1)
                JOIN nw USING (w2) CROSS JOIN n11)
      SELECT doc_id, COUNT(*) AS n_bigrams,
             CAST(SUM(p9) AS BIGINT) AS kn_sum,
             CAST(SUM(p9) AS DOUBLE) / COUNT(*) AS avg_p9
      FROM scored GROUP BY doc_id ORDER BY doc_id""")
  )

  /** Naive-Bayes language classifier, TRAINED relationally — the
    * count-based classifier family (fastText/CCNet-style quality and
    * language gates) next to q54's apply-only hash classifier and q31's
    * heuristic lang-id: even doc_ids train, odd doc_ids score. Costs are
    * q178's bitlen-quantized integer negative log-likelihoods, so both
    * engines derive identical scores from identical integer ratios:
    *
    *   cost(c,w)  = len(bin((tot_c + V) div (cnt_cw + 1))) + 1  (Laplace)
    *   defc(c)    = len(bin(tot_c + V)) + 1                     (unseen w)
    *   prior(c)   = len(bin((N + K) div (n_c + 1))) + 1
    *   score(d,c) = prior(c) + Σ_{w ∈ d} cost(c,w);  pred = argmin(score, c)
    *
    * Scale shape: the model is wordcount-shaped (vocab × K classes after
    * map-side combine); scoring fans each test token over the K-row class
    * panel (explicit broadcast) and equi-joins the model on (cls, token) —
    * AQE broadcasts it while it fits, shuffles when it doesn't; the
    * per-(doc, class) sum is one map-side-combined aggregate and the
    * argmin one per-doc window. Nothing driver-side scales with the
    * corpus. */
  val q181 = Q(
    "q181_nb_langid",
    (s, dir) => {
      val docs = documents(s, dir)
      val toks = docs
        .select(col("doc_id"), col("lang"),
          explode(split(col("text"), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
      val train = toks.filter(col("doc_id") % 2 === 0)
      val test = toks.filter(col("doc_id") % 2 === 1).select("doc_id", "token")
      val cnt = train.groupBy(col("lang").as("cls"), col("token"))
        .agg(count(lit(1)).as("cnt"))
      val tot = cnt.groupBy("cls").agg(sum(col("cnt")).as("tot"))
      val vocab = cnt.select("token").distinct().agg(count(lit(1)).as("v"))
      val classDocs = docs.filter(col("doc_id") % 2 === 0)
        .groupBy(col("lang").as("cls")).agg(count(lit(1)).as("nc"))
      val nk = classDocs.agg(sum(col("nc")).as("n"), count(lit(1)).as("k"))
      val panel = tot.join(classDocs, "cls")
        .crossJoin(broadcast(vocab)).crossJoin(broadcast(nk))
        .select(col("cls"),
          expr("cast(length(bin(tot + v)) + 1 as bigint)").as("cost_def"),
          expr("cast(length(bin((n + k) div (nc + 1))) + 1 as bigint)")
            .as("prior"))
      val model = cnt.join(tot, "cls").crossJoin(broadcast(vocab))
        .select(col("cls"), col("token"),
          expr("cast(length(bin((tot + v) div (cnt + 1))) + 1 as bigint)")
            .as("cost"))
      test
        .crossJoin(broadcast(panel))
        .join(model, Seq("cls", "token"), "left")
        .select(col("doc_id"), col("cls"), col("prior"),
          coalesce(col("cost"), col("cost_def")).as("tc"))
        .groupBy("doc_id", "cls")
        .agg((sum(col("tc")) + max(col("prior"))).as("score"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("score"), col("cls"))))
        .filter(col("rk") === 1)
        .join(docs.select(col("doc_id"), col("lang").as("actual_lang")),
          "doc_id")
        .select(col("doc_id"), col("actual_lang"),
          col("cls").as("pred_lang"), col("score"))
        .orderBy("doc_id")
    },
    Some(raw"""
      WITH toks AS (
        SELECT doc_id, lang,
               unnest(string_split_regex(text, '\s+')) AS token
        FROM documents),
      t2 AS (SELECT * FROM toks WHERE length(token) > 0),
      train AS (SELECT * FROM t2 WHERE doc_id % 2 = 0),
      test AS (SELECT doc_id, token FROM t2 WHERE doc_id % 2 = 1),
      cnt AS (SELECT lang AS cls, token, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM train GROUP BY 1, 2),
      tot AS (SELECT cls, CAST(SUM(cnt) AS BIGINT) AS tot FROM cnt
              GROUP BY cls),
      vocab AS (SELECT CAST(COUNT(DISTINCT token) AS BIGINT) AS v FROM cnt),
      cd AS (SELECT lang AS cls, CAST(COUNT(*) AS BIGINT) AS nc
             FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
      nk AS (SELECT CAST(SUM(nc) AS BIGINT) AS n,
                    CAST(COUNT(*) AS BIGINT) AS k FROM cd),
      panel AS (
        SELECT cls, CAST(length(bin(tot + v)) + 1 AS BIGINT) AS cost_def,
               CAST(length(bin((n + k) // (nc + 1))) + 1 AS BIGINT) AS prior
        FROM tot JOIN cd USING (cls) CROSS JOIN vocab CROSS JOIN nk),
      model AS (
        SELECT cls, token,
               CAST(length(bin((tot + v) // (cnt + 1))) + 1 AS BIGINT) AS cost
        FROM cnt JOIN tot USING (cls) CROSS JOIN vocab),
      scored AS (
        SELECT t.doc_id, s.cls, s.prior,
               COALESCE(m.cost, s.cost_def) AS tc
        FROM test t CROSS JOIN panel s
        LEFT JOIN model m ON m.cls = s.cls AND m.token = t.token),
      agg AS (
        SELECT doc_id, cls, CAST(SUM(tc) + MAX(prior) AS BIGINT) AS score
        FROM scored GROUP BY doc_id, cls),
      ranked AS (
        SELECT doc_id, cls, score,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY score, cls) AS rk
        FROM agg)
      SELECT r.doc_id, d.lang AS actual_lang, r.cls AS pred_lang, r.score
      FROM ranked r JOIN documents d USING (doc_id)
      WHERE r.rk = 1
      ORDER BY r.doc_id""")
  )

  val all: Seq[Q] = Seq(q33, q34, q35, q37, q46, q53, q54, q55, q56, q57,
    q65, q66, q67, q69, q72, q83, q86, q96, q104, q108, q116, q117, q121,
    q131, q137, q139, q142, q145, q146, q148, q149, q151, q163, q169, q180,
    q181)
}
