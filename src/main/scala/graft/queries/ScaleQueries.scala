package graft.queries

import graft.functions.SplitMix64.{Mask29, P61, mix64}
import graft.operators.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** Scale-technique suite — the operators a 100 TB training-data pipeline
  * leans on once the naive relational shape stops fitting the cluster:
  *
  *   - q60 broadcast-Bloom decontamination pre-filter (the streaming/scale
  *     path in front of q38's exact shingle anti-join),
  *   - q61 salted skew join (explicit hot-key splitting — the join twin of
  *     q37's salted aggregation),
  *   - q62 time-series gap fill + forward fill (grid densification without
  *     ever shuffling more than one user's timeline to one place),
  *   - q63 count-min sketch frequency estimation (fixed-size mergeable
  *     state vs an unbounded vocabulary),
  *   - q64 Z-order clustering key (space-filling-curve layout for
  *     two-dimensional parquet min/max data skipping).
  *
  * Every hash here derives from `md5` (bit-identical in Spark and DuckDB;
  * the q22 lesson), every aggregate is integer or exact-decimal, so each
  * query is fully oracle-checked — including the sketch, whose counters are
  * deterministic given the hash family.
  */
object ScaleQueries {

  // ---- shared md5-derived hash machinery (same family as DedupQueries) ----

  /** Two 32-bit halves of the first 16 md5 hex chars of an md5 hex string
    * column (cross-engine base hash). */
  private def hexHalves(h: Column): (Column, Column) =
    (conv(substring(h, 1, 8), 16, 10).cast("long"),
      conv(substring(h, 9, 8), 16, 10).cast("long"))

  private def sqlList(xs: Seq[Long]): String = xs.mkString("[", ",", "]")

  // ---- q60: broadcast-Bloom decontamination pre-filter -------------------

  /** Bloom geometry: 128 words × 32 usable bits = 4096 bits, k = 2 probes
    * (the two md5 halves). 32-bit masks keep `1 << bit` positive, which
    * matters because DuckDB's BIGINT shift overflow THROWS at bit 63 while
    * Java wraps — 0..31 is the shared safe range. */
  private[graft] val BloomBits = 4096L
  private[graft] val WordBits = 32L

  /** Benchmark-contamination **pre-filter** with a tiny broadcast Bloom
    * filter — the scale path in front of q38's exact digest join. q38
    * shuffles every training shingle digest into a join against the
    * held-out set; at 100 TB that is a full corpus-wide exchange just to
    * discover that ~99% of shingles hit nothing. The Bloom build side here
    * is a FIXED 128-row (word, bits) table regardless of corpus size —
    * it broadcasts at any scale, membership tests run map-side inside the
    * scan stage, and only the flagged remainder would ever proceed to the
    * exact verification join. False positives (reported as an upper-bound
    * flag count) are the documented price; false negatives are impossible,
    * which is the direction decontamination cares about.
    *
    * The oracle replays the identical bit arithmetic in DuckDB: positions
    * are md5 halves mod 4096, the filter is `bit_or` of 32-bit masks
    * grouped by word index, membership = both probe bits set. */
  /** Distinct (doc_id, word0, mask0, word1, mask1) probe table of every
    * 8-word shingle — both probe positions stay COLUMNS (no explode), so
    * membership downstream is two broadcast joins + a row-level
    * conjunction with zero shuffles after the digest distinct. The
    * shingle front end is q38's own helper (DedupQueries.shingles), so
    * the Bloom-dominates-exact property test compares like with like by
    * construction. */
  private[graft] def bloomProbes(docs: DataFrame): DataFrame = {
    // Digest distinct on (h1, h2) longs (DedupQueries.shingleDigests —
    // bijective with the hex string, half the dedup-exchange bytes); the
    // probe halves come from h1 via the documented hex↔long identity
    // (GraftFunctions.halves64: hex chars 1-8 = high word, 9-16 = low
    // word), so pos0/pos1 are bit-identical to the conv/substring form
    // the oracle still uses.
    val (lo, hi) = graft.functions.GraftFunctions.halves64(col("h1"))
    DedupQueries.shingleDigests(docs, nWords = 8)
      .select(col("doc_id"),
        (lo % BloomBits).as("pos0"), (hi % BloomBits).as("pos1"))
      .select(col("doc_id"),
        expr(s"pos0 div $WordBits").as("word0"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos0 % $WordBits AS INT))").as("mask0"),
        expr(s"pos1 div $WordBits").as("word1"),
        expr(s"shiftleft(CAST(1 AS BIGINT), CAST(pos1 % $WordBits AS INT))").as("mask1"))
  }

  /** Fold a probe table into the ≤128-row (word, bits) filter — the
    * PERSISTABLE artifact: write it once per benchmark corpus, load it in
    * any later job or stream (BloomReuseSpec proves the round trip). */
  private[graft] def bloomBuild(probes: DataFrame): DataFrame =
    probes.select(col("word0").as("word"), col("mask0").as("mask"))
      .unionAll(probes.select(col("word1").as("word"), col("mask1").as("mask")))
      .groupBy("word").agg(bit_or(col("mask")).as("bits"))

  /** Per-doc membership stats of `probes` against a built filter. The
    * filter is ≤128 rows at ANY corpus size — AQE broadcasts both joins;
    * the probe side never shuffles for the membership test itself. */
  private[graft] def bloomApply(probes: DataFrame, bloom: DataFrame): DataFrame = {
    val b0 = bloom.select(col("word").as("word0"), col("bits").as("bits0"))
    val b1 = bloom.select(col("word").as("word1"), col("bits").as("bits1"))
    probes
      .join(b0, Seq("word0"), "left")
      .join(b1, Seq("word1"), "left")
      .withColumn("flagged",
        col("bits0").isNotNull && col("bits1").isNotNull &&
          (col("bits0").bitwiseAND(col("mask0")) === col("mask0")) &&
          (col("bits1").bitwiseAND(col("mask1")) === col("mask1")))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("flagged"), 1L).otherwise(0L)).cast("long").as("n_flagged"))
      .withColumn("flag_frac",
        col("n_flagged").cast("double") / col("n_grams"))
  }

  val q60 = Q(
    "q60_bloom_prefilter",
    (s, dir) => {
      val probes = bloomProbes(documents(s, dir))
        .materialized // two consumers: bloom build + training probe
      val bloom = bloomBuild(probes.filter(col("doc_id") % 101 === 0))
      bloomApply(probes.filter(col("doc_id") % 101 =!= 0), bloom)
        .orderBy("doc_id")
    },
    Some(s"""
      WITH words AS (
        SELECT doc_id, string_split_regex(text, '\\s+') AS w FROM documents),
      idx AS (
        SELECT doc_id, w, unnest(range(1, greatest(len(w) - 7, 1) + 1)) AS i
        FROM words),
      sh8 AS (
        SELECT DISTINCT doc_id, md5(array_to_string(w[i:i+7], ' ')) AS h
        FROM idx),
      pos AS (
        SELECT doc_id, h,
               CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % $BloomBits AS pos
        FROM sh8
        UNION ALL
        SELECT doc_id, h,
               CAST(('0x' || substr(h, 9, 8)) AS BIGINT) % $BloomBits
        FROM sh8),
      pw AS (
        SELECT doc_id, h, pos // $WordBits AS word,
               (CAST(1 AS BIGINT) << CAST(pos % $WordBits AS INT)) AS mask
        FROM pos),
      bloom AS (
        SELECT word, bit_or(mask) AS bits FROM pw
        WHERE doc_id % 101 = 0 GROUP BY word),
      flagged AS (
        SELECT doc_id, h FROM pw JOIN bloom USING (word)
        WHERE doc_id % 101 <> 0 AND (bits & mask) = mask
        GROUP BY doc_id, h HAVING COUNT(*) = 2),
      flags AS (
        SELECT doc_id, COUNT(*) AS n_flagged FROM flagged GROUP BY doc_id),
      totals AS (
        SELECT doc_id, COUNT(*) AS n_grams FROM sh8
        WHERE doc_id % 101 <> 0 GROUP BY doc_id)
      SELECT doc_id, n_grams, COALESCE(n_flagged, 0) AS n_flagged,
             CAST(COALESCE(n_flagged, 0) AS DOUBLE) / n_grams AS flag_frac
      FROM totals LEFT JOIN flags USING (doc_id)
      ORDER BY doc_id""")
  )

  // ---- q61: salted skew join ---------------------------------------------

  private val JoinSalt = 8

  /** Explicit hot-key-split (salted) join — the join twin of q37's salted
    * aggregation. A hash join on a skewed key sends every row of the hot
    * key to ONE reducer; AQE's skew handling splits sort-merge partitions
    * after the fact, but the explicit form works for any join it applies
    * to (including streaming and custom operators) and bounds the skew
    * BEFORE the first shuffle: the probe side (lineitem) salts each row
    * deterministically into one of 8 sub-keys, the build side (orders)
    * replicates each row 8× via explode, and the join key becomes
    * (orderkey, salt) — a hot orderkey now lands on 8 reducers instead of
    * one, at the fixed cost of an 8× fan-out of the (narrow) build side.
    *
    * The salt must never change the RESULT, only the partitioning — which
    * is exactly what the oracle checks: DuckDB computes the plain unsalted
    * join and the hashes must match. Revenue stays in exact decimal so
    * regrouping cannot move a bit. */
  val q61 = Q(
    "q61_salted_join",
    (s, dir) => {
      val oi = orders(s, dir)
        .select(col("o_orderkey"), col("o_orderpriority"))
        .withColumn("salt", explode(sequence(lit(0), lit(JoinSalt - 1))))
      val li = lineitem(s, dir)
        .filter(col("l_quantity") >= 30)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice"), col("l_discount"))
        .withColumn("salt",
          pmod(crc32(concat_ws("#", col("l_orderkey"), col("l_linenumber"))),
            lit(JoinSalt)).cast("int"))
      li.join(oi,
          li("l_orderkey") === oi("o_orderkey") && li("salt") === oi("salt"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          round(sum(revenueTerm(col("l_extendedprice"), col("l_discount"))), 2)
            .cast("double").as("revenue"))
        .orderBy("o_orderpriority")
    },
    Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_items,
             CAST(ROUND(SUM(${revenueTermSql("l_extendedprice", "l_discount")}), 2) AS DOUBLE) AS revenue
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      WHERE l_quantity >= 30
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")
  )

  // ---- q62: time-series gap fill + forward fill ---------------------------

  /** Hourly gap fill + forward fill over the event stream (the resampling
    * step in front of any time-series feature pipeline). Per user: build
    * the dense hourly grid between their first and last event (sequence +
    * explode — generated, never shuffled), left-join the observed hourly
    * aggregate, and carry the last observed value forward with
    * `last(ignoreNulls) OVER (user, hour ROWS UNBOUNDED PRECEDING)`.
    *
    * Scale shape: everything is keyed by user_id — ONE hash exchange, then
    * grid generation, the grid join, and the fill window all run inside
    * that partitioning; no shuffle ever carries more than (user, hour,
    * agg) rows. Hot users densify to ≤ span-hours rows, independent of
    * their event count. The hourly aggregate is max(value) — order-
    * independent and bit-exact cross-engine, unlike a double sum/avg.
    * The user_id % 11 slice keeps the verified output grid-sized. */
  val q62 = Q(
    "q62_gap_fill",
    (s, dir) => {
      val ev = events(s, dir).filter(col("user_id") % 11 === 0)
      // ONE scan of events: the hourly aggregate is checkpointed (it is
      // span-hours × users small) and the grid extent derives from it —
      // min/max of truncated hours equal the truncated min/max timestamps.
      val hourly = ev
        .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n_events"), max(col("value")).as("v"))
        .materialized // two consumers: grid extent + grid join
      val grid = hourly.groupBy("user_id")
        .agg(min(col("hour")).as("h0"), max(col("hour")).as("h1"))
        .select(col("user_id"),
          explode(expr("sequence(h0, h1, interval 1 hour)")).as("hour"))
      val w = Window.partitionBy("user_id").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      grid.join(hourly, Seq("user_id", "hour"), "left")
        .select(col("user_id"), col("hour"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          last(col("v"), ignoreNulls = true).over(w).as("v_filled"))
        .orderBy("user_id", "hour")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
        FROM events WHERE user_id % 11 = 0),
      hourly AS (
        SELECT user_id, date_trunc('hour', ts) AS hour,
               COUNT(*) AS n_events, MAX(value) AS v
        FROM ev GROUP BY user_id, date_trunc('hour', ts)),
      grid AS (
        SELECT user_id,
               unnest(generate_series(date_trunc('hour', MIN(ts)),
                                      date_trunc('hour', MAX(ts)),
                                      INTERVAL 1 HOUR)) AS hour
        FROM ev GROUP BY user_id)
      SELECT g.user_id, g.hour,
             COALESCE(h.n_events, 0) AS n_events,
             last_value(h.v IGNORE NULLS) OVER (
               PARTITION BY g.user_id ORDER BY g.hour
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
      FROM grid g LEFT JOIN hourly h
        ON g.user_id = h.user_id AND g.hour = h.hour
      ORDER BY g.user_id, g.hour""")
  )

  // ---- q63: count-min sketch ----------------------------------------------

  private val CmDepth = 4
  private val CmWidth = 1024L
  private val CmA = IndexedSeq.tabulate(CmDepth)(i => (mix64(0xD0000L + i) & Mask29) | 1L)
  private val CmB = IndexedSeq.tabulate(CmDepth)(i => (mix64(0xE0000L + i) & Mask29) | 1L)
  private val CmC = IndexedSeq.tabulate(CmDepth)(i => mix64(0xF0000L + i) & Mask29)

  /** Sketch row r's bucket for an md5-halved value — THE count-min hash
    * family, in exactly one place: q63's counter build, q63's probes, and
    * the streaming sketch's cell stream all call this, so batch and stream
    * cannot drift apart (their counters must be EQUAL, not close). */
  private def cmBucket(r: Int, lo: Column, hi: Column): Column =
    ((lit(CmA(r)) * lo + lit(CmB(r)) * hi + lit(CmC(r))) % P61) % CmWidth

  /** All CmDepth (r, bucket) cells for the md5-prefix64 column `p`,
    * exploded — one row per (occurrence, sketch row). The halves come
    * from bit ops on the codegen'd [[graft.functions.Md5Prefix64]]
    * (bit-identical to the oracle's hex conv/substring form). */
  private def cmCellsOf(df: DataFrame, p: Column): DataFrame = {
    val (lo, hi) = graft.functions.GraftFunctions.halves64(p)
    df.select(df.columns.map(col) :+
      explode(array((0 until CmDepth).map { r =>
        struct(lit(r).as("r"), cmBucket(r, lo, hi).as("bucket"))
      }: _*)).as("rb"): _*)
      .withColumn("r", col("rb.r"))
      .withColumn("bucket", col("rb.bucket"))
      .drop("rb")
  }

  /** One (r, bucket) sketch cell per token occurrence — q63's update
    * stream, shared with [[graft.streaming.StreamingCountMin]]. */
  def cmCells(docs: DataFrame): DataFrame =
    cmCellsOf(
      docs.select(explode(split(col("text"), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
        .select(graft.functions.GraftFunctions.md5_prefix64(col("token")).as("p")),
      col("p")).select("r", "bucket")

  /** Count-min sketch over the token stream: 4 hash rows × 1024 counters
    * estimate any token's frequency with one-sided error (estimate ≥
    * truth). The sketch is the fixed-size, mergeable answer to "how often
    * does X occur" at 100 TB: exact per-token counts (q33) shuffle the
    * whole vocabulary — unbounded state — while the sketch is 4×1024 longs
    * no matter the corpus, merges by addition (partial aggregation,
    * streaming state, cross-shard union all work for free), and the update
    * is map-side arithmetic on the token's md5.
    *
    * Output: the top-20 exact tokens with their exact count next to the
    * sketch estimate. The hash family is md5-derived with plan-time
    * literal constants, so DuckDB rebuilds the identical counter table and
    * the oracle hash-checks estimates, not just shapes (the overestimate
    * is deterministic, not a tolerance band). */
  val q63 = Q(
    "q63_countmin",
    (s, dir) => {
      // Two passes over the corpus by DESIGN, not oversight: both consumers
      // (counter build, exact top-20) reduce the token stream to tiny
      // aggregates map-side, so re-scanning is strictly cheaper at corpus
      // scale than checkpointing the exploded token stream (which is wider
      // than the documents themselves).
      val tokens = documents(s, dir)
        .select(explode(split(col("text"), "\\s+")).as("token"))
        .filter(length(col("token")) > 0)
        .select(col("token"),
          graft.functions.GraftFunctions.md5_prefix64(col("token")).as("p"))
      val cm = cmCellsOf(tokens, col("p"))
        .groupBy("r", "bucket").agg(count(lit(1)).as("cnt"))
      val exact = tokens.groupBy("token").agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("token")).limit(20)
      val probes = cmCellsOf(
        exact.withColumn("p",
          graft.functions.GraftFunctions.md5_prefix64(col("token"))), col("p"))
        .select("token", "n_exact", "r", "bucket")
      probes.join(cm, Seq("r", "bucket"))
        .groupBy("token", "n_exact").agg(min(col("cnt")).as("cm_est"))
        .orderBy(col("n_exact").desc, col("token"))
    },
    Some(s"""
      WITH tokens AS (
        SELECT unnest(string_split_regex(text, '\\s+')) AS token
        FROM documents),
      tok AS (
        SELECT token, md5(token) AS h FROM tokens WHERE len(token) > 0),
      halves AS (
        SELECT token,
               CAST(('0x' || substr(h, 1, 8)) AS BIGINT) AS lo,
               CAST(('0x' || substr(h, 9, 8)) AS BIGINT) AS hi
        FROM tok),
      bucketed AS (
        SELECT token, r,
               (((${sqlList(CmA)}[r + 1] * lo + ${sqlList(CmB)}[r + 1] * hi
                  + ${sqlList(CmC)}[r + 1]) % $P61) % $CmWidth) AS bucket
        FROM halves, (SELECT unnest(range(0, $CmDepth)) AS r)),
      cm AS (
        SELECT r, bucket, COUNT(*) AS cnt FROM bucketed GROUP BY r, bucket),
      exact AS (
        SELECT token, COUNT(*) AS n_exact FROM tok GROUP BY token
        ORDER BY n_exact DESC, token LIMIT 20),
      probes AS (
        SELECT e.token, e.n_exact, b.r, b.bucket
        FROM exact e JOIN bucketed b ON e.token = b.token),
      est AS (
        SELECT token, n_exact, r, bucket FROM probes GROUP BY ALL)
      SELECT e.token, e.n_exact, MIN(cm.cnt) AS cm_est
      FROM est e JOIN cm ON e.r = cm.r AND e.bucket = cm.bucket
      GROUP BY e.token, e.n_exact
      ORDER BY e.n_exact DESC, e.token""")
  )

  // ---- q64: Z-order clustering key ----------------------------------------

  /** Interleave the low 16 bits of two non-negative columns into the 32-bit
    * Morton (Z-order) value: x bits at even positions, y at odd. Static
    * shifts/masks only — stays a single codegen'd projection. */
  def mortonZ(x16: Column, y16: Column): Column =
    (0 until 16).map { i =>
      shiftleft(shiftright(x16, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(y16, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Orders + observed extents → 16-bit scaled dims (x16, y16) and the
    * Morton z — the SAME projection q64 reports on and ZOrderLayoutSpec
    * writes with, so the layout proof always tests the key the query
    * computes. */
  def zOrderKey(o: DataFrame): DataFrame = {
    val ext = o.agg(
      min(col("o_custkey")).as("minc"), max(col("o_custkey")).as("maxc"),
      min(col("o_orderdate")).as("mind"), max(col("o_orderdate")).as("maxd"))
    o.crossJoin(ext)
      .withColumn("x16",
        expr("((o_custkey - minc) * 65535) div greatest(maxc - minc, 1)"))
      .withColumn("y16",
        expr("""(CAST(datediff(o_orderdate, mind) AS BIGINT) * 65535)
                div greatest(CAST(datediff(maxd, mind) AS BIGINT), 1)"""))
      .withColumn("z", mortonZ(col("x16"), col("y16")))
  }

  /** Z-order (Morton) clustering key over (o_custkey, o_orderdate) — the
    * space-filling-curve layout that makes parquet min/max stats skip on
    * TWO dimensions at once. Sorting 100 TB by custkey gives perfect
    * custkey pruning and zero date pruning; sorting by interleaved bits
    * gives ~√ pruning on both. The query computes the 32-bit z-value
    * (both dims scaled to 16 bits against their observed range, bits
    * interleaved with plan-time static shifts — pure codegen projection,
    * no shuffle), buckets by the top 6 bits, and reports each bucket's
    * extent in both dimensions: narrow extents = the layout a writer
    * would get from `repartitionByRange(z).sortWithinPartitions(z)`.
    * All arithmetic is integer (scale, shift, mask), so the oracle
    * recomputes the identical z-values in DuckDB. */
  val q64 = Q(
    "q64_zorder",
    (s, dir) => {
      zOrderKey(orders(s, dir))
        .withColumn("bucket", expr("z div 67108864")) // top 6 of 32 bits
        .groupBy("bucket")
        .agg(count(lit(1)).as("n_rows"),
          min(col("o_custkey")).as("min_cust"), max(col("o_custkey")).as("max_cust"),
          min(col("o_orderdate")).as("min_date"), max(col("o_orderdate")).as("max_date"))
        .orderBy("bucket")
    },
    Some {
      val zTerms = (0 until 16).map(i =>
        s"((((x16 >> $i) & 1) << ${2 * i}) + (((y16 >> $i) & 1) << ${2 * i + 1}))")
        .mkString(" + ")
      s"""
      WITH ext AS (
        SELECT MIN(o_custkey) AS minc, MAX(o_custkey) AS maxc,
               MIN(o_orderdate) AS mind, MAX(o_orderdate) AS maxd
        FROM orders),
      scaled AS (
        SELECT o_custkey, o_orderdate,
               ((o_custkey - minc) * 65535) // greatest(maxc - minc, 1) AS x16,
               (date_diff('day', CAST(mind AS DATE), CAST(o_orderdate AS DATE)) * 65535)
                 // greatest(date_diff('day', CAST(mind AS DATE), CAST(maxd AS DATE)), 1) AS y16
        FROM orders, ext),
      zed AS (
        SELECT o_custkey, o_orderdate, ($zTerms) AS z FROM scaled)
      SELECT z // 67108864 AS bucket, COUNT(*) AS n_rows,
             MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
             MIN(o_orderdate) AS min_date, MAX(o_orderdate) AS max_date
      FROM zed
      GROUP BY z // 67108864
      ORDER BY bucket"""
    }
  )

  // ---- q73: bounded-heap top-k aggregate ---------------------------------

  /** Top-3 orders per customer via [[graft.functions.TopKByKey]] — the
    * aggregate-shaped twin of q07's window composition, sharing its oracle.
    * q07's `row_number().over(partitionBy(cust))` shuffles and sorts the
    * ENTIRE orders table; this plan partial-aggregates a 48-byte heap per
    * customer map-side (ObjectHashAggregate), so the exchange carries at
    * most 3 (price, orderkey) pairs per customer per input split —
    * shuffle volume is O(k · groups · splits), independent of rows per
    * group. On a 1000-executor run against a hot-customer skew, the
    * window plan's skewed partition sorts the whole hot group; this one
    * never holds more than k entries for it anywhere.
    *
    * The payload here IS the (key, tie) pair, so no re-join is needed;
    * wider payloads re-join on the tie key at k·groups cardinality. */
  val q73 = Q(
    "q73_topk_agg",
    (s, dir) => {
      orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(graft.functions.TopKByKey
          .topkByKey(col("o_totalprice"), col("o_orderkey"), 3).as("tk"))
        .select(col("o_custkey"), posexplode(col("tk")))
        .select(col("o_custkey"),
          (col("pos") + 1).cast("int").as("rk"),
          col("col.tie").as("o_orderkey"),
          col("col.key").as("o_totalprice"))
        .orderBy("o_custkey", "rk")
    },
    Some("""
      SELECT o_custkey, rk, o_orderkey, o_totalprice
      FROM (SELECT o_custkey, o_orderkey, o_totalprice,
                   ROW_NUMBER() OVER (PARTITION BY o_custkey
                                      ORDER BY o_totalprice DESC, o_orderkey) AS rk
            FROM orders)
      WHERE rk <= 3
      ORDER BY o_custkey, rk""")
  )

  /** Deterministic systematic weighted sampling via a DISTRIBUTED
    * PREFIX-SUM — draw m = 1000 sample slots at positions j·W/m
    * (j = 0..m-1) over the doc_id-ordered cumulative weight line
    * (weight = n_chars, total = W); a doc whose weight interval
    * [cum−w, cum) covers k slots appears with multiplicity k. Exactly
    * proportional-to-weight, no RNG: the whole selection is integer
    * arithmetic, so the oracle checks it bit-for-bit, and the sample is
    * independent of partitioning and executor count.
    *
    * The global running sum is the scale problem: a single
    * `SUM OVER (ORDER BY doc_id)` window sorts the corpus into ONE
    * partition. Instead: shard by `doc_id div 8192` → per-shard totals
    * (tiny agg) → running offsets over the shard frame (a window over
    * n/8192 rows — recursively shardable if even that outgrows one
    * partition) → broadcast-join offsets back → per-shard window cumsum
    * (each partition sorts ≤ 8192 rows). Two corpus passes, no global
    * sort. Slot counting: slots below v = #{j : j·W < v·m} =
    * (v·m − 1) div W + 1 for v > 0 — multiplicity is the difference at
    * the interval's ends. */
  val q84 = Q(
    "q84_weighted_sample",
    (s, dir) => {
      val m = 1000L
      val docs = documents(s, dir)
        .select(col("doc_id"), col("n_chars").as("w"))
        .withColumn("shard", expr("doc_id div 8192"))
      val shardTotals = docs.groupBy("shard").agg(sum("w").as("shard_w"))
      val offsets = shardTotals
        .withColumn("off",
          coalesce(sum("shard_w").over(
            Window.orderBy("shard").rowsBetween(Window.unboundedPreceding, -1)),
            lit(0L)))
        .select("shard", "off")
      val total = docs.agg(sum("w").as("total_w"))
      val within = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // integer `div` keeps the slot arithmetic exact at any corpus size
      // (a double floor() would lose ULPs past 2^53)
      def slotsBelow(vSql: String): Column =
        expr(s"CASE WHEN $vSql <= 0 THEN CAST(0 AS BIGINT) " +
          s"ELSE ($vSql * $m - 1) div total_w + 1 END")
      docs
        .withColumn("cum_in", sum("w").over(within))
        .join(broadcast(offsets), Seq("shard"))
        .crossJoin(total)
        .withColumn("cum", col("off") + col("cum_in"))
        .withColumn("multiplicity",
          slotsBelow("cum") - slotsBelow("(cum - w)"))
        .filter(col("multiplicity") > 0)
        .select(col("doc_id"), col("w"), col("multiplicity"))
        .orderBy("doc_id")
    },
    Some("""
      WITH docs AS (
        SELECT doc_id, n_chars AS w,
               SUM(n_chars) OVER (ORDER BY doc_id
                                  ROWS UNBOUNDED PRECEDING)::BIGINT AS cum
        FROM documents),
      total AS (SELECT SUM(n_chars)::BIGINT AS total_w FROM documents),
      mult AS (
        SELECT doc_id, w,
               (CASE WHEN cum <= 0 THEN 0
                     ELSE (cum * 1000 - 1) // total_w + 1 END
                - CASE WHEN cum - w <= 0 THEN 0
                       ELSE ((cum - w) * 1000 - 1) // total_w + 1 END)::BIGINT
                 AS multiplicity
        FROM docs CROSS JOIN total)
      SELECT doc_id, w, multiplicity FROM mult
      WHERE multiplicity > 0 ORDER BY doc_id""")
  )

  /** Dataset snapshot diff — content-level change detection between two
    * corpus releases (dataset versioning: what a curation re-run touched).
    * The two snapshots are carved deterministically from `documents`:
    * "old" = doc_id % 7 ≠ 0; "new" = doc_id % 5 ≠ 0, with docs at
    * doc_id % 11 = 0 edited (uppercased) to simulate in-place changes.
    * Classification: `added` (new only), `removed` (old only), `changed`
    * (both, content hash differs); unchanged rows are dropped.
    *
    * Scale shape: each side is hashed MAP-SIDE before the join, so the
    * full-outer equi-join on doc_id shuffles (id, 32-byte digest) pairs,
    * never document bodies — the same narrow-key discipline as q20. */
  val q85 = Q(
    "q85_snapshot_diff",
    (s, dir) => {
      val docs = documents(s, dir)
      val old = docs.filter(col("doc_id") % 7 =!= 0)
        .select(col("doc_id").as("old_id"), md5(col("text")).as("old_h"))
      val neu = docs.filter(col("doc_id") % 5 =!= 0)
        .select(col("doc_id").as("new_id"),
          md5(when(col("doc_id") % 11 === 0, upper(col("text")))
            .otherwise(col("text"))).as("new_h"))
      old.join(neu, col("old_id") === col("new_id"), "full_outer")
        .withColumn("status",
          when(col("old_id").isNull, "added")
            .when(col("new_id").isNull, "removed")
            .when(col("old_h") =!= col("new_h"), "changed"))
        .filter(col("status").isNotNull)
        .select(coalesce(col("old_id"), col("new_id")).as("doc_id"), col("status"))
        .orderBy("doc_id")
    },
    Some("""
      WITH snap_old AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 <> 0),
      snap_new AS (
        SELECT doc_id,
               md5(CASE WHEN doc_id % 11 = 0 THEN upper(text) ELSE text END) AS h
        FROM documents WHERE doc_id % 5 <> 0)
      SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
             CASE WHEN a.doc_id IS NULL THEN 'added'
                  WHEN b.doc_id IS NULL THEN 'removed'
                  WHEN a.h <> b.h THEN 'changed' END AS status
      FROM snap_old a FULL OUTER JOIN snap_new b ON a.doc_id = b.doc_id
      WHERE CASE WHEN a.doc_id IS NULL THEN 'added'
                 WHEN b.doc_id IS NULL THEN 'removed'
                 WHEN a.h <> b.h THEN 'changed' END IS NOT NULL
      ORDER BY doc_id""")
  )

  /** Deterministic epoch shuffle + sharding — the step that turns a
    * curated corpus into TRAINING SHARDS: every document gets a
    * pseudo-random but fully deterministic position (shard, pos) for a
    * given epoch salt, so any worker can recompute the permutation
    * without a stored index, and re-runs/resumes read identical order.
    * Key = md5(doc_id ‖ epoch); shard = key mod 8; pos = rank within the
    * shard by (key, doc_id). Changing the salt re-deals the permutation.
    *
    * Scale shape — why this beats a global sort: a corpus-wide
    * ROW_NUMBER over the hash order needs a SINGLE-partition window
    * (every row through one task). Sharding first makes the window
    * PARTITIONED by shard — 8 (or 10⁴ at 100 TB) independent sort
    * groups, each shard-sized, exactly how shard files are written
    * anyway. The only shuffle is the hash partition on shard. */
  val q89 = Q(
    "q89_epoch_shard",
    (s, dir) => {
      val key = conv(substring(
        md5(concat(col("doc_id").cast("string"), lit(":epoch1"))), 1, 8),
        16, 10).cast("long")
      documents(s, dir)
        .select(col("doc_id"), key.as("k"))
        .withColumn("shard", col("k") % 8)
        .withColumn("pos", row_number().over(
          Window.partitionBy("shard").orderBy(col("k"), col("doc_id"))))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    },
    Some("""
      WITH keyed AS (
        SELECT doc_id,
               ('0x' || substr(md5(doc_id::VARCHAR || ':epoch1'), 1, 8))::BIGINT
                 AS k
        FROM documents)
      SELECT doc_id, k % 8 AS shard,
             ROW_NUMBER() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) AS pos
      FROM keyed
      ORDER BY shard, pos""")
  )

  /** EXACT global percentiles WITHOUT a global sort — distributed
    * selection by histogram refinement, the missing tier between q35
    * (per-group exact percentile: fine when groups are small) and q68
    * (log-histogram: mergeable but approximate). A global exact
    * percentile at 100 TB cannot sort (corpus-wide exchange) or run one
    * percentile aggregate (every value through one reducer). Selection by
    * counting needs neither:
    *
    *   pass 1 — min/max/count (scalar agg, no shuffle);
    *   pass 2 — 4096-bucket equi-width histogram (map-side combine, a
    *            4096-row exchange), collected to locate the bucket
    *            holding order statistic k and the count below it;
    *   pass 3 — per-value counts INSIDE that one bucket only (the
    *            filter prunes at the scan), cumulative-summed to the
    *            k-th value. The bucket's value spread is ≤ range/4096 —
    *            bounded by the DOMAIN, not the corpus, so the final
    *            window runs over a provably small frame.
    *
    * Three scans, kilobyte-scale shuffles, zero corpus-wide sorts. The
    * driver sees only the 4096-row histogram (corpus-size-independent,
    * same discipline as the k-means/IVF codebook syncs). Both the median
    * and p90 resolve from ONE shared histogram. Order statistics are
    * integer-defined (k = ⌈n/2⌉, ⌈9n/10⌉ on cent-quantized prices) so
    * both engines select the identical element — no interpolation. */
  val q99 = Q(
    "q99_exact_select",
    (s, dir) => {
      val cents = lineitem(s, dir)
        .select(round(col("l_extendedprice") * 100).cast("bigint").as("v"))
        .materialized // three passes share the quantized scan
      val Row3 = cents.agg(min("v"), max("v"), count(lit(1))).collect()(0)
      val (lo, hi, n) = (Row3.getLong(0), Row3.getLong(1), Row3.getLong(2))
      val width = math.max(1L, (hi - lo) / 4096L + 1L)
      val hist = cents
        .groupBy(((col("v") - lo) / width).cast("bigint").as("b"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      def bucketFor(k: Long): (Long, Long) = { // (bucket, count below it)
        var below = 0L
        hist.foreach { case (b, c) =>
          if (below + c >= k) return (b, below)
          below += c
        }
        (hist.last._1, below - hist.last._2)
      }
      def kth(k: Long): DataFrame = {
        val (b, below) = bucketFor(k)
        val bLo = lo + b * width
        val inBucket = cents.filter(col("v") >= bLo && col("v") < bLo + width)
          .groupBy("v").agg(count(lit(1)).as("c"))
        val w = Window.orderBy("v")
        inBucket
          .withColumn("cum", sum(col("c")).over(w))
          .filter(col("cum") >= (k - below))
          .orderBy("v").limit(1)
          .select(col("v"))
      }
      val kMed = (n + 1) / 2
      val kP90 = (9 * n + 9) / 10
      kth(kMed).select(col("v").as("median_cents"))
        .crossJoin(kth(kP90).select(col("v").as("p90_cents")))
        .crossJoin(cents.agg(count(lit(1)).as("n")))
        .select("n", "median_cents", "p90_cents")
    },
    Some("""
      WITH c AS (
        SELECT CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS v
        FROM lineitem),
      nn AS (SELECT COUNT(*) AS n FROM c),
      med AS (
        SELECT v FROM c ORDER BY v
        LIMIT 1 OFFSET (SELECT (n + 1) // 2 - 1 FROM nn)),
      p90 AS (
        SELECT v FROM c ORDER BY v
        LIMIT 1 OFFSET (SELECT (9 * n + 9) // 10 - 1 FROM nn))
      SELECT nn.n, med.v AS median_cents, p90.v AS p90_cents
      FROM nn, med, p90""")
  )

  /** Pre-join skew audit — the diagnostic a planner (or an engineer) runs
    * BEFORE committing to a join strategy at 100 TB: for an equi-join key,
    * compute each side's key-degree profile and from it the EXACT join
    * output cardinality (Σ dA(k)·dB(k)) without materializing a single
    * joined row, plus the heavy-hitter keys and a scaled skew factor
    * (max-degree-product over mean) that says whether q61's salting is
    * needed. Audited join: lineitem ⋈ lineitem on l_partkey (the
    * part-copurchase self-join — real degree variance).
    *
    * Scale shape: one partkey-keyed count aggregate (map-side combined,
    * output = #keys), one #keys-row aggregate for the totals, and a
    * top-10 TakeOrdered. The audited join itself — potentially 100×
    * larger than its inputs — never runs. */
  val q106 = Q(
    "q106_skew_audit",
    (s, dir) => {
      val deg = lineitem(s, dir).groupBy(col("l_partkey").as("k"))
        .agg(count(lit(1)).as("d"))
        .materialized // totals + top-10 both read it
      val totals = deg.agg(
        count(lit(1)).as("n_keys"),
        sum(col("d") * col("d")).cast("long").as("join_rows"),
        max(col("d") * col("d")).cast("long").as("max_pair"))
      deg
        .crossJoin(totals)
        .withColumn("skew_x1000",
          expr("max_pair * n_keys * 1000 div join_rows"))
        .orderBy(col("d").desc, col("k"))
        .limit(10)
        .select(col("k"), col("d"),
          (col("d") * col("d")).cast("long").as("pair_rows"),
          col("n_keys"), col("join_rows"), col("skew_x1000"))
    },
    Some("""
      WITH deg AS (
        SELECT l_partkey AS k, COUNT(*) AS d FROM lineitem GROUP BY 1),
      totals AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
               CAST(SUM(d * d) AS BIGINT) AS join_rows,
               CAST(MAX(d * d) AS BIGINT) AS max_pair
        FROM deg)
      SELECT k, d, CAST(d * d AS BIGINT) AS pair_rows,
             n_keys, join_rows,
             max_pair * n_keys * 1000 // join_rows AS skew_x1000
      FROM deg CROSS JOIN totals
      ORDER BY d DESC, k LIMIT 10""")
  )

  /** PageRank over the bipartite part ↔ supplier graph (undirected random
    * walk, damping 0.85, 5 rounds) — graph authority beyond q24/q90's
    * connected components: which parts/suppliers sit at the center of the
    * procurement network. ALL arithmetic is integer: total mass 10¹²,
    * per-round rank = (15·r0) div 100 + (85·Σ incoming r div deg) div 100
    * with floor division at the SAME points in both engines, so five
    * rounds stay bit-identical (no float mass drift).
    *
    * Scale shape: edges are distinct 8-byte id pairs; each round is one
    * edge-keyed join + one node-keyed aggregate (the classic Pregel
    * superstep as two exchanges), materialized between rounds like q24's
    * label propagation. No driver state except the scalar node count.
    * Output: top-20 nodes by final rank. */
  val q110 = Q(
    "q110_pagerank",
    (s, dir) => {
      val li = lineitem(s, dir)
      // undirected bipartite edges, namespaced ids (parts even, supps odd)
      val fwd = li.select((col("l_partkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst")).distinct().materialized
      // Loop-invariant tables materialize PRE-PARTITIONED AND PRE-SORTED
      // on the join key (r16 pass, guide §2.4): the checkpoint cut
      // preserves outputPartitioning/outputOrdering, so each of the five
      // rounds' sort-merge joins reads edges and deg exchange-free and
      // sort-free — only the (changing) rank table moves per round. One
      // up-front exchange+sort each, amortized over the rounds.
      val edges = fwd.union(fwd.select(col("dst").as("src"),
        col("src").as("dst")))
        .repartition(col("src")).sortWithinPartitions("src")
        .materialized
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .repartition(col("src")).sortWithinPartitions("src")
        .materialized
      val nNodes: Long = deg.count()
      val mass = 1000000000000L
      val r0 = mass / nNodes
      val teleport = 15L * r0 / 100L
      var ranks = deg.select(col("src").as("node"), lit(r0).as("r"))
        .materialized
      for (_ <- 1 to 5) {
        // Two joins, BOTH keyed on src on purpose (r15 pass note): a
        // "join deg into ranks first" restructure (V⋈V + E⋈V instead of
        // E⋈V + E⋈V) measured consistently ~1.1x SLOWER across three
        // paired sessions — the two src-keyed joins below fuse into one
        // sort-merge cascade with no intermediate exchange, while the
        // restructure split them into two stages to save only a per-edge
        // integer division. Kept in the original fused form.
        ranks = edges
          .join(ranks, edges("src") === ranks("node"))
          .join(deg, "src")
          .select(col("dst"), expr("r div deg").as("contrib"))
          .groupBy(col("dst").as("node"))
          .agg(expr(s"$teleport + 85 * sum(contrib) div 100").as("r"))
          .select(col("node"), col("r"))
          .materialized
      }
      ranks
        .select(col("node"),
          when(col("node") % 2 === 0, lit("part")).otherwise(lit("supplier"))
            .as("kind"),
          expr("node div 2").as("orig_id"), col("r"))
        .orderBy(col("r").desc, col("node"))
        .limit(20)
    },
    Some {
      // five unrolled supersteps (recursive CTEs cannot GROUP BY)
      val rounds = (1 to 5).map { i =>
        val prev = if (i == 1) "it0" else s"it${i - 1}"
        s"""it$i AS (
           |  SELECT e.dst AS node,
           |         (SELECT t FROM consts) +
           |           85 * SUM(p.r // d.deg) // 100 AS r
           |  FROM edges e
           |  JOIN $prev p ON p.node = e.src
           |  JOIN deg d ON d.src = e.src
           |  GROUP BY e.dst)""".stripMargin
      }.mkString(",\n")
      s"""
      WITH fwd AS (
        SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM lineitem),
      edges AS (
        SELECT src, dst FROM fwd
        UNION ALL SELECT dst, src FROM fwd),
      deg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src),
      n AS (SELECT COUNT(*) AS n FROM deg),
      consts AS (
        SELECT 1000000000000 // n AS r0, 15 * (1000000000000 // n) // 100 AS t
        FROM n),
      it0 AS (SELECT src AS node, (SELECT r0 FROM consts) AS r FROM deg),
      $rounds
      SELECT node,
             CASE WHEN node % 2 = 0 THEN 'part' ELSE 'supplier' END AS kind,
             node // 2 AS orig_id, CAST(r AS BIGINT) AS r
      FROM it5
      ORDER BY r DESC, node LIMIT 20"""
    }
  )

  /** Range-partitioned layout audit — the 1-D companion to q64's Z-order:
    * compute EXACT range boundaries (percentiles at the seven dyadic
    * eighths — binary fractions over integer keys, so the interpolated
    * doubles are bit-identical across engines, q35's trick), assign every
    * row its range bucket map-side, and emit per-bucket extents proving
    * the layout property parquet min/max data skipping needs: bucket key
    * ranges are DISJOINT, so a point/range predicate prunes to one bucket.
    *
    * This is `repartitionByRange` made auditable: Spark's version samples
    * boundaries non-deterministically (RangePartitioner reservoir), which
    * is fine for layout but unprovable to an oracle; computing boundaries
    * from an exact one-row aggregate gives the same physical layout
    * decision deterministically. The boundary row is broadcast
    * (1-row crossJoin, the allowlisted scalar pattern), assignment is
    * seven comparisons per row inside codegen, and the extents aggregate
    * is map-side partial to 8 groups — nothing but the scan is
    * corpus-sized. The exact-percentile pass is one per-key sort at scale;
    * a sampled-boundary variant trades that for approximation exactly the
    * way Spark's RangePartitioner does. */
  val q118 = Q(
    "q118_range_layout",
    (s, dir) => {
      val ps = (1 to 7).map(_ / 8.0)
      val li = lineitem(s, dir).select(col("l_partkey").as("k"))
      val bounds = li.agg(
        percentile(col("k"), lit(ps(0))).as("b1"),
        percentile(col("k"), lit(ps(1))).as("b2"),
        percentile(col("k"), lit(ps(2))).as("b3"),
        percentile(col("k"), lit(ps(3))).as("b4"),
        percentile(col("k"), lit(ps(4))).as("b5"),
        percentile(col("k"), lit(ps(5))).as("b6"),
        percentile(col("k"), lit(ps(6))).as("b7"))
      val bucket = (1 to 7)
        .map(i => (col("k") > col(s"b$i")).cast("int"))
        .reduce(_ + _)
      val extents = li.crossJoin(broadcast(bounds))
        .select(col("k"), bucket.as("bucket"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("cnt"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      extents
        .withColumn("disjoint",
          coalesce(col("min_k") >
            lag(col("max_k"), 1).over(Window.orderBy("bucket")), lit(true))
            .cast("int"))
        .orderBy("bucket")
    },
    Some("""
      WITH b AS (
        SELECT quantile_cont(l_partkey, 0.125) AS b1,
               quantile_cont(l_partkey, 0.25)  AS b2,
               quantile_cont(l_partkey, 0.375) AS b3,
               quantile_cont(l_partkey, 0.5)   AS b4,
               quantile_cont(l_partkey, 0.625) AS b5,
               quantile_cont(l_partkey, 0.75)  AS b6,
               quantile_cont(l_partkey, 0.875) AS b7
        FROM lineitem),
      assigned AS (
        SELECT l_partkey AS k,
               CAST(l_partkey > b1 AS INT) + CAST(l_partkey > b2 AS INT) +
               CAST(l_partkey > b3 AS INT) + CAST(l_partkey > b4 AS INT) +
               CAST(l_partkey > b5 AS INT) + CAST(l_partkey > b6 AS INT) +
               CAST(l_partkey > b7 AS INT) AS bucket
        FROM lineitem CROSS JOIN b),
      ext AS (
        SELECT bucket, COUNT(*) AS cnt,
               MIN(k) AS min_k, MAX(k) AS max_k
        FROM assigned GROUP BY bucket)
      SELECT bucket, cnt, min_k, max_k,
             CAST(COALESCE(min_k > lag(max_k, 1) OVER (ORDER BY bucket),
                           TRUE) AS INT) AS disjoint
      FROM ext ORDER BY bucket""")
  )

  /** Referential-integrity audit — the ingest-time data-quality gate
    * ("how many fact rows point at a missing dimension row?") for three
    * FK edges: events→customer, lineitem→orders, customer→nation. Each
    * edge is ONE left-outer broadcast join + one aggregate counting null
    * dimension keys — no anti-join second pass, no distinct, so the audit
    * costs a single scan per fact table and emits (total, orphans, ppm)
    * rows. Orphan rate is the signal that decides whether a downstream
    * inner join silently drops data.
    *
    * Scale shape: dimension sides broadcast (or shuffle-hash when a dim
    * outgrows broadcast — the plan stays one join + 1-row aggregate);
    * the three audits are independent branches unioned at 1 row each.
    * At 100 TB this is strictly cheaper than the join it de-risks. */
  val q123 = Q(
    "q123_fk_integrity",
    (s, dir) => {
      def audit(name: String, fact: DataFrame, key: String,
          dim: DataFrame, dkey: String): DataFrame =
        fact.join(broadcast(dim), col(key) === col(dkey), "left")
          .agg(count(lit(1)).as("n_rows"),
            sum(col(dkey).isNull.cast("long")).as("n_orphans"))
          .select(lit(name).as("relation"), col("n_rows"), col("n_orphans"),
            expr("1000000 * n_orphans div n_rows").as("orphan_ppm"))
      val a = audit("customer_nation", customer(s, dir), "c_nationkey",
        nation(s, dir).select("n_nationkey"), "n_nationkey")
      val b = audit("events_user", events(s, dir), "user_id",
        customer(s, dir).select("c_custkey"), "c_custkey")
      val c = audit("lineitem_order", lineitem(s, dir), "l_orderkey",
        orders(s, dir).select("o_orderkey"), "o_orderkey")
      a.union(b).union(c).orderBy("relation")
    },
    Some("""
      SELECT * FROM (
        SELECT 'customer_nation' AS relation, COUNT(*) AS n_rows,
               CAST(SUM(CASE WHEN n_nationkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_orphans,
               1000000 * CAST(SUM(CASE WHEN n_nationkey IS NULL
                                       THEN 1 ELSE 0 END) AS BIGINT)
                 // COUNT(*) AS orphan_ppm
        FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        UNION ALL
        SELECT 'events_user', COUNT(*),
               CAST(SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               1000000 * CAST(SUM(CASE WHEN c_custkey IS NULL
                                       THEN 1 ELSE 0 END) AS BIGINT)
                 // COUNT(*)
        FROM events LEFT JOIN customer ON user_id = c_custkey
        UNION ALL
        SELECT 'lineitem_order', COUNT(*),
               CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT),
               1000000 * CAST(SUM(CASE WHEN o_orderkey IS NULL
                                       THEN 1 ELSE 0 END) AS BIGINT)
                 // COUNT(*)
        FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey)
      ORDER BY relation""")
  )

  /** Incremental aggregate maintenance (IVM) — the materialized-view move
    * that makes dashboards affordable at 100 TB: a stored per-source
    * aggregate (count, char total) is brought up to date by applying a
    * CDC changeset's DELTA aggregate, never rescanning the base. Counts
    * and sums are self-maintainable (abelian-group aggregates: insert
    * adds, delete subtracts, update adds the difference), so the
    * maintenance plan is base_agg ⋈ delta_agg — maintenance cost scales
    * with the changeset, not the corpus. The changeset here is derived
    * deterministically from a content-hash bucket (b<10 delete, 10-19
    * update +7 chars, 20-24 insert a +3-char clone) so the oracle can
    * recompute the POST state from scratch and hash-prove
    * IVM ≡ full recompute — the equivalence that makes the shortcut safe.
    *
    * Scale shape: one full aggregate (the stored view, amortized across
    * refreshes), one CHANGESET-sized aggregate, one #source-row join.
    * q111 maintains the rows; this maintains the aggregates above them.
    * Non-self-maintainable aggregates (min/max under deletes) need q85's
    * snapshot diff instead — documented boundary. */
  val q125 = Q(
    "q125_ivm_agg",
    (s, dir) => {
      val b = conv(substring(md5(col("text")), 1, 8), 16, 10)
        .cast("long") % 100
      val tagged = documents(s, dir)
        .select(col("source"), col("n_chars"), b.as("b"))
      val baseAgg = tagged.groupBy("source")
        .agg(count(lit(1)).as("bn"), sum(col("n_chars")).as("bchars"))
      val delta = tagged.filter(col("b") < 25).groupBy("source")
        .agg(
          sum(when(col("b") < 10, -1L).when(col("b") >= 20, 1L)
            .otherwise(0L)).as("dn"),
          sum(when(col("b") < 10, -col("n_chars"))
            .when(col("b") < 20, lit(7L))
            .otherwise(col("n_chars") + 3L)).as("dchars"))
      baseAgg.join(delta, Seq("source"), "left")
        .select(col("source"),
          (col("bn") + coalesce(col("dn"), lit(0L))).as("n_docs"),
          (col("bchars") + coalesce(col("dchars"), lit(0L))).as("sum_chars"),
          coalesce(col("dn"), lit(0L)).as("dn"),
          coalesce(col("dchars"), lit(0L)).as("dchars"))
        .orderBy("source")
    },
    Some("""
      WITH tagged AS (
        SELECT source, n_chars,
               ('0x' || substr(md5(text), 1, 8))::BIGINT % 100 AS b
        FROM documents),
      post AS (
        SELECT source,
               CASE WHEN b >= 10 AND b < 20 THEN n_chars + 7
                    ELSE n_chars END AS n_chars
        FROM tagged WHERE b >= 10
        UNION ALL
        SELECT source, n_chars + 3 FROM tagged WHERE b >= 20 AND b < 25),
      final AS (
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM post GROUP BY source),
      delta AS (
        SELECT source,
               CAST(SUM(CASE WHEN b < 10 THEN -1
                             WHEN b >= 20 THEN 1 ELSE 0 END) AS BIGINT) AS dn,
               CAST(SUM(CASE WHEN b < 10 THEN -n_chars
                             WHEN b < 20 THEN 7
                             ELSE n_chars + 3 END) AS BIGINT) AS dchars
        FROM tagged WHERE b < 25 GROUP BY source)
      SELECT f.source, f.n_docs, f.sum_chars,
             COALESCE(dn, 0) AS dn, COALESCE(dchars, 0) AS dchars
      FROM final f LEFT JOIN delta USING (source)
      ORDER BY source""")
  )

  /** PER-GROUP exact percentiles WITHOUT per-group sort buffers — q99's
    * histogram-refine selection, grouped: the scale path that q122's
    * scaladoc promises when a group outgrows one percentile buffer.
    * Three passes: (1) per-group min/max/count, (2) a (group, bucket)
    * histogram (≤ 4096 buckets per group, collected driver-side —
    * G×4096 longs, group-count-bounded not corpus-bounded), (3) one
    * range-filtered pass that only reads each target's bucket, with a
    * per-(group, statistic) window over in-bucket rows (≈ n/4096 rows
    * each). Median and p90 come from the same shared histogram; values
    * are ×1e6-floored integers so every step is exact and the DuckDB
    * oracle can select the same order statistics by ROW_NUMBER.
    *
    * Scale shape: two corpus scans + one range-pruned partial scan; the
    * shuffles carry (group, bucket) and in-bucket (group, v) counts.
    * Nothing sorts more than one bucket's worth of rows per group. */
  val q127 = Q(
    "q127_group_select",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type").as("g"),
          expr("cast(floor(value * 1000000) as bigint)").as("v"))
        .materialized // three passes share the quantized scan
      groupSelect(s, ev)
    },
    q127OracleSql
  )

  /** The driver-side histogram is G×4096 longs — corpus-size-independent
    * but GROUP-DOMAIN-dependent. Guarded: the plan is only safe while the
    * group key is low-cardinality (event types, sources, shards), so a
    * high-cardinality key fails fast here instead of OOMing the driver
    * mid-collect; such keys belong on a distributed refine (per-group
    * windows, q122) instead. */
  val MaxSelectGroups = 1024

  /** q127's body over any quantized (g: string, v: bigint) input —
    * extracted so the guard is testable against synthetic group domains. */
  private[graft] def groupSelect(
      s: org.apache.spark.sql.SparkSession,
      ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val statsRows = ev.groupBy("g")
        .agg(min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
        .limit(MaxSelectGroups + 1) // bound the driver collect BEFORE it runs
        .collect()
      if (statsRows.length > MaxSelectGroups)
        throw new IllegalStateException(
          s"groupSelect: group domain exceeds $MaxSelectGroups " +
            "(driver histogram would be G×4096 rows); use a distributed " +
            "per-group refine for high-cardinality keys")
      val stats = statsRows
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val widths = stats.map { case (g, lo, hi, n) =>
        (g, lo, math.max(1L, (hi - lo) / 4096L + 1L), n)
      }
      val widthDf = s.createDataFrame(widths.toSeq)
        .toDF("g", "glo", "width", "n")
      val hist = ev.join(broadcast(widthDf), "g")
        .groupBy(col("g"),
          ((col("v") - col("glo")) / col("width")).cast("bigint").as("b"))
        .agg(count(lit(1)).as("c"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1).view
        .mapValues(_.map(t => (t._2, t._3)).sortBy(_._1)).toMap
      // driver-side bucket location per (group, statistic): G×2 rows
      val bounds = widths.flatMap { case (g, lo, width, n) =>
        def locate(k: Long): (Long, Long) = {
          var below = 0L
          hist(g).foreach { case (b, c) =>
            if (below + c >= k) return (b, below)
            below += c
          }
          (hist(g).last._1, below - hist(g).last._2)
        }
        Seq(("median", (n + 1) / 2), ("p90", (9 * n + 9) / 10)).map {
          case (which, k) =>
            val (b, below) = locate(k)
            (g, which, lo + b * width, lo + (b + 1) * width, k - below, n)
        }
      }
      val boundsDf = broadcast(s.createDataFrame(bounds.toSeq)
        .toDF("g", "which", "blo", "bhi", "kin", "n"))
      val inBucket = ev.join(boundsDf,
        ev("g") === boundsDf("g") &&
          col("v") >= col("blo") && col("v") < col("bhi"))
        .select(boundsDf("g").as("gg"), col("which"), col("v"),
          col("kin"), col("n"))
        .groupBy("gg", "which", "kin", "n", "v")
        .agg(count(lit(1)).as("c"))
      val w = Window.partitionBy("gg", "which").orderBy("v")
      val kth = inBucket
        .withColumn("cum", sum(col("c")).over(w))
        .filter(col("cum") >= col("kin"))
        .groupBy("gg", "which", "n").agg(min(col("v")).as("kv"))
      kth.groupBy(col("gg").as("event_type"), col("n"))
        .pivot("which", Seq("median", "p90")).agg(first(col("kv")))
        .select(col("event_type"), col("n"),
          col("median").as("median_x1e6"), col("p90").as("p90_x1e6"))
        .orderBy("event_type")
  }

  // lazy: referenced by q127 above its definition point (vals in an
  // object initialize in declaration order; lazy breaks the null window)
  private lazy val q127OracleSql = Some("""
      WITH c AS (
        SELECT event_type AS g, CAST(FLOOR(value * 1000000) AS BIGINT) AS v
        FROM events),
      r AS (
        SELECT g, v, ROW_NUMBER() OVER (PARTITION BY g ORDER BY v) AS rn,
               COUNT(*) OVER (PARTITION BY g) AS n
        FROM c)
      SELECT g AS event_type, CAST(MAX(n) AS BIGINT) AS n,
             MAX(CASE WHEN rn = (n + 1) // 2 THEN v END) AS median_x1e6,
             MAX(CASE WHEN rn = (9 * n + 9) // 10 THEN v END) AS p90_x1e6
      FROM r GROUP BY g ORDER BY g""")

  /** Order-independent table checksums — the anti-entropy primitive behind
    * "are these two replicas / snapshots / engine migrations byte-equal?":
    * per table, a row digest (md5 of a canonical '|'-joined column
    * rendering; document text enters via its md5, so the checksum covers
    * content without shuffling it) folded with ORDER-INDEPENDENT,
    * mergeable combiners — bit_xor of both 32-bit digest halves plus a
    * mod-2³² sum (xor alone is blind to any row duplicated twice; the sum
    * catches multiplicity). Two engines, two partitionings, any row
    * order: same five numbers, which is the whole point — the DuckDB
    * oracle IS the cross-engine replica check.
    *
    * Scale shape: pure map-side digest + partial-aggregated fold; one row
    * per table crosses the wire. Doubles are deliberately excluded from
    * the canonical rendering (float formatting is not portable);
    * timestamps would enter via explicit date_format. */
  val q128 = Q(
    "q128_table_checksum",
    (s, dir) => {
      def chk(name: String, df: DataFrame, digest: Column): DataFrame = {
        val (lo, hi) = graft.functions.GraftFunctions.md5_halves(digest)
        df.select(lo.as("lo"), hi.as("hi"))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(lo)").as("xor_lo"),
            expr("bit_xor(hi)").as("xor_hi"),
            expr("cast(sum(cast(lo as decimal(38,0))) % 4294967296 as bigint)")
              .as("sum_lo_mod"))
          .select(lit(name).as("tbl"), col("n_rows"),
            col("xor_lo"), col("xor_hi"), col("sum_lo_mod"))
      }
      chk("customer", customer(s, dir),
        concat_ws("|", col("c_custkey").cast("string"), col("c_name"),
          col("c_nationkey").cast("string"), col("c_mktsegment")))
        .union(chk("documents", documents(s, dir),
          concat_ws("|", col("doc_id").cast("string"), col("lang"),
            col("source"), col("n_chars").cast("string"), md5(col("text")))))
        .union(chk("nation", nation(s, dir),
          concat_ws("|", col("n_nationkey").cast("string"), col("n_name"),
            col("n_regionkey").cast("string"))))
        .union(chk("region", region(s, dir),
          concat_ws("|", col("r_regionkey").cast("string"), col("r_name"))))
        .orderBy("tbl")
    },
    Some("""
      SELECT * FROM (
        SELECT 'customer' AS tbl, COUNT(*) AS n_rows,
               bit_xor(lo) AS xor_lo, bit_xor(hi) AS xor_hi,
               CAST(SUM(lo) % 4294967296 AS BIGINT) AS sum_lo_mod
        FROM (SELECT ('0x' || substr(md5(d), 1, 8))::BIGINT AS lo,
                     ('0x' || substr(md5(d), 9, 8))::BIGINT AS hi
              FROM (SELECT concat_ws('|', CAST(c_custkey AS VARCHAR), c_name,
                             CAST(c_nationkey AS VARCHAR), c_mktsegment) AS d
                    FROM customer))
        UNION ALL
        SELECT 'documents', COUNT(*), bit_xor(lo), bit_xor(hi),
               CAST(SUM(lo) % 4294967296 AS BIGINT)
        FROM (SELECT ('0x' || substr(md5(d), 1, 8))::BIGINT AS lo,
                     ('0x' || substr(md5(d), 9, 8))::BIGINT AS hi
              FROM (SELECT concat_ws('|', CAST(doc_id AS VARCHAR), lang,
                             source, CAST(n_chars AS VARCHAR),
                             md5(text)) AS d
                    FROM documents))
        UNION ALL
        SELECT 'nation', COUNT(*), bit_xor(lo), bit_xor(hi),
               CAST(SUM(lo) % 4294967296 AS BIGINT)
        FROM (SELECT ('0x' || substr(md5(d), 1, 8))::BIGINT AS lo,
                     ('0x' || substr(md5(d), 9, 8))::BIGINT AS hi
              FROM (SELECT concat_ws('|', CAST(n_nationkey AS VARCHAR),
                             n_name, CAST(n_regionkey AS VARCHAR)) AS d
                    FROM nation))
        UNION ALL
        SELECT 'region', COUNT(*), bit_xor(lo), bit_xor(hi),
               CAST(SUM(lo) % 4294967296 AS BIGINT)
        FROM (SELECT ('0x' || substr(md5(d), 1, 8))::BIGINT AS lo,
                     ('0x' || substr(md5(d), 9, 8))::BIGINT AS hi
              FROM (SELECT concat_ws('|', CAST(r_regionkey AS VARCHAR),
                             r_name) AS d
                    FROM region)))
      ORDER BY tbl""")
  )

  /** Deterministic-resume audit — the property that makes a training run
    * RESUMABLE: given q89's hash-permuted epoch layout consumed
    * round-robin across 8 shards (global step = (pos−1)·8 + shard), cut
    * the epoch at 40% and emit each shard's resume manifest: remaining
    * count, the position to resume from, and an ORDER-SENSITIVE digest
    * (md5 of the comma-joined doc-id sequence in consumption order). A
    * resumed job recomputes this manifest and compares digests — equality
    * proves the remaining data order is bit-identical to what the
    * interrupted run would have consumed, across engines, cluster sizes
    * and retries. RNG-free by construction (q89's md5 permutation).
    *
    * Scale shape: q89's layout (one shard-keyed window), a one-row cut
    * scalar broadcast over it, then one 8-group aggregate whose
    * order-sensitive digest is built from a per-shard sorted collect —
    * the collect is per SHARD; with thousands of shards (the real
    * layout), each holds corpus/shards ids, and the digest generalizes to
    * a chunked rolling digest per q71. */
  val q129 = Q(
    "q129_resume_audit",
    (s, dir) => {
      val key = conv(substring(
        md5(concat(col("doc_id").cast("string"), lit(":epoch1"))), 1, 8),
        16, 10).cast("long")
      val laid = documents(s, dir)
        .select(col("doc_id"), key.as("k"))
        .withColumn("shard", col("k") % 8)
        .withColumn("pos", row_number().over(
          Window.partitionBy("shard").orderBy(col("k"), col("doc_id"))))
        .withColumn("gstep", (col("pos") - 1) * 8 + col("shard"))
      val cut = laid.agg(expr("count(1) * 4 div 10").as("s"))
      laid.crossJoin(broadcast(cut))
        .filter(col("gstep") >= col("s"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_remaining"),
          min("pos").cast("long").as("resume_pos"),
          expr("""md5(array_join(
              transform(sort_array(collect_list(struct(pos, doc_id))),
                        x -> cast(x.doc_id as string)), ','))""")
            .as("order_digest"))
        .orderBy("shard")
    },
    Some("""
      WITH keyed AS (
        SELECT doc_id,
               ('0x' || substr(md5(doc_id::VARCHAR || ':epoch1'), 1, 8))::BIGINT
                 AS k
        FROM documents),
      laid AS (
        SELECT doc_id, k % 8 AS shard,
               ROW_NUMBER() OVER (PARTITION BY k % 8 ORDER BY k, doc_id) AS pos
        FROM keyed),
      g AS (
        SELECT doc_id, shard, pos, (pos - 1) * 8 + shard AS gstep FROM laid),
      cut AS (SELECT COUNT(*) * 4 // 10 AS s FROM g)
      SELECT shard, COUNT(*) AS n_remaining,
             CAST(MIN(pos) AS BIGINT) AS resume_pos,
             md5(string_agg(doc_id::VARCHAR, ',' ORDER BY pos))
               AS order_digest
      FROM g CROSS JOIN cut
      WHERE gstep >= s
      GROUP BY shard ORDER BY shard""")
  )

  /** Rendezvous-hash (HRW) RESHARDING audit — what growing a storage/
    * state layer from 8 to 10 shards actually moves: every doc's shard is
    * argmax over shards of md5(doc_id#shard), so adding shards leaves all
    * existing weights untouched and a doc moves ONLY when a NEW shard
    * wins — the minimal-disruption law consistent hashing is chosen for,
    * here surfaced as a hash-checked movement matrix (old_shard,
    * new_shard, n_docs, moved). Every moved row lands on shard 8 or 9 by
    * construction; the expected moved fraction is 2/10.
    *
    * Exactness: weights are md5-prefix integers; argmax ties (≈2⁻³² per
    * pair) break identically in both engines (max weight, then max
    * shard id).
    *
    * Scale shape: per-row argmax over a FIXED 10-entry literal array —
    * pure map-side codegen — then one (old, new)-keyed wordcount
    * aggregate. At 10⁹ docs: one scan, one 80-cell shuffle. */
  val q138 = Q(
    "q138_reshard_audit",
    (s, dir) => {
      def hrwShard(n: Int): org.apache.spark.sql.Column = {
        val entries = (0 until n).map { sh =>
          struct(
            // hex chars 1-8 = the unsigned high half of the 8-byte prefix
            // (matches the oracle's ('0x'||substr(md5,1,8))::BIGINT form)
            shiftrightunsigned(graft.functions.GraftFunctions.md5_prefix64(
              concat(col("doc_id").cast("string"), lit(s"#$sh"))), 32).as("w"),
            lit(sh.toLong).as("shard"))
        }
        array_max(array(entries: _*)).getField("shard")
      }
      documents(s, dir)
        .select(col("doc_id"),
          hrwShard(8).as("old_shard"), hrwShard(10).as("new_shard"))
        .groupBy("old_shard", "new_shard")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("moved",
          (col("old_shard") =!= col("new_shard")).cast("long"))
        .orderBy("old_shard", "new_shard")
    },
    Some("""
      WITH w AS (
        SELECT d.doc_id, sh.s AS shard,
               ('0x' || substr(md5(d.doc_id::VARCHAR || '#' || sh.s::VARCHAR),
                 1, 8))::BIGINT AS w
        FROM documents d, (SELECT unnest(range(0, 10)) AS s) sh),
      olds AS (
        SELECT doc_id, shard AS old_shard FROM (
          SELECT doc_id, shard,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY w DESC, shard DESC) AS rk
          FROM w WHERE shard < 8) WHERE rk = 1),
      news AS (
        SELECT doc_id, shard AS new_shard FROM (
          SELECT doc_id, shard,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY w DESC, shard DESC) AS rk
          FROM w) WHERE rk = 1)
      SELECT o.old_shard, n.new_shard,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(CASE WHEN o.old_shard <> n.new_shard THEN 1 ELSE 0 END
               AS BIGINT) AS moved
      FROM olds o JOIN news n USING (doc_id)
      GROUP BY o.old_shard, n.new_shard
      ORDER BY old_shard, new_shard""")
  )

  /** One-pass corpus datasheet — the governance snapshot a dataset card
    * needs (docs, tokens, chars, sources, languages, exact-duplicate
    * count, length extremes), computed in a SINGLE scan of the corpus:
    * every figure is an aggregate of the same projection, so the job
    * reads each document once, not once per metric. The alternative — a
    * dashboard issuing one query per figure — rescans 100 TB eight
    * times; this is the fused form. Output is long-form (metric, value)
    * so new figures append without a schema change.
    *
    * Scale shape: one map-side projection (token count, char length,
    * text digest), one global aggregate whose only distinct-heavy terms
    * are hash-keyed (COUNT DISTINCT over 32-byte digests / low-cardinality
    * source+lang), then an 8-row unpivot. No joins, no windows. */
  val q164 = Q(
    "q164_datasheet",
    (s, dir) => {
      val one = documents(s, dir)
        .select(
          size(split(col("text"), "\\s+")).cast("long").as("n_tok"),
          length(col("text")).cast("long").as("n_chr"),
          md5(col("text")).as("h"), col("source"), col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_tok")).as("n_tokens"),
          sum(col("n_chr")).as("n_chars"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("lang")).as("n_langs"),
          (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"),
          max(col("n_tok")).as("max_tokens"),
          min(col("n_tok")).as("min_tokens"))
      one.select(expr(
        """stack(8,
             'n_docs', n_docs, 'n_tokens', n_tokens, 'n_chars', n_chars,
             'n_sources', n_sources, 'n_langs', n_langs,
             'n_exact_dups', n_exact_dups,
             'max_tokens', max_tokens, 'min_tokens', min_tokens)
           as (metric, value)"""))
        .orderBy("metric")
    },
    Some(raw"""
      WITH p AS (
        SELECT len(string_split_regex(text, '\s+')) AS n_tok,
               length(text) AS n_chr, md5(text) AS h, source, lang
        FROM documents),
      a AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
               CAST(SUM(n_chr) AS BIGINT) AS n_chars,
               CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS n_exact_dups,
               CAST(MAX(n_tok) AS BIGINT) AS max_tokens,
               CAST(MIN(n_tok) AS BIGINT) AS min_tokens
        FROM p)
      SELECT u.metric, u.value FROM a,
      LATERAL (VALUES ('n_docs', n_docs), ('n_tokens', n_tokens),
                      ('n_chars', n_chars), ('n_sources', n_sources),
                      ('n_langs', n_langs), ('n_exact_dups', n_exact_dups),
                      ('max_tokens', max_tokens), ('min_tokens', min_tokens))
        AS u(metric, value)
      ORDER BY u.metric""")
  )

  val all: Seq[Q] = Seq(q60, q61, q62, q63, q64, q73, q84, q85, q89, q99,
    q106, q110, q118, q123, q125, q127, q128, q129, q138, q164)
}
