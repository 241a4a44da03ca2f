package graft.queries

import graft.operators.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import Tables._

/** One declared query: Spark plan + (optionally) the equivalent DuckDB SQL
  * the driver hash-checks it against. Column names/aliases MUST match
  * between the two — the driver sorts columns by name before hashing. */
final case class Q(
    name: String,
    spark: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

/** The relational operator suite (SURVEY.md §2B): filters/projection,
  * equi/semi/anti/theta joins, hash aggregation with distinct, rollup/cube,
  * window functions, top-k, set ops, JSON extraction, time windows and
  * sessionization. Each query is written Spark-first (declarative plan, let
  * Catalyst choose physical operators; broadcast hints only where a side is
  * known-small at any scale factor, e.g. nation/region are fixed at 25/5
  * rows) and carries a deterministic total ORDER BY so the oracle hash is
  * stable.
  */
object RelationalQueries {

  /** TPC-H Q1-style pricing summary: scan → filter → project → hash agg.
    * The filter and the 7-column projection push into the parquet scan;
    * partial aggregation is map-side (4 distinct groups), so the shuffle
    * carries ~4 rows per partition regardless of input size. */
  val q01 = Q(
    "q01_pricing_summary",
    (s, dir) => {
      lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          round(sum(revenueTerm(col("l_extendedprice"), col("l_discount"))), 2)
            .cast("double").as("sum_disc_price"),
          (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
          count(lit(1)).as("count_order")
        )
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some(s"""
      SELECT l_returnflag, l_linestatus,
             ${dsumSql("l_quantity")} AS sum_qty,
             ${dsumSql("l_extendedprice")} AS sum_base_price,
             CAST(ROUND(SUM(${revenueTermSql("l_extendedprice", "l_discount")}), 2) AS DOUBLE) AS sum_disc_price,
             ${dsumSql("l_quantity")} / COUNT(*) AS avg_qty,
             COUNT(*) AS count_order
      FROM lineitem
      WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      GROUP BY l_returnflag, l_linestatus
      ORDER BY l_returnflag, l_linestatus""")
  )

  /** Filter + projection — the predicate and the 4-column read schema reach
    * the parquet scan (PushedFilters), so at 100 TB only matching row
    * groups/columns are read. */
  val q02 = Q(
    "q02_filter_project",
    (s, dir) =>
      lineitem(s, dir)
        .filter(col("l_quantity") > 45 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber"),
    Some("""
      SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
      FROM lineitem
      WHERE l_quantity > 45 AND l_returnflag = 'R'
      ORDER BY l_orderkey, l_linenumber""")
  )

  /** 3-way equi-join: orders ⋈ customer ⋈ nation, revenue per nation.
    * nation is 25 rows at every scale factor → explicit broadcast; customer
    * joins shuffle on the key (AQE will broadcast it at small SF anyway).
    * Aggregation after the join is partial+final hash agg on 25 groups. */
  val q03 = Q(
    "q03_join_revenue_by_nation",
    (s, dir) => {
      orders(s, dir)
        .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("revenue")
        )
        .orderBy(col("n_name"))
    },
    Some(s"""
      SELECT n_name, COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS revenue
      FROM orders JOIN customer ON o_custkey = c_custkey
                  JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name ORDER BY n_name""")
  )

  /** Left-semi join (EXISTS): orders having a heavy lineitem. The semi join
    * needs only the key column from the right side and stops probing on
    * first match — no row multiplication, shuffle carries distinct keys. */
  val q04 = Q(
    "q04_semi_join",
    (s, dir) => {
      val heavy = lineitem(s, dir).filter(col("l_quantity") > 49)
        .select(col("l_orderkey"))
      orders(s, dir)
        .join(heavy, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .select("o_orderkey", "o_totalprice", "o_orderpriority")
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, o_totalprice, o_orderpriority
      FROM orders
      WHERE EXISTS (SELECT 1 FROM lineitem
                    WHERE l_orderkey = o_orderkey AND l_quantity > 49)
      ORDER BY o_orderkey""")
  )

  /** Left-anti join (NOT EXISTS): customers with no high-value order. The
    * filter on the right side applies before the join, shrinking the build
    * input. */
  val q05 = Q(
    "q05_anti_join",
    (s, dir) =>
      customer(s, dir)
        .join(
          orders(s, dir).filter(col("o_totalprice") > 300000)
            .select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_acctbal")
        .orderBy("c_custkey"),
    Some("""
      SELECT c_custkey, c_name, c_acctbal
      FROM customer
      WHERE NOT EXISTS (SELECT 1 FROM orders
                        WHERE o_custkey = c_custkey AND o_totalprice > 300000)
      ORDER BY c_custkey""")
  )

  /** Equi + theta (band) join: per supplier, count same-nation customers
    * with a strictly larger account balance. The equi part keys the
    * shuffle; the theta predicate is evaluated inside the join. supplier is
    * dim-sized → broadcast keeps the big side unshuffled at scale. */
  val q06 = Q(
    "q06_theta_join",
    (s, dir) => {
      supplier(s, dir).as("s")
        .join(
          customer(s, dir).as("c"),
          col("s.s_nationkey") === col("c.c_nationkey") &&
            col("c.c_acctbal") > col("s.s_acctbal"))
        .groupBy(col("s.s_suppkey").as("s_suppkey"))
        .agg(count(lit(1)).as("n_richer_cust"))
        .orderBy(col("s_suppkey"))
    },
    Some("""
      SELECT s_suppkey, COUNT(*) AS n_richer_cust
      FROM supplier JOIN customer
        ON s_nationkey = c_nationkey AND c_acctbal > s_acctbal
      GROUP BY s_suppkey ORDER BY s_suppkey""")
  )

  /** Interval-containment (range) join via [[graft.operators.RangeJoin]]:
    * for each high-value order, count lineitems shipped within ±7 days of
    * the order date. There is NO equi key, so naive Spark plans this as a
    * broadcast-nested-loop streaming all 100 TB of lineitem past every
    * order; the binned rewrite buckets both sides by 15-day windows and
    * runs an ordinary shuffle hash join (shuffle = rows, not pairs) with
    * the BETWEEN as a residual filter. The oracle runs the naive BETWEEN
    * join — equivalence of the rewrite is exactly what the hash check
    * proves. Dates become integer day offsets (exact in both engines).
    * Sizing: ±7 days over ~6 % of orders ≈ tens of matching lineitems per
    * order — selective enough that the measured cost is the JOIN, not the
    * (order × in-window lineitem) output cardinality itself. */
  val q28 = Q(
    "q28_range_join",
    (s, dir) => {
      val epoch = lit("1995-01-01").cast("date")
      def days(c: Column) = datediff(c.cast("date"), epoch).cast("long")
      val li = lineitem(s, dir).select(days(col("l_shipdate")).as("sd"))
      val big = orders(s, dir)
        .filter(col("o_totalprice") > 480000)
        .select(col("o_orderkey"),
          (days(col("o_orderdate")) - 7).as("lo"),
          (days(col("o_orderdate")) + 7).as("hi"))
      graft.operators.RangeJoin.binned(li, "sd", big, "lo", "hi", 15L)
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_near"))
        .orderBy("o_orderkey")
    },
    Some("""
      SELECT o_orderkey, COUNT(*) AS n_near
      FROM orders JOIN lineitem
        ON CAST(l_shipdate AS DATE)
           BETWEEN CAST(o_orderdate AS DATE) - 7
               AND CAST(o_orderdate AS DATE) + 7
      WHERE o_totalprice > 480000
      GROUP BY o_orderkey ORDER BY o_orderkey""")
  )

  /** The SAME range join written NAIVELY — `lineitem.join(orders,
    * sd.between(lo, hi))`, which Spark alone plans as a broadcast nested
    * loop — relying on the [[graft.plans.RangeJoinRewrite]] optimizer rule
    * (conf-gated, `spark.graft.rangeJoin.binWidth`) to produce the binned
    * equi-join automatically. Shares q28's oracle SQL: the hash check
    * proves the RULE's rewrite end-to-end, while PlanRegressionSpec proves
    * the nested loop is actually gone. The rule + conf are registered on an
    * ISOLATED session (`newSession()`: own SQLConf/optimizer, shared
    * SparkContext) that only this query's DataFrame is bound to — Catalyst
    * optimizes lazily at action time, so scoping via set/restore on the
    * shared session would either leak the rule into every later query or
    * silently disable the rewrite before execution. */
  val q29 = Q(
    "q29_range_join_rule",
    (s0, dir) => {
      val s = s0.newSession()
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.RangeJoinRewrite
      s.conf.set(graft.plans.RangeJoinRewrite.BinWidthKey, "15")
      val epoch = lit("1995-01-01").cast("date")
      def days(c: Column) = datediff(c.cast("date"), epoch).cast("long")
      val li = lineitem(s, dir).select(days(col("l_shipdate")).as("sd"))
      val big = orders(s, dir)
        .filter(col("o_totalprice") > 480000)
        .select(col("o_orderkey"),
          (days(col("o_orderdate")) - 7).as("lo"),
          (days(col("o_orderdate")) + 7).as("hi"))
      li.join(big, col("sd") >= col("lo") && col("sd") <= col("hi"))
        .groupBy("o_orderkey").agg(count(lit(1)).as("n_near"))
        .orderBy("o_orderkey")
    },
    q28.oracle
  )

  /** Ranking window: top-3 orders per customer by price. row_number over a
    * (custkey)-partitioned window — shuffle by customer, sort within
    * partition; the rank<=3 filter drops rows before the final sort. */
  val q07 = Q(
    "q07_window_topk_per_group",
    (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      orders(s, dir)
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select("o_custkey", "rk", "o_orderkey", "o_totalprice")
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

  /** Running/offset windows: cumulative quantity + previous quantity per
    * supplier in ship order. The frame order is made total with the
    * (shipdate, orderkey, linenumber) tiebreak, and the running sum uses
    * exact decimals, so the cumulative values are engine- and
    * partitioning-independent. */
  val q08 = Q(
    "q08_window_running",
    (s, dir) => {
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      lineitem(s, dir)
        .filter(col("l_suppkey") <= 10)
        .select(
          col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
          round(
            sum(col("l_quantity").cast(SumDec))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
            2).cast("double").as("running_qty"),
          lag(col("l_quantity"), 1).over(w).as("prev_qty")
        )
        .orderBy("l_suppkey", "l_orderkey", "l_linenumber")
    },
    Some("""
      SELECT l_suppkey, l_orderkey, l_linenumber,
             CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(28,10)))
                  OVER (PARTITION BY l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS running_qty,
             LAG(l_quantity, 1) OVER (PARTITION BY l_suppkey
                        ORDER BY l_shipdate, l_orderkey, l_linenumber) AS prev_qty
      FROM lineitem
      WHERE l_suppkey <= 10
      ORDER BY l_suppkey, l_orderkey, l_linenumber""")
  )

  /** Global top-k: ORDER BY ... LIMIT. Catalyst rewrites this to
    * TakeOrderedAndProject — each partition keeps its local top-100, only
    * those reach the driver; no global sort of the full table. */
  val q09 = Q(
    "q09_topk_global",
    (s, dir) =>
      lineitem(s, dir)
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
        .limit(100),
    Some("""
      SELECT l_orderkey, l_linenumber, l_extendedprice
      FROM lineitem
      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
      LIMIT 100""")
  )

  /** ROLLUP over region → nation: hierarchical subtotals + grand total.
    * Spark expands grouping sets in a single shuffle (Expand operator). */
  val q10 = Q(
    "q10_rollup",
    (s, dir) => {
      customer(s, dir)
        .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("sum_bal"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    },
    Some(s"""
      SELECT r_name, n_name, COUNT(*) AS n_cust, ${dsumSql("c_acctbal")} AS sum_bal
      FROM customer JOIN nation ON c_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      GROUP BY ROLLUP(r_name, n_name)
      ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""")
  )

  /** CUBE over returnflag × linestatus: all 2^2 grouping sets. */
  val q11 = Q(
    "q11_cube",
    (s, dir) =>
      lineitem(s, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy(asc_nulls_first("l_returnflag"), asc_nulls_first("l_linestatus")),
    Some(s"""
      SELECT l_returnflag, l_linestatus, COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
      FROM lineitem
      GROUP BY CUBE(l_returnflag, l_linestatus)
      ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
  )

  /** Set operations: (big-spender order custkeys ∪ negative-balance
    * custkeys) ∩ all custkeys, minus custkeys of low-priced orders.
    * Spark `union` is UNION ALL — the `.distinct()` reproduces SQL UNION;
    * `intersect`/`except` are the DISTINCT variants in both engines. */
  val q12 = Q(
    "q12_set_ops",
    (s, dir) => {
      val bigSpenders = orders(s, dir).filter(col("o_totalprice") > 400000)
        .select(col("o_custkey").as("custkey"))
      val negBal = customer(s, dir).filter(col("c_acctbal") < 0)
        .select(col("c_custkey").as("custkey"))
      val allCust = customer(s, dir).select(col("c_custkey").as("custkey"))
      val lowOrders = orders(s, dir).filter(col("o_totalprice") < 5000)
        .select(col("o_custkey").as("custkey"))
      bigSpenders.union(negBal).distinct()
        .intersect(allCust)
        .except(lowOrders)
        .orderBy("custkey")
    },
    Some("""
      SELECT custkey FROM (
        (SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 400000
         UNION
         SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0)
        INTERSECT
        SELECT c_custkey AS custkey FROM customer
        EXCEPT
        SELECT o_custkey AS custkey FROM orders WHERE o_totalprice < 5000)
      ORDER BY custkey""")
  )

  /** Aggregation with DISTINCT: exact distinct customers per priority
    * (two-stage shuffle) next to plain counts and an exact sum. */
  val q13 = Q(
    "q13_distinct_agg",
    (s, dir) =>
      orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .agg(
          count(lit(1)).as("n_orders"),
          countDistinct(col("o_custkey")).as("n_customers"),
          dsum(col("o_totalprice")).as("sum_price")
        )
        .orderBy("o_orderpriority"),
    Some(s"""
      SELECT o_orderpriority, COUNT(*) AS n_orders,
             COUNT(DISTINCT o_custkey) AS n_customers,
             ${dsumSql("o_totalprice")} AS sum_price
      FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  )

  /** JSON scalar extraction from the events.props string column. */
  val q14 = Q(
    "q14_json_extract",
    (s, dir) =>
      events(s, dir)
        .select(
          col("event_id"),
          col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k_val")
        )
        .filter(col("k_val") % 5 === 0)
        .orderBy("event_id"),
    Some("""
      SELECT event_id, event_type,
             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
      FROM events
      WHERE CAST(json_extract_string(props, '$.k') AS BIGINT) % 5 = 0
      ORDER BY event_id""")
  )

  /** Batch tumbling window: hourly event aggregate. Timestamps serialize
    * as formatted strings so both engines hash identically. */
  val q15 = Q(
    "q15_tumbling_window",
    (s, dir) =>
      events(s, dir)
        .groupBy(
          date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
            .as("hour_start"),
          col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("hour_start", "event_type"),
    Some(s"""
      SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S') AS hour_start,
             event_type, COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
      FROM events
      GROUP BY 1, 2 ORDER BY hour_start, event_type""")
  )

  /** Gap-based sessionization (30-min inactivity): lag → new-session flag →
    * running session id → per-session aggregate. Batch twin of
    * `session_window($"ts", "30 minutes")`; microsecond-exact via
    * unix_micros/epoch_us so both engines flag identical boundaries. */
  val q16 = Q(
    "q16_sessionize",
    (s, dir) => {
      val byUser = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id"))
      val gapUs = unix_micros(col("ts")) -
        unix_micros(lag(col("ts"), 1).over(byUser))
      events(s, dir)
        .withColumn("new_s",
          when(gapUs.isNull || gapUs > 1800L * 1000000L, 1).otherwise(0))
        .withColumn("session_id",
          sum(col("new_s")).over(
            byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy(col("user_id"), col("session_id"))
        .agg(
          date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          count(lit(1)).as("n_events"),
          dsum(col("value")).as("sum_value")
        )
        .orderBy("user_id", "session_id")
    },
    Some(s"""
      WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
      flagged AS (
        SELECT user_id, event_id, ts, value,
               CASE WHEN epoch_us(ts) - epoch_us(LAG(ts, 1) OVER w) > 1800000000
                      OR LAG(ts, 1) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_s
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      sess AS (
        SELECT user_id, ts, value,
               CAST(SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        FROM flagged)
      SELECT user_id, session_id,
             strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
             COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
      FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""")
  )

  /** As-of join via [[graft.operators.AsOfJoin]]: every event gets the most
    * recent STRICTLY-earlier 'error' event of the same user. The right side
    * is pre-deduplicated per (user, ts) with max(event_id) in BOTH engines —
    * as-of semantics are undefined on timestamp ties otherwise. Oracle uses
    * DuckDB's native ASOF LEFT JOIN. */
  val q17 = Q(
    "q17_asof_join",
    (s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts", "event_type")
      val errors = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("prev_error_id"))
      graft.operators.AsOfJoin
        .latestPrior(
          ev.select("event_id", "user_id", "ts"),
          errors,
          key = "user_id", leftTs = "ts", rightTs = "ts",
          rightCols = Map("prev_error_id" -> "prev_error_id",
            "ts" -> "prev_error_ts"))
        .select(col("event_id"), col("user_id"), col("prev_error_id"),
          (unix_micros(col("ts")) - unix_micros(col("prev_error_ts")))
            .as("gap_us"))
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events),
      err AS (
        SELECT user_id, ts, MAX(event_id) AS prev_error_id
        FROM ev WHERE event_type = 'error' GROUP BY user_id, ts)
      SELECT e.event_id, e.user_id, r.prev_error_id,
             epoch_us(e.ts) - epoch_us(r.ts) AS gap_us
      FROM ev e ASOF LEFT JOIN err r
        ON e.user_id = r.user_id AND e.ts > r.ts
      ORDER BY e.event_id""")
  )

  /** The SAME as-of semantics as q17 through the custom Catalyst operator
    * (`AsOfJoinPlan` → `AsOfJoinStrategy` → `AsOfJoinExec`: co-partitioned
    * one-pass streaming merge, SURVEY.md §2B ladder preference (c)) —
    * verified against the identical DuckDB ASOF JOIN oracle, so the custom
    * physical operator itself is hash-checked end-to-end. */
  val q44 = Q(
    "q44_asof_native",
    (s, dir) => {
      val ev = events(s, dir).select("event_id", "user_id", "ts", "event_type")
      val errors = ev.filter(col("event_type") === "error")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("prev_error_id"))
      graft.operators.AsOfJoin
        .latestPriorExec(
          ev.select("event_id", "user_id", "ts"),
          errors,
          key = "user_id", leftTs = "ts", rightTs = "ts",
          rightCols = Map("prev_error_id" -> "prev_error_id",
            "ts" -> "prev_error_ts"))
        .select(col("event_id"), col("user_id"), col("prev_error_id"),
          (unix_micros(col("ts")) - unix_micros(col("prev_error_ts")))
            .as("gap_us"))
        .orderBy("event_id")
    },
    Some("""
      WITH ev AS (
        SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
        FROM events),
      err AS (
        SELECT user_id, ts, MAX(event_id) AS prev_error_id
        FROM ev WHERE event_type = 'error' GROUP BY user_id, ts)
      SELECT e.event_id, e.user_id, r.prev_error_id,
             epoch_us(e.ts) - epoch_us(r.ts) AS gap_us
      FROM ev e ASOF LEFT JOIN err r
        ON e.user_id = r.user_id AND e.ts > r.ts
      ORDER BY e.event_id""")
  )

  /** Exact rational α₂₅₆ = 0.7213/(1 + 1.079/256) = 923264/1285395 and the
    * scaled HLL numerator α·m²·2⁵⁷ used by [[q18]]'s integer estimator. */
  private[queries] val HllAlphaNum = 923264L
  private[queries] val HllAlphaDen = 1285395L
  private[queries] val HllNum: BigInt =
    BigInt(HllAlphaNum) * 65536 * (BigInt(1) << 57)

  /** Integer-exact bit length of a non-negative long (< 2⁵⁶ here): the
    * standard 6-step binary-search shift chain, written with columns so the
    * DuckDB oracle can mirror it CASE for CASE. bitlen(0) = 0. */
  private[graft] def bitlen56(df: DataFrame, w: String): DataFrame =
    df.withColumn("s5", when(col(w) >= (1L << 32), 32).otherwise(0))
      .withColumn("t4", expr(s"shiftright($w, s5)"))
      .withColumn("s4", when(col("t4") >= (1L << 16), 16).otherwise(0))
      .withColumn("t3", expr("shiftright(t4, s4)"))
      .withColumn("s3", when(col("t3") >= (1L << 8), 8).otherwise(0))
      .withColumn("t2", expr("shiftright(t3, s3)"))
      .withColumn("s2", when(col("t2") >= (1L << 4), 4).otherwise(0))
      .withColumn("t1", expr("shiftright(t2, s2)"))
      .withColumn("s1", when(col("t1") >= (1L << 2), 2).otherwise(0))
      .withColumn("t0", expr("shiftright(t1, s1)"))
      .withColumn("s0", when(col("t0") >= 2L, 1).otherwise(0))
      .withColumn("bitlen",
        when(col(w) === 0L, 0)
          .otherwise(col("s5") + col("s4") + col("s3") + col("s2") +
            col("s1") + col("s0") + 1))

  /** Registers of the deterministic HLL: md5-derive (bucket, 56-bit w)
    * from `key`, rank ρ per row, max per (group, bucket). The register
    * table IS the sketch's mergeable state — max-combining registers from
    * any sharding of the data yields the registers of the whole (q98
    * machine-checks that). Output: (group, bucket, r). */
  private[graft] def hllRegisters(df: DataFrame, key: Column,
      group: String): DataFrame = {
    // bucket/w from ONE md5_prefix64 digest — the first 16 hex chars as a
    // 64-bit big-endian value, so bucket = top byte ≡ conv(substr(hx,1,2))
    // and w = low 56 bits ≡ conv(substr(hx,3,14)): bit-identical to the
    // hex form (Round16LawsSpec pins it), with no 32-char hex render +
    // two substring re-parses per row (r16; the oracle keeps the hex
    // spelling — it IS the definition). Both derive from the digest
    // Column itself, so no intermediate column name can collide with
    // `group`.
    val h = graft.functions.GraftFunctions.md5_prefix64(key.cast("string"))
    val hashed = df.select(
      col(group),
      shiftrightunsigned(h, 56).cast("int").as("bucket"),
      h.bitwiseAND(lit((1L << 56) - 1)).as("w"))
    bitlen56(hashed, "w")
      .withColumn("rho", lit(57) - col("bitlen"))
      .groupBy(col(group), col("bucket"))
      .agg(max(col("rho")).as("r"))
  }

  /** Estimate from a (group, bucket, r) register table: the raw Flajolet
    * α·m²/Σ2^(−ρ) as ONE integral division of exact integers. */
  private[graft] def hllFromRegisters(regs: DataFrame,
      group: String): DataFrame =
    regs
      .groupBy(group)
      .agg(
        sum(expr("shiftleft(cast(1 as bigint), 57 - r)")
          .cast("decimal(38,0)")).as("s_obs"),
        count(lit(1)).as("nb"))
      .withColumn("s_all",
        col("s_obs") + (lit(256L) - col("nb")).cast("decimal(38,0)") *
          lit(1L << 57).cast("decimal(38,0)"))
      .withColumn("hll_parts",
        expr(s"cast('$HllNum' as decimal(38,0)) div " +
          s"(cast($HllAlphaDen as decimal(38,0)) * s_all)"))
      .select(group, "hll_parts")

  /** The full pipeline [[q18]] and its specs use: registers → estimate. */
  private[graft] def hllEstimate(df: DataFrame, key: Column,
      group: String): DataFrame =
    hllFromRegisters(hllRegisters(df, key, group), group)

  /** Sketch aggregation: a DETERMINISTIC HyperLogLog next to the exact
    * count. Spark's builtin approx_count_distinct (HLL++) stays covered by
    * OperatorSpec's error-bound test, but its estimate is implementation-
    * specific, so the declared query folds its own md5-derived registers:
    * bucket = first 8 hash bits (m = 256), ρ = leading-zero rank of the
    * next 56 bits via an integer shift chain, register = max(ρ) per bucket,
    * and the raw Flajolet estimate α·m²/Σ2^(−ρ) evaluated as ONE integral
    * division of exact integers (α = 923264/1285395 exactly; Σ scaled by
    * 2⁵⁷ into DECIMAL/HUGEINT) — bit-identical in DuckDB, flipping the last
    * sketch row from rows-only to a full hash oracle.
    *
    * Scale shape is unchanged from the builtin: fixed 256-register state,
    * map-side partial max per (flag, bucket), a ≤ flags×256-row shuffle —
    * at 100 TB the sketch is the ONLY viable distinct count vs the exact
    * expand-and-dedup. Raw-estimator regime: sf0.01 has ~2000 distinct
    * parts per flag, well above the 2.5·m linear-counting cutover, so no
    * small-range correction (which needs non-portable ln()) is applied. */
  val q18 = Q(
    "q18_approx_distinct",
    (s, dir) => {
      val li = lineitem(s, dir)
      val exact = li.groupBy(col("l_returnflag")).agg(
        countDistinct(col("l_partkey")).as("exact_parts"),
        count(lit(1)).as("n"))
      exact.join(hllEstimate(li, col("l_partkey"), "l_returnflag"),
          "l_returnflag")
        .select("l_returnflag", "hll_parts", "exact_parts", "n")
        .orderBy("l_returnflag")
    },
    Some(s"""
      WITH hx AS (
        SELECT l_returnflag, md5(CAST(l_partkey AS VARCHAR)) AS x
        FROM lineitem),
      hb AS (
        SELECT l_returnflag,
               CAST(CAST('0x' || substr(x, 1, 2) AS UBIGINT) AS INT) AS bucket,
               CAST(CAST('0x' || substr(x, 3, 14) AS UBIGINT) AS BIGINT) AS w
        FROM hx),
      b5 AS (SELECT *, CASE WHEN w >= 4294967296 THEN 32 ELSE 0 END AS s5 FROM hb),
      b4 AS (SELECT *, w >> s5 AS t4 FROM b5),
      c4 AS (SELECT *, CASE WHEN t4 >= 65536 THEN 16 ELSE 0 END AS s4 FROM b4),
      b3 AS (SELECT *, t4 >> s4 AS t3 FROM c4),
      c3 AS (SELECT *, CASE WHEN t3 >= 256 THEN 8 ELSE 0 END AS s3 FROM b3),
      b2 AS (SELECT *, t3 >> s3 AS t2 FROM c3),
      c2 AS (SELECT *, CASE WHEN t2 >= 16 THEN 4 ELSE 0 END AS s2 FROM b2),
      b1 AS (SELECT *, t2 >> s2 AS t1 FROM c2),
      c1 AS (SELECT *, CASE WHEN t1 >= 4 THEN 2 ELSE 0 END AS s1 FROM b1),
      b0 AS (SELECT *, t1 >> s1 AS t0 FROM c1),
      c0 AS (SELECT *, CASE WHEN t0 >= 2 THEN 1 ELSE 0 END AS s0 FROM b0),
      rr AS (
        SELECT l_returnflag, bucket,
               57 - (CASE WHEN w = 0 THEN 0
                          ELSE s5 + s4 + s3 + s2 + s1 + s0 + 1 END) AS rho
        FROM c0),
      reg AS (
        SELECT l_returnflag, bucket, MAX(rho) AS r
        FROM rr GROUP BY l_returnflag, bucket),
      ag AS (
        SELECT l_returnflag,
               SUM(CAST(CAST(1 AS BIGINT) << (57 - r) AS HUGEINT)) AS s_obs,
               COUNT(*) AS nb
        FROM reg GROUP BY l_returnflag),
      est AS (
        SELECT l_returnflag,
               CAST(CAST('$HllNum' AS HUGEINT) //
                    ($HllAlphaDen * (s_obs + (256 - nb) *
                       CAST(144115188075855872 AS HUGEINT))) AS BIGINT)
                 AS hll_parts
        FROM ag),
      ex AS (
        SELECT l_returnflag, COUNT(DISTINCT l_partkey) AS exact_parts,
               COUNT(*) AS n
        FROM lineitem GROUP BY l_returnflag)
      SELECT ex.l_returnflag, est.hll_parts, ex.exact_parts, ex.n
      FROM ex JOIN est USING (l_returnflag)
      ORDER BY l_returnflag""")
  )

  /** Pivot: order totals by priority × status. Spark's `pivot` with an
    * explicit value list (required for plan determinism at scale — without
    * it Spark runs an extra distinct-values job); the exact decimal sums
    * are rounded/cast in an outer projection on BOTH sides because DuckDB's
    * PIVOT USING clause only accepts a bare aggregate. */
  val q19 = Q(
    "q19_pivot",
    (s, dir) => {
      val statuses = Seq("F", "O", "P")
      orders(s, dir)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", statuses)
        .agg(sum(col("o_totalprice").cast(SumDec)))
        .select(col("o_orderpriority") +: statuses.map(st =>
          round(col(st), 2).cast("double").as(st)): _*)
        .orderBy("o_orderpriority")
    },
    Some("""
      WITH p AS (
        PIVOT orders ON o_orderstatus IN ('F', 'O', 'P')
        USING SUM(CAST(o_totalprice AS DECIMAL(28,10)))
        GROUP BY o_orderpriority)
      SELECT o_orderpriority,
             CAST(ROUND("F", 2) AS DOUBLE) AS F,
             CAST(ROUND("O", 2) AS DOUBLE) AS O,
             CAST(ROUND("P", 2) AS DOUBLE) AS P
      FROM p ORDER BY o_orderpriority""")
  )

  /** Outer joins — the remaining join-type row: per-customer order stats
    * via LEFT OUTER (customers with no orders survive with zeros), then a
    * FULL OUTER against a high-value-customer segment. Null sides are
    * normalized with coalesce so the result is deterministic and
    * hash-comparable. Both joins are key-equi: Spark plans SMJ/shuffled
    * hash and AQE may broadcast the smaller side — no nested loop. */
  val q58 = Q(
    "q58_outer_join",
    (s, dir) => {
      val bigOrders = orders(s, dir)
        .filter(col("o_totalprice") > 300000)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("spent"))
      // LEFT OUTER: every customer survives; ~2% have no qualifying order
      // and are zero-filled from the NULL side
      val lj = customer(s, dir)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_outer")
        .select(col("c_custkey"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          coalesce(col("spent"), lit(0.0)).as("spent"))
      val vip = customer(s, dir)
        .filter(col("c_acctbal") > 9000)
        .select(col("c_custkey").as("v_custkey"), col("c_acctbal"))
      // FULL OUTER: big-spenders who aren't VIPs (left-only), VIPs with no
      // qualifying orders (right-only), and the overlap — all three
      // branches are non-empty at every SF
      lj.filter(col("n_orders") > 0)
        .join(vip, col("c_custkey") === col("v_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("v_custkey")).as("custkey"),
          coalesce(col("n_orders"), lit(-1L)).as("n_orders"),
          coalesce(col("spent"), lit(-1.0)).as("spent"),
          coalesce(col("c_acctbal"), lit(0.0)).as("vip_bal"))
        .orderBy("custkey")
    },
    Some(s"""
      WITH co AS (
        SELECT o_custkey, COUNT(*) AS n_orders,
               ${dsumSql("o_totalprice")} AS spent
        FROM orders WHERE o_totalprice > 300000 GROUP BY o_custkey),
      lj AS (
        SELECT c_custkey, COALESCE(n_orders, 0) AS n_orders,
               COALESCE(spent, 0.0) AS spent
        FROM customer LEFT OUTER JOIN co ON c_custkey = o_custkey),
      vip AS (
        SELECT c_custkey AS v_custkey, c_acctbal
        FROM customer WHERE c_acctbal > 9000)
      SELECT COALESCE(c_custkey, v_custkey) AS custkey,
             COALESCE(n_orders, -1) AS n_orders,
             COALESCE(spent, -1.0) AS spent,
             COALESCE(c_acctbal, 0.0) AS vip_bal
      FROM (SELECT * FROM lj WHERE n_orders > 0) lj2
      FULL OUTER JOIN vip ON c_custkey = v_custkey
      ORDER BY custkey""")
  )

  /** Arbitrary GROUPING SETS (not expressible as one rollup/cube) with
    * `grouping_id` disambiguating real NULL group keys from aggregate
    * rows — the remaining grouping-sets surface beyond q10/q11. Same
    * Expand→partial agg→exchange→final agg shape as rollup: the shuffle
    * carries one row per (set, group), never the input. */
  val q59 = Q(
    "q59_grouping_sets",
    (s, dir) =>
      orders(s, dir)
        .groupingSets(
          Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
            Seq(col("o_orderstatus")),
            Seq()),
          col("o_orderpriority"), col("o_orderstatus"))
        .agg(grouping_id().as("gid"),
          count(lit(1)).as("n_orders"),
          dsum(col("o_totalprice")).as("sum_price"))
        .orderBy("gid", "o_orderpriority", "o_orderstatus"),
    Some(s"""
      SELECT o_orderpriority, o_orderstatus,
             GROUPING(o_orderpriority, o_orderstatus) AS gid,
             COUNT(*) AS n_orders,
             ${dsumSql("o_totalprice")} AS sum_price
      FROM orders
      GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
                              (o_orderstatus), ())
      ORDER BY gid, o_orderpriority, o_orderstatus""")
  )

  /** Click→purchase attribution: each click left-joined to the purchases
    * the same user makes within the following 30 minutes. Clicks with no
    * attributable purchase survive with −1/0 sentinels (q58's coalesce
    * discipline — engine-dependent NULL ordering never reaches the hash).
    *
    * Scale shape: an EQUI join on user_id with the time bound as residual
    * predicate — Spark plans SMJ/shuffled-hash keyed by user, never a
    * nested loop (suite-wide plan guard). Purchases replicate at most
    * per-click-within-window. */
  val q81 = Q(
    "q81_interval_enrich",
    (s, dir) => {
      val ev = events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("c_event_id"), col("user_id"),
          col("ts").as("c_ts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id").as("p_event_id"),
          col("user_id").as("p_user_id"), col("ts").as("p_ts"),
          col("value"))
      clicks.join(purchases,
          col("user_id") === col("p_user_id") &&
            col("p_ts") >= col("c_ts") &&
            col("p_ts") <= col("c_ts") + expr("INTERVAL 30 MINUTES"),
          "left_outer")
        .select(
          col("c_event_id"), col("user_id"),
          coalesce(col("p_event_id"), lit(-1L)).as("p_event_id"),
          coalesce(unix_micros(col("p_ts")) - unix_micros(col("c_ts")),
            lit(-1L)).as("gap_us"),
          coalesce(col("value"), lit(0.0)).as("purchase_value"))
        .orderBy("c_event_id", "p_event_id")
    },
    Some("""
      WITH c AS (
        SELECT event_id AS c_event_id, user_id, CAST(ts AS TIMESTAMP) AS c_ts
        FROM events WHERE event_type = 'click'),
      p AS (
        SELECT event_id AS p_event_id, user_id AS p_user_id,
               CAST(ts AS TIMESTAMP) AS p_ts, value
        FROM events WHERE event_type = 'purchase')
      SELECT c.c_event_id, c.user_id,
             COALESCE(p.p_event_id, -1) AS p_event_id,
             COALESCE(epoch_us(p.p_ts) - epoch_us(c.c_ts), -1) AS gap_us,
             COALESCE(p.value, 0.0) AS purchase_value
      FROM c LEFT OUTER JOIN p
        ON c.user_id = p.p_user_id
       AND p.p_ts >= c.c_ts
       AND p.p_ts <= c.c_ts + INTERVAL 30 MINUTE
      ORDER BY c_event_id, p_event_id""")
  )

  /** Ordered funnel analysis — the classic event-analytics workload:
    * how many users progress view → click → purchase, where each step's
    * event must be STRICTLY AFTER the user's first qualifying event of
    * the previous step (first-touch semantics; an early purchase before
    * any view does not count). Output: one row per step with the user
    * count and conversion vs step 1.
    *
    * Scale shape: each step is a user-keyed equi-join carrying only
    * (user_id, step timestamp) pairs into a map-side-combined MIN — the
    * event stream is scanned once per step with the step's type filter
    * pushed to the parquet scan, and nothing wider than 16-byte pairs
    * shuffles. The final conversion window runs over THREE rows. The
    * alternative single-pass formulation (collect every user's full
    * event list, walk it) shuffles whole per-user event arrays —
    * strictly worse unless steps ≫ 3. */
  val q93 = Q(
    "q93_funnel",
    (s, dir) => {
      val ev = events(s, dir)
      val s1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min(col("ts")).as("t1"))
        .materialized // consumers: step-2 join + step-1 count
      val s2 = ev.filter(col("event_type") === "click")
        .join(s1, "user_id").filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min(col("ts")).as("t2"))
        .materialized // consumers: step-3 join + step-2 count
      val s3 = ev.filter(col("event_type") === "purchase")
        .join(s2, "user_id").filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min(col("ts")).as("t3"))
      val counts = s1.agg(count(lit(1)).as("users"))
        .select(lit(1).as("step"), lit("view").as("label"), col("users"))
        .union(s2.agg(count(lit(1)).as("users"))
          .select(lit(2).as("step"), lit("view>click").as("label"), col("users")))
        .union(s3.agg(count(lit(1)).as("users"))
          .select(lit(3).as("step"),
            lit("view>click>purchase").as("label"), col("users")))
      val w = Window.orderBy("step")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      counts
        .withColumn("conversion", col("users").cast("double") /
          max(when(col("step") === 1, col("users"))).over(w))
        .orderBy("step")
    },
    Some("""
      WITH e AS (
        SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events),
      s1 AS (
        SELECT user_id, MIN(ts) AS t1 FROM e
        WHERE event_type = 'view' GROUP BY user_id),
      s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t2 FROM e
        JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = 'click' AND e.ts > s1.t1
        GROUP BY e.user_id),
      s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t3 FROM e
        JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = 'purchase' AND e.ts > s2.t2
        GROUP BY e.user_id),
      counts AS (
        SELECT 1 AS step, 'view' AS label, COUNT(*) AS users FROM s1
        UNION ALL
        SELECT 2, 'view>click', COUNT(*) FROM s2
        UNION ALL
        SELECT 3, 'view>click>purchase', COUNT(*) FROM s3)
      SELECT step, label, users,
             CAST(users AS DOUBLE) /
               MAX(CASE WHEN step = 1 THEN users END) OVER () AS conversion
      FROM counts ORDER BY step""")
  )

  /** Cohort retention — the standard product-analytics matrix the suite
    * lacked: users are cohorted by the DAY of their first `signup` event,
    * and cell (cohort, k) reports how many of them produced any activity
    * k days later (day_k = exact integer date difference — no float time
    * arithmetic anywhere). Users who never signed up are excluded, per
    * the usual funnel definition.
    *
    * Scale shape: two user-keyed aggregates (first signup, distinct
    * active days — both map-side combined; (user, day) pairs are narrow),
    * one user-keyed equi-join, then a cohort-keyed aggregate whose output
    * is days² rows. Nothing is ever wider than (user_id, timestamp);
    * event payloads never shuffle. */
  val q102 = Q(
    "q102_cohort_retention",
    (s, dir) => {
      val ev = events(s, dir).select(col("user_id"), col("event_type"),
        date_trunc("day", col("ts")).as("d"))
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy("user_id").agg(min("d").as("cohort_d"))
      val active = ev.select("user_id", "d").distinct()
      val ret = active.join(cohorts, "user_id")
        .filter(col("d") >= col("cohort_d"))
        .select(col("cohort_d"), datediff(col("d"), col("cohort_d")).as("day_k"))
        .groupBy("cohort_d", "day_k")
        .agg(count(lit(1)).as("n_active"))
      val sizes = cohorts.groupBy("cohort_d")
        .agg(count(lit(1)).as("cohort_size"))
      ret.join(sizes, "cohort_d")
        .select(
          date_format(col("cohort_d"), "yyyy-MM-dd").as("cohort_day"),
          col("day_k"), col("n_active"), col("cohort_size"),
          (col("n_active").cast("double") / col("cohort_size"))
            .as("retention"))
        .orderBy("cohort_day", "day_k")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_type,
               date_trunc('day', CAST(ts AS TIMESTAMP)) AS d
        FROM events),
      cohorts AS (
        SELECT user_id, MIN(d) AS cohort_d FROM ev
        WHERE event_type = 'signup' GROUP BY user_id),
      active AS (SELECT DISTINCT user_id, d FROM ev),
      ret AS (
        SELECT c.cohort_d,
               CAST(date_diff('day', c.cohort_d, a.d) AS INT) AS day_k,
               COUNT(*) AS n_active
        FROM active a JOIN cohorts c USING (user_id)
        WHERE a.d >= c.cohort_d
        GROUP BY 1, 2),
      sizes AS (
        SELECT cohort_d, COUNT(*) AS cohort_size
        FROM cohorts GROUP BY cohort_d)
      SELECT strftime(r.cohort_d, '%Y-%m-%d') AS cohort_day, r.day_k,
             CAST(r.n_active AS BIGINT) AS n_active,
             CAST(s.cohort_size AS BIGINT) AS cohort_size,
             CAST(r.n_active AS DOUBLE) / s.cohort_size AS retention
      FROM ret r JOIN sizes s USING (cohort_d)
      ORDER BY cohort_day, day_k""")
  )

  /** EWMA smoothing of the event value stream, per user — the time-series
    * smoothing operator (α = 1/2, 16-tap truncated kernel). Both engines
    * hash-match BIT-EXACTLY without decimals because every weight is a
    * power of two: `value · 2⁻ᵏ` only shifts the IEEE-754 exponent (no
    * rounding), and the 16-term numerator/denominator sums are written as
    * the SAME left-associated addition chain in the Spark plan and the
    * oracle SQL, so both engines execute the identical float op sequence.
    * Partial windows normalize by the sum of the weights actually present
    * (the standard `adjust=true` EWM semantics).
    *
    * Scale shape: one user-keyed window (16 lags in a single codegen'd
    * frame pass, no self-join), shuffle = one exchange on user_id. */
  val q105 = Q(
    "q105_ewma",
    (s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val terms = (0 until 16).map { k =>
        (lag(col("value"), k).over(byUser), math.pow(0.5, k))
      }
      val num = terms.map { case (c, w) => coalesce(c * lit(w), lit(0.0)) }
        .reduce(_ + _)
      val den = terms.map { case (c, w) =>
        when(c.isNotNull, lit(w)).otherwise(lit(0.0))
      }.reduce(_ + _)
      events(s, dir)
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
          col("value"), (num / den).as("ewma"))
        .orderBy("user_id", "event_id")
    },
    Some {
      val num = (0 until 16)
        .map(k => s"COALESCE(lag(value, $k) OVER w * ${math.pow(0.5, k)}, 0.0)")
        .mkString(" + ")
      val den = (0 until 16)
        .map(k =>
          s"CASE WHEN lag(value, $k) OVER w IS NOT NULL THEN ${math.pow(0.5, k)} ELSE 0.0 END")
        .mkString(" + ")
      s"""
      SELECT user_id, event_id,
             strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS ts_s,
             value, ($num) / ($den) AS ewma
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)
      ORDER BY user_id, event_id"""
    }
  )

  /** 3σ anomaly detection over the event stream, per event type — the
    * data-quality screen run before a metrics table is trusted. Mean and
    * variance come from EXACT decimal sums (Σx, Σx² in DECIMAL(18,6) /
    * its exact product type — no rounding, order-independent), cast to
    * double only at the end; the flag compares SQUARES
    * ((x−μ)²·(n−1) > 9·(Σx² − (Σx)²/n)) so no sqrt exists anywhere and
    * both engines evaluate the same literal formula on identical doubles.
    *
    * Scale shape: one event_type-keyed aggregate (5 types — map-side
    * combined to nothing), broadcast back over the stream; the flagged
    * subset is the output. Two scans, zero wide shuffles. */
  val q107 = Q(
    "q107_anomaly",
    (s, dir) => {
      val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
      val stats = events(s, dir).groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("value").cast(dec6)).cast("double").as("sx"),
        sum(col("value").cast(dec6) * col("value").cast(dec6))
          .cast("double").as("sxx"))
      events(s, dir)
        .join(broadcast(stats), "event_type")
        .withColumn("mean", col("sx") / col("n"))
        .withColumn("varn", // (n-1)·σ²·(n)  — kept unnormalized, see flag
          col("sxx") - col("sx") * col("sx") / col("n"))
        .filter(
          (col("value") - col("mean")) * (col("value") - col("mean")) *
            (col("n") - 1) > lit(9.0) * col("varn") * lit(1.0))
        .select(col("event_id"), col("event_type"), col("value"),
          col("n"), col("mean"))
        .orderBy("event_id")
    },
    Some("""
      WITH stats AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(value AS DECIMAL(18,6)) *
                        CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sxx
        FROM events GROUP BY event_type)
      SELECT event_id, event_type, value, n, sx / n AS mean
      FROM events JOIN stats USING (event_type)
      WHERE (value - sx / n) * (value - sx / n) * (n - 1)
            > 9.0 * (sxx - sx * sx / n) * 1.0
      ORDER BY event_id""")
  )

  /** Markov transition matrix over per-user event sequences — the
    * behavioral-analytics "what happens next" operator (and the
    * sequence-statistics shape used for session-level curation): order
    * each user's events by time, pair each with its successor via lag-1
    * window, count (from → to) transitions, and report the conditional
    * probability P(to | from) as an exact scaled integer
    * (c_trans·10⁶ div c_from) so both engines rank identically.
    *
    * Scale shape: one user-keyed window (the only corpus-sized exchange),
    * then a 25-row (from, to) aggregate and a 5-row from-total join —
    * both broadcast-sized. Event payloads never shuffle. */
  val q109 = Q(
    "q109_transitions",
    (s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val pairs = events(s, dir)
        .select(col("user_id"), col("event_type").as("to_t"),
          lag(col("event_type"), 1).over(byUser).as("from_t"))
        .filter(col("from_t").isNotNull)
      val trans = pairs.groupBy("from_t", "to_t")
        .agg(count(lit(1)).as("c_trans"))
      val fromTotals = pairs.groupBy("from_t")
        .agg(count(lit(1)).as("c_from"))
      trans.join(fromTotals, "from_t")
        .select(col("from_t"), col("to_t"), col("c_trans"), col("c_from"),
          expr("c_trans * 1000000 div c_from").as("p_x1e6"))
        .orderBy("from_t", "to_t")
    },
    Some("""
      WITH pairs AS (
        SELECT user_id, event_type AS to_t,
               lag(event_type, 1) OVER (PARTITION BY user_id
                 ORDER BY CAST(ts AS TIMESTAMP), event_id) AS from_t
        FROM events),
      t AS (
        SELECT from_t, to_t, COUNT(*) AS c_trans
        FROM pairs WHERE from_t IS NOT NULL GROUP BY 1, 2),
      f AS (
        SELECT from_t, COUNT(*) AS c_from
        FROM pairs WHERE from_t IS NOT NULL GROUP BY 1)
      SELECT from_t, to_t, CAST(c_trans AS BIGINT) AS c_trans,
             CAST(c_from AS BIGINT) AS c_from,
             c_trans * 1000000 // c_from AS p_x1e6
      FROM t JOIN f USING (from_t)
      ORDER BY from_t, to_t""")
  )

  /** CDC MERGE (upsert) — apply a changeset of inserts/updates/deletes to
    * a base snapshot in one pass: the warehouse `MERGE INTO` the engine
    * needs for incremental corpus maintenance (q85 only DIAGNOSES drift
    * between snapshots; this one APPLIES it). Base and changes are carved
    * deterministically from `documents` (base: doc_id % 7 ≠ 0; changes:
    * updates at % 3 = 0 with rewritten text, deletes at % 5 = 0, inserts
    * as fresh ids + 100000 at % 11 = 0), merged via ONE full-outer
    * equi-join on doc_id with last-writer-wins semantics.
    *
    * Scale shape: both sides are hashed MAP-SIDE before the join (q85's
    * narrow-key discipline — the join shuffles ids + 32-byte digests +
    * the op tag, never two copies of the text), and the merged corpus is
    * emitted directly. One shuffle, no iteration. */
  val q111 = Q(
    "q111_cdc_merge",
    (s, dir) => {
      val docs = documents(s, dir).select("doc_id", "text")
      val base = docs.filter(col("doc_id") % 7 =!= 0)
      val changes = docs.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), lit("U").as("op"),
          upper(col("text")).as("new_text"))
        .union(docs.filter(col("doc_id") % 5 === 0 && col("doc_id") % 3 =!= 0)
          .select(col("doc_id"), lit("D").as("op"),
            lit(null).cast("string").as("new_text")))
        .union(docs.filter(col("doc_id") % 11 === 0)
          .select((col("doc_id") + 100000).as("doc_id"), lit("I").as("op"),
            reverse(col("text")).as("new_text")))
      base.select(col("doc_id"), col("text"))
        .join(changes, Seq("doc_id"), "full_outer")
        .filter(coalesce(col("op"), lit("")) =!= "D")
        .filter(col("text").isNotNull || col("op") === "I")
        .select(col("doc_id"),
          coalesce(col("op"), lit("keep")).as("action"),
          md5(coalesce(col("new_text"), col("text"))).as("content_md5"))
        .orderBy("doc_id")
    },
    Some("""
      WITH docs AS (SELECT doc_id, text FROM documents),
      base AS (SELECT * FROM docs WHERE doc_id % 7 <> 0),
      changes AS (
        SELECT doc_id, 'U' AS op, upper(text) AS new_text
        FROM docs WHERE doc_id % 3 = 0
        UNION ALL
        SELECT doc_id, 'D', NULL FROM docs
        WHERE doc_id % 5 = 0 AND doc_id % 3 <> 0
        UNION ALL
        SELECT doc_id + 100000, 'I', reverse(text) FROM docs
        WHERE doc_id % 11 = 0)
      SELECT COALESCE(b.doc_id, c.doc_id) AS doc_id,
             COALESCE(c.op, 'keep') AS action,
             md5(COALESCE(c.new_text, b.text)) AS content_md5
      FROM base b FULL OUTER JOIN changes c USING (doc_id)
      WHERE COALESCE(c.op, '') <> 'D'
        AND (b.text IS NOT NULL OR c.op = 'I')
      ORDER BY doc_id""")
  )

  /** SCD2 interval derivation — turn a change stream into a
    * slowly-changing-dimension type-2 history table: per user, collapse
    * consecutive repeats of event_type, then give each surviving state a
    * [valid_from, valid_to) interval via lead(), open-ended on the
    * current state. The standard warehousing transform between an event
    * log and a point-in-time-joinable dimension (the table q17/q44's
    * as-of join would consume).
    *
    * Scale shape: two user-keyed window passes over the same exchange
    * (change detection via lag, interval close via lead — Catalyst
    * shares the single sort/partitioning), then a projection. One
    * shuffle total; event payloads never move twice. */
  val q112 = Q(
    "q112_scd2",
    (s, dir) => {
      val byUser = Window.partitionBy("user_id")
        .orderBy(col("ts"), col("event_id"))
      val changed = events(s, dir)
        .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
        .withColumn("prev_t", lag(col("event_type"), 1).over(byUser))
        .filter(col("prev_t").isNull || col("prev_t") =!= col("event_type"))
      changed
        .withColumn("valid_to_ts", lead(col("ts"), 1).over(byUser))
        .select(col("user_id"), col("event_type").as("state"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          coalesce(date_format(col("valid_to_ts"), "yyyy-MM-dd HH:mm:ss"),
            lit("current")).as("valid_to"),
          col("valid_to_ts").isNull.cast("int").as("is_current"))
        .orderBy("user_id", "valid_from", "state")
    },
    Some("""
      WITH ev AS (
        SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, event_type,
               lag(event_type, 1) OVER w AS prev_t
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id)),
      changed AS (
        SELECT user_id, event_id, ts, event_type
        FROM ev WHERE prev_t IS NULL OR prev_t <> event_type)
      SELECT user_id, event_type AS state,
             strftime(ts, '%Y-%m-%d %H:%M:%S') AS valid_from,
             COALESCE(strftime(lead(ts, 1) OVER w2, '%Y-%m-%d %H:%M:%S'),
                      'current') AS valid_to,
             CAST(lead(ts, 1) OVER w2 IS NULL AS INT) AS is_current
      FROM changed
      WINDOW w2 AS (PARTITION BY user_id ORDER BY ts, event_id)
      ORDER BY user_id, valid_from, state""")
  )

  /** Per-group OLS trend line — exact-sum linear regression of event
    * value over time: slope/intercept from the closed form
    * (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²), with x re-based to HOURS since
    * 2024-01-01 (integer µs division — x ≤ ~10³ over a month-scale
    * window) so Σx and Σx² are small exact integers, the cross sums Σy /
    * Σxy are exact decimals whose double casts are lossless (< 2⁵³
    * quanta), and n·Σx² stays far from BIGINT overflow at any tested
    * scale; doubles appear only in the final division, evaluated by the
    * same formula text in both engines. The drift detector behind "is
    * this metric trending?"
    *
    * Scale shape: one event_type-keyed aggregate with map-side partial
    * sums — 5 output rows; nothing else shuffles. */
  val q113 = Q(
    "q113_trend",
    (s, dir) => {
      val dec6 = org.apache.spark.sql.types.DecimalType(18, 6)
      // 473352 = hours from epoch to 2024-01-01T00:00Z
      val x = expr("unix_micros(ts) div 3600000000 - 473352")
      events(s, dir)
        .select(col("event_type"), x.as("x"), col("value").cast(dec6).as("y"))
        .groupBy("event_type")
        .agg(
          count(lit(1)).as("n"),
          sum(col("x")).cast("long").as("sx"),
          sum(col("x") * col("x")).cast("long").as("sxx"),
          sum(col("y")).cast("double").as("sy"),
          sum(col("x") * col("y")).cast("double").as("sxy"))
        .withColumn("slope",
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
        .withColumn("intercept",
          (col("sy") - col("slope") * col("sx")) / col("n"))
        .select("event_type", "n", "sx", "sxx", "slope", "intercept")
        .orderBy("event_type")
    },
    Some("""
      WITH pts AS (
        SELECT event_type,
               epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 - 473352 AS x,
               CAST(value AS DECIMAL(18,6)) AS y
        FROM events),
      sums AS (
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(x * y) AS DOUBLE) AS sxy
        FROM pts GROUP BY event_type)
      SELECT event_type, n, sx, sxx,
             (n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE) AS slope,
             (sy - ((n * sxy - sx * sy) / CAST(n * sxx - sx * sx AS DOUBLE)) * sx)
               / n AS intercept
      FROM sums ORDER BY event_type""")
  )

  /** Enrichment join — "enrich each event with its dimension row,
    * aggregate by a dimension attribute": events ⋈ customer (user key) ⋈
    * nation, revenue and volume per (nation, event_type). Both dims
    * are explicitly broadcast (customer is bounded per-tenant; nation is
    * 25 rows), so the corpus-sized events scan never shuffles — the only
    * exchange is the ~125-group aggregate, map-side combined. At 100 TB
    * of events this is the shape you want: dimension churn, not event
    * volume, is what would force a state-store join. */
  val q119 = Q(
    "q119_stream_enrich",
    (s, dir) => {
      val ev = events(s, dir)
      val cust = customer(s, dir)
        .select(col("c_custkey"), col("c_nationkey"))
      val nat = nation(s, dir)
        .select(col("n_nationkey"), col("n_name"))
      ev.join(broadcast(cust), col("user_id") === col("c_custkey"))
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"), col("event_type"))
        .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
        .orderBy("nation", "event_type")
    },
    Some(s"""
      SELECT n_name AS nation, event_type,
             COUNT(*) AS n_events,
             ${dsumSql("value")} AS sum_value
      FROM events
      JOIN customer ON user_id = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      GROUP BY n_name, event_type
      ORDER BY nation, event_type""")
  )

  /** Robust (median/MAD) anomaly screen — q107's 3σ twin with outlier-proof
    * statistics: mean and σ are themselves dragged by the outliers they're
    * meant to catch; median and MAD (median absolute deviation) have a 50%
    * breakdown point, which is what monitoring skewed `value` streams
    * actually needs. All arithmetic is exact: values are floored to 1e-6
    * integers, medians at the dyadic p=0.5 over integers are exact doubles
    * (q35's argument), and both median and MAD are carried ×2/×4 scaled so
    * every comparison (2·|2v−2med| > 3·(4·MAD)/… folded to 2d > 3·m4) is
    * pure BIGINT — no float tolerance anywhere in the flag.
    *
    * Scale shape: two event_type-keyed aggregates (the exact-median sort
    * is per-group inside the percentile buffer) with 5-row outputs, each
    * broadcast back over the stream — same broadcast-stats discipline as
    * q107. When a group outgrows one percentile buffer, q127 IS the
    * replacement: the same medians by grouped histogram-refine selection
    * (no per-group sort buffer), cross-checked against this query in
    * Round6OpsSpec. */
  val q122 = Q(
    "q122_robust_anomaly",
    (s, dir) => {
      val ev = events(s, dir)
        .select(col("event_type"),
          expr("cast(floor(value * 1000000) as bigint)").as("v"))
      val med = ev.groupBy("event_type")
        .agg((percentile(col("v"), lit(0.5)) * 2).cast("long").as("m2"),
          count(lit(1)).as("n"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("d", abs(col("v") * 2 - col("m2")))
      val mad = dev.groupBy("event_type")
        .agg((percentile(col("d"), lit(0.5)) * 2).cast("long").as("m4"))
      dev.join(broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(max(col("n")).as("n"),
          (max(col("m2")) / 2.0).as("med_x1e6"),
          (max(col("m4")) / 4.0).as("mad_x1e6"),
          sum((col("d") * 2 > col("m4") * 3).cast("long")).as("n_anom"))
        .orderBy("event_type")
    },
    Some("""
      WITH ev AS (
        SELECT event_type, CAST(FLOOR(value * 1000000) AS BIGINT) AS v
        FROM events),
      med AS (
        SELECT event_type, CAST(quantile_cont(v, 0.5) * 2 AS BIGINT) AS m2,
               COUNT(*) AS n
        FROM ev GROUP BY 1),
      dev AS (
        SELECT ev.event_type, v, abs(2 * v - m2) AS d, m2, n
        FROM ev JOIN med USING (event_type)),
      mad AS (
        SELECT event_type, CAST(quantile_cont(d, 0.5) * 2 AS BIGINT) AS m4
        FROM dev GROUP BY 1)
      SELECT dev.event_type, MAX(n) AS n,
             MAX(m2) / 2.0 AS med_x1e6,
             MAX(m4) / 4.0 AS mad_x1e6,
             CAST(SUM(CASE WHEN 2 * d > 3 * m4 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_anom
      FROM dev JOIN mad USING (event_type)
      GROUP BY dev.event_type ORDER BY event_type""")
  )

  val all: Seq[Q] = Seq(q01, q02, q03, q04, q05, q06, q07, q08,
    q09, q10, q11, q12, q13, q14, q15, q16, q17, q18, q19, q28, q29, q44,
    q58, q59, q81, q93, q102, q105, q107, q109, q111, q112, q113, q119,
    q122)
}
