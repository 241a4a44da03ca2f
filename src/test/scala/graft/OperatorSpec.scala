package graft

import graft.operators.Multimodal
import graft.sources.PdfImporter
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

class OperatorSpec extends SparkSpec {

  test("PDF concat partitions by first table's arity and concats positionally") {
    val a = Seq(IndexedSeq("a", "b"))
    val b = Seq(IndexedSeq("c", "d"))
    val odd = Seq(IndexedSeq("x", "y", "z"))
    val r = PdfImporter.concat(spark, Seq(a, odd, b))
    assert(r.valid.get.collect().toSet == Set(Row("a", "b"), Row("c", "d")))
    assert(r.invalid.get.collect().toSeq == Seq(Row("x", "y", "z")))
  }

  test("PDF concat index column reproduces reset_index quirk") {
    val a = Seq(IndexedSeq("a", "b"), IndexedSeq("c", "d"))
    val b = Seq(IndexedSeq("e", "f"))
    val r = PdfImporter.concat(spark, Seq(a, b), withIndexColumn = true)
    val rows = r.valid.get.collect()
    assert(r.valid.get.columns.head == "index")
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 2))
  }

  test("PDF concat null-pads mixed-arity invalid group (pandas concat parity)") {
    val first = Seq(IndexedSeq("a", "b"))
    val w3 = Seq(IndexedSeq("x", "y", "z"))
    val w4 = Seq(IndexedSeq("p", "q", "r", "s"))
    // invalid group mixes widths 3 and 4 — must align positionally and
    // null-pad, not throw NUM_COLUMNS_MISMATCH
    val r = PdfImporter.concat(spark, Seq(first, w3, w4))
    assert(r.valid.get.collect().toSeq == Seq(Row("a", "b")))
    val inv = r.invalid.get
    assert(inv.columns.toSeq == Seq("0", "1", "2", "3"))
    assert(inv.collect().toSet ==
      Set(Row("x", "y", "z", null), Row("p", "q", "r", "s")))
  }

  test("AsOfJoin is deterministic under duplicate (key, rightTs) rows") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    val left = Seq((1L, 100L, "L")).toDF("k", "lts", "tag")
    // three right rows at the SAME (key, ts): max payload must win, and the
    // choice must not depend on partitioning
    val right = Seq((1L, 50L, 7.0), (1L, 50L, 9.0), (1L, 50L, 8.0))
      .toDF("k", "rts", "price")
    for (parts <- Seq(1, 3, 7)) {
      val got = AsOfJoin.latestPrior(
        left, right.repartition(parts), "k", "lts", "rts",
        Map("price" -> "price")).collect()
      assert(got.toSeq == Seq(Row(1L, 100L, "L", 9.0)), s"parts=$parts")
    }
  }

  test("native AsOfJoinExec agrees with the window composition") {
    import spark.implicits._
    import graft.operators.AsOfJoin
    // edge cases: equal-ts left/right (strict < must exclude), no prior
    // match (null), duplicate (key, rts) tiebreak, multiple keys, a key
    // present on only one side
    val left = Seq(
      (1L, 100L, "a"), (1L, 51L, "b"), (1L, 50L, "c"),
      (2L, 10L, "d"), (3L, 500L, "e")).toDF("k", "lts", "tag")
    val right = Seq(
      (1L, 50L, 7.0), (1L, 50L, 9.0), (1L, 99L, 1.0),
      (2L, 10L, 2.0), (4L, 1L, 3.0)).toDF("k", "rts", "price")
    for (parts <- Seq(1, 3, 7)) {
      val composed = AsOfJoin.latestPrior(
        left, right.repartition(parts), "k", "lts", "rts",
        Map("price" -> "price", "rts" -> "match_ts")).orderBy("k", "lts")
      val native = AsOfJoin.latestPriorExec(
        left, right.repartition(parts), "k", "lts", "rts",
        Map("price" -> "price", "rts" -> "match_ts")).orderBy("k", "lts")
      assert(native.columns.toSeq == composed.columns.toSeq)
      assert(native.collect().toSeq == composed.collect().toSeq, s"parts=$parts")
      // strictness spot checks on the native result
      val byTag = native.collect().map(r => r.getString(2) -> r).toMap
      assert(byTag("a").getDouble(3) == 1.0)  // latest prior is ts=99
      assert(byTag("b").getDouble(3) == 9.0)  // ts=50 duplicates → max payload
      assert(byTag("c").isNullAt(3))          // equal ts excluded (strict <)
      assert(byTag("d").isNullAt(3))          // equal ts only → strict < excludes
      assert(byTag("e").isNullAt(3))          // key absent on right
    }
    // the custom operator must actually be in the physical plan
    val plan = AsOfJoin.latestPriorExec(left, right, "k", "lts", "rts",
      Map("price" -> "price")).queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan.take(2000))
  }

  test("rolling_hash is deterministic, codegen-evaluated, and distinct") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    val df = Seq("alpha", "beta", "alpha").toDF("s")
      .select(GraftFunctions.rolling_hash(col("s")).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs(0) == hs(2))
    assert(hs(0) != hs(1))
    // SQL registration path
    GraftFunctions.registerAll(spark)
    Seq("alpha").toDF("s").createOrReplaceTempView("rh_t")
    val viaSql = spark.sql("SELECT rolling_hash(s) FROM rh_t").head().getLong(0)
    assert(viaSql == hs(0))
  }

  test("md5_prefix64 halves are bit-identical to the hex conv/substring form") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    // the oracle keeps using ('0x'||substr(md5(x),1,8))::BIGINT — the
    // expression must agree on every input, including unicode and empty
    val inputs = Seq("", "a", "hello world", "héllo wörld", "日本語テキスト",
      "x" * 1000, "a b c d e f g h")
    val rows = inputs.toDF("s").select(
      GraftFunctions.md5_prefix64(col("s")).as("p"),
      conv(substring(md5(col("s")), 1, 8), 16, 10).cast("long").as("lo"),
      conv(substring(md5(col("s")), 9, 8), 16, 10).cast("long").as("hi"))
      .collect()
    rows.foreach { r =>
      val p = r.getLong(0)
      assert((p >>> 32) === r.getLong(1))
      assert((p & 0xFFFFFFFFL) === r.getLong(2))
    }
    // SQL registration path
    GraftFunctions.registerAll(spark)
    Seq("abc").toDF("s").createOrReplaceTempView("mp_t")
    val viaSql = spark.sql("SELECT md5_prefix64(s) FROM mp_t").head().getLong(0)
    assert(viaSql === graft.functions.Md5Prefix64.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")))
  }

  test("md5_suffix64 / md5_128 are bit-identical to the hex digest halves") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    // md5_128 must equal (md5_prefix64, md5_suffix64) from ONE digest
    // pass, and each long must match the corresponding conv/substring
    // halves of the 32-char hex digest — the bijection the r15 dedup
    // pipelines rely on when they swap hex keys for (h1, h2) longs.
    val inputs = Seq("", "a", "hello world", "héllo wörld", "日本語テキスト",
      "x" * 1000, "a b c d e f g h")
    val (h1c, h2c) = GraftFunctions.md5_128(col("s"))
    val rows = inputs.toDF("s").select(
      h1c.as("h1"), h2c.as("h2"),
      GraftFunctions.md5_prefix64(col("s")).as("p"),
      GraftFunctions.md5_suffix64(col("s")).as("q"),
      conv(substring(md5(col("s")), 17, 8), 16, 10).cast("long").as("lo"),
      conv(substring(md5(col("s")), 25, 8), 16, 10).cast("long").as("hi"))
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) === r.getLong(2)) // h1 ≡ md5_prefix64
      assert(r.getLong(1) === r.getLong(3)) // h2 ≡ md5_suffix64
      val q = r.getLong(1)
      assert((q >>> 32) === r.getLong(4)) // hex chars 17-24
      assert((q & 0xFFFFFFFFL) === r.getLong(5)) // hex chars 25-32
    }
    // interpreted (non-codegen) path must agree with codegen
    val utf8 = org.apache.spark.unsafe.types.UTF8String.fromString("abc")
    val pair = graft.functions.Md5Pair(
      org.apache.spark.sql.catalyst.expressions.Literal(utf8,
        org.apache.spark.sql.types.StringType))
    val row = pair.eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow]
    assert(row.getLong(0) === graft.functions.Md5Prefix64.hash(utf8))
    assert(row.getLong(1) === graft.functions.Md5Prefix64.hashHi(utf8))
  }

  test("winnow hashes: reference fold parity, window extremes, edge cases") {
    import spark.implicits._
    import graft.functions.{GraftFunctions, WinnowHash}
    import org.apache.spark.unsafe.types.UTF8String
    // independent reference: brute-force every window with a plain fold
    def foldHash(cps: Seq[Int]): Long =
      cps.foldLeft(0L)((h, c) => (h * WinnowHash.B + c) % WinnowHash.P)
    def brute(s: String, k: Int): Seq[Long] = {
      val cps = s.codePoints().toArray.toSeq
      if (cps.isEmpty) Seq(0L)
      else if (cps.length <= k) Seq(foldHash(cps))
      else cps.sliding(k).map(foldHash).toSeq
    }
    val samples = Seq("", "short", "a" * 32, "the quick brown fox jumps over the lazy dog",
      "x" * 100, "héllo wörld ünïcode χαρακτῆρες " * 4)
    for (s <- samples; k <- Seq(4, 32)) {
      val u = UTF8String.fromString(s)
      assert(WinnowHash.extreme(u, k, takeMin = true) == brute(s, k).min, s"min k=$k '$s'")
      assert(WinnowHash.extreme(u, k, takeMin = false) == brute(s, k).max, s"max k=$k '$s'")
      assert(WinnowHash.full(u) == foldHash(s.codePoints().toArray.toSeq), s"full '$s'")
    }
    // codegen path through a real plan + SQL registration
    GraftFunctions.registerAll(spark)
    samples.filter(_.nonEmpty).toDF("s").createOrReplaceTempView("wh_t")
    val viaSql = spark.sql(
      "SELECT poly_fingerprint(s), winnow_min(s, 32), winnow_max(s, 32) FROM wh_t")
      .collect()
    viaSql.zip(samples.filter(_.nonEmpty)).foreach { case (r, s) =>
      assert(r.getLong(0) == WinnowHash.full(UTF8String.fromString(s)))
      assert(r.getLong(1) == brute(s, 32).min)
      assert(r.getLong(2) == brute(s, 32).max)
    }
  }

  test("RangeJoin.binned equals the naive interval join (negatives, wide spans, edges)") {
    import spark.implicits._
    import graft.operators.RangeJoin
    val pts = Seq(-10L, -7L, -3L, 0L, 1L, 5L, 14L, 29L, 30L, 31L, 100L).toDF("p")
    val itv = Seq(
      (1L, -8L, -1L),   // all-negative interval
      (2L, -2L, 4L),    // straddles zero
      (3L, 10L, 40L),   // span 30 > binWidth 7: replicates into >2 buckets
      (4L, 50L, 55L),   // no matching points
      (5L, 0L, 0L),     // degenerate single-point interval
      (6L, -3L, -3L))   // degenerate negative
      .toDF("id", "lo", "hi")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "p").collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sorted
    val binned = pairs(RangeJoin.binned(pts, "p", itv, "lo", "hi", 7L))
    val naive = pairs(pts.crossJoin(itv)
      .filter(col("p") >= col("lo") && col("p") <= col("hi")))
    assert(binned == naive) // seq compare: also proves no duplicate pairs
    assert(naive.nonEmpty)
  }

  test("scale_floor / long_sq_dist: exact quantization and distance, SQL + codegen") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    GraftFunctions.registerAll(spark)
    val vecs = Seq(
      (1L, Seq(0.5f, -0.25f, 1.0e-7f, -1.0e-7f)),
      (2L, Seq(-0.3f, 0.3f, 2.5f, -2.5f)))
    vecs.toDF("id", "v").createOrReplaceTempView("ivt")
    val q = spark.sql("SELECT id, scale_floor(v) AS qv FROM ivt")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // floor(x*1e6) element-wise — incl. negatives flooring AWAY from zero
    assert(q(1L) == Seq(500000L, -250000L, 0L, -1L))
    // -0.3f is -0.30000001192... → ×1e6 floors to -300001 (away from zero)
    assert(q(2L) == Seq(-300001L, 300000L, 2500000L, -2500000L))
    val d = spark.sql(
      """SELECT long_sq_dist(a.qv, b.qv) FROM
         (SELECT scale_floor(v) qv FROM ivt WHERE id=1) a,
         (SELECT scale_floor(v) qv FROM ivt WHERE id=2) b""")
      .collect().head.getLong(0)
    val expected = q(1L).zip(q(2L)).map { case (x, y) => (x - y) * (x - y) }.sum
    assert(d == expected)
  }

  test("q18 deterministic HLL: estimator within error bound at high card") {
    // q18's own registers through the raw-estimator regime (n >> 2.5·m):
    // 100k distinct keys, m = 256 → σ ≈ 1.04/√256 = 6.5%; assert 4σ.
    val est = graft.queries.RelationalQueries.hllEstimate(
        spark.range(100000).select(col("id").as("k"), lit("A").as("g")),
        col("k"), "g")
      .collect().head.getAs[Long]("hll_parts")
    assert(math.abs(est - 100000.0) / 100000.0 < 0.26,
      s"deterministic HLL estimate $est too far from 100000")
    // a group column named "h" gives the same registers: the digest never
    // takes a column name of its own
    val estH = graft.queries.RelationalQueries.hllEstimate(
        spark.range(100000).select(col("id").as("k"), lit("A").as("h")),
        col("k"), "h")
      .collect().head.getAs[Long]("hll_parts")
    assert(estH == est, s"group named h: $estH, group named g: $est")
    // And the declared query end-to-end on real data. sf0.001 has only 200
    // distinct parts per flag (< 2.5·m): the raw estimator is biased there
    // by design (no ln-based linear counting) — sanity-check the range.
    graft.queries.RelationalQueries.q18
      .spark(spark, "/root/testdata/sf0.001").collect()
      .foreach { r =>
        val hll = r.getAs[Long]("hll_parts").toDouble
        val exact = r.getAs[Long]("exact_parts").toDouble
        assert(hll > 0 && hll < exact * 4 && hll > exact / 4,
          s"hll $hll implausible vs exact $exact")
      }
  }

  test("q18 rho shift-chain equals Long.numberOfLeadingZeros semantics") {
    // The 6-step integer bit-length chain (mirrored CASE-for-CASE in the
    // DuckDB oracle) must agree with the JVM intrinsic on the 56-bit space.
    val rnd = new scala.util.Random(42)
    val ws = Seq(0L, 1L, 2L, 3L, (1L << 56) - 1, 1L << 55, (1L << 32) - 1) ++
      Seq.fill(200)(math.abs(rnd.nextLong()) & ((1L << 56) - 1))
    val df = spark.createDataFrame(ws.map(Tuple1(_))).toDF("w")
    val got = graft.queries.RelationalQueries.bitlen56(df, "w")
      .select("w", "bitlen").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    ws.foreach { w =>
      val expect = 64 - java.lang.Long.numberOfLeadingZeros(w)
      assert(got(w) == expect, s"bitlen($w): got ${got(w)}, want $expect")
    }
  }

  test("sign_bits and int8_quant_stats match reference semantics (property)") {
    val rnd = new scala.util.Random(7)
    val vecs: Seq[Seq[Long]] =
      Seq(Seq.fill(64)(0L), Seq.tabulate(64)(i => (i - 32).toLong)) ++
        Seq.fill(50)(Seq.fill(64)(rnd.nextLong(8000001L) - 4000000L))
    val df = spark.createDataFrame(vecs.zipWithIndex.map { case (v, i) =>
      (i.toLong, v)
    }).toDF("id", "qv")
    val got = df.select(col("id"),
        graft.functions.SignBits.sign_bits(col("qv"), 0, 32).as("lo"),
        graft.functions.SignBits.sign_bits(col("qv"), 32, 32).as("hi"),
        graft.functions.Int8QuantStats.int8_quant_stats(col("qv")).as("st"))
      .select(col("id"), col("lo"), col("hi"), col("st.absmax"),
        col("st.n_sat"), col("st.err_l1"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap
    vecs.zipWithIndex.foreach { case (v, i) =>
      val refLo = (0 until 32).map(j => if (v(j) > 0) 1L << j else 0L).sum
      val refHi = (0 until 32).map(j => if (v(32 + j) > 0) 1L << j else 0L).sum
      val absmax = v.map(math.abs).max
      val codes = v.map(q =>
        if (absmax == 0) 0L else math.signum(q) * (math.abs(q) * 127 / absmax))
      val nSat = codes.count(c => math.abs(c) == 127).toLong
      val errL1 = v.zip(codes).map { case (q, c) =>
        math.abs(q - math.signum(c) * (math.abs(c) * absmax / 127))
      }.sum
      assert(got(i.toLong) == ((refLo, refHi, absmax, nSat, errL1)),
        s"vector $i: got ${got(i.toLong)}")
    }
  }

  test("builtin approx_count_distinct (HLL++) within documented error bound") {
    val r = spark.range(100000)
      .agg(approx_count_distinct(col("id")).as("approx"))
      .collect().head.getLong(0)
    assert(math.abs(r - 100000.0) / 100000.0 < 0.1, s"builtin HLL $r")
  }

  test("q27 KMV sketch: exact under k, estimator within KMV error above k") {
    // sf0.001 has 200 distinct parts per flag (< k=256): the under-full
    // path must return the EXACT distinct count.
    graft.queries.SketchQueries.q27
      .spark(spark, "/root/testdata/sf0.001").collect()
      .foreach { r =>
        assert(r.getAs[Long]("kmv_parts") == r.getAs[Long]("exact_parts"))
      }
    // 100k distinct values through the k=256 estimator path: standard KMV
    // relative error is ~1/sqrt(k-2) ≈ 6.3%; assert a loose 4-sigma bound.
    import graft.functions.KmvSketch
    val est = spark.range(100000)
      .select(substring(md5(col("id").cast("string")), 1, 16).as("h"))
      .agg(KmvSketch.kmvDistinct(col("h"), 256).as("est"))
      .collect().head.getLong(0)
    assert(math.abs(est - 100000.0) / 100000.0 < 0.25, s"KMV estimate $est")
    // long-input lane ≡ hex-input lane: md5_prefix64 is the same 64-bit
    // value parseUnsignedLong reads from the first 16 hex chars, and the
    // sketch orders both unsigned — estimates must be bit-identical
    val estLong = spark.range(100000)
      .select(graft.functions.GraftFunctions
        .md5_prefix64(col("id").cast("string")).as("h"))
      .agg(KmvSketch.kmvDistinct(col("h"), 256).as("est"))
      .collect().head.getLong(0)
    assert(estLong === est)
  }

  test("KMV sketch merges partial buffers across partitions correctly") {
    import graft.functions.KmvSketch
    // 64 distinct values repeated over 32 partitions: every partial buffer
    // sees duplicates and a subset; the merged result must be exactly 64
    // (under-full exact path exercises merge + dedup simultaneously).
    val est = spark.range(0, 6400, 1, 32)
      .select(substring(md5((col("id") % 64).cast("string")), 1, 16).as("h"))
      .agg(KmvSketch.kmvDistinct(col("h"), 256).as("est"))
      .collect().head.getLong(0)
    assert(est == 64L)
  }

  test("GraftExtensions applies cleanly to a SparkSessionExtensions") {
    // extensions only take effect on session CREATION (the shared test
    // session already exists), so this asserts the injection itself is
    // well-formed; the SQL surface of rolling_hash is covered above via
    // GraftFunctions.registerAll
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new GraftExtensions()(ext)
  }

  test("thresholded levenshtein: exact distance within bound, -1 beyond (q74's verifier)") {
    import spark.implicits._
    val df = Seq(
      ("kitten", "sitting"),   // distance 3
      ("abcdefgh", "hgfedcba") // distance 8, beyond threshold 6
    ).toDF("a", "b")
    val got = df.select(levenshtein($"a", $"b", 6)).collect().map(_.getInt(0)).toSeq
    // Spark's banded DP reports the true distance when <= threshold and
    // bails with -1 past it; q74 filters between(0, d), so a -1 row can
    // never masquerade as a confirmed duplicate
    assert(got == Seq(3, -1))
  }

  test("multimodal decode: deterministic fake features + real plumbing") {
    val out = Multimodal.query(spark, "/root/testdata/sf0.001").collect()
    assert(out.length == 500)
    val first = out.head
    assert(first.getAs[Long]("n_bytes") > 0)
    assert(first.getAs[Double]("feat_norm") >= 0.0)
    // real header parse: all four container formats present, none corrupt
    assert(out.map(_.getAs[String]("format")).toSet == Set("png", "jpeg", "gif", "wav"))
    // doc_id % 4 == 0 → png with width 16 + (id*31+7) % 2048
    val d0 = out.find(_.getAs[Long]("doc_id") % 4 == 0).get
    val id0 = d0.getAs[Long]("doc_id")
    assert(d0.getAs[String]("format") == "png")
    assert(d0.getAs[Int]("width") == 16 + math.floorMod(id0 * 31 + 7, 2048L).toInt)
    // deterministic: same input → same features
    val again = Multimodal.query(spark, "/root/testdata/sf0.001").collect()
    assert(out.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
  }
}
