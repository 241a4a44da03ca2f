package graft

import graft.operators.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** q172's driver-side MMR greedy (`SimilarityQueries.mmrDiversify`)
  * against the relational greedy it replaced, kept here as the reference:
  * four rounds of anti-join, join, aggregate, window and cut over the
  * top-12 candidates and their pairwise similarities. Both must answer
  * equal rows on seeded random panels and on planted score ties, NaN and
  * null cosines, and short candidate lists. (ShuffleAuditSpec pins q172's
  * job count.) */
class MmrParitySpec extends SparkSpec {

  import spark.implicits._

  private def dotDec(a: Column, b: Column): Column =
    graft.functions.FixedPointDot.fixed_point_dot(a, b).cast("double") / 1e15

  /** The four-round relational greedy, as q172 ran it before. */
  private def reference(emb: DataFrame): DataFrame = {
      val queries = emb.filter(col("vec_id") < 4)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          sqrt(dotDec(col("embedding"), col("embedding"))).as("qn"))
      val cands = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"),
        sqrt(dotDec(col("embedding"), col("embedding"))).as("cn"))
      val wRel = Window.partitionBy(col("query_id"))
        .orderBy(col("rel").desc, col("neighbor_id"))
      val cand12 = cands.join(broadcast(queries),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"), col("ce"), col("cn"),
          (dotDec(col("qe"), col("ce")) / (col("qn") * col("cn")))
            .as("rel"))
        .withColumn("rr", row_number().over(wRel))
        .filter(col("rr") <= 12)
        .drop("rr")
        .materialized // pairwise sims + 4 greedy rounds re-read it
      val ps = cand12.select(col("query_id"), col("neighbor_id").as("a"),
          col("ce").as("ae"), col("cn").as("an"))
        .join(cand12.select(col("query_id"), col("neighbor_id").as("b"),
          col("ce").as("be"), col("cn").as("bn")), Seq("query_id"))
        .filter(col("a") =!= col("b"))
        .select(col("query_id"), col("a"), col("b"),
          (dotDec(col("ae"), col("be")) / (col("an") * col("bn")))
            .as("sim"))
        .materialized // ≤12·11 rows per query at any corpus size
      var sel = cand12
        .withColumn("rk", row_number().over(wRel))
        .filter(col("rk") === 1)
        .select(col("query_id"), col("neighbor_id"), lit(1L).as("mmr_rank"))
        .materialized
      for (step <- 2 to 5) {
        val wScore = Window.partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("neighbor_id"))
        val next = cand12
          .join(sel.select("query_id", "neighbor_id"),
            Seq("query_id", "neighbor_id"), "left_anti")
          .join(ps.join(sel.select(col("query_id"),
              col("neighbor_id").as("b")), Seq("query_id", "b"))
            .groupBy(col("query_id"), col("a").as("neighbor_id"))
            .agg(max(col("sim")).as("maxsim")),
            Seq("query_id", "neighbor_id"))
          .withColumn("score", col("rel") * 2 - col("maxsim"))
          .withColumn("rk", row_number().over(wScore))
          .filter(col("rk") === 1)
          .select(col("query_id"), col("neighbor_id"),
            lit(step.toLong).as("mmr_rank"))
        sel = sel.unionByName(next).materialized
      }
      sel.orderBy("query_id", "mmr_rank")
  }

  private def frame(vecs: Seq[(Long, Array[Float])]): DataFrame =
    vecs.map { case (id, v) => (id, v, 0) }.toDF("vec_id", "embedding", "label")

  private def assertParity(emb: DataFrame, clue: String): Unit = {
    val got = queries.SimilarityQueries.mmrDiversify(emb)
    val want = reference(emb)
    val (g, w) = (got.collect().toSeq, want.collect().toSeq)
    Harness.clearState(spark)
    assert(got.schema == want.schema, clue)
    assert(g == w, s"$clue: got $g, want $w")
  }

  /** Seeded panel: `n` vectors of `dim` floats. Odd seeds draw small
    * integers, so cosines tie exactly; even seeds draw Gaussians. */
  private def panel(seed: Int): Seq[(Long, Array[Float])] = {
    val r = new scala.util.Random(seed)
    val (n, dim) = (30 + r.nextInt(171), 8 + r.nextInt(57))
    (0 until n).map { i =>
      i.toLong -> Array.fill(dim)(
        if (seed % 2 == 1) (r.nextInt(5) - 2).toFloat else r.nextGaussian().toFloat)
    }
  }

  test("driver greedy ≡ the relational four-round greedy on 20 seeded panels") {
    (1 to 20).foreach(seed => assertParity(frame(panel(seed)), s"seed $seed"))
  }

  test("planted: exact duplicate vectors tie on score and on relevance") {
    val base = panel(3).take(40)
    val dups = base.take(8).map { case (id, v) => (id + 100, v.clone()) }
    assertParity(frame(base ++ dups), "duplicates")
  }

  test("planted: vectors whose fixed-point norm overflows have NaN cosines") {
    // (3e19)²·1e15 saturates each term at Long.MaxValue and the two terms
    // wrap negative, so the norm is sqrt of a negative: NaN, greatest in
    // Spark's ordering. Query 1 is one (all its cosines are NaN) and 50
    // the other; NaN ties NaN, so 1 ranks first for every other query.
    val huge = Array.fill(16)(0.0f)
    huge(0) = 3e19f
    huge(1) = 3e19f
    val base = panel(2).take(30).map { case (id, v) => (id, v.take(16)) }
      .map { case (id, v) => (id, if (id == 1L) huge else v) }
    val emb = frame(base :+ (50L -> huge))
    assertParity(emb, "NaN cosines")
    val firsts = queries.SimilarityQueries.mmrDiversify(emb)
      .filter("mmr_rank = 1 and query_id <> 1").collect().map(_.getLong(1)).toSet
    assert(firsts == Set(1L), s"rank-1 picks $firsts")
  }

  test("planted: a zero vector has null cosines with ANSI off") {
    // 9 vectors, so the zero vector's null relevance still makes every
    // top-12 (nulls sort last); as query 2 all of its cosines are null
    val zero = Array.fill(16)(0.0f)
    val emb = frame(panel(4).take(9)
      .map { case (id, v) => (id, if (id == 2L) zero else v.take(16)) })
    val key = "spark.sql.ansi.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try assertParity(emb, "zero vector")
    finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("planted: fewer than 5 and fewer than 12 candidates") {
    // 4 vectors: every one is a query with 3 candidates, so the greedy
    // stops at 3 picks; 9 vectors: 8 candidates each, under the top-12 cut
    assertParity(frame(panel(5).take(4)), "3 candidates")
    assertParity(frame(panel(6).take(9)), "8 candidates")
  }
}
