package graft.queries

import graft.functions.SplitMix64.mix64
import graft.operators.Materialize.MaterializeOps
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import Tables._

/** Similarity search over the `embeddings` table (`vec_id`,
  * `embedding: array<float>`, `label`).
  *
  * Cross-engine float determinism: a float×float product is EXACT in double
  * (24-bit mantissas → ≤48-bit product), each product scaled by 1e15 and
  * floored is the same long in both engines, and those longs sum exactly
  * in any order (`FixedPointDot`, below) — so dot products, norms and the
  * final cosine are bit-identical in Spark and DuckDB no matter how either
  * engine parallelizes. The ranking therefore never diverges on near-ties.
  *
  * Scale design: q40 is the exact brute-force baseline (QxN work — correct
  * at any size, quadratic cost); q41 is the scale path: hyperplane-LSH
  * bucketing (shuffle keys are 16-bit signatures, candidates only within a
  * bucket), the standard recall/cost trade.
  */
object SimilarityQueries {

  // Fixed-point trick for cross-engine exactness: each float×float product
  // is exact in double; FLOOR(product * 1e15) is a correctly-rounded IEEE
  // multiply + an exact floor → the same long in every engine; longs sum
  // exactly in any order. (Decimal casts are NOT safe here: Spark converts
  // double→decimal via the shortest string representation while DuckDB
  // rounds the exact binary value — observed 1-ulp drift.) The 1e-15
  // quantization error (≤6.4e-14 on a 64-dim dot) is irrelevant because
  // both engines rank the SAME quantized values.
  private val Scale = 1e15

  /** Engine-exact fixed-point dot product of two float arrays, via the
    * custom codegen'd [[graft.functions.FixedPointDot]] expression (one
    * tight primitive loop per pair — both the interpreted HOF lambda and
    * the 64-term unrolled element_at formulations were 20-100x slower at
    * millions of pairs; the unrolled one silently exceeded the codegen
    * method limit). */
  private def dotDec(a: Column, b: Column): Column =
    graft.functions.FixedPointDot.fixed_point_dot(a, b).cast("double") / Scale

  private def dotDecSql(a: String, b: String): String =
    s"""(CAST((SELECT SUM(CAST(FLOOR(CAST(ua.x AS DOUBLE) * ub.x * 1e15) AS BIGINT))
        FROM (SELECT unnest($a) AS x, generate_subscripts($a, 1) AS i) ua
        JOIN (SELECT unnest($b) AS x, generate_subscripts($b, 1) AS i) ub USING (i)) AS DOUBLE) / 1e15)"""

  /** Brute-force cosine top-10 for the first 8 vectors as queries.
    * Query set is broadcast (tiny), candidates stream by: no shuffle of the
    * big side at all; ranking is a per-query window over QxN rows. */
  val q40 = Q(
    "q40_cosine_topk",
    (s, dir) => {
      val emb = embeddings(s, dir)
      // norms computed once per side, not per pair (identical doubles —
      // factoring doesn't change the arithmetic the oracle runs)
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          sqrt(dotDec(col("embedding"), col("embedding"))).as("qn"))
      val cands = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"),
        sqrt(dotDec(col("embedding"), col("embedding"))).as("cn"))
      val scored = cands.join(broadcast(queries),
          col("query_id") =!= col("neighbor_id"))
        .select(
          col("query_id"), col("neighbor_id"),
          (dotDec(col("qe"), col("ce")) / (col("qn") * col("cn")))
            .as("cosine"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      scored
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .orderBy("query_id", "rank")
    },
    // One position-aligned unnest join for all dots/norms (the
    // q162/q165/q172 finding: a correlated dotDecSql per pair replays
    // undecorrelated in DuckDB); identical floor'd-integer sums and the
    // identical cosine expression tree → identical doubles.
    Some("""
      WITH eu AS MATERIALIZED (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      nn AS MATERIALIZED (
        SELECT vec_id, CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15)
                 AS BIGINT)) AS BIGINT) AS n
        FROM eu GROUP BY vec_id),
      qd AS MATERIALIZED (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15)
                 AS BIGINT)) AS BIGINT) AS d
        FROM eu a JOIN eu b ON a.i = b.i
          AND a.vec_id < 8 AND a.vec_id <> b.vec_id
        GROUP BY a.vec_id, b.vec_id),
      scored AS (
        SELECT query_id, neighbor_id,
               (CAST(d AS DOUBLE) / 1e15) /
               (sqrt(CAST(nq.n AS DOUBLE) / 1e15)
                * sqrt(CAST(nc.n AS DOUBLE) / 1e15)) AS cosine
        FROM qd
        JOIN nn nq ON nq.vec_id = query_id
        JOIN nn nc ON nc.vec_id = neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, rank, neighbor_id, cosine
      FROM ranked WHERE rank <= 10
      ORDER BY query_id, rank""")
  )

  private val LshTables = 4
  private val LshPlanes = 8
  private val LshDim = 64

  // Plane weights as INTEGER thousandths in [-500, 500), derived from a
  // splitmix64 stream over the flat (globalPlane × dim) index. Both the
  // Spark plan (as float array literals) and the DuckDB oracle (as a SQL
  // integer list, divided by 1000.0 and cast to FLOAT — the identical
  // correctly-rounded double→float value) consume THIS sequence, which is
  // what makes the ANN pipeline oracle-checkable.
  private val PlaneThousandths: IndexedSeq[Long] =
    IndexedSeq.tabulate(LshTables * LshPlanes * LshDim)(gi =>
      math.floorMod(mix64(gi.toLong), 1000L) - 500L)

  private def planeWeights(g: Int): Seq[Float] =
    (0 until LshDim).map(d => (PlaneThousandths(g * LshDim + d) / 1000.0).toFloat)

  /** Hyperplane-LSH approximate nearest neighbors: L=4 hash tables, each an
    * 8-plane sign signature. A vector lands in one bucket per table;
    * query/candidate pairs that collide in ANY table become candidates
    * (union + distinct), then exact cosine rerank → top-5 per query.
    * The plane weights are plan-time literals from [[PlaneThousandths]],
    * and every sign test runs through the fixed-point dot — so the whole
    * pipeline (bucketing included) is bit-identical in DuckDB and fully
    * hash-checked.
    *
    * Scale shape: the bucket join shuffles (table, signature, id, vector)
    * — never all pairs; per-query work is the expected bucket occupancy
    * L·N/2^8, versus N for q40's brute force. More tables/planes trade
    * recall vs cost without changing the plan shape. */
  val q41 = Q(
    "q41_ann_lsh",
    (s, dir) => {
      val emb = embeddings(s, dir)
      // sign bit of dot(vec, plane) for global plane index g — through the
      // codegen'd fixed-point dot (sign is invariant under the scaling);
      // the interpreted zip_with lambda was the query's dominant cost
      def planeBit(vec: Column, g: Int, bit: Int): Column = {
        val weighted = graft.functions.FixedPointDot
          .fixed_point_dot(vec, typedLit(planeWeights(g)))
        when(weighted >= 0, lit(1L << bit)).otherwise(lit(0L))
      }
      def tableSig(vec: Column, t: Int): Column =
        (0 until LshPlanes).map(p => planeBit(vec, t * LshPlanes + p, p))
          .reduce(_ bitwiseOR _)

      // one row per (vector, table): the per-table bucket key
      val signed = emb.select(
        col("vec_id"), col("embedding"),
        explode(array((0 until LshTables).map { t =>
          struct(lit(t).as("t"), tableSig(col("embedding"), t).as("sig"))
        }: _*)).as("b"))
        .select(col("vec_id"), col("embedding"),
          col("b.t").as("t"), col("b.sig").as("sig"))
      val queries = signed.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          sqrt(dotDec(col("embedding"), col("embedding"))).as("qn"),
          col("t"), col("sig"))
      val cands = signed.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"),
        sqrt(dotDec(col("embedding"), col("embedding"))).as("cn"),
        col("t"), col("sig"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      cands.join(broadcast(queries), Seq("t", "sig"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          col("qe"), col("ce"), col("qn"), col("cn"))
        .dropDuplicates("query_id", "neighbor_id") // collided in >=1 table
        .select(col("query_id"), col("neighbor_id"),
          (dotDec(col("qe"), col("ce")) / (col("qn") * col("cn")))
            .as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .orderBy("query_id", "rank")
    },
    // Flat formulation (unnest once, index equi-joins) like q42's oracle;
    // the plane-weight table is the same PlaneThousandths stream the Spark
    // plan embeds, and the sign test uses the same scaled-floor dot.
    Some(s"""
      WITH u AS (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      wt AS (
        SELECT unnest(range(0, ${LshTables * LshPlanes * LshDim})) AS gi,
               unnest(${PlaneThousandths.mkString("[", ",", "]")}) AS th),
      w AS (
        SELECT gi // $LshDim AS g, (gi % $LshDim) + 1 AS i,
               CAST(th / 1000.0 AS FLOAT) AS w
        FROM wt),
      pd AS (
        SELECT u.vec_id, w.g,
               CAST(SUM(CAST(FLOOR(CAST(u.x AS DOUBLE) * CAST(w.w AS DOUBLE) * 1e15) AS BIGINT)) AS BIGINT) AS d
        FROM u JOIN w ON u.i = w.i
        GROUP BY u.vec_id, w.g),
      sigs AS (
        SELECT vec_id, g // $LshPlanes AS t,
               CAST(SUM(CASE WHEN d >= 0 THEN (1::BIGINT << (g % $LshPlanes))
                             ELSE 0 END) AS BIGINT) AS sig
        FROM pd GROUP BY vec_id, g // $LshPlanes),
      coll AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
        WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
      nrm AS (
        SELECT vec_id,
               sqrt(CAST(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e15) AS nrm
        FROM u GROUP BY vec_id),
      dots AS (
        SELECT coll.query_id, coll.neighbor_id,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15) AS BIGINT)) AS BIGINT) AS dt
        FROM coll
        JOIN u a ON a.vec_id = coll.query_id
        JOIN u b ON b.vec_id = coll.neighbor_id AND a.i = b.i
        GROUP BY coll.query_id, coll.neighbor_id),
      scored AS (
        SELECT d.query_id, d.neighbor_id,
               (CAST(d.dt AS DOUBLE) / 1e15) / (qn.nrm * cn.nrm) AS cosine
        FROM dots d
        JOIN nrm qn ON qn.vec_id = d.query_id
        JOIN nrm cn ON cn.vec_id = d.neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, rank, neighbor_id, cosine
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""")
  )

  /** Multi-probe LSH ANN (Lv et al., VLDB'07): q41's hyperplane tables,
    * but each QUERY probes its exact bucket AND every Hamming-1 neighbor
    * bucket (one sign bit flipped) — 9 probes per table. Near neighbors
    * that landed one hyperplane away (the dominant miss mode of sign LSH)
    * are recovered WITHOUT adding tables, i.e. without growing the
    * corpus-side index at all: recall is bought with 9× more PROBE rows
    * (queries are few) while the indexed corpus — the side that is 10⁹
    * rows at scale — is bucketed exactly once, the same rows as q41.
    * The candidate set is a strict superset of q41's; the exact
    * fixed-point rerank then makes top-5 precision a pure recall game.
    *
    * Scale shape: identical to q41 (bucket equi-join, broadcast probe
    * set, exact rerank on candidates only) — the probe fan-out
    * multiplies the BROADCAST side (8 queries × 4 tables × 9 probes =
    * 288 rows), never the corpus side. */
  val q92 = Q(
    "q92_ann_multiprobe",
    (s, dir) => {
      val emb = embeddings(s, dir)
      def planeBit(vec: Column, g: Int, bit: Int): Column = {
        val weighted = graft.functions.FixedPointDot
          .fixed_point_dot(vec, typedLit(planeWeights(g)))
        when(weighted >= 0, lit(1L << bit)).otherwise(lit(0L))
      }
      def tableSig(vec: Column, t: Int): Column =
        (0 until LshPlanes).map(p => planeBit(vec, t * LshPlanes + p, p))
          .reduce(_ bitwiseOR _)
      val signed = emb.select(
        col("vec_id"), col("embedding"),
        explode(array((0 until LshTables).map { t =>
          struct(lit(t).as("t"), tableSig(col("embedding"), t).as("sig"))
        }: _*)).as("b"))
        .select(col("vec_id"), col("embedding"),
          col("b.t").as("t"), col("b.sig").as("sig"))
      // probe fan-out: the exact signature plus all 8 one-bit flips
      val queries = signed.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          sqrt(dotDec(col("embedding"), col("embedding"))).as("qn"),
          col("t"),
          explode(array(
            col("sig") +: (0 until LshPlanes).map(p =>
              col("sig").bitwiseXOR(lit(1L << p))): _*)).as("sig"))
      val cands = signed.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"),
        sqrt(dotDec(col("embedding"), col("embedding"))).as("cn"),
        col("t"), col("sig"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      cands.join(broadcast(queries), Seq("t", "sig"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          col("qe"), col("ce"), col("qn"), col("cn"))
        .dropDuplicates("query_id", "neighbor_id")
        .select(col("query_id"), col("neighbor_id"),
          (dotDec(col("qe"), col("ce")) / (col("qn") * col("cn")))
            .as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH u AS (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      wt AS (
        SELECT unnest(range(0, ${LshTables * LshPlanes * LshDim})) AS gi,
               unnest(${PlaneThousandths.mkString("[", ",", "]")}) AS th),
      w AS (
        SELECT gi // $LshDim AS g, (gi % $LshDim) + 1 AS i,
               CAST(th / 1000.0 AS FLOAT) AS w
        FROM wt),
      pd AS (
        SELECT u.vec_id, w.g,
               CAST(SUM(CAST(FLOOR(CAST(u.x AS DOUBLE) * CAST(w.w AS DOUBLE) * 1e15) AS BIGINT)) AS BIGINT) AS d
        FROM u JOIN w ON u.i = w.i
        GROUP BY u.vec_id, w.g),
      sigs AS (
        SELECT vec_id, g // $LshPlanes AS t,
               CAST(SUM(CASE WHEN d >= 0 THEN (1::BIGINT << (g % $LshPlanes))
                             ELSE 0 END) AS BIGINT) AS sig
        FROM pd GROUP BY vec_id, g // $LshPlanes),
      probes AS (
        SELECT vec_id, t,
               CASE WHEN b = 0 THEN sig
                    ELSE xor(sig, 1::BIGINT << (b - 1)) END AS sig
        FROM sigs, (SELECT unnest(range(0, ${LshPlanes + 1})) AS b)
        WHERE vec_id < 8),
      coll AS (
        SELECT DISTINCT p.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM probes p JOIN sigs c ON p.t = c.t AND p.sig = c.sig
        WHERE p.vec_id <> c.vec_id),
      nrm AS (
        SELECT vec_id,
               sqrt(CAST(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e15) AS nrm
        FROM u GROUP BY vec_id),
      dots AS (
        SELECT coll.query_id, coll.neighbor_id,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15) AS BIGINT)) AS BIGINT) AS dt
        FROM coll
        JOIN u a ON a.vec_id = coll.query_id
        JOIN u b ON b.vec_id = coll.neighbor_id AND a.i = b.i
        GROUP BY coll.query_id, coll.neighbor_id),
      scored AS (
        SELECT d.query_id, d.neighbor_id,
               (CAST(d.dt AS DOUBLE) / 1e15) / (qn.nrm * cn.nrm) AS cosine
        FROM dots d
        JOIN nrm qn ON qn.vec_id = d.query_id
        JOIN nrm cn ON cn.vec_id = d.neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, rank, neighbor_id, cosine
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""")
  )

  /** Embedding-cosine near-duplicate pairs: all (a, b) with cosine ≥ 0.4.
    * This is the exact threshold variant of embedding dedup (q41 is the
    * LSH-bucketed scale path). The threshold compare is safe cross-engine
    * because the cosine itself is bit-identical (fixed-point dots).
    *
    * The cosine threshold lives IN the join condition, not a post-join
    * filter: a nested-loop join only materializes rows whose condition
    * passes, so the O(n²) pair space is walked as condition evaluations
    * over the in-place joined row (one fused fixed-point loop per pair)
    * and only the ~0.1% surviving pairs are ever copied out as rows.
    * With the threshold as a separate `.filter`, every non-qualifying
    * pair is first materialized as a ~550-byte joined row (two 64-float
    * arrays + norms) — at sf1 that is 2·10⁸ rows ≈ 100 GB of row copies
    * for nothing, and it measured 12× slower. The projection recomputes
    * the dot for survivors only (identical arithmetic → identical
    * bits). */
  val q42 = Q(
    "q42_dedup_embedding",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
        sqrt(dotDec(col("embedding"), col("embedding"))).as("na"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
        sqrt(dotDec(col("embedding"), col("embedding"))).as("nb"))
      a.join(b, col("id_a") < col("id_b") &&
          dotDec(col("ea"), col("eb")) / (col("na") * col("nb")) >= 0.4)
        .select(col("id_a"), col("id_b"),
          (dotDec(col("ea"), col("eb")) / (col("na") * col("nb"))).as("cosine"))
        .orderBy("id_a", "id_b")
    },
    // oracle written FLAT (unnest once, equi-join on the element index,
    // group by pair) — the correlated-subquery formulation used by q40's
    // oracle is fine for 8 query vectors but takes minutes over all pairs
    Some("""
      WITH u AS (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      nrm AS (
        SELECT vec_id,
               sqrt(CAST(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e15) AS nrm
        FROM u GROUP BY vec_id),
      dots AS (
        SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               CAST(CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e15 AS dot
        FROM u a JOIN u b ON a.i = b.i AND a.vec_id < b.vec_id
        GROUP BY a.vec_id, b.vec_id)
      SELECT d.id_a, d.id_b, d.dot / (x.nrm * y.nrm) AS cosine
      FROM dots d JOIN nrm x ON d.id_a = x.vec_id
                  JOIN nrm y ON d.id_b = y.vec_id
      WHERE d.dot / (x.nrm * y.nrm) >= 0.4
      ORDER BY d.id_a, d.id_b""")
  )

  private val IvfK = 16     // codebook size
  private val IvfNProbe = 2 // cells probed per query

  /** Driver-side codebook fetch: K rows of dim floats (tiny, corpus-
    * size-independent). Norm uses the exact op sequence of the oracle:
    * sum of floor(x*x*1e15) as longs, /1e15, sqrt — IEEE-identical.
    * Shared by q43 (IVF ANN) and q45 (semantic dedup). */
  private def codebook(emb: DataFrame): Seq[(Int, Seq[Float], Double)] = emb
    .filter(col("vec_id") < IvfK)
    .select("vec_id", "embedding")
    .collect()
    .map { r =>
      val ce = r.getSeq[Float](1)
      val n = math.sqrt(
        ce.map(x => math.floor(x.toDouble * x.toDouble * Scale).toLong)
          .sum.toDouble / Scale)
      (r.getLong(0).toInt, ce, n)
    }
    .sortBy(_._1)
    .toSeq

  // per-row scored cells: struct(score, -cid) so array_max/sort give
  // the argmax with the smallest-cid tiebreak, all inside codegen
  private def scoredCells(cents: Seq[(Int, Seq[Float], Double)], vec: Column): Column =
    array(cents.map {
      case (cid, ce, cn) =>
        struct(
          (graft.functions.FixedPointDot.fixed_point_dot(vec, typedLit(ce))
            .cast("double") / Scale / lit(cn)).as("s"),
          lit(-cid).as("negc"))
    }: _*)

  /** Map-side cell assignment + per-vector norm — the shared IVF front end:
    * `cell` = argmax over the codebook of `dot(v,c)/|c|` (|v| cancels inside
    * an argmax), NO shuffle anywhere. */
  private def ivfAssigned(emb: DataFrame, cents: Seq[(Int, Seq[Float], Double)]): DataFrame =
    emb.select(
      col("vec_id"), col("embedding"),
      (-array_max(scoredCells(cents, col("embedding"))).getField("negc")).as("cell"),
      sqrt(dotDec(col("embedding"), col("embedding"))).as("nrm"))

  /** IVF-Flat approximate nearest neighbors — the inverted-file companion
    * to q41's hyperplane LSH (the two standard ANN partitioning schemes).
    *
    * Codebook: the K = 16 embeddings with the smallest vec_ids, collected
    * driver-side into plan literals. That is the IVF architecture, not a
    * shortcut: a coarse quantizer is O(K·dim) and lives in memory on every
    * node (exactly how FAISS ships codebooks); only the TRAINING of a
    * better codebook (k-means) is out of scope here, and a trained one
    * plugs into the identical plan. Assignment is a map-side argmax of
    * `dot(v, c)/|c|` over the 16 codegen'd fixed-point dots — the |v|
    * factor cancels inside a per-row argmax, so no per-vector norm is
    * needed to assign. NO SHUFFLE anywhere in assignment; the only
    * exchange is the tiny probe join + the per-query rerank window.
    *
    * Query side: the same scored array sorted descending gives the
    * nprobe = 2 nearest cells; candidates are the vectors assigned to a
    * probed cell (each vector lives in exactly one cell, so no distinct
    * is needed), reranked by exact cosine → top-5.
    *
    * Scale shape: brute force touches N vectors per query; IVF touches
    * ~nprobe·N/K. The oracle recomputes the identical pipeline from the
    * embeddings table (centroid literals = the same float values DuckDB
    * reads; norms = the same floor-scaled arithmetic), so the whole ANN
    * path — assignment, probing, rerank — is hash-checked. */
  val q43 = Q(
    "q43_ann_ivf",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val cents = codebook(emb)
      val assigned = ivfAssigned(emb, cents)

      val probes = assigned.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"),
          sort_array(scoredCells(cents, col("embedding")), asc = false).as("sc"))
        .select(col("query_id"), col("qe"), col("qn"),
          explode(array((1 to IvfNProbe).map(i =>
            -element_at(col("sc"), i).getField("negc")): _*)).as("cell"))

      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      assigned
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
          col("nrm").as("cn"), col("cell"))
        .join(broadcast(probes), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (dotDec(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH u AS (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      nrm AS (
        SELECT vec_id,
               sqrt(CAST(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e15) AS nrm
        FROM u GROUP BY vec_id),
      cd AS (
        SELECT a.vec_id, b.vec_id AS cid,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15) AS BIGINT)) AS BIGINT) AS dt
        FROM u a JOIN u b ON a.i = b.i AND b.vec_id < $IvfK
        GROUP BY a.vec_id, b.vec_id),
      score AS (
        SELECT cd.vec_id, cd.cid,
               (CAST(cd.dt AS DOUBLE) / 1e15) / cn.nrm AS s
        FROM cd JOIN nrm cn ON cn.vec_id = cd.cid),
      ranked_cells AS (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        FROM score),
      assign AS (SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn = 1),
      probe AS (
        SELECT vec_id AS query_id, cid AS cell
        FROM ranked_cells WHERE vec_id < 8 AND rn <= $IvfNProbe),
      cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probe p JOIN assign a ON a.cell = p.cell
        WHERE a.vec_id <> p.query_id),
      dots AS (
        SELECT cand.query_id, cand.neighbor_id,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15) AS BIGINT)) AS BIGINT) AS dt
        FROM cand
        JOIN u a ON a.vec_id = cand.query_id
        JOIN u b ON b.vec_id = cand.neighbor_id AND a.i = b.i
        GROUP BY cand.query_id, cand.neighbor_id),
      scored AS (
        SELECT d.query_id, d.neighbor_id,
               (CAST(d.dt AS DOUBLE) / 1e15) / (qn.nrm * cn.nrm) AS cosine
        FROM dots d
        JOIN nrm qn ON qn.vec_id = d.query_id
        JOIN nrm cn ON cn.vec_id = d.neighbor_id),
      out AS (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, rank, neighbor_id, cosine
      FROM out WHERE rank <= 5
      ORDER BY query_id, rank""")
  )

  /** Semantic deduplication — the SemDeDup shape (Abbas et al. 2023):
    * cluster the embedding space with the coarse quantizer, then search for
    * near-duplicate pairs ONLY within a cluster, on the premise that
    * semantic duplicates land in the same cell. q42 is the exact all-pairs
    * twin (O(N²) by design, the verifier); this is the scale path.
    *
    * Two scale decisions distinguish this from q43/q77's fixed-K front end:
    *
    *  - K GROWS with the corpus: K = ⌈√n⌉ cells (the SemDeDup paper runs
    *    tens of thousands of clusters, not 16). Within-cell pair work is
    *    Σ|cell|² ≈ n²/K; at fixed K that is O(n²) — the sf1 bench measured
    *    exactly that (24× time on 10× data). K = √n bounds total pair work
    *    at O(n^1.5) and assignment work at O(n·√n·d).
    *  - assignment is a BROADCAST-JOIN against the codebook table, not
    *    q43's K plan-literal argmax: at K = 16 literals are free, but the
    *    generated code grows with K and dies long before K = 31623
    *    (n = 10⁹). The broadcast side is K = √n rows (31k rows ≈ 8 MB at
    *    a billion vectors — safely broadcastable); the argmax is a
    *    map-side-combined max of struct(score, -cid), so the shuffle
    *    carries n rows, not n·K.
    *
    * The cosine threshold rides IN the pair-join condition (q42's lesson:
    * a post-join filter materializes every within-cell pair first).
    *
    * Output: near-dup pairs (cosine ≥ 0.4) with their cell, plus the
    * per-pair survivor (min vec_id — the SemDeDup keep-one rule). The
    * oracle recomputes K, assignment, and pairs from the same codebook
    * arithmetic, so the full pipeline is hash-checked. Recall caveat vs
    * q42 is inherent to SemDeDup (pairs straddling a cell boundary are
    * missed) — that trade IS the operator. */
  val q45 = Q(
    "q45_semantic_dedup",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val k = math.ceil(math.sqrt(emb.count().toDouble)).toLong
      val cb = emb.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"),
          sqrt(dotDec(col("embedding"), col("embedding"))).as("cn"))
      // suffix-norm bound for the same Cauchy–Schwarz gated verify q94
      // runs (see ballCoverImpl — the kernel and its soundness law are
      // shared; the gate cannot change the output)
      val pre45 = graft.functions.FixedPointDot
        .fixed_point_dot_prefix(col("embedding"), col("embedding"), BallPrefixDims)
      val self45 = graft.functions.FixedPointDot
        .fixed_point_dot(col("embedding"), col("embedding"))
      val assigned = emb
        .crossJoin(broadcast(cb))
        .groupBy("vec_id")
        .agg(
          (-max(struct(
            (dotDec(col("embedding"), col("ce")) / col("cn")).as("s"),
            (-col("cid")).as("negc"))).getField("negc")).as("cell"),
          first(col("embedding")).as("embedding"))
        .withColumn("nrm", sqrt(dotDec(col("embedding"), col("embedding"))))
        .withColumn("nsu", sqrt(
          (self45 - pre45).cast("double") / lit(Scale) + lit(1e-13)))
        .materialized // 2 branches of the pair self-join
      val a = assigned.select(col("cell"), col("vec_id").as("id_a"),
        col("embedding").as("ea"), col("nrm").as("na"), col("nsu").as("nsa"))
      val b = assigned.select(col("cell"), col("vec_id").as("id_b"),
        col("embedding").as("eb"), col("nrm").as("nb"), col("nsu").as("nsb"))
      val cut45 = ((lit(0.4) - lit(1e-9)) * col("na") * col("nb") -
        col("nsa") * col("nsb")) * lit(Scale)
      val gated45 = graft.functions.FixedPointDot
        .fixed_point_dot_gated(col("ea"), col("eb"), cut45, BallPrefixDims)
      a.as("a").join(b.as("b"),
          col("a.cell") === col("b.cell") &&
            col("id_a") < col("id_b") &&
            gated45.cast("double") / lit(Scale) / (col("na") * col("nb")) >= 0.4)
        .select(col("a.cell").as("cell"), col("id_a"), col("id_b"),
          (dotDec(col("ea"), col("eb")) / (col("na") * col("nb")))
            .as("cosine"),
          col("id_a").as("survivor"))
        .orderBy("id_a", "id_b")
    },
    Some(s"""
      WITH u AS (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      nrm AS (
        SELECT vec_id,
               sqrt(CAST(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e15) AS nrm
        FROM u GROUP BY vec_id),
      cd AS (
        SELECT a.vec_id, b.vec_id AS cid,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15) AS BIGINT)) AS BIGINT) AS dt
        FROM u a JOIN u b
          ON a.i = b.i
         AND b.vec_id < (SELECT CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)
                         FROM embeddings)
        GROUP BY a.vec_id, b.vec_id),
      score AS (
        SELECT cd.vec_id, cd.cid,
               (CAST(cd.dt AS DOUBLE) / 1e15) / cn.nrm AS s
        FROM cd JOIN nrm cn ON cn.vec_id = cd.cid),
      ranked_cells AS (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        FROM score),
      assign AS (SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn = 1),
      cand AS (
        SELECT a.cell, a.vec_id AS id_a, b.vec_id AS id_b
        FROM assign a JOIN assign b
          ON a.cell = b.cell AND a.vec_id < b.vec_id),
      dots AS (
        SELECT cand.cell, cand.id_a, cand.id_b,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15) AS BIGINT)) AS BIGINT) AS dt
        FROM cand
        JOIN u a ON a.vec_id = cand.id_a
        JOIN u b ON b.vec_id = cand.id_b AND a.i = b.i
        GROUP BY cand.cell, cand.id_a, cand.id_b),
      scored AS (
        SELECT d.cell, d.id_a, d.id_b,
               (CAST(d.dt AS DOUBLE) / 1e15) / (na.nrm * nb.nrm) AS cosine
        FROM dots d
        JOIN nrm na ON na.vec_id = d.id_a
        JOIN nrm nb ON nb.vec_id = d.id_b)
      SELECT cell, id_a, id_b, cosine, id_a AS survivor
      FROM scored WHERE cosine >= 0.4
      ORDER BY id_a, id_b""")
  )

  /** q42's EXACT answer in a 100×-runnable shape — SemDeDup (q45) made
    * exact via the ball-cover bound. q42 proves the all-pairs answer with
    * an O(n²) BNLJ; q45 is the scale shape but misses pairs that straddle
    * a cell boundary. This query closes that gap while keeping the
    * bucketed join shape:
    *
    *   1. assign each vector to its nearest of K = ⌈√n⌉ centroids (q45's
    *      broadcast-codebook front end — map-side, one n-row shuffle);
    *   2. per cell, the covering radius in NORMALIZED space:
    *      r = max d(x̂, ĉ) = sqrt(2 − 2·min cos(x, c));
    *   3. candidate cell PAIRS by the triangle inequality: for x in cell
    *      i, y in cell j, d(x̂, ŷ) ≥ d(ĉᵢ, ĉⱼ) − rᵢ − rⱼ; and
    *      cos(x,y) ≥ t ⟹ d(x̂, ŷ) ≤ w = sqrt(2 − 2t). So a pair with
    *      cosine ≥ t can ONLY live in a cell pair with
    *      d(ĉᵢ, ĉⱼ) ≤ rᵢ + rⱼ + w — every other cell pair is provably
    *      empty and never joined. The bound is computed in-engine as a
    *      K×K self-join of the (tiny) centroid+radius table, with a 1e-9
    *      slack so float error can only ADD candidates, never drop one;
    *   4. within candidate cell pairs only: equi-join on the cell-pair
    *      key with the exact fixed-point cosine ≥ t fused into the join
    *      condition (q42's lesson — survivors only, no pair
    *      materialization). Same-cell pairs dedup via id_a < id_b;
    *      cross-cell pairs appear under exactly one (ca ≤ cb) key.
    *
    * Exactness does not depend on the data: steps 3–4 are conservative
    * bounds + an exact re-verify, so the output is bit-identical to q42's
    * all-pairs oracle for ANY corpus. What IS data-dependent is the
    * pruning power: on clustered real-world embeddings the radii are
    * small and the candidate pair list hugs the diagonal (near-linear
    * total work); on isotropic random vectors at a low threshold the
    * radii approach √2 and it degenerates toward q45's within-cell-plus-
    * neighbors work — but always as AQE-splittable equi-joins on
    * ~K = √n keys, never a big-side BNLJ. That is the difference between
    * "slow day on adversarial data" and q42's "non-starter at 100×". */
  val q94 = Q(
    "q94_dedup_embedding_ball",
    (s, dir) => ballCover(embeddings(s, dir), 0.4),
    q42.oracle // bit-identical to the all-pairs answer, by construction
  )

  /** q94's engine, parameterized over the corpus so BallCoverSpec can
    * drive it with CLUSTERED data and audit pruning power directly
    * (candidate volume vs all-pairs) — the "measure, don't guess" answer
    * to the data-dependence caveat in the scaladoc above. */
  private[graft] def ballCover(embIn: org.apache.spark.sql.DataFrame, t: Double)
      : org.apache.spark.sql.DataFrame =
    ballCoverImpl(embIn, t, exact = true)

  /** The candidate PAIR SET the residual bounds admit, before the exact
    * cosine — the audit view: `count()` of this over `n(n−1)/2` is the
    * pruning power on a given corpus. */
  private[graft] def ballCoverCandidates(embIn: org.apache.spark.sql.DataFrame, t: Double)
      : org.apache.spark.sql.DataFrame =
    ballCoverImpl(embIn, t, exact = false)

  /** Prefix width of the ball-cover Cauchy–Schwarz prune. 48 of 64, NOT
    * q162's 16/48 Matryoshka split, and the difference is load-bearing:
    * the prune can only fire when the suffix bound alone cannot reach
    * the threshold, i.e. ‖a_suf‖·‖b_suf‖ < t. On isotropic data
    * ‖suf‖/‖x‖ ≈ √(sufDims/64), so a 16-dim prefix leaves a 0.75 bound
    * — above t = 0.4, zero prune power (measured: +13% sf1 wall, pure
    * overhead); a 48-dim prefix leaves 0.25 < t, and the partial-48
    * must clear t − 0.25 ≈ 1.4σ of the partial-dot distribution —
    * pruning the overwhelming mass of orthogonal pairs after 48 of 64
    * element reads. Prefix width must exceed 64·(1−t) for ANY prune
    * power on isotropic corpora. */
  private val BallPrefixDims = 48

  private def ballCoverImpl(
      embIn: org.apache.spark.sql.DataFrame,
      t: Double,
      exact: Boolean): org.apache.spark.sql.DataFrame = {
      val w = math.sqrt(2.0 - 2.0 * t) // normalized-distance budget at t
      val emb = embIn
      val k = math.ceil(math.sqrt(emb.count().toDouble)).toLong
      val cb = emb.filter(col("vec_id") < k)
        .select(col("vec_id").as("cid"), col("embedding").as("ce"),
          sqrt(dotDec(col("embedding"), col("embedding"))).as("cn"))
        .materialized // assignment + the K×K cell-pair bound
      // Cauchy–Schwarz prefix split (round-11 tightening): dot(a,b) =
      // dot_pre(48) + dot_suf, and dot_suf ≤ ‖a_suf‖·‖b_suf‖ — so a pair
      // whose 48-term partial plus suffix-norm product already falls
      // short of t provably fails the exact verify, and its last 16
      // elements are never read (FixedPointDotGated aborts in-loop).
      // The fixed-point sum splits EXACTLY at any prefix (each term
      // floors independently), and nsu is an upper bound on the REAL
      // suffix norm: ‖a_suf‖² ≤ (fixed_suffix_self + #dims)/1e15 — the
      // 1e-13 slack covers ≤100 suffix dims' floor loss, and only ever
      // ADMITS pairs.
      val dotPreL = graft.functions.FixedPointDot
        .fixed_point_dot_prefix(col("embedding"), col("embedding"), BallPrefixDims)
      val fullSelfL = graft.functions.FixedPointDot
        .fixed_point_dot(col("embedding"), col("embedding"))
      val assigned = emb
        .crossJoin(broadcast(cb))
        .groupBy("vec_id")
        .agg(
          max(struct(
            (dotDec(col("embedding"), col("ce")) / col("cn")).as("s"),
            (-col("cid")).as("negc"))).as("best"),
          first(col("embedding")).as("embedding"))
        .withColumn("nrm", sqrt(dotDec(col("embedding"), col("embedding"))))
        .withColumn("nsu", sqrt(
          (fullSelfL - dotPreL).cast("double") / lit(Scale) + lit(1e-13)))
        .select(col("vec_id"), (-col("best.negc")).as("cell"),
          (col("best.s") / col("nrm")).as("ccos"), // cos(x̂, nearest ĉ)
          col("embedding"), col("nrm"), col("nsu"))
        .materialized // radii + both pair-join sides
      val radii = assigned.groupBy("cell")
        .agg(sqrt(greatest(lit(0.0),
          lit(2.0) - lit(2.0) * min(col("ccos")))).as("radius"))
      val cents = cb.join(radii, col("cid") === col("cell"), "inner")
        .select(col("cid"), col("ce"), col("cn"), col("radius"))
      val cx = cents.select(col("cid").as("ca"), col("ce").as("cea"),
        col("cn").as("cna"), col("radius").as("ra"))
      val cy = cents.select(col("cid").as("cb"), col("ce").as("ceb"),
        col("cn").as("cnb"), col("radius").as("rb"))
      // candidate cell pairs KEEP dcc (centroid-centroid normalized
      // distance) and both radii: the per-vector residual bounds below
      // need them (round-6 tightening — the cell-level radius bound alone
      // is weak on near-isotropic corpora where every radius ≈ √2)
      val cellPairs = cx.join(broadcast(cy), col("ca") <= col("cb"))
        .withColumn("dcc", sqrt(greatest(lit(0.0), lit(2.0) -
          lit(2.0) * dotDec(col("cea"), col("ceb")) /
            (col("cna") * col("cnb")))))
        .filter(col("dcc") <= col("ra") + col("rb") + lit(w) + lit(1e-9))
        .select("ca", "cb", "dcc", "ra", "rb")
      // d(x̂, nearest ĉ) per vector — exact from the assignment cosine
      val dx = sqrt(greatest(lit(0.0), lit(2.0) - lit(2.0) * col("ccos")))
      val a = assigned.select(col("cell").as("cell_a"),
        col("vec_id").as("ida"), col("embedding").as("ea"),
        col("nrm").as("na"), dx.as("dxa"), col("nsu").as("nsa"))
      val b = assigned.select(col("cell").as("cell_b"),
        col("vec_id").as("idb"), col("embedding").as("eb"),
        col("nrm").as("nb"), dx.as("dxb"), col("nsu").as("nsb"))
      // Residual bounds (strictly tighter than the radius bound, still
      // conservative — slack only ever ADDS candidates):
      //  a-side (before the big shuffle join): x in cell ca can reach
      //    cell cb only if dcc ≤ d(x̂,ĉₐ) + r_b + w, by the triangle
      //    inequality through ĉₐ — prunes the broadcast fanout per ROW;
      //  pair-level (first conjunct of the big join, before the dot
      //    product): d(x̂,ŷ) ≥ dcc − dxa − dxb, so a surviving pair needs
      //    dcc ≤ dxa + dxb + w. Subsumes both per-side bounds (dx ≤ r).
      val fanout = a.join(broadcast(cellPairs), col("cell_a") === col("ca") &&
          col("dcc") <= col("dxa") + col("rb") + lit(w) + lit(1e-9))
      val pairBound =
        col("cell_b") === col("cb") &&
          col("dcc") <= col("dxa") + col("dxb") + lit(w) + lit(1e-9) &&
          (col("ca") =!= col("cb") || col("ida") < col("idb"))
      if (!exact)
        // audit view: pairs the bounds ADMIT, exact cosine not yet applied
        fanout.join(b, pairBound)
          .select(
            least(col("ida"), col("idb")).as("id_a"),
            greatest(col("ida"), col("idb")).as("id_b"))
      else {
        // One gated kernel per pair: partial-48, in-loop CS abort, full
        // dot only for survivors — returned Pruned sentinel fails the
        // cosine compare, so the output is bit-identical with or
        // without the gate (the 1e-9 slack means a pruned pair provably
        // fails the exact compare; BallCoverSpec pins q94 ≡ q42).
        val cut = ((lit(t) - lit(1e-9)) * col("na") * col("nb") -
          col("nsa") * col("nsb")) * lit(Scale)
        val gated = graft.functions.FixedPointDot
          .fixed_point_dot_gated(col("ea"), col("eb"), cut, BallPrefixDims)
        fanout
          .join(b, pairBound &&
            gated.cast("double") / lit(Scale) / (col("na") * col("nb")) >= t)
      }
        .select(
          least(col("ida"), col("idb")).as("id_a"),
          greatest(col("ida"), col("idb")).as("id_b"),
          (dotDec(col("ea"), col("eb")) / (col("na") * col("nb")))
            .as("cosine"))
        .orderBy("id_a", "id_b")
  }

  private val KmK = 8      // clusters
  private val KmRounds = 2 // Lloyd iterations (fixed → both engines agree)

  /** One DuckDB Lloyd round: assignment against centroid CTE `cPrev`
    * producing `aN`, then floor-mean update producing `cN`. Floor division
    * is spelled `(s - pmod(s, n)) / n` — the numerator is an exact multiple
    * of n, so trunc-vs-floor division semantics cannot diverge; pmod is
    * `((s % n) + n) % n` (dividend-signed `%` in both engines). Empty
    * clusters keep their previous centroid (LEFT JOIN + COALESCE). */
  private def kmRoundSql(r: Int): String = {
    val (cp, a, sm, cn) = (s"c${r - 1}", s"a$r", s"s$r", s"c$r")
    s"""
      d$r AS (
        SELECT u.vec_id, c.cid,
               CAST(SUM((u.v - c.v) * (u.v - c.v)) AS BIGINT) AS d
        FROM u JOIN $cp c USING (i) GROUP BY u.vec_id, c.cid),
      $a AS (
        SELECT vec_id, cid AS cluster, d FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d, cid) AS rn
          FROM d$r) WHERE rn = 1),
      $sm AS (
        SELECT $a.cluster AS cid, u.i,
               CAST(SUM(u.v) AS BIGINT) AS s, COUNT(*) AS n
        FROM u JOIN $a USING (vec_id) GROUP BY $a.cluster, u.i),
      $cn AS (
        SELECT c.cid, c.i,
               COALESCE((s.s - (((s.s % s.n) + s.n) % s.n)) // s.n, c.v) AS v
        FROM $cp c LEFT JOIN $sm s ON s.cid = c.cid AND s.i = c.i)"""
  }

  /** Exact k-means (Lloyd's algorithm) — the clustering primitive under
    * IVF codebook training (q43 seeds its codebook with raw vectors; a real
    * IVF index trains it with exactly this loop) and SemDeDup-style
    * semantic dedup (q45). K=8 seeds = the first K vectors, 2 fixed
    * rounds, then a final assignment — fixed iteration count (not
    * convergence) so both engines compute the identical fixpoint prefix.
    *
    * Cross-engine exactness: vectors are quantized once by [[ScaleFloor]]
    * (`floor(x*1e6)` → BIGINT) and every subsequent op — squared distance
    * ([[LongSqDist]]), centroid sums, floor-mean division — is pure integer
    * arithmetic, so there is no float to drift. The floor-mean uses
    * `Math.floorDiv` on the driver and the pmod identity in SQL (see
    * [[kmRoundSql]]) — identical on negative sums.
    *
    * Scale shape (MLlib's own Lloyd shape): centroids are K×dim longs —
    * corpus-size-independent — collected to the driver each round and
    * re-broadcast as plan literals, so ASSIGNMENT IS MAP-SIDE ONLY (K
    * codegen'd [[LongSqDist]] calls per row, argmin via array_min over
    * struct(d, cid) — no shuffle, no join). The update is one partial-agg
    * shuffle of K×dim element sums via the single-buffer
    * [[graft.functions.ArrayLongFold]] aggregate (map-side combine: each
    * task emits ≤K buffers regardless of row count). Per-round cost at
    * 100 TB: one scan + one K-row shuffle — the minimum Lloyd can do. */
  val q47 = Q(
    "q47_kmeans",
    (s, dir) => {
      import graft.functions.{LongSqDist, ScaleFloor}
      val quant = embeddings(s, dir)
        .select(col("vec_id"), ScaleFloor.scale_floor(col("embedding")).as("qv"))
        .materialized // reused 3x (2 rounds + final assignment)

      def assign(cents: IndexedSeq[Array[Long]]): DataFrame = quant
        .select(col("vec_id"), col("qv"),
          array_min(array(cents.zipWithIndex.map { case (c, j) =>
            struct(
              LongSqDist.long_sq_dist(col("qv"), typedLit(c.toSeq)).as("d"),
              lit(j.toLong).as("cid"))
          }: _*)).as("best"))
        .select(col("vec_id"), col("qv"),
          col("best.cid").as("cluster"), col("best.d").as("dist_sq"))

      var cents: IndexedSeq[Array[Long]] = quant
        .filter(col("vec_id") < KmK)
        .collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Long](1).toArray)
        .toIndexedSeq
      for (_ <- 1 to KmRounds) {
        val sums = assign(cents)
          .groupBy("cluster")
          .agg(graft.functions.ArrayLongFold.arraySumAgg(col("qv")).as("s"),
            count(lit(1)).as("n"))
          .collect()
          .map(r => r.getLong(0).toInt ->
            (r.getSeq[Long](1).toArray, r.getLong(2)))
          .toMap
        cents = cents.indices.map { j =>
          sums.get(j) match {
            case Some((sArr, n)) => sArr.map(Math.floorDiv(_, n))
            case None            => cents(j) // empty cluster keeps centroid
          }
        }
      }
      val fin = assign(cents)
      val sizes = fin.groupBy("cluster").agg(count(lit(1)).as("cluster_size"))
      fin.join(sizes, "cluster")
        .select(col("vec_id"), col("cluster"), col("dist_sq"),
          col("cluster_size"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH u AS (
        SELECT vec_id, i,
               CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS v
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)),
      c0 AS (SELECT vec_id AS cid, i, v FROM u WHERE vec_id < $KmK),
      ${(1 to KmRounds).map(kmRoundSql).mkString(",")},
      dF AS (
        SELECT u.vec_id, c.cid,
               CAST(SUM((u.v - c.v) * (u.v - c.v)) AS BIGINT) AS d
        FROM u JOIN c$KmRounds c USING (i) GROUP BY u.vec_id, c.cid),
      aF AS (
        SELECT vec_id, cid AS cluster, d AS dist_sq FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                       ORDER BY d, cid) AS rn
          FROM dF) WHERE rn = 1),
      sizes AS (SELECT cluster, COUNT(*) AS cluster_size
                FROM aF GROUP BY cluster)
      SELECT vec_id, cluster, dist_sq, cluster_size
      FROM aF JOIN sizes USING (cluster)
      ORDER BY vec_id""")
  )

  private val PqM = 8      // subspaces
  private val PqSubDim = 8 // dims per subspace (8×8 = the 64-dim vectors)
  private val PqK = 4      // codewords per subspace

  /** Quantized vectors (shared by q48/q49). */
  private def pqQuant(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir).select(col("vec_id"),
      graft.functions.ScaleFloor.scale_floor(col("embedding")).as("qv"))

  /** Driver-side PQ codebook: the first K quantized vectors (K×dim longs,
    * corpus-size-independent — the q43/q47 codebook discipline). */
  private def pqCents(quant: DataFrame): IndexedSeq[Array[Long]] = quant
    .filter(col("vec_id") < PqK)
    .collect()
    .sortBy(_.getLong(0))
    .map(_.getSeq[Long](1).toArray)
    .toIndexedSeq

  /** Per-subspace best codeword: struct(d, k) argmin over plan-literal
    * codeword subvectors — codegen'd, map-side. */
  private def pqBest(cents: IndexedSeq[Array[Long]], m: Int): Column =
    array_min(array((0 until PqK).map { k =>
      struct(
        graft.functions.LongSqDist.long_sq_dist(
          slice(col("qv"), m * PqSubDim + 1, PqSubDim),
          typedLit(cents(k).slice(m * PqSubDim, (m + 1) * PqSubDim).toSeq))
          .as("d"),
        lit(k.toLong).as("k"))
    }: _*))

  /** q48's CTE chain (quantize → per-subspace distances to the codebook →
    * per-subspace best code), shared verbatim by q49's oracle. */
  private val PqCtesSql = s"""
      u AS (
        SELECT vec_id, i,
               CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT) AS v
        FROM (SELECT vec_id, unnest(embedding) AS x,
                     generate_subscripts(embedding, 1) AS i
              FROM embeddings)),
      cd AS (
        SELECT a.vec_id, (a.i - 1) // $PqSubDim AS m, b.vec_id AS k,
               CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS d
        FROM u a JOIN u b ON a.i = b.i AND b.vec_id < $PqK
        GROUP BY 1, 2, 3),
      best AS (
        SELECT vec_id, m, k, d FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                       ORDER BY d, k) AS rn
          FROM cd) WHERE rn = 1)"""

  /** Product-quantization encode (Jégou et al. 2011; the compression
    * behind FAISS IVFPQ): split each 64-dim vector into M=8 subvectors,
    * assign each to its nearest of K=4 per-subspace codewords, emit the 8
    * code indices + total squared reconstruction error. 64 floats (256 B)
    * become 8 small ints — the memory trade that lets a 100 TB embedding
    * corpus fit an ANN index. Codebook = subvectors of the first K vectors
    * (training-free seeding, as q43; a trained PQ would run q47's Lloyd
    * per subspace — same machinery).
    *
    * Exactness: [[ScaleFloor]]-quantized longs; per-subspace
    * [[LongSqDist]] over `slice`d subvectors; argmin via `array_min` over
    * struct(d, k) with the smallest-k tiebreak. Everything integer → the
    * oracle (same distances via unnest positions, `(i-1)//8` subspacing)
    * hash-matches bit for bit.
    *
    * Scale shape: encode is a PURE map-side projection — M×K subspace
    * distances per row (= K full-dim distances of work), plan-literal
    * codebook, no shuffle anywhere but the presentation sort. PQ encode at
    * 100 TB runs at scan speed. */
  val q48 = Q(
    "q48_pq_encode",
    (s, dir) => {
      val quant = pqQuant(s, dir)
      val cents = pqCents(quant)
      val withBest = (0 until PqM).foldLeft(quant) {
        (df, m) => df.withColumn(s"__b$m", pqBest(cents, m))
      }
      val cols = col("vec_id") +:
        (0 until PqM).map(m => col(s"__b$m").getField("k").as(s"code_$m")) :+
        (0 until PqM).map(m => col(s"__b$m").getField("d")).reduce(_ + _).as("err")
      withBest.select(cols: _*).orderBy("vec_id")
    },
    Some(s"""
      WITH $PqCtesSql
      SELECT vec_id,
             ${(0 until PqM).map(m =>
                s"MAX(CASE WHEN m = $m THEN k END) AS code_$m,").mkString("\n             ")}
             CAST(SUM(d) AS BIGINT) AS err
      FROM best GROUP BY vec_id ORDER BY vec_id""")
  )

  /** ADC top-k search over the PQ codes — the query path of IVFPQ
    * (asymmetric distance computation: the query stays full-precision, the
    * corpus is 8 codes/vector). Per query, a distance TABLE of M×K=32
    * subspace distances to the codebook is computed once; the approximate
    * distance to any encoded vector is then 8 table lookups + adds —
    * never touching the original 64 floats. That lookup trick is why PQ
    * search scans billions of codes cheaply.
    *
    * Scale shape: the 8-row query table (with its 32-entry literal-indexed
    * distance arrays) is BROADCAST — corpus-size-independent, q40's
    * discipline; the encoded corpus streams map-side past it (8
    * `element_at` picks + adds per (query, vector) — no shuffle of the big
    * side); per-query ranking is the q07 window-top-k shape. All integer
    * arithmetic → the oracle recomputes encode + tables + lookups
    * exactly. */
  val q49 = Q(
    "q49_pq_adc_topk",
    (s, dir) => {
      val quant = pqQuant(s, dir).materialized // encode + query branches
      val cents = pqCents(quant)
      val encoded = {
        val withBest = (0 until PqM).foldLeft(quant) {
          (df, m) => df.withColumn(s"__b$m", pqBest(cents, m))
        }
        withBest.select(col("vec_id") +:
          (0 until PqM).map(m =>
            col(s"__b$m").getField("k").as(s"code_$m")): _*)
      }
      // per-query distance tables: array of K subspace distances per m
      def dtable(m: Int): Column = array((0 until PqK).map { k =>
        graft.functions.LongSqDist.long_sq_dist(
          slice(col("qv"), m * PqSubDim + 1, PqSubDim),
          typedLit(cents(k).slice(m * PqSubDim, (m + 1) * PqSubDim).toSeq))
      }: _*)
      val queries = quant.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id") +:
          (0 until PqM).map(m => dtable(m).as(s"__dt_$m")): _*)
      val adc = encoded.crossJoin(broadcast(queries))
        .select(col("query_id"), col("vec_id"),
          (0 until PqM).map(m =>
            element_at(col(s"__dt_$m"),
              (col(s"code_$m") + 1).cast("int"))).reduce(_ + _).as("adc_dist"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("adc_dist"), col("vec_id"))
      adc.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .select("query_id", "rank", "vec_id", "adc_dist")
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH $PqCtesSql,
      adc AS (
        SELECT q.vec_id AS query_id, b.vec_id,
               CAST(SUM(q.d) AS BIGINT) AS adc_dist
        FROM best b
        JOIN cd q ON q.m = b.m AND q.k = b.k AND q.vec_id < 8
        GROUP BY 1, 2),
      ranked AS (
        SELECT query_id, vec_id, adc_dist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adc_dist, vec_id) AS rank
        FROM adc)
      SELECT query_id, rank, vec_id, adc_dist
      FROM ranked WHERE rank <= 10
      ORDER BY query_id, rank""")
  )

  /** Metadata-FILTERED approximate nearest neighbors — q43's IVF pipeline
    * with a label predicate applied to candidates BEFORE any dot product
    * (the "pre-filtering" strategy of filtered vector search: FAISS
    * IDSelector / filtered-HNSW territory). Placement matters at scale:
    * filtering after top-k (post-filtering) can return < k or even zero
    * matching rows for a selective predicate, while filtering after
    * scoring wastes the dot products on candidates the predicate kills.
    * Here the (vec_id, label) projection — narrow at any corpus size —
    * joins onto the probed cells first, so scoring cost is proportional
    * to MATCHING candidates only, and every returned neighbor satisfies
    * the predicate by construction.
    *
    * Scale shape: identical to q43 (map-side assignment, broadcast
    * probes, per-query WindowGroupLimit rank) plus one narrow equi-join;
    * the label column never rides along with the vectors. The oracle
    * recomputes the full filtered pipeline. */
  val q77 = Q(
    "q77_filtered_ann",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val cents = codebook(emb)
      val assigned = ivfAssigned(emb, cents)

      val probes = assigned.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("nrm").as("qn"),
          sort_array(scoredCells(cents, col("embedding")), asc = false).as("sc"))
        .select(col("query_id"), col("qe"), col("qn"),
          explode(array((1 to IvfNProbe).map(i =>
            -element_at(col("sc"), i).getField("negc")): _*)).as("cell"))

      val labels = emb.select(col("vec_id").as("neighbor_id"), col("label"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      assigned
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
          col("nrm").as("cn"), col("cell"))
        .join(labels, "neighbor_id")
        .filter(col("label") === 3) // predicate BEFORE any scoring
        .join(broadcast(probes), Seq("cell"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (dotDec(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "cosine")
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH u AS (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      nrm AS (
        SELECT vec_id,
               sqrt(CAST(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e15) AS nrm
        FROM u GROUP BY vec_id),
      cd AS (
        SELECT a.vec_id, b.vec_id AS cid,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15) AS BIGINT)) AS BIGINT) AS dt
        FROM u a JOIN u b ON a.i = b.i AND b.vec_id < $IvfK
        GROUP BY a.vec_id, b.vec_id),
      score AS (
        SELECT cd.vec_id, cd.cid,
               (CAST(cd.dt AS DOUBLE) / 1e15) / cn.nrm AS s
        FROM cd JOIN nrm cn ON cn.vec_id = cd.cid),
      ranked_cells AS (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY s DESC, cid) AS rn
        FROM score),
      assign AS (SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn = 1),
      probe AS (
        SELECT vec_id AS query_id, cid AS cell
        FROM ranked_cells WHERE vec_id < 8 AND rn <= $IvfNProbe),
      cand AS (
        SELECT p.query_id, a.vec_id AS neighbor_id
        FROM probe p JOIN assign a ON a.cell = p.cell
        JOIN embeddings e ON e.vec_id = a.vec_id
        WHERE a.vec_id <> p.query_id AND e.label = 3),
      dots AS (
        SELECT cand.query_id, cand.neighbor_id,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15) AS BIGINT)) AS BIGINT) AS dt
        FROM cand
        JOIN u a ON a.vec_id = cand.query_id
        JOIN u b ON b.vec_id = cand.neighbor_id AND a.i = b.i
        GROUP BY cand.query_id, cand.neighbor_id),
      scored AS (
        SELECT d.query_id, d.neighbor_id,
               (CAST(d.dt AS DOUBLE) / 1e15) / (qn.nrm * cn.nrm) AS cosine
        FROM dots d
        JOIN nrm qn ON qn.vec_id = d.query_id
        JOIN nrm cn ON cn.vec_id = d.neighbor_id),
      out AS (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, rank, neighbor_id, cosine
      FROM out WHERE rank <= 5
      ORDER BY query_id, rank""")
  )

  /** Int8 absmax quantization of the embedding column — the 4x storage
    * compression stage of an embedding pipeline, with the quality signals
    * you'd monitor at scale: per-vector scale (absmax), saturated-code
    * count, and L1 reconstruction error. All integer arithmetic over the
    * [[graft.functions.ScaleFloor]] fixed-point vector (sign split out
    * before every division), so DuckDB reproduces each code bit for bit.
    *
    * Scale shape: one codegen'd projection
    * ([[graft.functions.Int8QuantStats]]) per row — scan speed, no
    * shuffle; the ORDER BY is presentation only. */
  val q79 = Q(
    "q79_int8_quant",
    (s, dir) => {
      val qv = graft.functions.ScaleFloor.scale_floor(col("embedding"))
      embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          graft.functions.Int8QuantStats.int8_quant_stats(qv).as("st"))
        .select(col("vec_id"), col("label"),
          col("st.absmax").as("absmax"),
          col("st.n_sat").as("n_sat"),
          col("st.err_l1").as("err_l1"))
        .orderBy("vec_id")
    },
    Some("""
      WITH u AS (
        SELECT vec_id,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q
        FROM embeddings),
      am AS (SELECT vec_id, MAX(ABS(q)) AS absmax FROM u GROUP BY vec_id),
      codes AS (
        SELECT u.vec_id, absmax, ABS(q) AS aq,
               CASE WHEN absmax = 0 THEN 0
                    ELSE (ABS(q) * 127) // absmax END AS acode
        FROM u JOIN am USING (vec_id)),
      st AS (
        SELECT vec_id, MAX(absmax) AS absmax,
               CAST(SUM(CASE WHEN acode = 127 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_sat,
               CAST(SUM(aq - (acode * absmax) // 127) AS BIGINT) AS err_l1
        FROM codes GROUP BY vec_id)
      SELECT e.vec_id, e.label, st.absmax, st.n_sat, st.err_l1
      FROM embeddings e JOIN st USING (vec_id)
      ORDER BY vec_id""")
  )

  /** Binary-quantization ANN: each vector compresses to a 64-bit sign
    * signature (two non-negative 32-bit halves via
    * [[graft.functions.SignBits]]); candidates for the 8 broadcast probes
    * are vectors within Hamming distance 24, reranked by exact fixed-point
    * cosine → top-5. This is the 1-bit-PQ prefilter family (sign sketch +
    * popcount) next to q41's hyperplane LSH (random planes) and q43's IVF:
    * the filter costs two XOR+popcounts per (probe, row) instead of a
    * 64-dim dot, and the exact rerank touches only the ~2-3% of the corpus
    * that survives.
    *
    * Scale shape: signatures are a map-side projection; the probe set is
    * the broadcast side of a nested-loop join that STREAMS the corpus
    * (allowlisted in PlanRegressionSpec like q40/q49 — 8 rows × cheap
    * popcount filter, no shuffle of the big side); only survivors reach
    * the cosine and the per-probe top-5 window. */
  val q80 = Q(
    "q80_sign_ann",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val qv = graft.functions.ScaleFloor.scale_floor(col("embedding"))
      val base = emb.select(col("vec_id"), col("embedding"),
        graft.functions.SignBits.sign_bits(qv, 0, 32).as("sig_lo"),
        graft.functions.SignBits.sign_bits(qv, 32, 32).as("sig_hi"),
        sqrt(dotDec(col("embedding"), col("embedding"))).as("nrm"))
      val probes = base.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("sig_lo").as("qlo"), col("sig_hi").as("qhi"),
          col("nrm").as("qn"))
      val cands = base.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"), col("sig_lo").as("clo"),
        col("sig_hi").as("chi"), col("nrm").as("cn"))
      val filtered = cands
        .join(broadcast(probes), col("query_id") =!= col("neighbor_id"))
        .withColumn("hamming",
          expr("CAST(bit_count(qlo ^ clo) + bit_count(qhi ^ chi) AS INT)"))
        .filter(col("hamming") <= 24)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      filtered
        .withColumn("cosine",
          dotDec(col("qe"), col("ce")) / (col("qn") * col("cn")))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("query_id", "rank", "neighbor_id", "hamming", "cosine")
        .orderBy("query_id", "rank")
    },
    Some(s"""
      WITH u AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(FLOOR(CAST(unnest(embedding) AS DOUBLE) * 1e6) AS BIGINT) AS q
        FROM embeddings),
      sig AS (
        SELECT vec_id,
               CAST(SUM(CASE WHEN i <= 32 AND q > 0
                             THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE 0 END)
                    AS BIGINT) AS sig_lo,
               CAST(SUM(CASE WHEN i > 32 AND q > 0
                             THEN (CAST(1 AS BIGINT) << (i - 33)) ELSE 0 END)
                    AS BIGINT) AS sig_hi
        FROM u GROUP BY vec_id),
      cand AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(bit_count(xor(a.sig_lo, b.sig_lo)) +
                    bit_count(xor(a.sig_hi, b.sig_hi)) AS INT) AS hamming
        FROM sig a, sig b
        WHERE a.vec_id < 8 AND a.vec_id <> b.vec_id),
      keep AS (SELECT * FROM cand WHERE hamming <= 24),
      qv AS (SELECT vec_id, embedding FROM embeddings),
      scored AS (
        SELECT k.query_id, k.neighbor_id, k.hamming,
               ${dotDecSql("qa.embedding", "qb.embedding")} /
               (sqrt(${dotDecSql("qa.embedding", "qa.embedding")}) *
                sqrt(${dotDecSql("qb.embedding", "qb.embedding")})) AS cosine
        FROM keep k
        JOIN qv qa ON qa.vec_id = k.query_id
        JOIN qv qb ON qb.vec_id = k.neighbor_id),
      ranked AS (
        SELECT query_id, neighbor_id, hamming, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
      SELECT query_id, rank, neighbor_id, hamming, cosine
      FROM ranked WHERE rank <= 5
      ORDER BY query_id, rank""")
  )

  /** Per-label centroid drift audit — the embedding-space composition
    * check behind "did this source/label shift distribution between
    * snapshots?": mean embedding per label, then the exact squared
    * Euclidean distance between every centroid pair. Means are never
    * materialized as floats: the per-dimension SUM of scale_floor'd
    * integers and the member count n are carried separately, and the
    * pair distance uses the cross-multiplied identity
    * ‖sa/na − sb/nb‖² = Σ(sa·nb − sb·na)² / (na·nb)² in DECIMAL(38,0) —
    * one exact integer division at the end (×1e6), so the audit is
    * bit-identical across engines and cluster sizes.
    *
    * Scale shape: one posexplode + (label, dim)-keyed aggregate with
    * map-side partials — the shuffle carries K×64 longs, not vectors; the
    * centroid pair join is K²×64 rows of integers (broadcast-sized for
    * any real label count). Corpus size only touches the scan. */
  val q120 = Q(
    "q120_centroid_drift",
    (s, dir) => {
      val el = embeddings(s, dir)
        .select(col("label"),
          posexplode(graft.functions.ScaleFloor.scale_floor(col("embedding"))))
        .toDF("label", "pos", "v")
      val cents = el.groupBy("label", "pos")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .materialized // both sides of the pair join read it
      val a = cents.select(col("label").as("label_a"), col("pos"),
        col("sv").as("sa"), col("n").as("na"))
      val b = cents.select(col("label").as("label_b"), col("pos").as("pos_b"),
        col("sv").as("sb"), col("n").as("nb"))
      a.join(b, col("pos") === col("pos_b") && col("label_a") < col("label_b"))
        .groupBy("label_a", "label_b", "na", "nb")
        .agg(expr("""cast(sum(
            (cast(sa as decimal(38,0)) * nb - cast(sb as decimal(38,0)) * na) *
            (cast(sa as decimal(38,0)) * nb - cast(sb as decimal(38,0)) * na))
          * 1000000 div ((cast(na as decimal(38,0)) * nb * 1000000)
                       * (cast(na as decimal(38,0)) * nb * 1000000))
          as bigint)""").as("dist2_x1e6"))
        .select("label_a", "label_b", "na", "nb", "dist2_x1e6")
        .orderBy("label_a", "label_b")
    },
    Some("""
      WITH el AS (
        SELECT label, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings),
      sc AS (
        SELECT label, pos,
               CAST(FLOOR(CAST(x AS DOUBLE) * 1000000) AS BIGINT) AS v
        FROM el),
      cents AS (
        SELECT label, pos, SUM(v) AS sv, COUNT(*) AS n
        FROM sc GROUP BY label, pos),
      pairs AS (
        SELECT a.label AS label_a, b.label AS label_b,
               a.n AS na, b.n AS nb,
               SUM((CAST(a.sv AS HUGEINT) * b.n - CAST(b.sv AS HUGEINT) * a.n)
                 * (CAST(a.sv AS HUGEINT) * b.n - CAST(b.sv AS HUGEINT) * a.n))
                 AS s2
        FROM cents a JOIN cents b ON a.pos = b.pos AND a.label < b.label
        GROUP BY 1, 2, 3, 4)
      SELECT label_a, label_b,
             CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
             CAST(s2 * 1000000 // ((CAST(na AS HUGEINT) * nb * 1000000)
                                 * (CAST(na AS HUGEINT) * nb * 1000000))
                  AS BIGINT) AS dist2_x1e6
      FROM pairs ORDER BY label_a, label_b""")
  )

  /** ANN index-quality AUDIT — recall@5 of the q41 hyperplane-LSH index
    * against exact brute-force ground truth, per probe, as a first-class
    * query ("measure, don't guess" applied to the index itself: every
    * production ANN deployment gates on a recall audit like this before
    * trusting the approximate path). Probes = the q40/q41 query set
    * (vec_id < 8). `n_candidates` is the audit's cost column: how many
    * exact rerank pairs the index admitted (the LSH cost proxy), next to
    * how many of the true top-5 it found.
    *
    * Exactness: counts are integers; `recall` is one int/int division
    * (identical doubles both engines); ties inside the top-5 broken by
    * neighbor_id exactly as q40/q41 do, so both engines rank the same
    * quantized cosines.
    *
    * Scale shape: the exact side is q40's broadcast-probe scan (the audit
    * is FOR a small probe panel — 8 rows broadcast, corpus streams by,
    * BNLJ case (b)); the LSH side is q41's bucket equi-join. At 100 TB
    * the audit costs one corpus scan per panel refresh, which is exactly
    * what it costs in production. */
  val q136 = Q(
    "q136_ann_recall",
    (s, dir) => {
      val emb = embeddings(s, dir)
      // ---- exact ground truth: q40's shape, top-5 ----
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          sqrt(dotDec(col("embedding"), col("embedding"))).as("qn"))
      val cands = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"),
        sqrt(dotDec(col("embedding"), col("embedding"))).as("cn"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val exactTop = cands.join(broadcast(queries),
          col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          (dotDec(col("qe"), col("ce")) / (col("qn") * col("cn")))
            .as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("query_id", "neighbor_id")
      // ---- index side: q41's signatures, candidate set + top-5 ----
      def planeBit(vec: Column, g: Int, bit: Int): Column = {
        val weighted = graft.functions.FixedPointDot
          .fixed_point_dot(vec, typedLit(planeWeights(g)))
        when(weighted >= 0, lit(1L << bit)).otherwise(lit(0L))
      }
      def tableSig(vec: Column, t: Int): Column =
        (0 until LshPlanes).map(p => planeBit(vec, t * LshPlanes + p, p))
          .reduce(_ bitwiseOR _)
      val signed = emb.select(
        col("vec_id"), col("embedding"),
        explode(array((0 until LshTables).map { t =>
          struct(lit(t).as("t"), tableSig(col("embedding"), t).as("sig"))
        }: _*)).as("b"))
        .select(col("vec_id"), col("embedding"),
          col("b.t").as("t"), col("b.sig").as("sig"))
      val qSig = signed.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          sqrt(dotDec(col("embedding"), col("embedding"))).as("qn"),
          col("t"), col("sig"))
      val cSig = signed.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"),
        sqrt(dotDec(col("embedding"), col("embedding"))).as("cn"),
        col("t"), col("sig"))
      val collided = cSig.join(broadcast(qSig), Seq("t", "sig"))
        .filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          col("qe"), col("ce"), col("qn"), col("cn"))
        .dropDuplicates("query_id", "neighbor_id")
        .materialized // candidate count + rerank share the collision set
      val lshTop = collided
        .select(col("query_id"), col("neighbor_id"),
          (dotDec(col("qe"), col("ce")) / (col("qn") * col("cn")))
            .as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("neighbor_id"))
      val nCand = collided.groupBy("query_id")
        .agg(count(lit(1)).as("n_candidates"))
      // ---- the audit ----
      val matched = exactTop.as("e")
        .join(lshTop.as("l"),
          col("e.query_id") === col("l.query_id") &&
            col("e.neighbor_id") === col("l.neighbor_id"))
        .groupBy(col("e.query_id").as("query_id"))
        .agg(count(lit(1)).as("n_matched"))
      exactTop.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
        .join(matched, Seq("query_id"), "left")
        .join(nCand, Seq("query_id"), "left")
        .select(col("query_id"), col("n_exact"),
          coalesce(col("n_matched"), lit(0L)).as("n_matched"),
          coalesce(col("n_candidates"), lit(0L)).as("n_candidates"),
          (coalesce(col("n_matched"), lit(0L)).cast("double") /
            col("n_exact")).as("recall"))
        .orderBy("query_id")
    },
    Some(s"""
      WITH u AS (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      nrm AS (
        SELECT vec_id,
               sqrt(CAST(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e15) AS nrm
        FROM u GROUP BY vec_id),
      exact_dots AS (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15) AS BIGINT)) AS BIGINT) AS dt
        FROM u a JOIN u b ON a.i = b.i AND a.vec_id < 8
                         AND a.vec_id <> b.vec_id
        GROUP BY a.vec_id, b.vec_id),
      exact_top AS (
        SELECT query_id, neighbor_id FROM (
          SELECT d.query_id, d.neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY d.query_id
                   ORDER BY (CAST(d.dt AS DOUBLE) / 1e15) /
                            (qn.nrm * cn.nrm) DESC, d.neighbor_id) AS rank
          FROM exact_dots d
          JOIN nrm qn ON qn.vec_id = d.query_id
          JOIN nrm cn ON cn.vec_id = d.neighbor_id)
        WHERE rank <= 5),
      wt AS (
        SELECT unnest(range(0, ${LshTables * LshPlanes * LshDim})) AS gi,
               unnest(${PlaneThousandths.mkString("[", ",", "]")}) AS th),
      w AS (
        SELECT gi // $LshDim AS g, (gi % $LshDim) + 1 AS i,
               CAST(th / 1000.0 AS FLOAT) AS w
        FROM wt),
      pd AS (
        SELECT u.vec_id, w.g,
               CAST(SUM(CAST(FLOOR(CAST(u.x AS DOUBLE) * CAST(w.w AS DOUBLE) * 1e15) AS BIGINT)) AS BIGINT) AS d
        FROM u JOIN w ON u.i = w.i
        GROUP BY u.vec_id, w.g),
      sigs AS (
        SELECT vec_id, g // $LshPlanes AS t,
               CAST(SUM(CASE WHEN d >= 0 THEN (1::BIGINT << (g % $LshPlanes))
                             ELSE 0 END) AS BIGINT) AS sig
        FROM pd GROUP BY vec_id, g // $LshPlanes),
      coll AS (
        SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
        FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
        WHERE q.vec_id < 8 AND q.vec_id <> c.vec_id),
      lsh_dots AS (
        SELECT coll.query_id, coll.neighbor_id,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15) AS BIGINT)) AS BIGINT) AS dt
        FROM coll
        JOIN u a ON a.vec_id = coll.query_id
        JOIN u b ON b.vec_id = coll.neighbor_id AND a.i = b.i
        GROUP BY coll.query_id, coll.neighbor_id),
      lsh_top AS (
        SELECT query_id, neighbor_id FROM (
          SELECT d.query_id, d.neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY d.query_id
                   ORDER BY (CAST(d.dt AS DOUBLE) / 1e15) /
                            (qn.nrm * cn.nrm) DESC, d.neighbor_id) AS rank
          FROM lsh_dots d
          JOIN nrm qn ON qn.vec_id = d.query_id
          JOIN nrm cn ON cn.vec_id = d.neighbor_id)
        WHERE rank <= 5),
      ncand AS (
        SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_candidates
        FROM coll GROUP BY query_id),
      matched AS (
        SELECT e.query_id, CAST(COUNT(*) AS BIGINT) AS n_matched
        FROM exact_top e JOIN lsh_top l
          ON e.query_id = l.query_id AND e.neighbor_id = l.neighbor_id
        GROUP BY e.query_id)
      SELECT e.query_id, CAST(e.n_exact AS BIGINT) AS n_exact,
             COALESCE(m.n_matched, 0) AS n_matched,
             COALESCE(n.n_candidates, 0) AS n_candidates,
             CAST(COALESCE(m.n_matched, 0) AS DOUBLE) / e.n_exact AS recall
      FROM (SELECT query_id, COUNT(*) AS n_exact
            FROM exact_top GROUP BY query_id) e
      LEFT JOIN matched m USING (query_id)
      LEFT JOIN ncand n USING (query_id)
      ORDER BY query_id""")
  )

  /** Semantic decontamination against a benchmark/eval set — q38/q96/q148
    * find VERBATIM eval leakage; this finds the paraphrased kind those
    * cannot see: every training vector whose embedding-cosine against ANY
    * eval vector (vec_id < 64 plays the held-out benchmark) clears 0.3 is
    * flagged with its hit count, best-matching eval item, and the exact
    * cosine — the triage list a curation team reviews before a training
    * run. Cosines are fixed-point (bit-identical cross-engine, see
    * [[dotDec]]); ties on best-match break by smallest eval id.
    *
    * Scale shape: the eval side is SMALL BY DEFINITION (benchmarks are
    * thousands of rows against a 100 TB corpus), so the honest plan is a
    * broadcast of the eval vectors with the threshold fused INTO the
    * nested-loop join condition (q42's lesson: non-qualifying pairs are
    * walked as condition evaluations, never materialized as rows — the
    * corpus side streams map-side at scan speed, no shuffle). Only the
    * rare flagged pairs reach the one train-keyed window exchange, whose
    * partitions are bounded by the eval-set size. */
  val q152 = Q(
    "q152_semantic_decontam",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val eval = emb.filter(col("vec_id") < 64)
        .select(col("vec_id").as("eval_id"), col("embedding").as("ee"),
          sqrt(dotDec(col("embedding"), col("embedding"))).as("en"))
      val train = emb.filter(col("vec_id") >= 64)
        .select(col("vec_id").as("train_id"), col("embedding").as("te"),
          sqrt(dotDec(col("embedding"), col("embedding"))).as("tn"))
      val hits = train.join(broadcast(eval),
          dotDec(col("te"), col("ee")) / (col("tn") * col("en")) >= 0.3)
        .select(col("train_id"), col("eval_id"),
          (dotDec(col("te"), col("ee")) / (col("tn") * col("en")))
            .as("cosine"))
      hits
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("train_id"))
            .orderBy(col("cosine").desc, col("eval_id"))))
        .withColumn("n_hits",
          count(lit(1)).over(Window.partitionBy(col("train_id"))))
        .filter(col("rank") === 1)
        .select(col("train_id"), col("n_hits"),
          col("eval_id").as("best_eval_id"), col("cosine").as("best_cosine"))
        .orderBy("train_id")
    },
    Some(s"""
      WITH u AS (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      nrm AS (
        SELECT vec_id,
               sqrt(CAST(CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e15) AS nrm
        FROM u GROUP BY vec_id),
      dots AS (
        SELECT t.vec_id AS train_id, e.vec_id AS eval_id,
               CAST(CAST(SUM(CAST(FLOOR(CAST(t.x AS DOUBLE) * e.x * 1e15) AS BIGINT)) AS BIGINT) AS DOUBLE) / 1e15 AS dot
        FROM u t JOIN u e ON t.i = e.i AND t.vec_id >= 64 AND e.vec_id < 64
        GROUP BY t.vec_id, e.vec_id),
      hits AS (
        SELECT d.train_id, d.eval_id, d.dot / (tn.nrm * en.nrm) AS cosine
        FROM dots d
        JOIN nrm tn ON tn.vec_id = d.train_id
        JOIN nrm en ON en.vec_id = d.eval_id
        WHERE d.dot / (tn.nrm * en.nrm) >= 0.3),
      ranked AS (
        SELECT train_id, eval_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY train_id
                                  ORDER BY cosine DESC, eval_id) AS rank,
               CAST(COUNT(*) OVER (PARTITION BY train_id) AS BIGINT)
                 AS n_hits
        FROM hits)
      SELECT train_id, n_hits, eval_id AS best_eval_id,
             cosine AS best_cosine
      FROM ranked WHERE rank = 1
      ORDER BY train_id""")
  )

  /** Prefix-dimension two-stage retrieval audit — the Matryoshka /
    * dimension-truncation trade (Kusupati et al. 2022): stage 1 ranks by
    * cosine over only the FIRST 16 of 64 dims (4× less dot-product work
    * and memory bandwidth — at production scale this is what the coarse
    * index stores), keeps the top-25 candidates per query; stage 2
    * reranks those 25 by full-dimension cosine; the audit reports
    * recall@5 against the exact full-dimension top-5 (q40's ground
    * truth). Every dot runs through the fixed-point expression, so both
    * stages are bit-identical in DuckDB.
    *
    * Scale shape: queries broadcast (tiny), candidates stream by — the
    * Q×N stage-1 scan touches 16 floats/vector instead of 64, and the
    * full-width vectors are only read for the ≤25·Q rerank rows; the
    * recall join is per-query-bounded (5 rows a side). The same
    * prefix-filter composes under q43's IVF routing when N outgrows the
    * brute scan. */
  val q162 = Q(
    "q162_prefix_rerank",
    (s, dir) => {
      val emb = embeddings(s, dir)
      val pd = 16
      val queries = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          sqrt(dotDec(col("embedding"), col("embedding"))).as("qn"),
          slice(col("embedding"), 1, pd).as("qp"))
        .withColumn("qpn", sqrt(dotDec(col("qp"), col("qp"))))
      val cands = emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"),
        sqrt(dotDec(col("embedding"), col("embedding"))).as("cn"),
        slice(col("embedding"), 1, pd).as("cp"))
        .withColumn("cpn", sqrt(dotDec(col("cp"), col("cp"))))
      val pairs = cands.join(broadcast(queries),
        col("query_id") =!= col("neighbor_id"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val exactTop = pairs
        .select(col("query_id"), col("neighbor_id"),
          (dotDec(col("qe"), col("ce")) / (col("qn") * col("cn")))
            .as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("query_id", "neighbor_id")
      val wp = Window.partitionBy(col("query_id"))
        .orderBy(col("pcos").desc, col("neighbor_id"))
      // Zero-norm guard: a vector whose first 16 dims are all zero has
      // pcos undefined (0/0 → NaN, whose window ordering is engine lore);
      // pin it to -1 — "worst candidate" — in both engines instead.
      val twoStage = pairs
        .select(col("query_id"), col("neighbor_id"),
          col("qe"), col("ce"), col("qn"), col("cn"),
          when(col("qpn") * col("cpn") === 0d, lit(-1d))
            .otherwise(dotDec(col("qp"), col("cp")) / (col("qpn") * col("cpn")))
            .as("pcos"))
        .withColumn("prank", row_number().over(wp))
        .filter(col("prank") <= 25)
        .select(col("query_id"), col("neighbor_id"),
          (dotDec(col("qe"), col("ce")) / (col("qn") * col("cn")))
            .as("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select("query_id", "neighbor_id")
      val hits = exactTop
        .join(twoStage, Seq("query_id", "neighbor_id"), "left_semi")
        .groupBy("query_id").agg(count(lit(1)).as("h"))
      queries.select(col("query_id"))
        .join(hits, Seq("query_id"), "left")
        .select(col("query_id"), coalesce(col("h"), lit(0L)).as("hits"))
        .withColumn("recall_bp", col("hits") * 2000)
        .orderBy("query_id")
    },
    // Dots/norms come from ONE position-aligned unnest join, not a
    // correlated dotDecSql per pair — DuckDB replays an undecorrelated
    // UNNEST subquery per row (the q172/q165 finding; ~14 s at sf0.01 vs
    // 0.1 s like this). dpre sums the i ≤ 16 terms of the SAME floor'd
    // products that slicing embedding[1:16] would produce, and the
    // cosine/pcos expression trees over these integer sums are the old
    // oracle's exactly — identical doubles, identical ordering.
    Some("""
      WITH cu AS MATERIALIZED (
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      nn AS MATERIALIZED (
        SELECT vec_id, CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15)
                 AS BIGINT)) AS BIGINT) AS n
        FROM cu GROUP BY vec_id),
      pn AS MATERIALIZED (
        SELECT vec_id, CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15)
                 AS BIGINT)) AS BIGINT) AS n
        FROM cu WHERE i <= 16 GROUP BY vec_id),
      qd AS MATERIALIZED (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15)
                 AS BIGINT)) AS BIGINT) AS dfull,
               CAST(SUM(CASE WHEN a.i <= 16
                 THEN CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15) AS BIGINT)
                 ELSE 0 END) AS BIGINT) AS dpre
        FROM cu a JOIN cu b ON a.i = b.i
          AND a.vec_id < 8 AND a.vec_id <> b.vec_id
        GROUP BY a.vec_id, b.vec_id),
      pairs AS MATERIALIZED (
        SELECT query_id, neighbor_id,
               (CAST(dfull AS DOUBLE) / 1e15) /
               (sqrt(CAST(nq.n AS DOUBLE) / 1e15)
                * sqrt(CAST(nc.n AS DOUBLE) / 1e15)) AS cosine,
               CASE WHEN sqrt(CAST(pq.n AS DOUBLE) / 1e15)
                         * sqrt(CAST(pc.n AS DOUBLE) / 1e15) = 0 THEN -1
                    ELSE (CAST(dpre AS DOUBLE) / 1e15) /
                         (sqrt(CAST(pq.n AS DOUBLE) / 1e15)
                          * sqrt(CAST(pc.n AS DOUBLE) / 1e15)) END AS pcos
        FROM qd
        JOIN nn nq ON nq.vec_id = query_id
        JOIN nn nc ON nc.vec_id = neighbor_id
        JOIN pn pq ON pq.vec_id = query_id
        JOIN pn pc ON pc.vec_id = neighbor_id),
      exact_top AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS r
          FROM pairs) WHERE r <= 5),
      cand AS (
        SELECT query_id, neighbor_id, cosine FROM (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY pcos DESC, neighbor_id) AS r
          FROM pairs) WHERE r <= 25),
      two_top AS (
        SELECT query_id, neighbor_id FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id) AS r
          FROM cand) WHERE r <= 5)
      SELECT e.query_id, CAST(COUNT(t.neighbor_id) AS BIGINT) AS hits,
             CAST(COUNT(t.neighbor_id) AS BIGINT) * 2000 AS recall_bp
      FROM exact_top e LEFT JOIN two_top t USING (query_id, neighbor_id)
      GROUP BY e.query_id ORDER BY e.query_id""")
  )

  /** Greedy k-center coreset selection (Gonzalez farthest-point
    * traversal — the 2-approximation behind coreset data pruning, Sener
    * & Savarese 2018): per label group, seed with the min vec_id, then
    * 4 more rounds each pick the point FARTHEST from the selected set
    * (max over remaining of min squared distance to any selected, ties
    * to the smaller vec_id). Distances are exact longs — d²(a,b) =
    * fpd(a,a) + fpd(b,b) − 2·fpd(a,b) over the fixed-point dot — so
    * selection is bit-deterministic and the DuckDB oracle replays the
    * identical greedy trajectory (any float drift would cascade through
    * every later round; integers make the trajectory checkable at all).
    *
    * Scale shape: each round is one per-label join of the remaining
    * points against the ≤round-sized selected set (broadcast — 10s of
    * rows), a min-aggregate, and a per-label top-1 window: k·N distance
    * evaluations total, the textbook greedy cost, with nothing ever
    * pairwise-materialized on the big side. Labels are the unit of
    * parallelism — in a 100 TB pipeline they are q47's cluster ids, so
    * per-group cardinality is bounded by clustering granularity. */
  val q165 = Q(
    "q165_kcenter_coreset",
    (s, dir) => {
      val fpd = (a: Column, b: Column) =>
        graft.functions.FixedPointDot.fixed_point_dot(a, b)
      val pts = embeddings(s, dir)
        .select(col("label").cast("long").as("label"), col("vec_id"),
          col("embedding"))
        .withColumn("nn", fpd(col("embedding"), col("embedding")))
        .materialized // 5 greedy rounds re-scan the same projection
      var sel = pts.groupBy("label").agg(min(col("vec_id")).as("vec_id"))
        .join(pts, Seq("label", "vec_id"))
        .select(col("label"), col("vec_id"), col("embedding"), col("nn"),
          lit(1L).as("sel_rank"), lit(0L).as("min_d2"))
        .materialized
      val w = Window.partitionBy("label")
        .orderBy(col("min_d2").desc, col("vec_id"))
      for (round <- 2 to 5) {
        val selV = sel.select(col("label"), col("vec_id").as("sid"),
          col("embedding").as("se"), col("nn").as("sn"))
        val next = pts
          .join(sel.select("label", "vec_id"), Seq("label", "vec_id"),
            "left_anti")
          .join(broadcast(selV), Seq("label"))
          .select(col("label"), col("vec_id"),
            (col("nn") + col("sn") - fpd(col("embedding"), col("se")) * 2)
              .as("d2"))
          .groupBy("label", "vec_id")
          .agg(min(col("d2")).as("min_d2"))
          .withColumn("rk", row_number().over(w))
          .filter(col("rk") === 1)
          .join(pts, Seq("label", "vec_id"))
          .select(col("label"), col("vec_id"), col("embedding"), col("nn"),
            lit(round.toLong).as("sel_rank"), col("min_d2"))
        sel = sel.unionByName(next).materialized
      }
      sel.select(col("label"), col("sel_rank"), col("vec_id"), col("min_d2"))
        .orderBy("label", "sel_rank")
    },
    Some {
      // The pairwise fixed-point dot is a position-aligned unnest join +
      // SUM of the identical floor'd terms, NOT a correlated scalar
      // subquery per pair: DuckDB cannot decorrelate an UNNEST subquery
      // over a CTE-to-CTE join (the q172 finding) and replays it
      // per-pair — 300+ s at sf0.01 vs ~1 s for this formulation. Every
      // CTE a later round re-reads is MATERIALIZED so the greedy rounds
      // never re-run their upstream.
      def step(n: Int) = s"""
      c$n AS MATERIALIZED (
        SELECT p.label, p.i AS vec_id, MIN(p.d2) AS min_d2
        FROM p JOIN a${n - 1} s ON p.label = s.label AND p.j = s.vec_id
        WHERE NOT EXISTS (SELECT 1 FROM a${n - 1} x
                          WHERE x.label = p.label AND x.vec_id = p.i)
        GROUP BY p.label, p.i),
      s$n AS MATERIALIZED (
        SELECT label, vec_id, $n AS sel_rank, min_d2 FROM (
          SELECT label, vec_id, min_d2,
                 ROW_NUMBER() OVER (PARTITION BY label
                   ORDER BY min_d2 DESC, vec_id) AS r
          FROM c$n) WHERE r = 1),
      a$n AS MATERIALIZED (SELECT label, vec_id FROM a${n - 1}
              UNION ALL SELECT label, vec_id FROM s$n)"""
      s"""
      WITH e AS (
        SELECT CAST(label AS BIGINT) AS label, vec_id, embedding
        FROM embeddings),
      eu AS MATERIALIZED (
        SELECT label, vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM e),
      n AS MATERIALIZED (
        SELECT label, vec_id,
               CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15)
                 AS BIGINT)) AS BIGINT) AS nn
        FROM eu GROUP BY label, vec_id),
      dots AS MATERIALIZED (
        SELECT a.label, a.vec_id AS i, b.vec_id AS j,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15)
                 AS BIGINT)) AS BIGINT) AS d
        FROM eu a JOIN eu b ON a.label = b.label AND a.i = b.i
        GROUP BY a.label, a.vec_id, b.vec_id),
      p AS MATERIALIZED (
        SELECT d.label, d.i, d.j, na.nn + nb.nn - 2 * d.d AS d2
        FROM dots d
        JOIN n na ON na.label = d.label AND na.vec_id = d.i
        JOIN n nb ON nb.label = d.label AND nb.vec_id = d.j),
      s1 AS (
        SELECT label, MIN(vec_id) AS vec_id, 1 AS sel_rank,
               CAST(0 AS BIGINT) AS min_d2
        FROM e GROUP BY label),
      a1 AS (SELECT label, vec_id FROM s1),
      ${step(2)}, ${step(3)}, ${step(4)}, ${step(5)}
      SELECT label, CAST(sel_rank AS BIGINT) AS sel_rank, vec_id, min_d2
      FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
            UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
            UNION ALL SELECT * FROM s5)
      ORDER BY label, sel_rank"""
    }
  )

  /** Maximal-marginal-relevance diversified retrieval (Carbonell &
    * Goldstein 1998) — the anti-redundancy selection a training-data
    * sampler or RAG reranker runs after top-k: per query (vec_id < 4),
    * take the top-12 by cosine, then greedily pick 5 where each step
    * maximizes `2·rel(c) − max_{s∈selected} sim(c, s)` (λ = ½ scaled
    * out; ties to the smaller neighbor_id; step 1 is plain top-1; a
    * query with fewer than 5 candidates stops when they run out).
    * Every relevance and similarity is a fixed-point-dot cosine, so the
    * greedy trajectory is engine-exact and the oracle replays it.
    *
    * Scale shape: queries broadcast, candidates stream by (q40's
    * audit-grade brute stage — production swaps in q43/q41 candidate
    * generation). The per-query top-12 window carries only
    * `(query_id, neighbor_id, cn, rel)`, so at most 4 × 12 = 48 narrow
    * rows leave it at any corpus size. Those rows are collected, then
    * only their embeddings (one `vec_id IN (…)` scan), and the five
    * greedy steps run on the driver (q135's winner collect, at 48 rows):
    * no embedding crosses an exchange, and no round costs a job.
    *
    * Package-visible over a `(vec_id: bigint, embedding)` frame so specs
    * can plant adversarial geometries (a near-duplicate of the top hit
    * that greedy-by-relevance would take and MMR must skip). */
  private[graft] def mmrDiversify(emb: DataFrame): DataFrame = {
    val top12 = mmrTop12(emb)
    def dbl(r: Row, i: Int): java.lang.Double =
      if (r.isNullAt(i)) null else r.getDouble(i)
    val rows = top12.collect().sortBy(r => (r.getLong(0), r.getInt(4)))
    val ids = rows.map(_.getLong(1)).distinct
    val vecs: Map[Long, ArrayData] =
      if (ids.isEmpty) Map.empty
      else emb.filter(col("vec_id").isin(ids.toSeq: _*))
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null
           else ArrayData.toArrayData(r.getSeq[Float](1).toArray)))
        .toMap
    val picks = rows.toSeq.groupBy(_.getLong(0)).toSeq.sortBy(_._1)
      .flatMap { case (q, rs) =>
        val cs = rs.map(r => MmrCand(r.getLong(1), vecs(r.getLong(1)),
          dbl(r, 2), dbl(r, 3)))
        mmrGreedy(cs).zipWithIndex.map { case (n, i) => Row(q, n, i + 1L) }
      }
    emb.sparkSession.createDataFrame(
      java.util.Arrays.asList(picks: _*),
      StructType(Seq(top12.schema("query_id"), top12.schema("neighbor_id"),
        StructField("mmr_rank", LongType, nullable = false))))
  }

  /** q172's brute-force stage: the 4-row query panel broadcast against
    * the streaming candidates, then per query the top 12 by
    * `(rel desc, neighbor_id)` as narrow
    * `(query_id, neighbor_id, cn, rel, rr)` rows. Package-visible so
    * PlanRegressionSpec can guard its plan: [[mmrDiversify]] answers a
    * local frame, whose plan does not show this stage. */
  private[graft] def mmrTop12(emb: DataFrame): DataFrame = {
    val norm = sqrt(dotDec(col("embedding"), col("embedding")))
    val queries = emb.filter(col("vec_id") < 4)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        norm.as("qn"))
    val wRel = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("neighbor_id"))
    emb.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"), norm.as("cn"))
      .join(broadcast(queries), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("cn"),
        (dotDec(col("qe"), col("ce")) / (col("qn") * col("cn"))).as("rel"))
      .withColumn("rr", row_number().over(wRel))
      .filter(col("rr") <= 12)
  }

  /** One top-12 candidate of [[mmrDiversify]]; a null `e`, `cn` or `rel`
    * is what Spark answered (a null embedding, or a zero norm with ANSI
    * off). */
  private case class MmrCand(neighbor: Long, e: ArrayData,
      cn: java.lang.Double, rel: java.lang.Double)

  /** Spark's double order with null least: `max` under it ignores a null
    * as Spark's `max` does, and its reverse sorts as `desc` (nulls last);
    * NaN is greatest and −0.0 == 0.0. */
  private val sparkDoubles: Ordering[java.lang.Double] = (x, y) =>
    if (x == null || y == null) java.lang.Boolean.compare(x != null, y != null)
    else org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(x, y)

  /** The five greedy MMR steps over one query's candidates, given in
    * `(rel desc, neighbor_id)` order; the picked neighbor ids in pick
    * order. The arithmetic is the relational greedy's:
    * `sim = (dot / 1e15) / (n_a · n_b)` (a null in or a zero divisor
    * answers null, as Spark's divide with ANSI off),
    * `score = rel * 2 - max sim`, best score first, ties to the smaller
    * neighbor_id. */
  private def mmrGreedy(cs: Seq[MmrCand]): Seq[Long] = {
    def sim(a: MmrCand, b: MmrCand): java.lang.Double =
      if (a.e == null || b.e == null || a.cn == null || b.cn == null ||
          a.cn * b.cn == 0) null
      else (graft.functions.FixedPointDot.dot(a.e, b.e).toDouble / Scale) /
        (a.cn * b.cn)
    val byScore = Ordering.Tuple2(sparkDoubles.reverse, Ordering.Long)
    var picked = Vector(cs.head)
    var rest = cs.tail.map(c => (c, null: java.lang.Double)) // (c, max sim)
    while (picked.length < 5 && rest.nonEmpty) {
      rest = rest.map { case (c, m) => (c, sparkDoubles.max(m, sim(c, picked.last))) }
      val best = rest.minBy { case (c, m) =>
        val score: java.lang.Double =
          if (c.rel == null || m == null) null else c.rel * 2 - m
        (score, c.neighbor)
      }(byScore)
      picked :+= best._1
      rest = rest.filterNot(_ eq best)
    }
    picked.map(_.neighbor)
  }

  val q172 = Q(
    "q172_mmr_diversify",
    (s, dir) => mmrDiversify(embeddings(s, dir)),
    Some {
      def step(n: Int) = s"""
      c$n AS MATERIALIZED (
        SELECT cand.query_id, cand.neighbor_id, cand.rel,
               MAX(ps.sim) AS maxsim
        FROM cand
        JOIN ps ON ps.query_id = cand.query_id AND ps.a = cand.neighbor_id
        JOIN a${n - 1} s ON s.query_id = ps.query_id
                        AND s.neighbor_id = ps.b
        WHERE NOT EXISTS (SELECT 1 FROM a${n - 1} x
                          WHERE x.query_id = cand.query_id
                            AND x.neighbor_id = cand.neighbor_id)
        GROUP BY cand.query_id, cand.neighbor_id, cand.rel),
      s$n AS MATERIALIZED (
        SELECT query_id, neighbor_id, CAST($n AS BIGINT) AS mmr_rank FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rel * 2 - maxsim DESC, neighbor_id) AS r
          FROM c$n) WHERE r = 1),
      a$n AS MATERIALIZED (SELECT query_id, neighbor_id FROM a${n - 1}
              UNION ALL SELECT query_id, neighbor_id FROM s$n)"""
      s"""
      WITH eu AS MATERIALIZED (
        -- exploded components ONCE for relevance and pairwise sims alike:
        -- DuckDB cannot decorrelate an UNNEST subquery over a CTE-to-CTE
        -- join (it replays per pair), so every dot is a position-aligned
        -- join + SUM of the identical floor'd terms
        SELECT vec_id, unnest(embedding) AS x,
               generate_subscripts(embedding, 1) AS i
        FROM embeddings),
      nv AS MATERIALIZED (
        SELECT vec_id, CAST(SUM(CAST(FLOOR(CAST(x AS DOUBLE) * x * 1e15)
                 AS BIGINT)) AS BIGINT) AS n
        FROM eu GROUP BY vec_id),
      qd AS MATERIALIZED (
        SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
               CAST(SUM(CAST(FLOOR(CAST(a.x AS DOUBLE) * b.x * 1e15)
                 AS BIGINT)) AS BIGINT) AS d
        FROM eu a JOIN eu b ON a.i = b.i
          AND a.vec_id < 4 AND a.vec_id <> b.vec_id
        GROUP BY a.vec_id, b.vec_id),
      rels AS (
        SELECT query_id, neighbor_id,
               (CAST(d AS DOUBLE) / 1e15) /
               (sqrt(CAST(nq.n AS DOUBLE) / 1e15)
                * sqrt(CAST(nc.n AS DOUBLE) / 1e15)) AS rel
        FROM qd
        JOIN nv nq ON nq.vec_id = query_id
        JOIN nv nc ON nc.vec_id = neighbor_id),
      cand AS MATERIALIZED (
        SELECT query_id, neighbor_id, rel FROM (
          SELECT query_id, neighbor_id, rel,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rel DESC, neighbor_id) AS r
          FROM rels) WHERE r <= 12),
      cu AS (
        SELECT c.query_id, c.neighbor_id, e.x, e.i
        FROM cand c JOIN eu e ON e.vec_id = c.neighbor_id),
      nrm AS (
        SELECT c.query_id, c.neighbor_id, nv.n AS nn
        FROM cand c JOIN nv ON nv.vec_id = c.neighbor_id),
      dots AS (
        SELECT ca.query_id, ca.neighbor_id AS a, cb.neighbor_id AS b,
               SUM(CAST(FLOOR(CAST(ca.x AS DOUBLE) * cb.x * 1e15) AS BIGINT))
                 AS dotl
        FROM cu ca JOIN cu cb ON ca.query_id = cb.query_id AND ca.i = cb.i
          AND ca.neighbor_id <> cb.neighbor_id
        GROUP BY ca.query_id, ca.neighbor_id, cb.neighbor_id),
      ps AS MATERIALIZED (
        SELECT dots.query_id, a, b,
               (CAST(dotl AS DOUBLE) / 1e15) /
               (sqrt(CAST(na.nn AS DOUBLE) / 1e15)
                * sqrt(CAST(nb.nn AS DOUBLE) / 1e15)) AS sim
        FROM dots
        JOIN nrm na ON na.query_id = dots.query_id AND na.neighbor_id = a
        JOIN nrm nb ON nb.query_id = dots.query_id AND nb.neighbor_id = b),
      s1 AS MATERIALIZED (
        SELECT query_id, neighbor_id, CAST(1 AS BIGINT) AS mmr_rank FROM (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                   ORDER BY rel DESC, neighbor_id) AS r
          FROM cand) WHERE r = 1),
      a1 AS MATERIALIZED (SELECT query_id, neighbor_id FROM s1),
      ${step(2)}, ${step(3)}, ${step(4)}, ${step(5)}
      SELECT query_id, neighbor_id, mmr_rank
      FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2
            UNION ALL SELECT * FROM s3 UNION ALL SELECT * FROM s4
            UNION ALL SELECT * FROM s5)
      ORDER BY query_id, mmr_rank"""
    }
  )

  val all: Seq[Q] = Seq(q40, q41, q42, q43, q45, q47, q48, q49, q77, q79,
    q80, q92, q94, q120, q136, q152, q162, q165, q172)
}
