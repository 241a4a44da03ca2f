package graft

import graft.queries.{DedupQueries, PipelineQueries, ScaleQueries, SimilarityQueries, TextQueries}

/** Semantic invariants of the round-4 training-pipeline operators (q86
  * DSIR importance weighting, q87 BPE merge-pair statistics, q88 canonical
  * cluster selection, q89 epoch sharding) beyond the DuckDB hash oracle:
  * each is checked against a FULL from-scratch driver-side recompute of
  * the documented semantics at sf0.001, so a silent drift in any building
  * block (hash bucketing, integer ratios, component resolution, shard
  * permutation) fails here even if both engines drift together.
  */
class TrainingOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def docs: Array[(Long, String, String)] =
    spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def words(text: String): Array[String] =
    text.split("\\s+").filter(_.nonEmpty)

  test("q86: matches a from-scratch DSIR recompute (hash buckets, integer ratios)") {
    val d = docs
    val feats = d.flatMap { case (id, lang, text) =>
      val w = words(text)
      if (w.length < 2) Array.empty[(Long, String, Long)]
      else w.sliding(2).map { p =>
        val f = java.lang.Long.parseLong(
          md5hex(p(0) + " " + p(1)).take(8), 16) % 64
        (id, lang, f)
      }.toArray
    }
    val docFeat = feats.groupBy(t => (t._1, t._3))
      .map { case ((id, f), xs) => (id, xs.head._2, f, xs.length.toLong) }
      .toSeq
    val src = docFeat.groupBy(_._3).map { case (f, xs) => f -> xs.map(_._4).sum }
    val tgt = docFeat.filter(_._2 == "en").groupBy(_._3)
      .map { case (f, xs) => f -> xs.map(_._4).sum }
    val ratio = src.map { case (f, s) =>
      f -> ((tgt.getOrElse(f, 0L) + 1L) * 1000000L) / (s + 1L)
    }
    val expect = docFeat.groupBy(_._1)
      .map { case (id, xs) => id -> xs.map(x => x._4 * ratio(x._3)).sum }
      .toSeq.sortBy { case (id, score) => (-score, id) }.take(100)
    val got = PipelineQueries.q86.spark(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
  }

  test("q87: matches a from-scratch BPE pair-count recompute") {
    val vocab = docs.flatMap(d => words(d._3))
      .groupBy(identity).map { case (w, xs) => w -> xs.length.toLong }
    val pairs = vocab.toSeq.flatMap { case (w, freq) =>
      w.sliding(2).filter(_.length == 2)
        .map(p => (p.substring(0, 1), p.substring(1, 2), freq))
    }
    val expect = pairs.groupBy(p => (p._1, p._2))
      .map { case ((a, b), xs) => (a, b, xs.map(_._3).sum) }
      .toSeq.sortBy { case (a, b, c) => (-c, a, b) }.take(20)
    val got = TextQueries.q87.spark(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == expect)
  }

  test("q88: matches a from-scratch union-find + argmax-canonical recompute") {
    val d = docs
    val shingleSets = d.map { case (id, _, text) =>
      val w = words(text)
      val n = w.length
      id -> (0 until math.max(n - 4, 1))
        .map(i => w.slice(i, i + 5).mkString(" ")).toSet
    }.toMap
    val ids = d.map(_._1).sorted
    // union-find over thresholded-Jaccard edges (inter·20 ≥ union)
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    for {
      i <- ids; j <- ids if i < j
      inter = (shingleSets(i) & shingleSets(j)).size
      if inter > 0 && inter * 20 >= shingleSets(i).size + shingleSets(j).size - inter
    } {
      val (ri, rj) = (find(i), find(j))
      if (ri != rj) parent(math.max(ri, rj)) = math.min(ri, rj)
    }
    val cluster = ids.map(i => i -> find(i)).toMap
    val nTokens = d.map { case (id, _, text) => id -> words(text).length.toLong }.toMap
    val canonical = ids.groupBy(cluster)
      .map { case (c, members) =>
        c -> members.minBy(m => (-nTokens(m), m))
      }
    val expect = ids.toSeq.map { id =>
      val c = cluster(id)
      val canon = canonical(c)
      (id, c, nTokens(id), canon, if (id == canon) "keep" else "drop")
    }
    val got = DedupQueries.q88.spark(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4))).toSeq
    assert(got == expect)
  }

  test("q90: two-star components equal q24's min-label fixpoint") {
    val a = DedupQueries.q24.spark(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    val b = DedupQueries.q90.spark(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getInt(3))).toSeq
    assert(a == b)
  }

  test("two-star converges logarithmically on an adversarial path graph") {
    // a 256-node PATH — the worst case for min-label propagation (q24
    // would need ~256 rounds); alternating stars must finish in O(log n)
    import spark.implicits._
    val n = 256
    val nodes = (0L until n.toLong).toDF("doc_id")
    val edges = (1L until n.toLong).map(i => (i, i - 1)).toDF("hi", "lo")
    val (labels, rounds) = DedupQueries.twoStarComponents(nodes, edges)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got.forall(_._2 == 0L), s"all labels must be 0: $got")
    assert(got.map(_._1).sorted == (0L until n.toLong))
    assert(rounds <= 12, s"path-256 took $rounds rounds — not logarithmic")
  }

  test("min-label propagation raises at the round cap instead of returning a non-fixpoint") {
    // a 60-node PATH needs 59 rounds for label 0 to reach the far end —
    // past the cap, so the labelling after the last allowed round is not
    // the fixpoint and must not be returned as if it were
    import spark.implicits._
    val n = 60L
    assert(n - 1 > graft.operators.Fixpoint.MaxRounds)
    val docs = (0L until n).toDF("doc_id")
    val pairs = (1L until n).map(i => (i - 1, i)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException](
      DedupQueries.jaccardComponentsOf(docs, pairs))
    assert(e.getMessage.contains(s"${graft.operators.Fixpoint.MaxRounds} rounds"),
      e.getMessage)
  }

  test("q91: matches a from-scratch binary-lifting recompute") {
    val d = docs
    val levels = d.map { case (id, _, text) =>
      val builder = Seq.newBuilder[(Long, String)]
      var prev = words(text).map(md5hex)
      builder ++= prev.map(h => (1L, h))
      var k = 1
      while (k <= 6 && prev.length > (1 << (k - 1))) {
        val off = 1 << (k - 1)
        prev = Array.tabulate(prev.length - off)(i => md5hex(prev(i) + prev(i + off)))
        builder ++= prev.map(h => (1L << k, h))
        k += 1
      }
      id -> builder.result().distinct
    }
    val counts = levels.flatMap { case (id, sd) => sd.map(x => (x, id)) }
      .groupBy(_._1).map { case (sd, xs) => sd -> xs.length }
    val expect = d.map(_._1).sorted.toSeq.map { id =>
      val dupSpans = levels.toMap.apply(id).filter(counts(_) >= 2).map(_._1)
      (id, if (dupSpans.isEmpty) 0L else dupSpans.max)
    }
    val got = DedupQueries.q91.spark(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == expect)
    // sanity: exact duplicate docs exist in the corpus, so SOME doc must
    // report a full-length power-of-two duplicated span
    assert(got.exists(_._2 >= 32L))
  }

  test("q92: multi-probe top-5 pointwise dominates q41's single-probe top-5") {
    // q92's candidate set is a strict superset (exact bucket + all
    // Hamming-1 buckets), so at every (query, rank) its cosine must be
    // >= q41's — recall can only improve, precision is the exact rerank
    def ranked(q: graft.queries.Q) =
      q.spark(spark, sf).collect()
        .map(r => (r.getLong(0), r.getInt(1)) -> r.getDouble(3)).toMap
    val single = ranked(SimilarityQueries.q41)
    val multi = ranked(SimilarityQueries.q92)
    assert(multi.size >= single.size)
    single.foreach { case (key, cosSingle) =>
      val cosMulti = multi.getOrElse(key,
        fail(s"q92 lost a ranked slot q41 filled: $key"))
      assert(cosMulti >= cosSingle, s"$key: $cosMulti < $cosSingle")
    }
  }

  test("q89: shard assignment is a permutation with the documented key") {
    val d = docs
    val keyed = d.map { case (id, _, _) =>
      (id, java.lang.Long.parseLong(md5hex(s"$id:epoch1").take(8), 16))
    }
    val expect = keyed.groupBy(_._2 % 8).toSeq.flatMap { case (shard, xs) =>
      xs.sortBy { case (id, k) => (k, id) }.zipWithIndex
        .map { case ((id, _), i) => (id, shard, i + 1) }
    }.sortBy(t => (t._2, t._3))
    val got = ScaleQueries.q89.spark(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(got == expect)
    // every doc appears exactly once — it IS a permutation
    assert(got.map(_._1).sorted.toSeq == d.map(_._1).sorted.toSeq)
  }

  test("q178: matches a from-scratch Viterbi-EM recompute (seed, prune, re-estimate)") {
    // independent reimplementation — deliberately NOT graft.operators
    // .UnigramLm, so a drift in the shipped kernel fails here
    val freq = scala.collection.mutable.Map.empty[String, Long]
    docs.foreach { case (_, _, text) =>
      words(text).foreach { w =>
        if (w.matches("^[a-z]+$"))
          freq(w) = freq.getOrElse(w, 0L) + 1L
      }
    }
    val multi = scala.collection.mutable.Map.empty[String, Long]
    val singles = scala.collection.mutable.Map.empty[String, Long]
    freq.foreach { case (w, f) =>
      (0 until w.length).foreach { i =>
        singles(w.substring(i, i + 1)) =
          singles.getOrElse(w.substring(i, i + 1), 0L) + f
        Seq(2, 3, 4).foreach { l =>
          if (i + l <= w.length) {
            val p = w.substring(i, i + l)
            multi(p) = multi.getOrElse(p, 0L) + f
          }
        }
      }
    }
    val top = multi.toSeq.sortBy { case (p, t) => (-t, p) }.take(64)
    def costs(t: Map[String, Long]): Map[String, Long] = {
      val tot = t.values.sum
      t.map { case (p, c) =>
        p -> (java.lang.Long.toBinaryString(tot / c).length.toLong + 1L)
      }
    }
    def decode(w: String, cost: Map[String, Long]): Seq[String] = {
      val n = w.length
      val best = Array.fill(n + 1)(Long.MaxValue / 2)
      best(0) = 0L
      (1 to n).foreach { i =>
        (1 to math.min(4, i)).foreach { l =>
          cost.get(w.substring(i - l, i)).foreach { c =>
            if (best(i - l) + c < best(i)) best(i) = best(i - l) + c
          }
        }
      }
      var pos = n
      var out = List.empty[String]
      while (pos > 0) {
        val l = (math.min(4, pos) to 2 by -1).find { l =>
          cost.get(w.substring(pos - l, pos))
            .exists(c => best(pos - l) + c == best(pos))
        }.getOrElse(1)
        out = w.substring(pos - l, pos) :: out
        pos -= l
      }
      out
    }
    def estep(cost: Map[String, Long]): Map[String, Long] = {
      val e = scala.collection.mutable.Map.empty[String, Long]
      freq.foreach { case (w, f) =>
        decode(w, cost).foreach(p => e(p) = e.getOrElse(p, 0L) + f)
      }
      e.toMap
    }
    val e1 = estep(costs((top ++ singles).toMap))
    val dropped = top.map { case (p, _) => (p, e1.getOrElse(p, 0L)) }
      .sortBy { case (p, e) => (e, p) }.take(16).map(_._1).toSet
    val surv = top.filterNot(c => dropped(c._1)) ++ singles.toSeq
    val e2 = estep(costs(
      surv.map { case (p, _) => p -> math.max(e1.getOrElse(p, 0L), 1L) }.toMap))
    val expect = surv.map { case (p, t) =>
      (p, p.length.toLong, t, e1.getOrElse(p, 0L), e2.getOrElse(p, 0L))
    }.sortBy(_._1)
    val got = TextQueries.q178.spark(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got == expect, s"got ${got.take(3)}… expect ${expect.take(3)}…")
    // structural laws: singles never pruned; every decode covers its word
    assert(singles.keySet.subsetOf(got.map(_._1).toSet))
    val cost2 = costs(
      surv.map { case (p, _) => p -> math.max(e1.getOrElse(p, 0L), 1L) }.toMap)
    freq.keys.foreach { w =>
      assert(decode(w, cost2).mkString("") == w, s"decode must cover '$w'")
    }
    // pruning actually removed pieces (the law isn't vacuous)
    assert(dropped.size == math.min(16, top.size))
  }
}
