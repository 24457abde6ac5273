package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** IVF probe-search sanity: structure (cells, probe routing, top-k) plus
  * recall against the exact brute-force baseline. Random 64-dim vectors
  * are a worst case for coarse quantization, so the recall floor here is
  * deliberately modest — the spec pins mechanics, monotonicity in nprobe,
  * and exactness of within-cell scoring. */
class IvfSpec extends SparkSuite {
  lazy val emb = Tables(spark, "/root/testdata/sf0.01").embeddings

  private def topkSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

  test("ivfAssign: every vector lands in exactly one of k cells") {
    val assigned = Dedup.ivfAssign(emb, "vec_id", "embedding", k = 8).cache()
    assert(assigned.count() === emb.count())
    val cells = assigned.select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf((0L until 8L).toSet))
    assert(cells.size > 1)
  }

  test("one Lloyd round keeps assignment total and exhaustive probing exact") {
    // assignment after refinement is still a partition of the corpus over
    // the original seed cell ids
    val assigned = Dedup.ivfAssign(emb, "vec_id", "embedding", k = 8, lloydIters = 1).cache()
    assert(assigned.count() === emb.count())
    assert(assigned.select("cell").distinct().collect().map(_.getLong(0)).toSet
      .subsetOf((0L until 8L).toSet))
    // probing every refined cell is exhaustive == brute force, whatever
    // the centroids became
    val pred = col("query_id") < 10
    val exact = topkSets(Dedup.annTopK(emb, "vec_id", "embedding", pred, k = 5))
    val full = topkSets(Dedup.ivfSearch(
      emb, "vec_id", "embedding", pred, k = 8, nprobe = 8, topK = 5, lloydIters = 1))
    assert(full === exact)
  }

  test("one Lloyd round recomputes centroids as exact quantized per-cell means") {
    // driver-side replica of assign(seeds) → per-cell mean → reassign,
    // with FloatVecDot's exact arithmetic (sequential double
    // accumulation, ties to the lowest cent_id) and the engine's
    // 1e-6-floor quantized mean (⌊v·10⁶⌋ long sums, one double divide —
    // the bit-reproducibility contract behind x53's oracle) — the
    // distributed Lloyd step must land every vector in the same refined
    // cell
    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    val byId = vecs.toMap
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    def assign(cents: Seq[(Long, Array[Float])]): Map[Long, Long] =
      vecs.map { case (id, v) =>
        id -> cents.map { case (cid, c) =>
          (dot(v, c) / (math.sqrt(dot(v, v)) * math.sqrt(dot(c, c))), cid)
        }.maxBy { case (cos, cid) => (cos, -cid) }._2
      }.toMap
    val seeds = vecs.take(8).toSeq
    val a0 = assign(seeds)
    val means = a0.groupBy(_._2).toSeq.sortBy(_._1).map { case (cell, members) =>
      val vs = members.keys.toSeq.sorted.map(byId)
      val dims = vs.head.length
      cell -> Array.tabulate(dims) { d =>
        val sq = vs.map(v => math.floor(v(d).toDouble * 1000000.0).toLong).sum
        (sq.toDouble / (vs.size.toDouble * 1000000.0)).toFloat
      }
    }
    val expected = assign(means)
    val got = Dedup.ivfAssign(emb, "vec_id", "embedding", k = 8, lloydIters = 1)
      .select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === expected)
  }

  test("one Lloyd round: refined probe recall within noise of the seeds'") {
    // the fixture is UNIFORM random — no density modes, so refinement is
    // a statistical no-op here (its win is on clustered distributions);
    // the pin is that it cannot materially degrade either
    val pred = col("query_id") < 20
    val exact = topkSets(Dedup.annTopK(emb, "vec_id", "embedding", pred, k = 5))
    def recall(lloyd: Int): Double = {
      val got = topkSets(Dedup.ivfSearch(
        emb, "vec_id", "embedding", pred, k = 8, nprobe = 2, topK = 5,
        lloydIters = lloyd))
      exact.map { case (q, ex) =>
        got.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
      }.sum / exact.size
    }
    val seed = recall(0)
    val refined = recall(1)
    info(f"ivf nprobe=2 recall: seed centroids $seed%.3f, one Lloyd round $refined%.3f")
    assert(refined >= seed - 0.05,
      f"Lloyd refinement materially dropped recall: $refined%.3f vs $seed%.3f")
  }

  test("ivfSearch recall grows with nprobe; full probe == brute force") {
    val pred = col("query_id") < 10
    val exact = topkSets(
      Dedup.annTopK(emb, "vec_id", "embedding", pred, k = 5))
    def recall(nprobe: Int): Double = {
      val got = topkSets(Dedup.ivfSearch(
        emb, "vec_id", "embedding", pred, k = 8, nprobe = nprobe, topK = 5))
      exact.map { case (q, ex) =>
        got.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
      }.sum / exact.size
    }
    val r2 = recall(2)
    val r8 = recall(8)
    assert(r8 >= r2) // monotone in probes
    assert(r8 === 1.0) // probing every cell is exhaustive == brute force
    assert(r2 > 0.0)
  }

  test("three-level assignment: every vector lands in exactly one fine cell") {
    val assigned = Dedup.ivfAssignThreeLevel(
      emb, "vec_id", "embedding", k = 32, kcm = 9, kct = 3).cache()
    assert(assigned.count() === emb.count())
    assert(assigned.select("vec_id").distinct().count() === emb.count())
    val cells = assigned.select("cell").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(cells.subsetOf((0L until 32L).toSet))
    assert(cells.size > 1)
  }

  test("ivfSearchRouted: levels=3 flag switches the route, default stays two-level") {
    val pred = col("query_id") < 20
    def lists(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val two = lists(Dedup.ivfSearchTwoLevel(
      emb, "vec_id", "embedding", pred, k = 32, kc = 5, nprobe = 2, topK = 3))
    val three = lists(Dedup.ivfSearchThreeLevel(
      emb, "vec_id", "embedding", pred, k = 32, kcm = 9, kct = 3,
      nprobe = 2, topK = 3))
    // default (conf unset) routes two-level — registered results unchanged
    assert(lists(Dedup.ivfSearchRouted(
      emb, "vec_id", "embedding", pred, k = 32, kc = 5, nprobe = 2, topK = 3))
      === two)
    // flag=3 routes three-level with kct=icbrt(32)=3, kcm=9
    spark.conf.set("spark.graft.ivf.levels", "3")
    try {
      assert(lists(Dedup.ivfSearchRouted(
        emb, "vec_id", "embedding", pred, k = 32, kc = 5, nprobe = 2, topK = 3))
        === three)
    } finally spark.conf.unset("spark.graft.ivf.levels")
    intercept[RuntimeException] {
      spark.conf.set("spark.graft.ivf.levels", "4")
      try Dedup.ivfSearchRouted(
        emb, "vec_id", "embedding", pred, k = 32, kc = 5, nprobe = 2, topK = 3)
      finally spark.conf.unset("spark.graft.ivf.levels")
    }
    // one more level is approximate, not degenerate: the L=3 lists keep
    // a real share of the L=2 inventory on worst-case random vectors
    val overlap = three.intersect(two).size.toDouble / two.size
    assert(overlap > 0.2, s"L=3 overlap vs L=2 collapsed: $overlap")
    assert(three.map(_._1) === two.map(_._1)) // every query still answered
  }

  test("clustered fixture: L=2 and L=3 recall + routed-result hashes pinned") {
    // The regression guard for the sf10 clustered-corpus L=3 crossover
    // (SCALE.md "Clustered corpus"): the one configuration where
    // `spark.graft.ivf.levels=3` pays is a CLUSTERED corpus, and this
    // fixture is the spec-sized twin of the scaling run's corpus —
    // GenSf's `--clustered` law (the SAME shared definition,
    // GenSf.clusteredEmbedding) applied to the sf0.01 ids. Pinned at
    // the auto-k policy the bench route uses (n=500 → k=22, kc=4,
    // kct=2, kcm=4, nprobe=2, topK=10):
    //  - recall@10 vs brute force: L=2 0.9548, L=3 0.9474 — on the
    //    clustered corpus BOTH levels hold ≥0.94, where the uniform
    //    corpus drives L=3 recall far lower (the reason L=3 is opt-in);
    //  - the exact routed result sets (hash-pinned), so a quantizer,
    //    routing, or tie-break change that moves ANY (query, neighbor)
    //    pair fails here instead of silently shifting the crossover
    //    measurement.
    val clustered = emb.withColumn("embedding",
      graft.GenSf.clusteredEmbedding(col("vec_id"), col("embedding"))).cache()
    val n = clustered.count()
    assert(n === 500L)
    val k = math.max(16, math.sqrt(n.toDouble).toInt)
    val kc = math.max(4, math.sqrt(k.toDouble).toInt)
    val kct = math.max(2L, Dedup.icbrt(k.toLong)).toInt
    val kcm = math.max(4, kct * kct)
    assert((k, kc, kct, kcm) === ((22, 4, 2, 4)))
    val pred = lit(true)
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = sets(Dedup.annTopK(clustered, "vec_id", "embedding", pred, k = 10))
    val two = sets(Dedup.ivfSearchTwoLevel(clustered, "vec_id", "embedding",
      pred, k = k, kc = kc, nprobe = 2, topK = 10))
    val three = sets(Dedup.ivfSearchThreeLevel(clustered, "vec_id", "embedding",
      pred, k = k, kcm = kcm, kct = kct, nprobe = 2, topK = 10))
    def recall(s: Set[(Long, Long)]) = s.intersect(exact).size.toDouble / exact.size
    assert(two.size === 5000 && three.size === 5000) // every query × topK answered
    assert(math.abs(recall(two) - 0.9548) < 0.0001, s"L=2 recall ${recall(two)}")
    assert(math.abs(recall(three) - 0.9474) < 0.0001, s"L=3 recall ${recall(three)}")
    assert(two.toSeq.sorted.hashCode === -964410888, "L=2 routed result set moved")
    assert(three.toSeq.sorted.hashCode === -1283158369, "L=3 routed result set moved")
    clustered.unpersist()
  }

  test("icbrt: exact integer cube root at perfect cubes and off-cubes") {
    assert(Dedup.icbrt(1L) === 1L)
    assert(Dedup.icbrt(7L) === 1L)
    assert(Dedup.icbrt(8L) === 2L)
    assert(Dedup.icbrt(26L) === 2L)
    assert(Dedup.icbrt(27L) === 3L)
    assert(Dedup.icbrt(63L) === 3L)
    assert(Dedup.icbrt(64L) === 4L)
    assert(Dedup.icbrt(1000000L) === 100L)
    assert(Dedup.icbrt(999999L) === 99L)
  }
}
