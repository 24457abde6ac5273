package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** Product-quantization mechanics and honesty pins. Correctness of the
  * registered queries (x149/x150/x151) is the DuckDB hash oracle's job;
  * this spec pins the structural contract (codes are a total m-way
  * encoding over a ks-ary codebook, codebook vectors are fixed points),
  * the re-rank guarantee (exact scoring of the shortlist ⇒ recall =
  * shortlist capture, strictly above ADC-only), and the scale shape
  * (corpus codes never join corpus vectors — the only full-vector reads
  * are queries × shortlist).
  */
class PqSpec extends SparkSuite {
  lazy val emb = Tables(spark, "/root/testdata/sf0.01").embeddings

  private def topkSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

  test("pqCodes: total m-way encoding, codes in [0, ks), codebook fixed points") {
    val n = emb.count()
    val codes = Dedup.pqCodes(emb, "vec_id", "embedding").cache()
    // every vector gets exactly one code per subspace
    assert(codes.count() === n * 8)
    assert(codes.select("vec_id", "sub").distinct().count() === n * 8)
    val range = codes.agg(min("code"), max("code")).head()
    assert(range.getLong(0) >= 0L && range.getLong(1) < 16L)
    // a codebook vector's sub-distance to itself is 0, ties break to the
    // smaller cent_id, and distinct random vectors never collide — so
    // the first ks vectors must encode to themselves in every subspace
    val selfCodes = codes.filter(col("vec_id") < 16)
      .filter(col("code") =!= col("vec_id"))
    assert(selfCodes.count() === 0L)
  }

  test("re-rank recovers exactly the shortlist ∩ exact-top-k, beating ADC-only") {
    val pred = col("query_id") < 10
    def embPred = col("vec_id") < 10
    val exact = topkSets(Dedup.pqQuantizedExactTopK(emb, "vec_id", "embedding", embPred, topK = 5))
    val adc = topkSets(Dedup.pqSearch(emb, "vec_id", "embedding", embPred, topK = 5))
    val rr = topkSets(Dedup.pqSearchRerank(emb, "vec_id", "embedding", embPred, topK = 5, shortlist = 50))
    val short = topkSets(Dedup.pqSearch(emb, "vec_id", "embedding", embPred, topK = 50))
    def recall(a: Map[Long, Set[Long]]) =
      exact.keys.toSeq // toSeq: a Set.map would dedup equal per-query counts
        .map(q => a.getOrElse(q, Set.empty).intersect(exact(q)).size).sum.toDouble /
        (exact.size * 5)
    // re-rank scoring is exact, so any exact-top-5 member that survived
    // the shortlist MUST appear in the re-ranked top-5
    for (q <- exact.keys)
      assert(short(q).intersect(exact(q)).subsetOf(rr(q)),
        s"query $q lost a shortlisted exact neighbor in re-rank")
    // measured on sf0.01: adc ≈ 0.16, rerank ≈ 0.72 — pin conservative
    // floors and the strict improvement the re-rank exists for
    assert(recall(rr) >= 0.5, s"rerank recall ${recall(rr)}")
    assert(recall(rr) > recall(adc))
  }

  test("packed codes unpack back to exactly pqCodes (8 bytes carries all 8 ids)") {
    val packed = Dedup.pqCodesPacked(emb, "vec_id", "embedding")
    val unpacked = packed.select(col("vec_id"),
        explode(sequence(lit(0), lit(7))).as("sub"),
        col("packed_code"))
      .select(col("vec_id"), col("sub"),
        expr("shiftright(packed_code, CAST(sub AS INT) * 4) & 15").as("code"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val codes = Dedup.pqCodes(emb, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(unpacked === codes)
    assert(packed.count() === emb.count()) // one 8-byte row per vector
  }

  test("IVFADC: routed shortlists beat full-corpus ADC shortlists (purity effect)") {
    val pred = col("vec_id") < 10
    val exact = topkSets(Dedup.pqQuantizedExactTopK(emb, "vec_id", "embedding", pred, topK = 5))
    val ivfpq = topkSets(Dedup.ivfPqSearch(emb, "vec_id", "embedding", pred,
      k = 16, nprobe = 4, topK = 5, shortlist = 50))
    val full = topkSets(Dedup.pqSearchRerank(emb, "vec_id", "embedding", pred,
      topK = 5, shortlist = 50))
    def recall(a: Map[Long, Set[Long]]) =
      exact.keys.toSeq
        .map(q => a.getOrElse(q, Set.empty).intersect(exact(q)).size).sum.toDouble /
        (exact.size * 5)
    // measured 0.84 vs 0.72: scoring ~nprobe/k of the corpus means fewer
    // PQ-distortion impostors compete for the 50 shortlist slots, so
    // routing IMPROVES shortlist purity as well as cutting scan cost
    assert(recall(ivfpq) >= 0.6, s"ivfpq recall ${recall(ivfpq)}")
    assert(recall(ivfpq) >= recall(full) - 0.1,
      s"routing should not collapse recall: ${recall(ivfpq)} vs ${recall(full)}")
  }

  test("trained codebook: Lloyd never increases distortion; recall holds on clustered vectors") {
    import spark.implicits._
    // clustered corpus with a deliberately MIS-CENTERED seed book: the
    // first 16 vectors (the seed codebook) all sit in cluster 0, the
    // rest spread over 8 well-separated clusters — the configuration
    // codebook training exists for. Deterministic integer-mix centers
    // (±1 scale) + ±0.05 jitter.
    def mix(a: Long, b: Long): Long = {
      var x = a * 0x9E3779B97F4A7C15L + (b + 1) * 0xC2B2AE3D27D4EB4FL
      x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 29); x
    }
    val rows = (0 until 400).map { id =>
      val c = if (id < 16) 0 else id % 8
      val vec = (0 until 64).map { i =>
        val center = (Math.floorMod(mix(c, i), 2001) - 1000) / 1000.0f
        val jit = (Math.floorMod(mix(id + 1000L, i), 101) - 50) / 1000.0f
        center + jit
      }.toArray
      (id.toLong, vec)
    }
    val df = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .cache()

    def distortion(book: org.apache.spark.sql.DataFrame): Long =
      Dedup.pqEncode(df, "vec_id", "embedding", book)
        .join(book.select(col("cent_id").as("code"), col("ce")), "code")
        .join(df, "vec_id")
        .select(expr("pq_subdist(embedding, ce, sub, 8)").as("d"))
        .agg(sum("d")).head().getLong(0)
    val seed = Dedup.pqCodebook(df, "vec_id", "embedding")
    val t1 = Dedup.pqCodebookLloyd(df, "vec_id", "embedding", iters = 1)
    val t2 = Dedup.pqCodebookLloyd(df, "vec_id", "embedding", iters = 2)
    val (d0, d1, d2) = (distortion(seed), distortion(t1), distortion(t2))
    // k-means monotonicity (mean step then argmin step both only
    // decrease the objective; the ≤1e-6 quantized-mean perturbation is
    // orders below the clustered-corpus distortion gap)
    assert(d1 <= d0, s"1-iter distortion $d1 !<= seed $d0")
    assert(d2 <= d1, s"2-iter distortion $d2 !<= 1-iter $d1")
    // and on this mis-seeded corpus the improvement is material
    assert(d1 < d0 * 9 / 10, s"expected a real distortion drop: $d1 vs $d0")

    // ADC-only recall against the exact quantized metric: training must
    // not regress it (and on clustered corpora it is what lifts it —
    // SCALE.md "Trained PQ codebooks" records the measured values)
    val pred = col("vec_id") >= 16 && col("vec_id") < 26
    val exact = topkSets(
      Dedup.pqQuantizedExactTopK(df, "vec_id", "embedding", pred, topK = 5))
    def adcRecall(book: Option[org.apache.spark.sql.DataFrame]): Double = {
      val got = topkSets(
        Dedup.pqSearch(df, "vec_id", "embedding", pred, topK = 5, book = book))
      exact.keys.toSeq
        .map(q => got.getOrElse(q, Set.empty).intersect(exact(q)).size).sum.toDouble /
        (exact.size * 5)
    }
    val (rs, rt) = (adcRecall(Some(seed)), adcRecall(Some(t1)))
    assert(rt >= rs - 0.1, s"trained recall $rt collapsed vs seed $rs")
  }

  test("ADC plan never touches corpus vectors: code frame joins only broadcast tables") {
    val plan = Dedup.pqSearch(emb, "vec_id", "embedding", col("vec_id") < 10, topK = 5)
      .queryExecution.executedPlan.toString
    // the distance-table join into the codes is a broadcast hash join —
    // no shuffle of the corpus on the query side, no corpus×corpus join
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("OPQ permutation: bijection, variance spread one-per-subspace, isometry, recall") {
    import spark.implicits._
    // variance-skewed CONTINUOUS corpus — dims 0..7 are iid U(−1, 1)
    // (all the neighbor-determining variance), dims 8..63 tiny jitter.
    // In the raw layout one subspace must cover a continuous 8-D signal
    // with 16 codes (distortion ~ the full signal variance) while seven
    // quantize noise; after the allocation every subspace is dominated
    // by ONE strong dimension, so its 16 codes act as a fine scalar
    // grid — the configuration OPQ's eigenvalue allocation exists for.
    def mix(a: Long, b: Long): Long = {
      var x = a * 0x9E3779B97F4A7C15L + (b + 1) * 0xC2B2AE3D27D4EB4FL
      x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 29); x
    }
    val rows = (0 until 400).map { id =>
      val vec = (0 until 64).map { i =>
        val signal =
          if (i < 8) (Math.floorMod(mix(id, i), 2001) - 1000) / 1000.0f else 0.0f
        val jit = (Math.floorMod(mix(id + 1000L, i), 101) - 50) / 1000.0f
        signal + jit
      }.toArray
      (id.toLong, vec)
    }
    val df = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .cache()

    val perm = Dedup.opqPermutation(df, "vec_id", "embedding").cache()
    val pairs = perm.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bijection over 0..63
    assert(pairs.keySet === (0L until 64L).toSet)
    assert(pairs.values.toSet === (0L until 64L).toSet)
    // the 8 high-variance dims (0..7) land one per subspace
    val signalSubs = (0L until 8L).map(d => pairs(d) / 8)
    assert(signalSubs.toSet.size === 8,
      s"signal dims must spread across all subspaces, got $signalSubs")

    val rot = Dedup.opqRotate(df, "vec_id", "embedding", perm).cache()
    // isometry: total quantized L2 between two fixed vectors is
    // unchanged by the rotation (a permutation is orthogonal)
    def pairDist(frame: org.apache.spark.sql.DataFrame): Long = {
      val d = (0 until 8)
        .map(s => expr(s"pq_subdist(ea, eb, $s, 8)")).reduce(_ + _)
      frame.filter(col("vec_id") === 17L).select(col("embedding").as("ea"))
        .crossJoin(frame.filter(col("vec_id") === 23L)
          .select(col("embedding").as("eb")))
        .select(d.as("d")).head().getLong(0)
    }
    assert(pairDist(rot) === pairDist(df))

    // ADC recall (trained book, exact quantized metric as truth): the
    // rotation must lift recall on this adversarial layout
    val pred = col("vec_id") >= 16 && col("vec_id") < 26
    def adcRecall(frame: org.apache.spark.sql.DataFrame): Double = {
      val exact = topkSets(
        Dedup.pqQuantizedExactTopK(frame, "vec_id", "embedding", pred, topK = 5))
      val book = Dedup.pqCodebookLloyd(frame, "vec_id", "embedding", iters = 1)
      val got = topkSets(Dedup.pqSearch(frame, "vec_id", "embedding", pred,
        topK = 5, book = Some(book)))
      exact.keys.toSeq
        .map(q => got.getOrElse(q, Set.empty).intersect(exact(q)).size)
        .sum.toDouble / (exact.size * 5)
    }
    val (rRaw, rOpq) = (adcRecall(df), adcRecall(rot))
    info(f"trained ADC recall raw=$rRaw%.3f opq=$rOpq%.3f")
    assert(rOpq >= rRaw,
      f"OPQ rotation must not lose recall on the skewed layout: $rOpq%.3f vs $rRaw%.3f")
  }

  test("RVQ per-seed exact properties and totality") {
    val emb = graft.sources.Tables(spark, "/root/testdata/sf0.001").embeddings
    val out = Dedup.rvqEncode(emb, "vec_id", "embedding")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // totality: one code row per vector
    assert(out.length === emb.count())
    assert(out.map(_._1).distinct.length === out.length)
    val byId = out.map(r => r._1 -> r).toMap
    // stage-1 seeds encode themselves: code1 = own id (zero residual)
    (0L until 16L).foreach { id =>
      assert(byId(id)._2 === id, s"seed $id code1=${byId(id)._2}")
    }
    // codebook-2 donors encode their own residual exactly: err2 = 0,
    // code2 = own id
    (16L until 32L).foreach { id =>
      assert(byId(id)._3 === id, s"donor $id code2=${byId(id)._3}")
      assert(byId(id)._4 === 0L, s"donor $id err2=${byId(id)._4}")
    }
    // exact errors are non-negative integers on the quantized grid
    assert(out.forall(_._4 >= 0L))
  }

  test("trained RVQ: residual k-means cuts distortion and holds recall on clustered vectors") {
    import spark.implicits._
    // clustered corpus with BOTH codebooks deliberately mis-seeded: the
    // first 32 vectors (stage-1 seeds AND stage-2 donors) all sit in
    // cluster 0, the rest spread over 8 well-separated clusters — the
    // configuration codebook training exists for (the x155 PQ test's
    // layout, widened to cover the second seed band).
    def mix(a: Long, b: Long): Long = {
      var x = a * 0x9E3779B97F4A7C15L + (b + 1) * 0xC2B2AE3D27D4EB4FL
      x ^= (x >>> 33); x *= 0xFF51AFD7ED558CCDL; x ^= (x >>> 29); x
    }
    val rows = (0 until 400).map { id =>
      val c = if (id < 32) 0 else id % 8
      val vec = (0 until 64).map { i =>
        val center = (Math.floorMod(mix(c, i), 2001) - 1000) / 1000.0f
        val jit = (Math.floorMod(mix(id + 1000L, i), 101) - 50) / 1000.0f
        center + jit
      }.toArray
      (id.toLong, vec)
    }
    val df = rows.toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
      .cache()

    def totalErr2(iters: Int): Long =
      Dedup.rvqEncode(df, "vec_id", "embedding", lloydIters = iters)
        .agg(sum("err2")).head().getLong(0)
    val (e0, e1) = (totalErr2(0), totalErr2(1))
    // on this mis-seeded corpus one residual-k-means round per stage
    // must cut the two-stage quantization error materially — stage 1
    // moves entries onto the 8 density modes, stage 2 refits on the
    // residuals the trained stage 1 actually leaves
    assert(e1 < e0 * 9 / 10, s"expected a real distortion drop: $e1 vs $e0")

    // Retrieval quality at equal 8-bit code budget. An 8-bit additive
    // code cannot rank WITHIN a cluster (all ~46 members of a cluster
    // share their recon point, so within-cluster order is tie-noise —
    // measured: seed and trained top-5-of-400 recall both sit at the
    // 5/46 random-within-cluster floor). The resolution the code DOES
    // have is the cluster itself, so the honest recall unit here is the
    // cluster label: the fraction of retrieved neighbors drawn from the
    // query's true cluster. Mis-seeded books put every recon point in
    // cluster 0's region → near-chance purity; trained books move them
    // onto the 8 modes → near-perfect purity.
    val pred = col("vec_id") >= 32 && col("vec_id") < 42
    def clusterOf(id: Long): Long = if (id < 32) 0L else id % 8
    def rvqPurity(iters: Int): Double = {
      val got = topkSets(Dedup.rvqSearch(df, "vec_id", "embedding", pred,
        topK = 5, lloydIters = iters))
      got.toSeq.map { case (q, ns) =>
        ns.count(n => clusterOf(n) == clusterOf(q)).toDouble / ns.size
      }.sum / got.size
    }
    val (ps, pt) = (rvqPurity(0), rvqPurity(1))
    info(f"RVQ cluster purity seed=$ps%.3f trained=$pt%.3f err2 seed=$e0 trained=$e1")
    assert(pt >= ps,
      s"trained purity $pt below seed $ps at equal code budget")
    assert(pt >= 0.8, s"trained books should resolve the 8 modes: purity $pt")
  }
}
