package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** Scalar-quantization (SQ8) mechanics and honesty pins. Correctness of
  * the registered queries (x159/x160) is the DuckDB hash oracle's job;
  * this spec pins the structural contract (a total per-dimension 8-bit
  * encoding, decode never overshoots and lands within one grid step),
  * and the claim SQ8 exists for: near-exact recall at 8× compression —
  * strictly at or above PQ's ADC-only recall on the same corpus, with no
  * re-rank stage in the plan.
  */
class SqSpec extends SparkSuite {
  lazy val emb = Tables(spark, "/root/testdata/sf0.01").embeddings

  private def topkSets(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
    df.collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

  test("sqEncode: total per-dim encoding, codes in [0, 255], decode within one grid step") {
    val n = emb.count()
    val bounds = Dedup.sqBounds(emb, "vec_id", "embedding")
    val codes = Dedup.sqEncode(emb, "vec_id", "embedding", bounds).cache()
    assert(codes.count() === n * 64)
    assert(codes.select("vec_id", "pos").distinct().count() === n * 64)
    val range = codes.agg(min("code"), max("code")).head()
    assert(range.getLong(0) >= 0L && range.getLong(1) <= 255L)
    // decode is a double floor, so it never overshoots the true quantized
    // value and lands within one 256th-of-span grid step (+2 floor losses)
    val q = emb
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("p", "v")))
      .select(col("vec_id"), col("p").cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("q"))
    val err = codes.join(broadcast(bounds), Seq("pos"))
      .select(col("vec_id"), col("pos"),
        (col("lo") + expr("code * span div 255")).as("dv"), col("span"))
      .join(q, Seq("vec_id", "pos"))
      .select((col("q") - col("dv")).as("e"), (col("span") / 255 + 2).as("bound"))
    assert(err.filter(col("e") < 0 || col("e") > col("bound")).count() === 0L)
  }

  test("SQ8 top-5 recall is near-exact and at or above PQ ADC-only recall") {
    val embPred = col("vec_id") < 10
    val exact = topkSets(
      Dedup.pqQuantizedExactTopK(emb, "vec_id", "embedding", embPred, topK = 5))
    val sq = topkSets(Dedup.sqSearch(emb, "vec_id", "embedding", embPred, topK = 5))
    val adc = topkSets(Dedup.pqSearch(emb, "vec_id", "embedding", embPred, topK = 5))
    def recall(a: Map[Long, Set[Long]]) =
      exact.keys.toSeq
        .map(q => a.getOrElse(q, Set.empty).intersect(exact(q)).size).sum.toDouble /
        (exact.size * 5)
    assert(recall(sq) >= recall(adc),
      s"SQ8 recall ${recall(sq)} below PQ ADC ${recall(adc)}")
    assert(recall(sq) >= 0.9, s"SQ8 recall ${recall(sq)}")
  }

  test("IVF+SQ8: cell routing is the only recall loss vs flat SQ8") {
    val embPred = col("vec_id") < 10
    val n = emb.count()
    val k = math.max(16, math.sqrt(n.toDouble).toInt)
    val kc = math.max(4, math.sqrt(k.toDouble).toInt)
    val flat = topkSets(Dedup.sqSearch(emb, "vec_id", "embedding", embPred, topK = 5))
    val routed = topkSets(Dedup.ivfSqSearch(emb, "vec_id", "embedding",
      embPred, k = k, nprobe = 4, topK = 5, kc = kc))
    // within probed cells the scan is the same decode-scan, so every
    // routed answer must also be a flat-SQ8 answer or rank below one
    // only because its cell was not probed — overlap is the routing
    // capture rate; pin the IVFADC-comparable floor
    val overlap = flat.keys.toSeq
      .map(q => routed.getOrElse(q, Set.empty).intersect(flat(q)).size).sum.toDouble /
      (flat.size * 5)
    assert(overlap >= 0.5, s"IVF+SQ8 routing capture $overlap")
  }

  test("SQ8 re-rank recovers exactly the shortlist ∩ exact-top-5") {
    val embPred = col("vec_id") < 10
    val exact = topkSets(
      Dedup.pqQuantizedExactTopK(emb, "vec_id", "embedding", embPred, topK = 5))
    val short = topkSets(Dedup.sqSearch(emb, "vec_id", "embedding", embPred, topK = 50))
    val rr = topkSets(
      Dedup.sqSearchRerank(emb, "vec_id", "embedding", embPred, topK = 5))
    // re-rank scoring is exact, so any exact-top-5 member that survived
    // the SQ8 shortlist MUST appear in the re-ranked top-5
    for (q <- exact.keys)
      assert(short(q).intersect(exact(q)).subsetOf(rr(q)),
        s"query $q lost a shortlisted exact neighbor in re-rank")
    val recall = exact.keys.toSeq
      .map(q => rr.getOrElse(q, Set.empty).intersect(exact(q)).size).sum.toDouble /
      (exact.size * 5)
    assert(recall >= 0.9, s"SQ8 rerank recall $recall")
  }
}
