package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.SparkSuite

/** MinHash consistency + LSH recall over the real documents table. */
class MinHashAggregatorSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("typed Aggregator signature == the 8-min-aggregate signature (x03)") {
    val x03 = SparkEntry.queries("x03_dedup_minhash")(spark, sf)
      .select(col("doc_id"), array((0 until 8).map(j => col(s"mh$j")): _*).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    // same shingle hashes, folded through the typed Aggregator
    val docs = graft.sources.Tables(spark, sf).documents
      .select(col("doc_id"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(w) - 2), i -> concat_ws(' ', " +
          "element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))")).as("sh"))
      .distinct()
      .select(col("doc_id"), expr("poly_hash(sh)").as("sh_h"))
    val viaAgg = docs
      .groupBy(col("doc_id"))
      .agg(udaf(new MinHashAggregator).apply(col("sh_h")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    assert(viaAgg.keySet === x03.keySet)
    viaAgg.foreach { case (id, sig) => assert(sig === x03(id), s"doc $id") }
  }

  test("LSH recall: every near-identical pair (jaccard >= 0.9) shares a band") {
    val pairs = SparkEntry.queries("x02_dedup_ngram_jaccard")(spark, sf)
      .filter(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty) // the corpus contains seeded near-dups
    val bands = SparkEntry.queries("x03_dedup_minhash")(spark, sf)
      .select(col("doc_id"), array((0 until 4).map(k => col(s"band$k")): _*).as("b"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    pairs.foreach { case (a, b) =>
      val shared = bands(a).zip(bands(b)).exists { case (x, y) => x == y }
      assert(shared, s"near-dup pair ($a,$b) found by no band — LSH recall broken")
    }
  }
}
