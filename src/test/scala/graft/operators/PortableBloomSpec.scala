package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** [[PortableBloom]] contract (the x145 decontamination gate): zero
  * false negatives vs the exact broadcast-set gate (x40), a sane
  * measured false-positive rate for the sized filter, and a filter
  * frame that stays broadcast-sized regardless of build-side count.
  */
class PortableBloomSpec extends SparkSuite {
  lazy val t = Tables(spark, "/root/testdata/sf0.01")

  private lazy val grams = Corpus.gramHashes(t.documents, "doc_id", "text")
  private lazy val bench =
    grams.filter(col("doc_id") % 97 === 0).select(col("h")).distinct()
  private lazy val train = grams.filter(col("doc_id") % 97 =!= 0)

  test("filter frame stays broadcast-sized: <= ceil(numBits/63) rows") {
    val bloom = PortableBloom.build(bench, "h")
    assert(bloom.count() <= (PortableBloom.DefaultNumBits + 62) / 63)
  }

  test("zero false negatives: every exact-gate hit is a bloom hit") {
    val bloom = PortableBloom.build(bench, "h")
    val bloomHits = PortableBloom.hits(train, Seq("doc_id", "h"), "h", bloom)
    val exactHit = train
      .join(bench.withColumn("in_bench", lit(1)), Seq("h"), "left")
      .select(col("doc_id"), col("h"), col("in_bench").isNotNull.as("exact"))
    val missed = bloomHits.join(exactHit, Seq("doc_id", "h"))
      .filter(col("exact") && col("bloom_hit") === 0)
      .count()
    assert(missed === 0L)
  }

  test("false-positive rate is small and x145 flags a superset of x40's docs") {
    val bloom = PortableBloom.build(bench, "h")
    val bloomHits = PortableBloom.hits(train, Seq("doc_id", "h"), "h", bloom)
    val exactHit = train
      .join(bench.withColumn("in_bench", lit(1)), Seq("h"), "left")
      .select(col("doc_id"), col("h"), col("in_bench").isNotNull.as("exact"))
    val joined = bloomHits.join(exactHit, Seq("doc_id", "h"))
    val nonMembers = joined.filter(!col("exact")).count()
    val falsePos = joined.filter(!col("exact") && col("bloom_hit") === 1).count()
    // a few hundred bench grams over 65536 bits: expected FPR is far
    // below 1% — the bound here is loose on purpose (the EXACT FP set
    // is already pinned bit-for-bit by x145's hash oracle; this guards
    // only against a degenerate probe function)
    assert(nonMembers > 0)
    val fpr = falsePos.toDouble / nonMembers
    info(f"measured false-positive rate: $fpr%.6f ($falsePos of $nonMembers)")
    assert(fpr < 0.01, s"false-positive rate degenerate: $fpr")

    val x40Docs = TrainingData.all.find(_.name == "x40_benchmark_decontamination").get
      .fn(t).filter(col("contaminated")).select(col("doc_id"))
    val x145Docs = TrainingData.all.find(_.name == "x145_bloom_decontamination").get
      .fn(t).filter(col("bloom_contaminated")).select(col("doc_id"))
    assert(x40Docs.join(x145Docs, Seq("doc_id"), "left_anti").count() === 0L,
      "a truly contaminated doc escaped the bloom gate")
  }

  test("x146 auto-k matches embeddingNearDupsIvf at k=floor(sqrt(n))") {
    val n = t.embeddings.count()
    val k = math.max(16, math.sqrt(n.toDouble).toInt)
    val auto = TrainingData.all.find(_.name == "x146_embedding_neardup_ivf_auto").get
      .fn(t).select("vec_a", "vec_b")
    val manual = Dedup.embeddingNearDupsIvf(t.embeddings, "vec_id", "embedding",
      threshold = 0.4, k = k).select("vec_a", "vec_b")
    assert(auto.exceptAll(manual).count() === 0L)
    assert(manual.exceptAll(auto).count() === 0L)
  }
}
