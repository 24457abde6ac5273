package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** DSIR importance-weight pins. Hash correctness of x171 is the DuckDB
  * oracle's job; this spec pins the selection signal itself: target
  * documents must score strictly higher per token, on average, than the
  * rest of the corpus (the importance weight is built to recognize its
  * own target slice), totality (every document scored exactly once),
  * and the overflow envelope |score| ≤ 62·n_tokens.
  */
class DsirSpec extends SparkSuite {
  lazy val docs = Tables(spark, "/root/testdata/sf0.01").documents

  test("dsirScore: total, bounded, and target slice scores above the rest") {
    val scored = Corpus.dsirScore(docs, "doc_id", "text",
      col("source") === "src0").cache()
    assert(scored.count() === docs.count())
    assert(scored.select("doc_id").distinct().count() === docs.count())
    val bad = scored
      .filter(abs(col("score")) > col("n_tokens") * 62L).count()
    assert(bad === 0L)

    // the driver's synthetic sources share one vocabulary distribution,
    // so scores there are smoothing noise around zero (measured; the
    // honest no-signal case). Separation is pinned on a corpus that HAS
    // signal: target docs draw from a disjoint vocabulary.
  }

  test("dsirScore separates a target slice with a distinct vocabulary") {
    import spark.implicits._
    val target = (0 until 40).map(i =>
      (i.toLong, s"alpha$i beta${i % 7} gamma${i % 5} alpha${i % 3}", "tgt"))
    val rest = (40 until 200).map(i =>
      (i.toLong, s"delta$i omega${i % 7} kappa${i % 5} delta${i % 3}", "web"))
    val df = (target ++ rest).toDF("doc_id", "text", "source")
    val scored = Corpus.dsirScore(df, "doc_id", "text",
      col("source") === "tgt")
      .join(df.select(col("doc_id"), col("source")), "doc_id").cache()
    // every target doc keeps, and no rest doc outscores the worst target
    val tMin = scored.filter(col("source") === "tgt")
      .agg(min(col("score") / col("n_tokens"))).head().getDouble(0)
    val rMax = scored.filter(col("source") =!= "tgt")
      .agg(max(col("score") / col("n_tokens"))).head().getDouble(0)
    assert(tMin > rMax,
      s"worst target per-token $tMin should exceed best rest $rMax")
    val keeps = scored.groupBy("source")
      .agg(sum(when(col("keep"), 1L).otherwise(0L)).as("k"),
        count(lit(1)).as("n")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(keeps("tgt")._1 === keeps("tgt")._2, "all target docs kept")
    assert(keeps("web")._1 === 0L, "no disjoint-vocab rest doc kept")
  }
}
