package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Corpus
import graft.sources.Tables

/** Multi-batch contract of the streaming Count-Min sketch: the per-cell
  * SUM of the per-batch partials over a corpus arriving in ANY batching
  * equals the one-shot batch sketch over the whole corpus, bit-for-bit
  * — the mergeability that defines the sketch. Plus the estimate
  * contract on the merged sketch: never an undercount, for every word.
  */
class CountMinStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("merged per-batch partials == one-shot batch sketch; estimates never undercount") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("countmin-stream").toString
    val docs = Tables(spark, sf).documents
    val all = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))

    val src = MemoryStream[(Long, String)]
    val q = CountMinStream.startCountMin(
      src.toDF().toDF("doc_id", "text"),
      s"$root/cells", s"$root/ckpt", "text")
    try {
      for (part <- 0 until 3) {
        src.addData(all.filter(_._1 % 3 == part): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("r", "bucket", "total").collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap

    val merged = CountMinStream.mergedCells(spark, s"$root/cells")
    val whole = Corpus.countMinCells(docs, "text")
    assert(canon(merged) === canon(whole))

    // estimate ≥ true for EVERY word in the corpus, probed against the
    // stream-merged sketch
    val trueCnt = docs.select(explode(split(col("text"), " ")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("true_cnt"))
    val under = Corpus.countMinEstimate(merged, trueCnt.select("w"), "w")
      .join(trueCnt, "w")
      .filter(col("est_cnt") < col("true_cnt")).count()
    assert(under === 0L)
  }

  test("a word probing only empty cells estimates 0, not a dropped row") {
    import spark.implicits._
    // Tiny corpus → 3×1024 cells are nearly all empty, so a probe word
    // absent from the corpus lands (with overwhelming likelihood for
    // this fixed word) in at least one empty cell per row triple; the
    // Count-Min definition says the min over probed cells — empty = 0.
    val docs = Seq((1L, "alpha beta"), (2L, "beta gamma"))
      .toDF("doc_id", "text")
    val cells = Corpus.countMinCells(docs, "text")
    val probe = Seq("zzz_never_seen_token_1234567").toDF("w")
    val est = Corpus.countMinEstimate(cells, probe, "w").collect()
    assert(est.length === 1, "unseen word must still get an estimate row")
    assert(est.head.getLong(1) === 0L)
    // and seen words still estimate ≥ true count
    val seen = Corpus.countMinEstimate(cells, Seq("beta").toDF("w"), "w")
      .collect()
    assert(seen.head.getLong(1) >= 2L)
  }
}
