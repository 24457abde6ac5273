package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup
import graft.sources.Tables

/** Convergence contract of the streaming span-dedup gate: under
  * adversarially shuffled multi-batch delivery, the registry's
  * compaction equals the batch winner rule, and re-rewriting the whole
  * corpus against it replays batch x175 token-for-token. */
class SpanDedupStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("shuffled delivery: converged winners replay batch x175 exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("span-dedup-stream").toString
    Seq.empty[(Long, Long)].toDF("h", "kk")
      .write.parquet(s"$root/registry/batch_id=-1")

    val docsDf = Tables(spark, sf).documents.select("doc_id", "text")
    val docs = docsDf.collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val cut1 = docs(docs.length / 3)._1
    val cut2 = docs(2 * docs.length / 3)._1

    val src = MemoryStream[(Long, String)]
    val q = SpanDedupStream.startSpanDedup(
      src.toDF().toDF("doc_id", "text"),
      s"$root/registry", s"$root/kept", s"$root/metrics", s"$root/ckpt")
    try {
      // descending ranges — late batches carry SMALLER doc ids
      src.addData(docs.filter(_._1 > cut2): _*)
      q.processAllAvailable()
      src.addData(docs.filter(_._1 <= cut1): _*)
      q.processAllAvailable()
      src.addData(docs.filter(d => d._1 > cut1 && d._1 <= cut2): _*)
      q.processAllAvailable()
    } finally q.stop()

    // converged winners == the batch min-k per hash
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchWins = pairs(Dedup.spanGrams(docsDf, "doc_id", "text", 8)
      .groupBy(col("h")).agg(min(col("kk")).as("kmin")))
    val converged = SpanDedupStream.winners(spark, s"$root/registry")
    assert(pairs(converged) === batchWins)

    // rewrite-against-winners == the one-shot batch rewrite, per doc
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    val viaStream = rows(Dedup.duplicateSpanRewriteAgainst(
      docsDf, "doc_id", "text", converged))
    val viaBatch = rows(Dedup.duplicateSpanRewrite(docsDf, "doc_id", "text"))
    assert(viaStream === viaBatch)
    assert(viaBatch.nonEmpty)

    // metrics account for every arrived document exactly once
    val m = spark.read.parquet(s"$root/metrics")
      .agg(sum("docs"), sum("tokens_before")).head()
    assert(m.getLong(0) === docs.length.toLong)
    assert(m.getLong(1) ===
      docsDf.select(sum(size(split(col("text"), " ")))).head().getLong(0))
  }
}
