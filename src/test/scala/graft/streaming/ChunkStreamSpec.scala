package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Corpus
import graft.sources.Tables

/** Multi-batch contract of the streaming chunk-dedup rewrite: the union
  * of per-batch rewrites over id-ordered batches equals the batch
  * operator (x62) on the whole corpus, and the standing chunk store
  * holds each distinct chunk hash exactly once. */
class ChunkStreamSpec extends SparkSuite {
  test("stream chunk rewrite over id-ordered batches == batch chunkDedupRewrite") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("chunk-stream").toString
    val (chunksPath, rewritesPath, ckpt) = (s"$root/chunks", s"$root/rewrites", s"$root/ckpt")

    val corpus = Tables(spark, "/root/testdata/sf0.001").documents
      .filter(col("doc_id") < 45)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(corpus.length == 45)
    val batches = corpus.grouped(15).toSeq

    ChunkStream.seedChunks(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), chunksPath, "doc_id", "text")

    val src = MemoryStream[(Long, String)]
    val q = ChunkStream.startChunkRewrite(
      src.toDF().toDF("doc_id", "text"), chunksPath, rewritesPath, ckpt, "doc_id", "text")
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }

      val streamed = spark.read.parquet(rewritesPath)
        .select("doc_id", "n_chunks", "n_kept", "text_kept")
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      val batch = Corpus.chunkDedupRewrite(
          corpus.toSeq.toDF("doc_id", "text"), "doc_id", "text")
        .collect()
        .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getString(3)))).toMap
      assert(batch.nonEmpty)
      assert(streamed === batch)

      // the standing store holds each distinct chunk hash exactly once,
      // and Σ n_kept equals its size (each chunk admitted by exactly one
      // first carrier)
      val store = spark.read.parquet(chunksPath).select("h").collect().map(_.getLong(0))
      assert(store.length === store.distinct.length)
      assert(streamed.values.map(_._2).sum === store.length)
    } finally q.stop()
  }
}
