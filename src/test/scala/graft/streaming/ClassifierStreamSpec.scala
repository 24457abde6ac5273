package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Corpus
import graft.sources.Tables

/** Streaming classifier gate contract: stream verdicts over
  * micro-batches equal the batch x161 classifier on the same documents
  * (the score is stateless across documents), only kept docs land with
  * their scores, and the per-batch metrics rows reconstruct the full
  * keep/drop accounting without rescanning the documents. */
class ClassifierStreamSpec extends SparkSuite {
  test("stream classifier == batch classifier; metrics reconstruct the accounting") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("classifier-stream").toString
    val (keptPath, metricsPath, ckpt) = (s"$root/kept", s"$root/metrics", s"$root/ckpt")

    val corpus = Tables(spark, "/root/testdata/sf0.001").documents
      .filter(col("doc_id") < 60)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(corpus.length == 60)
    val batches = corpus.grouped(20).toSeq

    val src = MemoryStream[(Long, String)]
    val q = ClassifierStream.startClassifierGate(
      src.toDF().toDF("doc_id", "text"), keptPath, metricsPath, ckpt, "doc_id", "text")
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }

      val batchScored = Corpus.hashedClassifierScore(
        corpus.toSeq.toDF("doc_id", "text"), "doc_id", "text").cache()

      // only (exactly) the batch-kept docs landed, with identical scores
      val streamedKept = spark.read.parquet(keptPath)
        .select("doc_id", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      val batchKept = batchScored.filter(col("keep"))
        .select("doc_id", "score").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(streamedKept === batchKept)
      assert(streamedKept.values.forall(_ >= 0L))

      // summed per-batch metrics equal the batch-side accounting
      val m = spark.read.parquet(metricsPath)
        .agg(sum("n_kept"), sum("n_dropped"),
          sum("tokens_kept"), sum("tokens_dropped"),
          sum("score_kept_sum"), sum("score_dropped_sum")).head()
      val b = batchScored.agg(
        sum(when(col("keep"), 1L).otherwise(0L)),
        sum(when(!col("keep"), 1L).otherwise(0L)),
        sum(when(col("keep"), col("n_tokens")).otherwise(0L)),
        sum(when(!col("keep"), col("n_tokens")).otherwise(0L)),
        sum(when(col("keep"), col("score")).otherwise(0L)),
        sum(when(!col("keep"), col("score")).otherwise(0L))).head()
      for (i <- 0 until 6) assert(m.getLong(i) === b.getLong(i), s"metric $i")
      assert(m.getLong(0) + m.getLong(1) === 60L)
    } finally q.stop()
  }
}
