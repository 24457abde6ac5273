package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Corpus
import graft.sources.Tables

/** Streaming quality gate contract: stream verdicts over micro-batches
  * equal the batch x65 gate on the same documents (the gate is stateless
  * across documents), only kept docs land, and the per-batch metrics
  * rows reconstruct the full drop audit. */
class QualityStreamSpec extends SparkSuite {
  test("stream gate == batch gate; metrics reconstruct the drop audit") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("quality-stream").toString
    val (keptPath, metricsPath, ckpt) = (s"$root/kept", s"$root/metrics", s"$root/ckpt")

    val corpus = Tables(spark, "/root/testdata/sf0.001").documents
      .filter(col("doc_id") < 60)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(corpus.length == 60)
    val batches = corpus.grouped(20).toSeq

    val src = MemoryStream[(Long, String)]
    val q = QualityStream.startQualityGate(
      src.toDF().toDF("doc_id", "text"), keptPath, metricsPath, ckpt, "doc_id", "text")
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }

      val gate = Corpus.qualityGate(
        corpus.toSeq.toDF("doc_id", "text"), "doc_id", "text").cache()

      // only (exactly) the batch-kept docs landed, with their text intact
      val streamedKept = spark.read.parquet(keptPath)
        .select("doc_id", "text").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      val batchKept = gate.filter(col("kept")).select("doc_id").collect()
        .map(_.getLong(0)).toSet
      assert(streamedKept.keySet === batchKept)
      assert(streamedKept === corpus.filter(d => batchKept(d._1)).toMap)

      // per-batch metrics sum to the batch gate's reason histogram
      val streamedAudit = spark.read.parquet(metricsPath)
        .groupBy("reasons").agg(sum("n_docs").as("n_docs"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      val batchAudit = gate.groupBy("reasons").agg(count(lit(1)).as("n_docs"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(streamedAudit === batchAudit)
      gate.unpersist()
    } finally q.stop()
  }
}
