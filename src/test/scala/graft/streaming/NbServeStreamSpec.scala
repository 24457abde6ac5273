package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Learn
import graft.sources.Tables

/** Frozen-model serving contract: the stream's per-document verdicts
  * equal batch [[Learn.nbPredict]] against the same trained model on
  * the same documents (exact decimal scoring — no float drift between
  * the paths), only pred-positive docs land, and the metrics rows
  * reconstruct the keep/drop accounting. */
class NbServeStreamSpec extends SparkSuite {
  test("stream verdicts == batch verdicts against the same frozen model") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("nb-serve").toString
    val docs = Tables(spark, "/root/testdata/sf0.001").documents

    // standing labeled corpus = even ids; the stream carries odd ids
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val arriving = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val batches = arriving.grouped((arriving.length + 2) / 3).toSeq

    val src = MemoryStream[(Long, String)]
    val q = NbServeStream.startNbGate(
      src.toDF().toDF("doc_id", "text"), corpus,
      s"$root/kept", s"$root/metrics", s"$root/ckpt",
      "doc_id", "text", label = col("n_chars") >= 300)
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    // batch replay against the same model
    val (wt, classes, _) = Learn.nbModel(corpus.select(
      col("doc_id"), col("text"), (col("n_chars") >= 300).as("y")))
    val batchPred = Learn.nbPredict(
      arriving.toSeq.toDF("doc_id", "text"), wt, classes)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap

    val streamedKept = spark.read.parquet(s"$root/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamedKept === batchPred.filter(_._2).keySet)

    val metrics = spark.read.parquet(s"$root/metrics")
      .agg(sum("n_kept"), sum("n_dropped")).head()
    assert(metrics.getLong(0) === streamedKept.size.toLong)
    assert(metrics.getLong(0) + metrics.getLong(1) === arriving.length.toLong)

    // the gate actually separates: both verdicts present on this corpus
    assert(streamedKept.nonEmpty && streamedKept.size < arriving.length)
  }

  test("capped-model stream verdicts == capped batch verdicts (x204 serving form)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("nb-serve-cap").toString
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
    val corpus = docs.filter(col("doc_id") % 2 === 0)
    val arriving = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("text")).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))

    val src = MemoryStream[(Long, String)]
    val q = NbServeStream.startNbGate(
      src.toDF().toDF("doc_id", "text"), corpus,
      s"$root/kept", s"$root/metrics", s"$root/ckpt",
      "doc_id", "text", label = col("n_chars") >= 300, vocabK = 16)
    try {
      src.addData(arriving: _*); q.processAllAvailable()
    } finally q.stop()

    val (wt, classes, _) = Learn.nbModelCapped(corpus.select(
      col("doc_id"), col("text"), (col("n_chars") >= 300).as("y")),
      vocabK = 16)
    assert(wt.count() === 32L, "frozen capped weight table is K*classes rows")
    val batchPred = Learn.nbPredict(
      arriving.toSeq.toDF("doc_id", "text"), wt, classes)
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap

    val streamedKept = spark.read.parquet(s"$root/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamedKept === batchPred.filter(_._2).keySet)
  }
}
