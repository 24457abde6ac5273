package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Corpus
import graft.sources.Tables

/** Streaming scorecard contract: per-batch partial rows merge into
  * EXACTLY the one-shot batch scorecard (associative long + decimal
  * sums survive the parquet round-trip bit-for-bit), and unseen words
  * score under count-1 smoothing instead of dropping. */
class ScorecardStreamSpec extends SparkSuite {
  test("merged stream partials == one-shot batch scorecard, bit-identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("scorecard-stream").toString
    val (partialsPath, ckpt) = (s"$root/partials", s"$root/ckpt")

    val reference = Tables(spark, "/root/testdata/sf0.001").documents
    // stream twists one doc to include words the reference never saw,
    // exercising the count-1 smoothing path
    val incoming = reference
      .filter(col("doc_id") < 60)
      .select(col("doc_id"), col("text"), col("source"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .map { case (id, text, src) =>
        if (id == 3L) (id, text + " zzzunseen zzzunseen", src) else (id, text, src)
      }
    assert(incoming.length == 60)

    val src = MemoryStream[(Long, String, String)]
    val q = ScorecardStream.startScorecard(
      src.toDF().toDF("doc_id", "text", "source"),
      reference, partialsPath, ckpt, "text", "source")
    try {
      incoming.grouped(20).foreach { b => src.addData(b: _*); q.processAllAvailable() }

      val lm = Corpus.unigramLm(reference, "text")
      val oneShot = Corpus.scorecardFromPartials(
        Corpus.lmPartialScorecard(
          incoming.toSeq.toDF("doc_id", "text", "source"), lm, "text", "source"))
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

      val streamed = ScorecardStream.scorecard(spark, partialsPath)
        .collect().map(r => (r.getString(0),
          (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

      assert(streamed === oneShot) // exact merge, bit-identical means
      assert(streamed.values.map(_._1).sum == 60L)
      // three batches of partials landed, |sources| rows each at most
      val batches = spark.read.parquet(partialsPath)
        .select(input_file_name()).distinct().count()
      assert(batches >= 3)
    } finally q.stop()
  }
}
