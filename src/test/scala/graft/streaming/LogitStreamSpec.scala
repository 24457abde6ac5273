package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Learn
import graft.sources.Tables

/** Online logistic retrain contract (LogitStream): the merged
  * feature-histogram partials equal the batch histogram of the
  * concatenated corpus (exact int64 cell sums), and the fit is a pure
  * function of the histogram — so after the final micro-batch the
  * streamed fit is BIT-IDENTICAL to [[Learn.logisticProbeHist]] over
  * all data, the interim fit equals the batch fit over its own prefix,
  * and a replayed batch (overwrite into its own partition) leaves the
  * fit unchanged. Also pins histogram-form ≡ row-form agreement (x208
  * vs x207 betas to double tolerance, confusion exactly). */
class LogitStreamSpec extends SparkSuite {
  private val tokExpr = "length(text) - length(replace(text, ' ', '')) + 1"
  private val theExpr =
    "(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ' '))) / 4"

  private def fitOf(df: org.apache.spark.sql.DataFrame): Seq[Any] =
    df.select("n_docs", "beta0", "beta1", "beta2", "n_correct", "accuracy")
      .head().toSeq

  test("stream fit == batch hist fit bit-for-bit; prefix fits; replay idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("logit-stream").toString
    val (partials, fits, ckpt) = (s"$root/partials", s"$root/fits", s"$root/ckpt")

    val corpus = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("text"), col("n_chars"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val batches = corpus.grouped((corpus.length + 2) / 3).map(_.toSeq).toSeq
    assert(batches.length === 3)

    val src = MemoryStream[(Long, String, Long)]
    val q = LogitStream.startLogitFit(
      src.toDF().toDF("doc_id", "text", "n_chars"),
      partials, fits, ckpt,
      label = "n_chars >= 300", x1 = tokExpr, x2 = theExpr)
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def batchFit(rows: Seq[(Long, String, Long)]) =
      Learn.logisticProbeHist(rows.toDF("doc_id", "text", "n_chars"),
        when(col("n_chars") >= 300, 1L).otherwise(0L),
        expr(tokExpr), expr(theExpr))

    // final streamed fit ≡ batch hist fit over the full corpus
    val finalFit = fitOf(spark.read.parquet(s"$fits/batch_id=2"))
    assert(finalFit === fitOf(batchFit(corpus.toSeq)))

    // interim fit after batch 1 ≡ batch fit over the first two batches
    assert(fitOf(spark.read.parquet(s"$fits/batch_id=1")) ===
      fitOf(batchFit(batches(0) ++ batches(1))))

    // replay: rewrite the last batch's partial by hand, refit — unchanged
    batches(2).toDF("doc_id", "text", "n_chars")
      .selectExpr("CAST(n_chars >= 300 AS BIGINT) AS y",
        s"CAST($tokExpr AS BIGINT) AS r1", s"CAST($theExpr AS BIGINT) AS r2")
      .groupBy("y", "r1", "r2").agg(count(lit(1)).as("c"))
      .coalesce(1).write.mode("overwrite").parquet(s"$partials/batch_id=2")
    val merged = spark.read.parquet(partials)
      .groupBy("y", "r1", "r2").agg(sum("c").cast("long").as("c"))
    assert(fitOf(Learn.logisticFitFromHist(merged, 2)) === finalFit)
  }

  test("histogram form agrees with the row form (x208 vs x207) on the shared fixture") {
    val docs = Tables(spark, "/root/testdata/sf0.01").documents
    val label = when(col("n_chars") >= 300, 1L).otherwise(0L)
    val row = Learn.logisticProbe(docs, label, expr(tokExpr), expr(theExpr), 2).head()
    val hist = Learn.logisticProbeHist(docs, label, expr(tokExpr), expr(theExpr), 2).head()
    assert(hist.getAs[Long]("n_docs") === row.getAs[Long]("n_docs"))
    // betas agree to double tolerance (the two forms differ only in the
    // per-moment rounding path: decimal(38,6)→double vs decimal(38,0)
    // →double/1e6)
    for (c <- Seq("beta0", "beta1", "beta2"))
      assert(math.abs(hist.getAs[Double](c) - row.getAs[Double](c)) <=
        1e-9 * math.max(1.0, math.abs(row.getAs[Double](c))),
        s"$c diverged: hist=${hist.getAs[Double](c)} row=${row.getAs[Double](c)}")
    assert(hist.getAs[Long]("n_correct") === row.getAs[Long]("n_correct"))
  }
}
