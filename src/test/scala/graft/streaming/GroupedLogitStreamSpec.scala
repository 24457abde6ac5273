package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Learn
import graft.sources.Tables

/** Online per-source logistic retrain contract (GroupedLogitStream):
  * the merged KEYED feature-histogram partials equal the batch keyed
  * histogram of the concatenated corpus (exact int64 cell sums within
  * each key), and the per-group fit is a pure function of that
  * histogram — so after the final micro-batch the streamed per-source
  * β table is BIT-IDENTICAL to [[Learn.logisticProbeHistBy]] (the
  * batch x209) over all data, the interim table equals the batch table
  * over its own prefix, and a replayed batch leaves the table
  * unchanged. Sources absent from later batches keep their rows (their
  * cells stand in the partials). */
class GroupedLogitStreamSpec extends SparkSuite {
  private val tokExpr = "length(text) - length(replace(text, ' ', '')) + 1"
  private val theExpr =
    "(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ' '))) / 4"

  private def tableOf(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.select("key", "n_docs", "beta0", "beta1", "beta2", "n_correct", "accuracy")
      .collect().map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case other => other
      }).sortBy(_.head.toString).toSeq

  test("streamed per-source beta table == batch x209 bit-for-bit; prefix; replay") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("grouped-logit-stream").toString
    val (partials, fits, ckpt) = (s"$root/partials", s"$root/fits", s"$root/ckpt")

    val corpus = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // doc-id batching (not source batching): every batch carries a mix
    // of sources, so the per-key merge is genuinely exercised
    val batches = corpus.grouped((corpus.length + 2) / 3).map(_.toSeq).toSeq
    assert(batches.length === 3)

    val src = MemoryStream[(Long, String, String, Long)]
    val q = GroupedLogitStream.startGroupedLogitFit(
      src.toDF().toDF("doc_id", "source", "text", "n_chars"),
      partials, fits, ckpt,
      key = "source", label = "n_chars >= 300", x1 = tokExpr, x2 = theExpr)
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def batchFit(rows: Seq[(Long, String, String, Long)]) =
      Learn.logisticProbeHistBy(rows.toDF("doc_id", "source", "text", "n_chars"),
        key = col("source"),
        label = when(col("n_chars") >= 300, 1L).otherwise(0L),
        x1 = expr(tokExpr), x2 = expr(theExpr), iters = 2)

    // final streamed table ≡ batch x209 over the full corpus
    val finalTable = tableOf(spark.read.parquet(s"$fits/batch_id=2"))
    assert(finalTable === tableOf(batchFit(corpus.toSeq)))
    assert(finalTable.size ===
      corpus.map(_._2).distinct.size, "one β row per source")

    // interim table after batch 1 ≡ batch x209 over the first two batches
    assert(tableOf(spark.read.parquet(s"$fits/batch_id=1")) ===
      tableOf(batchFit(batches(0) ++ batches(1))))

    // replay: rewrite the last batch's partial by hand, refit — unchanged
    batches(2).toDF("doc_id", "source", "text", "n_chars")
      .selectExpr("CAST(source AS STRING) AS key",
        "CAST(n_chars >= 300 AS BIGINT) AS y",
        s"CAST($tokExpr AS BIGINT) AS r1", s"CAST($theExpr AS BIGINT) AS r2")
      .groupBy("key", "y", "r1", "r2").agg(count(lit(1)).as("c"))
      .coalesce(1).write.mode("overwrite").parquet(s"$partials/batch_id=2")
    val merged = spark.read
      .schema("key STRING, y BIGINT, r1 BIGINT, r2 BIGINT, c BIGINT, batch_id BIGINT")
      .parquet(partials)
      .groupBy("key", "y", "r1", "r2").agg(sum("c").cast("long").as("c"))
    assert(tableOf(Learn.logisticFitFromHistBy(merged, 2)) === finalTable)
  }
}
