package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Learn
import graft.sources.Tables

/** Online-probe contract: after the final micro-batch, the streamed fit
  * (merged per-batch sufficient statistics → same Cramer solve) is
  * BIT-IDENTICAL to the batch x197 probe over the concatenated corpus —
  * decimal statistic addition is exact and associative, so batch
  * boundaries cannot move a single double bit. Plus: the partials table
  * holds exactly one row per batch (the no-rescan cost model), interim
  * fits equal the batch probe over their own prefix, and a REPLAYED
  * batch (overwrite into its own partition) leaves the fit unchanged. */
class ProbeStreamSpec extends SparkSuite {
  private val tokExpr = "length(text) - length(replace(text, ' ', '')) + 1"
  private val theExpr =
    "(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ' '))) / 4"

  private def fitOf(df: org.apache.spark.sql.DataFrame): Seq[Any] =
    df.select("n_docs", "beta0", "beta1", "beta2", "r2")
      .head().toSeq

  test("stream fit == batch fit bit-for-bit; one partial row per batch; replay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("probe-stream").toString
    val (partials, fits, ckpt) = (s"$root/partials", s"$root/fits", s"$root/ckpt")

    val corpus = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("text"), col("n_chars"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val batches = corpus.grouped((corpus.length + 3) / 4).toSeq
    assert(batches.length == 4)

    val src = MemoryStream[(Long, String, Long)]
    val q = ProbeStream.startProbeFit(
      src.toDF().toDF("doc_id", "text", "n_chars"),
      partials, fits, ckpt, y = "n_chars", x1 = tokExpr, x2 = theExpr)
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def batchProbe(rows: Seq[(Long, String, Long)]) =
      Learn.linearProbe(rows.toDF("doc_id", "text", "n_chars"),
        col("n_chars"), expr(tokExpr), expr(theExpr))

    // one partial row per batch
    val p = spark.read.parquet(partials)
    assert(p.count() === 4)
    assert(p.select("batch_id").distinct().count() === 4)

    // final fit ≡ batch probe over the full corpus, bit-for-bit
    val finalFit = fitOf(spark.read.parquet(s"$fits/batch_id=3"))
    assert(finalFit === fitOf(batchProbe(corpus.toSeq)))

    // interim fit after batch 1 ≡ batch probe over the first two batches
    val interim = fitOf(spark.read.parquet(s"$fits/batch_id=1"))
    assert(interim === fitOf(batchProbe(batches(0) ++ batches(1))))

    // replaying the last batch (overwrite into its own partition)
    // changes nothing: rerun the foreachBatch body by hand
    Learn.sufficientStats(batches(3).toSeq.toDF("doc_id", "text", "n_chars"),
        col("n_chars"), expr(tokExpr), expr(theExpr))
      .coalesce(1).write.mode("overwrite").parquet(s"$partials/batch_id=3")
    val replayFit = fitOf(Learn.solveOls(
      Learn.mergeStats(spark.read.parquet(partials))))
    assert(replayFit === finalFit)
  }

  test("ridge stream fit == batch ridge bit-for-bit; same partials serve OLS and ridge") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("probe-stream-ridge").toString
    val corpus = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("text"), col("n_chars"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val batches = corpus.grouped((corpus.length + 1) / 2).toSeq

    val src = MemoryStream[(Long, String, Long)]
    val q = ProbeStream.startProbeFit(
      src.toDF().toDF("doc_id", "text", "n_chars"),
      s"$root/partials", s"$root/fits", s"$root/ckpt",
      y = "n_chars", x1 = tokExpr, x2 = theExpr, lambdaPerRow = 1000L)
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def ridgeFit(df: org.apache.spark.sql.DataFrame): Seq[Any] =
      df.select("n_docs", "lambda_per_row", "beta0", "beta1", "beta2", "r2")
        .head().toSeq
    val streamed = ridgeFit(
      spark.read.parquet(s"$root/fits/batch_id=${batches.length - 1}"))
    val batch = ridgeFit(Learn.ridgeProbe(
      corpus.toSeq.toDF("doc_id", "text", "n_chars"),
      col("n_chars"), expr(tokExpr), expr(theExpr), lambdaPerRow = 1000L))
    assert(streamed === batch)

    // the SAME accumulated partials also refit OLS offline — the
    // model-agnostic-statistics payoff, no reprocessing
    val ols = fitOf(Learn.solveOls(
      Learn.mergeStats(spark.read.parquet(s"$root/partials"))))
    assert(ols === fitOf(Learn.linearProbe(
      corpus.toSeq.toDF("doc_id", "text", "n_chars"),
      col("n_chars"), expr(tokExpr), expr(theExpr))))
  }

  test("merge is order-invariant: shuffled partials give the same fit") {
    import spark.implicits._
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("text"), col("n_chars"))
    val parts = Seq(0, 1, 2).map(i =>
      Learn.sufficientStats(docs.filter(col("doc_id") % 3 === i),
        col("n_chars"), expr(tokExpr), expr(theExpr)))
    val abc = fitOf(Learn.solveOls(Learn.mergeStats(
      parts(0).unionAll(parts(1)).unionAll(parts(2)))))
    val cba = fitOf(Learn.solveOls(Learn.mergeStats(
      parts(2).unionAll(parts(0)).unionAll(parts(1)))))
    val whole = fitOf(Learn.linearProbe(docs,
      col("n_chars"), expr(tokExpr), expr(theExpr)))
    assert(abc === whole)
    assert(cba === whole)
  }

  test("resume across the dsum widening: mixed 29/38-precision partials merge losslessly") {
    // Round-17 advice (medium): pre-widening partials files carry
    // decimal(29,0) linear sums (the old sum(decimal(19,0)) type);
    // post-widening files carry decimal(38,0). A resumed stream reads
    // BOTH from one directory — inference would sample an arbitrary
    // file, so the read is pinned to Learn.statsDdl. Pin here that the
    // pinned read (a) accepts narrow files (same-scale precision
    // widening), (b) merges mixed partials to the exact same fit as
    // the uniform-width table.
    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("text"), col("n_chars"))
    val half = Seq(0, 1).map(i =>
      Learn.sufficientStats(docs.filter(col("doc_id") % 2 === i),
        col("n_chars"), expr(tokExpr), expr(theExpr)))
    val root = Files.createTempDirectory("probe-mixed").toString
    // old-shape file: re-narrow the linear sums to decimal(29,0) (the
    // pre-widening schema; values fit 29 digits at this SF)
    val narrowCols = Seq("s1", "s2", "sy")
    half(0).select(half(0).columns.map(c =>
      if (narrowCols.contains(c)) col(c).cast("decimal(29,0)").as(c) else col(c)): _*)
      .coalesce(1).write.parquet(s"$root/batch_id=0")
    half(1).coalesce(1).write.parquet(s"$root/batch_id=1")
    val merged = Learn.mergeStats(
      spark.read.schema(Learn.statsDdl + ", batch_id BIGINT").parquet(root))
    val whole = fitOf(Learn.linearProbe(docs,
      col("n_chars"), expr(tokExpr), expr(theExpr)))
    assert(fitOf(Learn.solveOls(merged)) === whole,
      "mixed-precision partials must refit bit-identically")
  }
}
