package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Learn
import graft.sources.Tables

/** Serving contract of the per-source logistic gate
  * (GroupedLogitServeStream): verdicts against the frozen
  * (key, c1, c2, b0, b1, b2) model are bit-identical to batch scoring —
  * so streaming the TRAINING corpus back through the gate must
  * reproduce x209's confusion exactly (per-source keep counts =
  * n_correct where the label matches), because the gate centers with
  * the training means and scores with the shared LogitText expression.
  * Unseen sources yield NULL verdicts (ungated), never a wrong-model
  * score. */
class GroupedLogitServeStreamSpec extends SparkSuite {
  private val tokExpr = "length(text) - length(replace(text, ' ', '')) + 1"
  private val theExpr =
    "(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' the ', ' '))) / 4"

  test("gate verdicts over the training corpus replay x209's confusion; unseen sources are NULL") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
    val hist = docs
      .selectExpr("source AS key", "CAST(n_chars >= 300 AS BIGINT) AS y",
        s"CAST($tokExpr AS BIGINT) AS r1", s"CAST($theExpr AS BIGINT) AS r2")
      .groupBy("key", "y", "r1", "r2").agg(count(lit(1)).as("c"))
    val model = Learn.logisticModelFromHistBy(hist, iters = 2)
    assert(model.columns.toSeq === Seq("key", "c1", "c2", "b0", "b1", "b2"))

    val root = Files.createTempDirectory("grouped-logit-serve").toString
    val corpus = docs.orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    // two batches + one batch with an UNSEEN source appended
    val batches = corpus.grouped((corpus.length + 1) / 2).map(_.toSeq).toSeq
    val unseen = (999999L, "never-trained-source", "the quick brown fox", 42L)

    val src = MemoryStream[(Long, String, String, Long)]
    val q = GroupedLogitServeStream.startGroupedLogitGate(
      src.toDF().toDF("doc_id", "source", "text", "n_chars"),
      model, s"$root/verdicts", s"$root/ckpt",
      idCol = "doc_id", key = "source", x1 = tokExpr, x2 = theExpr)
    try {
      src.addData(batches(0): _*); q.processAllAvailable()
      src.addData((batches(1) :+ unseen): _*); q.processAllAvailable()
    } finally q.stop()

    val verdicts = spark.read.parquet(s"$root/verdicts")
      .select("doc_id", "key", "pred")

    // unseen source: NULL verdict, present in the output
    val un = verdicts.filter(col("doc_id") === 999999L).collect()
    assert(un.length === 1 && un(0).isNullAt(2))

    // per-source keep accounting == x209's confusion (gate pred vs
    // label, counted per source, must equal n_correct/n_docs exactly —
    // same centers, same betas, same scoring text)
    val labeled = verdicts.filter(col("doc_id") =!= 999999L)
      .join(docs.select(col("doc_id"),
        (col("n_chars") >= 300).as("truth")), "doc_id")
      .groupBy(col("key"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("pred") === col("truth"), 1L).otherwise(0L)).as("n_correct"))
    val fit = Learn.logisticProbeHistBy(docs,
      key = col("source"),
      label = when(col("n_chars") >= 300, 1L).otherwise(0L),
      x1 = expr(tokExpr), x2 = expr(theExpr), iters = 2)
      .select(col("key"), col("n_docs"), col("n_correct"))
    val mismatch = labeled.alias("g").join(fit.alias("f"), "key")
      .filter(col("g.n_docs") =!= col("f.n_docs") ||
        col("g.n_correct") =!= col("f.n_correct"))
    assert(mismatch.count() === 0L,
      "gate verdicts must replay the batch confusion exactly")
    assert(labeled.count() === fit.count())

    // no verdict row is ever dropped: every streamed doc got one
    assert(verdicts.count().toInt === corpus.length + 1)
  }

  test("degenerate model rows (NULL centers/betas) are dropped at freeze; their sources serve ungated") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // the grouped IRLS emits NULL centers for a key whose features were
    // all NULL in training — the gate must start (no NPE at collect)
    // and route that source through the unseen path
    val model = Seq[(String, Option[Long], Option[Long], Option[Double], Option[Double], Option[Double])](
      ("good", Some(10L), Some(2L), Some(0.5), Some(0.1), Some(-0.2)),
      ("degenerate", None, None, None, None, None))
      .toDF("key", "c1", "c2", "b0", "b1", "b2")

    val root = Files.createTempDirectory("grouped-logit-degen").toString
    val src = MemoryStream[(Long, String, String, Long)]
    val q = GroupedLogitServeStream.startGroupedLogitGate(
      src.toDF().toDF("doc_id", "source", "text", "n_chars"),
      model, s"$root/verdicts", s"$root/ckpt",
      idCol = "doc_id", key = "source", x1 = tokExpr, x2 = theExpr)
    try {
      src.addData((1L, "good", "a b c", 5L), (2L, "degenerate", "d e", 3L))
      q.processAllAvailable()
    } finally q.stop()

    val v = spark.read.parquet(s"$root/verdicts")
      .select("doc_id", "pred").collect().map(r =>
        r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getBoolean(1)))).toMap
    assert(v(1L).isDefined, "modeled source must be gated")
    assert(v(2L).isEmpty, "degenerate source must serve ungated (NULL pred)")
  }
}
