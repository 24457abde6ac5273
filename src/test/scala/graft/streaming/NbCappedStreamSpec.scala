package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Learn
import graft.sources.Tables

/** Online capped-NB retrain contract (NbCappedStream): after the final
  * micro-batch, the streamed refit (merged per-batch count partials →
  * cap over MERGED document frequencies → same once-rounded-log weight
  * derivation) is ROW-IDENTICAL to the batch [[Learn.nbModelCapped]]
  * over the concatenated corpus — count merging is exact int64 and the
  * cap is applied post-merge, so batch boundaries cannot move a single
  * weight. Plus: the interim refit equals the batch fit over its own
  * prefix, and the model stays K·classes-bounded at every refit. */
class NbCappedStreamSpec extends SparkSuite {
  private val K = 64

  private def image(df: org.apache.spark.sql.DataFrame): Seq[String] = df
    .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

  test("stream refit == batch nbModelCapped row-for-row; cap applied post-merge; K-bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("nb-capped-stream").toString
    val corpus = Tables(spark, "/root/testdata/sf0.001").documents
      .select(col("doc_id"), col("text"), col("n_chars"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val batches = corpus.grouped((corpus.length + 2) / 3).toSeq
    assert(batches.length === 3)

    val src = MemoryStream[(Long, String, Long)]
    val q = NbCappedStream.startNbFit(
      src.toDF().toDF("doc_id", "text", "n_chars"),
      s"$root/nc", s"$root/cnt", s"$root/fits", s"$root/ckpt",
      label = "n_chars >= 300", vocabK = K)
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def batchModel(rows: Seq[(Long, String, Long)]) = {
      val tr = rows.toDF("doc_id", "text", "n_chars")
        .selectExpr("doc_id", "n_chars >= 300 AS y", "text")
      Learn.nbModelCapped(tr, K)
    }

    // final streamed refit ≡ batch fit over the full corpus
    val (wtB, clB, _) = batchModel(corpus.toSeq)
    val wtS = spark.read.parquet(s"$root/fits/batch_id=2/wt")
    val clS = spark.read.parquet(s"$root/fits/batch_id=2/classes")
    assert(image(wtS) === image(wtB), "streamed weight table differs from batch")
    assert(image(clS) === image(clB), "streamed class priors differ from batch")

    // interim refit after batch 1 ≡ batch fit over the first two batches
    val (wtP, clP, _) = batchModel(batches(0) ++ batches(1))
    assert(image(spark.read.parquet(s"$root/fits/batch_id=1/wt")) === image(wtP))
    assert(image(spark.read.parquet(s"$root/fits/batch_id=1/classes")) === image(clP))

    // the serving artifact is K·classes-bounded at every refit
    for (id <- 0 to 2) {
      val wt = spark.read.parquet(s"$root/fits/batch_id=$id/wt")
      assert(wt.select("w").distinct().count() <= K)
      assert(wt.count() <= 2L * K)
    }

    // cap is genuinely post-merge: the merged top-K vocabulary equals the
    // batch model's, not the union of per-batch top-Ks
    val vocabS = wtS.select("w").distinct()
    val vocabB = wtB.select("w").distinct()
    assert(image(vocabS) === image(vocabB))
  }
}
