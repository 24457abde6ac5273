package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Corpus
import graft.sources.Tables

/** Multi-batch contract of the streaming novelty loop: the union of
  * per-batch verdicts over id-ordered batches equals the batch operator
  * (x55) on the whole corpus, and the standing gram store grows only by
  * novel grams. */
class NoveltyStreamSpec extends SparkSuite {
  test("stream novelty over id-ordered batches == batch ngramNovelty; store grows by novel grams only") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("novelty-stream").toString
    val (gramsPath, verdictsPath, ckpt) = (s"$root/grams", s"$root/verdicts", s"$root/ckpt")

    // 45 real docs, id-ordered, split into 3 batches at id boundaries
    val corpus = Tables(spark, "/root/testdata/sf0.001").documents
      .filter(col("doc_id") < 45)
      .select(col("doc_id"), col("text"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(corpus.length == 45)
    val batches = corpus.grouped(15).toSeq

    // empty seed: streaming sees exactly what the batch operator sees
    NoveltyStream.seedGrams(
      Seq.empty[(Long, String)].toDF("doc_id", "text"), gramsPath, "doc_id", "text")

    val src = MemoryStream[(Long, String)]
    val q = NoveltyStream.startNoveltyScoring(
      src.toDF().toDF("doc_id", "text"), gramsPath, verdictsPath, ckpt, "doc_id", "text")
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }

      val streamed = spark.read.parquet(verdictsPath)
        .select("doc_id", "n_grams", "n_novel", "novelty")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      val batch = Corpus.ngramNovelty(corpus.toSeq.toDF("doc_id", "text"), "doc_id", "text")
        .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
      assert(batch.nonEmpty)
      assert(streamed === batch)

      // the standing store holds each distinct gram exactly once
      val stored = spark.read.parquet(gramsPath).select("h").collect().map(_.getLong(0))
      assert(stored.length === stored.distinct.length)
      val allGrams = Corpus.gramHashes(corpus.toSeq.toDF("doc_id", "text"), "doc_id", "text")
        .select("h").distinct().collect().map(_.getLong(0)).toSet
      assert(stored.toSet === allGrams)

      // a replayed duplicate batch admits nothing new (and scores 0 novelty)
      src.addData(batches.head.map { case (id, t) => (id + 1000L, t) }: _*)
      q.processAllAvailable()
      val replay = spark.read.parquet(verdictsPath)
        .filter(col("doc_id") >= 1000L)
        .collect().map(r => r.getDouble(3))
      assert(replay.nonEmpty && replay.forall(_ == 0.0))
      val storedAfter = spark.read.parquet(gramsPath).select("h").collect().map(_.getLong(0)).toSet
      assert(storedAfter === allGrams)
    } finally q.stop()
  }
}
