package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.SparkSuite
import graft.sources.Tables

/** Multi-batch contract of the streaming segment-dedup gate: with docs
  * arriving in doc_id order, summing per-batch stats per source equals
  * the batch x139 report, and the registry ends with exactly the batch
  * winners — ingest-time and audit-time dedup can never diverge. */
class SegmentDedupStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("stream stats across 3 ordered batches == batch x139; registry = winners") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("segdedup-stream").toString
    val (registryPath, statsPath, ckpt) =
      (s"$root/registry", s"$root/stats", s"$root/ckpt")
    // empty schema-bearing seed partition
    Seq.empty[(Long, Long)].toDF("h", "k")
      .write.parquet(s"$registryPath/batch_id=-1")

    val docs = Tables(spark, sf).documents
      .select("doc_id", "source", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val cut1 = docs(docs.length / 3)._1
    val cut2 = docs(2 * docs.length / 3)._1

    val src = MemoryStream[(Long, String, String)]
    val q = SegmentDedupStream.startSegmentDedup(
      src.toDF().toDF("doc_id", "source", "text"),
      registryPath, statsPath, ckpt)
    try {
      // ascending doc_id ranges — the ordered-arrival contract
      src.addData(docs.filter(_._1 <= cut1): _*)
      q.processAllAvailable()
      src.addData(docs.filter(d => d._1 > cut1 && d._1 <= cut2): _*)
      q.processAllAvailable()
      src.addData(docs.filter(_._1 > cut2): _*)
      q.processAllAvailable()

      val streamed = spark.read.parquet(statsPath)
        .groupBy(col("source"))
        .agg(sum("n_segments").as("n_segments"), sum("n_kept").as("n_kept"),
          sum("tokens_before").as("tokens_before"),
          sum("tokens_after").as("tokens_after"))
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      val batch = SparkEntry.queries("x139_segment_dedup")(spark, sf)
        .collect()
        .map(r => r.getString(0) ->
          (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
        .toMap
      assert(batch.nonEmpty)
      assert(streamed === batch)

      // per-batch keep_ratio is self-consistent (it's the batch's own
      // ratio, not the corpus one — ratios don't sum across batches)
      val badRatios = spark.read.parquet(statsPath)
        .filter(abs(col("keep_ratio")
          - col("tokens_after").cast("double") / col("tokens_before")) > 1e-12)
        .count()
      assert(badRatios === 0L)

      // the registry holds exactly the batch winners (one row per
      // distinct segment hash, at its global first occurrence)
      val nWinners = spark.read.parquet(registryPath)
        .filter(col("batch_id") >= 0).count()
      val nKept = batch.values.map(_._2).sum
      assert(nWinners === nKept)
    } finally q.stop()
  }

  test("shuffled multi-batch delivery: registry winners converge to batch x139") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("segdedup-shuffled").toString
    val (registryPath, statsPath, ckpt) =
      (s"$root/registry", s"$root/stats", s"$root/ckpt")
    Seq.empty[(Long, Long)].toDF("h", "k")
      .write.parquet(s"$registryPath/batch_id=-1")

    val docsDf = Tables(spark, sf).documents.select("doc_id", "source", "text")
    val docs = docsDf
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val cut1 = docs(docs.length / 3)._1
    val cut2 = docs(2 * docs.length / 3)._1

    val src = MemoryStream[(Long, String, String)]
    val q = SegmentDedupStream.startSegmentDedup(
      src.toDF().toDF("doc_id", "source", "text"),
      registryPath, statsPath, ckpt)
    try {
      // DESCENDING ranges + an interleaved middle — late batches carry
      // SMALLER doc_ids than earlier ones, the adversarial order for a
      // first-writer registry
      src.addData(docs.filter(_._1 > cut2): _*)
      q.processAllAvailable()
      src.addData(docs.filter(_._1 <= cut1): _*)
      q.processAllAvailable()
      src.addData(docs.filter(d => d._1 > cut1 && d._1 <= cut2): _*)
      q.processAllAvailable()
    } finally q.stop()

    // the compaction view equals the batch winner rule over the union
    def pairs(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batchWinners = pairs(
      SegmentDedupStream.segments(docsDf)
        .groupBy(col("h")).agg(min(col("k")).as("kmin")))
    assert(pairs(SegmentDedupStream.winners(spark, registryPath))
      === batchWinners)

    // and re-judging the corpus against the converged winners replays
    // the batch x139 report exactly (ints and the double ratio alike)
    val rejudged = SegmentDedupStream.segments(docsDf)
      .join(SegmentDedupStream.winners(spark, registryPath), Seq("h"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_segments"),
        graft.functions.Exact.countIf(col("k") === col("kmin")).as("n_kept"),
        sum(col("n_toks")).as("tokens_before"),
        sum(when(col("k") === col("kmin"), col("n_toks")).otherwise(0L))
          .as("tokens_after"),
        (sum(when(col("k") === col("kmin"), col("n_toks")).otherwise(0L))
          .cast("double") / sum(col("n_toks"))).as("keep_ratio"))
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    val batch = SparkEntry.queries("x139_segment_dedup")(spark, sf)
      .collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))
      .toMap
    assert(rejudged === batch)
  }
}
