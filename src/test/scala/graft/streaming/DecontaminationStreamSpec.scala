package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.SparkSuite
import graft.sources.Tables

/** Multi-batch contract of the streaming decontamination gate: the union
  * of per-batch verdicts over a train corpus arriving in pieces equals
  * the batch x119 audit over the whole corpus — ingest-time and
  * audit-time decisions can never diverge. */
class DecontaminationStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("stream verdicts across 3 batches == batch x119 on the same corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("decon-stream").toString
    val (benchPath, verdictsPath, ckpt) =
      (s"$root/bench", s"$root/verdicts", s"$root/ckpt")

    val docs = Tables(spark, sf).documents
    docs.filter(col("doc_id") % 97 === 0)
      .select("doc_id", "text").write.parquet(benchPath)
    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))

    val src = MemoryStream[(Long, String)]
    val q = DecontaminationStream.startDecontamination(
      src.toDF().toDF("doc_id", "text"),
      benchPath, verdictsPath, ckpt, "doc_id", "text", threshold = 0.5)
    try {
      // the corpus arrives in three arbitrary pieces
      for (part <- 0 until 3) {
        src.addData(train.filter(_._1 % 3 == part): _*)
        q.processAllAvailable()
      }
      val streamed = spark.read.parquet(verdictsPath)
        .select("train_id", "bench_id", "common", "jaccard")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val batch = SparkEntry.queries("x119_neardup_decontamination")(spark, sf)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(batch.nonEmpty, "fixture must contain contaminated docs")
      assert(streamed === batch)
      // per-batch layout: each batch wrote only its own partition, and no
      // train doc is judged twice
      val perBatch = spark.read.parquet(verdictsPath)
        .select(col("batch_id").cast("long")).distinct()
        .collect().map(_.getLong(0)).toSet
      assert(perBatch.subsetOf(Set(0L, 1L, 2L)))
      val ids = spark.read.parquet(verdictsPath)
        .select("train_id").collect().map(_.getLong(0))
      assert(ids.length === ids.distinct.length)
    } finally q.stop()
  }
}
