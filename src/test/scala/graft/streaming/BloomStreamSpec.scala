package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.SparkSuite
import graft.sources.Tables

/** Multi-batch contract of the streaming Bloom gate: the union of
  * per-batch reports over a train corpus arriving in pieces equals the
  * batch x145 report over the whole corpus — INCLUDING the filter's
  * deterministic false positives, which depend only on the bits fixed
  * at build time, never on batch boundaries. */
class BloomStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("stream reports across 3 batches == batch x145 on the same corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("bloom-stream").toString
    val (filterPath, reportsPath, ckpt) =
      (s"$root/filter", s"$root/reports", s"$root/ckpt")

    val docs = Tables(spark, sf).documents
    BloomStream.buildFilter(
      docs.filter(col("doc_id") % 97 === 0), filterPath, "doc_id", "text")

    val train = docs.filter(col("doc_id") % 97 =!= 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))

    val src = MemoryStream[(Long, String)]
    val q = BloomStream.startBloomGate(
      src.toDF().toDF("doc_id", "text"),
      filterPath, reportsPath, ckpt, "doc_id", "text")
    try {
      for (part <- 0 until 3) {
        src.addData(train.filter(_._1 % 3 == part): _*)
        q.processAllAvailable()
      }
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("doc_id", "n_grams", "n_bloom_hits", "bloom_contaminated")
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
        .toSet
      val streamed = canon(spark.read.parquet(reportsPath))
      val batch = canon(
        SparkEntry.queries("x145_bloom_decontamination")(spark, sf))
      assert(streamed === batch)
      // the gate's reason to exist: its state is broadcast-sized
      assert(spark.read.parquet(filterPath).count() <= (65536 + 62) / 63)
    } finally q.stop()
  }
}
