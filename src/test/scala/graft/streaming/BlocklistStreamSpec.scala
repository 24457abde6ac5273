package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** Multi-batch contract of the streaming blocklist gate: kept set
  * equals batch x180's kept set over any batching (verdicts are
  * within-document against a static list), and metrics account for
  * every document and every match exactly once. */
class BlocklistStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"
  private val phrases =
    Seq("slow scan", "fast table", "big vector", "key agg row",
      "scan slow fast")

  test("stream kept docs across 3 batches == batch x180; metrics account for all") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("blocklist-stream").toString
    val docs = Tables(spark, sf).documents
    val all = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)]
    val q = BlocklistStream.startBlocklistGate(
      src.toDF().toDF("doc_id", "text"), phrases,
      s"$root/kept", s"$root/metrics", s"$root/ckpt", "doc_id", "text")
    try {
      for (part <- Seq(1, 2, 0)) {
        src.addData(all.filter(_._1 % 3 == part): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val batch = graft.SparkEntry.queries("x180_blocklist_gate")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(3)))
    val batchKept = batch.filter(_._3).map(_._1).toSet
    val streamedKept = spark.read.parquet(s"$root/kept")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamedKept === batchKept)
    assert(streamedKept.size < all.length) // the gate actually fires

    val m = spark.read.parquet(s"$root/metrics")
      .agg(sum("n_docs"), sum("n_kept"), sum("n_matches")).head()
    assert(m.getLong(0) === all.length.toLong)
    assert(m.getLong(1) === batchKept.size.toLong)
    assert(m.getLong(2) === batch.map(_._2).sum)
  }
}
