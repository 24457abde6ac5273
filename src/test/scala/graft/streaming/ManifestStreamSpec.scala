package graft.streaming

import java.nio.file.Files

import graft.SparkSuite
import graft.operators.Corpus

/** Streaming manifest contract: per-batch shard-manifest partials merge
  * into EXACTLY the one-shot batch manifest — counts add, id ranges
  * combine, and the XOR checksum folds associatively across batches. */
class ManifestStreamSpec extends SparkSuite {
  private def asMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap

  test("merged stream partials == one-shot batch manifest, bit-identical") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("manifest-stream").toString
    val (partialsPath, ckpt) = (s"$root/partials", s"$root/ckpt")

    val incoming = (1L to 90L).map(i => (i, s"doc $i body word$i"))

    val src = MemoryStream[(Long, String)]
    val q = ManifestStream.startManifest(
      src.toDF().toDF("doc_id", "text"), partialsPath, ckpt, "doc_id", "text", 8)
    try {
      incoming.grouped(30).foreach { b => src.addData(b: _*); q.processAllAvailable() }

      val oneShot = asMap(Corpus.shardManifest(
        incoming.toDF("doc_id", "text"), "doc_id", "text", 8))
      val streamed = asMap(ManifestStream.manifest(spark, partialsPath))

      assert(streamed === oneShot)
      assert(streamed.values.map(_._1).sum === 90L)
      // three batch partitions landed, each at most |shards| rows
      val partials = spark.read.parquet(partialsPath)
      assert(partials.count() <= 3L * 8)
    } finally q.stop()
  }
}
