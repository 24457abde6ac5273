package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup
import graft.sources.Tables

/** Multi-batch contract of the streaming BQ encoder: words encoded
  * against the frozen seed thresholds equal batch [[Dedup.bqEncode]]
  * under the same thresholds over any batching — including arrivals
  * whose values sit outside the seed range, where the total sign rule
  * just takes the corresponding branch (no clamp case exists). */
class BqStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("streamed words across 3 batches == batch bqEncode under frozen seed thresholds") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("bq-stream").toString
    val emb = Tables(spark, sf).embeddings
    // thresholds from a SEED slice only — the stream then encodes the
    // full corpus, including vectors the fit never saw
    val seed = emb.filter(col("vec_id") % 5 === 0)
    val thr = Dedup.bqThresholds(seed, "vec_id", "embedding")
      .localCheckpoint(true)

    val all = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val src = MemoryStream[(Long, Seq[Float])]
    val q = BqStream.startBqEncode(
      src.toDF().toDF("vec_id", "embedding")
        .select(col("vec_id"), col("embedding").cast("array<float>")),
      thr, s"$root/codes", s"$root/ckpt", "vec_id", "embedding")
    try {
      for (part <- 0 until 3) {
        src.addData(all.filter(_._1 % 3 == part): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "word", "code").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamed = canon(spark.read.parquet(s"$root/codes"))
    val batch = canon(Dedup.bqEncode(emb, "vec_id", "embedding", thr))
    assert(streamed === batch)
    assert(streamed.size === emb.count() * 2)
  }
}
