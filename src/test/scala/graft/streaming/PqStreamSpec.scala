package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup
import graft.sources.Tables

/** Multi-batch contract of the streaming PQ encoder: the union of
  * per-batch code frames over a corpus arriving in pieces equals batch
  * [[Dedup.pqCodes]] over the whole corpus — codes are per-vector facts
  * under the frozen codebook, independent of batch boundaries. */
class PqStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("stream codes across 3 batches == batch pqCodes on the same corpus") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("pq-stream").toString
    val emb = Tables(spark, sf).embeddings

    // codebook fitted once on the full corpus's deterministic seeds —
    // the stream then sees the SAME corpus arrive in 3 batches
    val book = Dedup.pqCodebook(emb, "vec_id", "embedding")

    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

    val src = MemoryStream[(Long, Seq[Float])]
    val q = PqStream.startPqEncode(
      src.toDF().toDF("vec_id", "embedding").select(
        col("vec_id"), col("embedding").cast("array<float>")),
      book, s"$root/codes", s"$root/ckpt", "vec_id", "embedding")
    try {
      for (part <- 0 until 3) {
        src.addData(vecs.filter(_._1 % 3 == part): _*)
        q.processAllAvailable()
      }
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("vec_id", "sub", "code").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
      val streamed = canon(spark.read.parquet(s"$root/codes"))
      val batch = canon(Dedup.pqCodes(emb, "vec_id", "embedding"))
      assert(streamed === batch)
      assert(streamed.size === emb.count() * 8)
    } finally q.stop()
  }
}
