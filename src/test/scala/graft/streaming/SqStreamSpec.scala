package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup
import graft.sources.Tables

/** Multi-batch contract of the streaming SQ8 encoder: the union of
  * per-batch code frames over a corpus arriving in pieces equals batch
  * [[Dedup.sqEncode]] over the whole corpus under the same frozen
  * bounds, and an arrival OUTSIDE the seed bounds saturates to the grid
  * edges instead of wrapping. */
class SqStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("stream codes across 3 batches == batch sqEncode; out-of-range saturates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("sq-stream").toString
    val emb = Tables(spark, sf).embeddings

    // bounds fitted once on the full corpus — the stream then sees the
    // SAME corpus arrive in 3 batches, plus one out-of-range intruder
    val bounds = Dedup.sqBounds(emb, "vec_id", "embedding")

    val vecs = emb.select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val dim = vecs.head._2.length
    val intruderId = 1000000L
    val intruder = (intruderId,
      Seq.tabulate(dim)(i => if (i % 2 == 0) 1e6f else -1e6f))

    val src = MemoryStream[(Long, Seq[Float])]
    val q = SqStream.startSqEncode(
      src.toDF().toDF("vec_id", "embedding").select(
        col("vec_id"), col("embedding").cast("array<float>")),
      bounds, s"$root/codes", s"$root/ckpt", "vec_id", "embedding")
    try {
      for (part <- 0 until 3) {
        val data = vecs.filter(_._1 % 3 == part) ++
          (if (part == 2) Seq(intruder) else Nil)
        src.addData(data: _*)
        q.processAllAvailable()
      }

      val streamed = spark.read.parquet(s"$root/codes")
        .select("vec_id", "pos", "code").collect()
        .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
      val batch = Dedup.sqEncode(emb, "vec_id", "embedding", bounds)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap

      // corpus members: per-(vector, dim) codes identical to batch
      assert(streamed.view.filterKeys(_._1 != intruderId).toMap === batch)
      // the intruder saturated to the grid edges — never wrapped
      val intruderCodes = streamed.collect {
        case ((id, pos), c) if id == intruderId => (pos, c)
      }
      assert(intruderCodes.size === dim)
      assert(intruderCodes.forall { case (pos, c) =>
        if (pos % 2 == 0) c == 255L else c == 0L
      })
    } finally q.stop()
  }
}
