package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup
import graft.sources.Tables

/** Multi-batch contract of the IVF+BQ serving stream: answers to a
  * query set arriving in pieces, served against the standing index,
  * equal the batch answer path over the same frames. The mandatory
  * re-rank contract is also pinned: shortlist = 0 must be refused. */
class IvfBqServeStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("streamed query batches == batch answers; rerank-free mode refused") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("ivfbq-serve").toString
    val emb = Tables(spark, sf).embeddings

    IvfBqServeStream.buildIndex(emb, "vec_id", "embedding",
      s"$root/index", k = 16)
    def part2(name: String) = spark.read.parquet(s"$root/index/$name")
    val qraw = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val queries = qraw.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

    val src = MemoryStream[(Long, Seq[Float])]
    val q = IvfBqServeStream.startServe(
      src.toDF().toDF("query_id", "qvec").select(
        col("query_id"), col("qvec").cast("array<float>")),
      s"$root/index", s"$root/answers", s"$root/ckpt",
      nprobe = 4, topK = 5, shortlist = 20)
    try {
      for (part <- 0 until 2) {
        src.addData(queries.filter(_._1 % 2 == part): _*)
        q.processAllAvailable()
      }
      val streamed = spark.read.parquet(s"$root/answers")
        .select("query_id", "neighbor_id", "qdist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Dedup.ivfBqAnswer(qraw, part2("cents"), part2("thresholds"),
        part2("codes"), part2("vectors"), nprobe = 4, topK = 5,
        shortlist = 20, excludeSelf = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // serving ids are external: the corpus member with the same id is
      // a legal neighbor, and under the EXACT re-rank its distance is 0
      assert(streamed.exists { case (q0, n0, d) => q0 == n0 && d == 0L })
    } finally q.stop()

    intercept[IllegalArgumentException] {
      IvfBqServeStream.startServe(
        src.toDF().toDF("query_id", "qvec"),
        s"$root/index", s"$root/never", s"$root/ckptx",
        nprobe = 4, topK = 5, shortlist = 0)
    }
  }
}
