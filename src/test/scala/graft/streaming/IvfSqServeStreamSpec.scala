package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup
import graft.sources.Tables

/** Multi-batch contract of the IVF+SQ8 serving stream: answers to a
  * query set arriving in pieces, served against the standing index,
  * equal the batch answer path over the same frames — in BOTH modes
  * (rerank-free scan and shortlist + exact re-rank). */
class IvfSqServeStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("streamed query batches == batch answers; rerank mode matches x164 economics") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("ivfsq-serve").toString
    val emb = Tables(spark, sf).embeddings

    IvfSqServeStream.buildIndex(emb, "vec_id", "embedding",
      s"$root/index", k = 16)
    def part2(name: String) = spark.read.parquet(s"$root/index/$name")
    val qraw = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val queries = qraw.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

    // mode 1: rerank-free SQ8 scan
    val src = MemoryStream[(Long, Seq[Float])]
    val q = IvfSqServeStream.startServe(
      src.toDF().toDF("query_id", "qvec").select(
        col("query_id"), col("qvec").cast("array<float>")),
      s"$root/index", s"$root/answers", s"$root/ckpt",
      nprobe = 4, topK = 5)
    try {
      for (part <- 0 until 2) {
        src.addData(queries.filter(_._1 % 2 == part): _*)
        q.processAllAvailable()
      }
      val streamed = spark.read.parquet(s"$root/answers")
        .select("query_id", "neighbor_id", "sq_dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Dedup.ivfSqAnswer(qraw, part2("cents"), part2("bounds"),
        part2("codes"), part2("vectors"), nprobe = 4, topK = 5,
        shortlist = 0, excludeSelf = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // serving ids are external: the corpus member with the same id
      // must be allowed as a neighbor (its distance is the per-vector
      // DECODE error, not 0 — the asymmetric scan compares the exact
      // query against the decoded code, so even self pays the rounding)
      assert(streamed.exists { case (q0, n0, _) => q0 == n0 })
    } finally q.stop()

    // mode 2: shortlist + exact re-rank — stream == batch there too
    val src2 = MemoryStream[(Long, Seq[Float])]
    val q2 = IvfSqServeStream.startServe(
      src2.toDF().toDF("query_id", "qvec").select(
        col("query_id"), col("qvec").cast("array<float>")),
      s"$root/index", s"$root/answers2", s"$root/ckpt2",
      nprobe = 4, topK = 5, shortlist = 20)
    try {
      src2.addData(queries: _*)
      q2.processAllAvailable()
      val streamed2 = spark.read.parquet(s"$root/answers2")
        .select("query_id", "neighbor_id", "qdist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch2 = Dedup.ivfSqAnswer(qraw, part2("cents"), part2("bounds"),
        part2("codes"), part2("vectors"), nprobe = 4, topK = 5,
        shortlist = 20, excludeSelf = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed2 === batch2)
      assert(streamed2.nonEmpty)
    } finally q2.stop()
  }
}
