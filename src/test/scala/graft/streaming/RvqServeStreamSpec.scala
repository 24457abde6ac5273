package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup
import graft.sources.Tables

/** Multi-batch contract of the RVQ serving stream: answers to a query
  * set arriving in pieces, served against the standing code registry +
  * recon table, equal the batch answer path over the same frames — and
  * that answer path with `excludeSelf = true` IS oracle-green batch
  * x185 (pinned here directly, so stream ≡ x185 modulo the documented
  * external-id contract). */
class RvqServeStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("streamed query batches == batch answers; answer path == batch x185") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("rvq-serve").toString
    val emb = Tables(spark, sf).embeddings

    RvqServeStream.buildIndex(emb, "vec_id", "embedding", s"$root/index")
    def part2(name: String) = spark.read.parquet(s"$root/index/$name")
    val qraw = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val queries = qraw.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

    val src = MemoryStream[(Long, Seq[Float])]
    val q = RvqServeStream.startServe(
      src.toDF().toDF("query_id", "qvec").select(
        col("query_id"), col("qvec").cast("array<float>")),
      s"$root/index", s"$root/answers", s"$root/ckpt", topK = 5)
    try {
      for (part <- 0 until 2) {
        src.addData(queries.filter(_._1 % 2 == part): _*)
        q.processAllAvailable()
      }
      val streamed = spark.read.parquet(s"$root/answers")
        .select("query_id", "neighbor_id", "adc_dist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val batch = Dedup.rvqAnswer(qraw, part2("codes"), part2("recon"),
          topK = 5, excludeSelf = false)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // serving ids are external: the corpus member with the same id is
      // a legal CANDIDATE at ADC distance exactly err2 (its own
      // quantization error — RVQ has no exact re-rank tier, so unlike
      // IvfBq the self distance is not 0). Therefore every query's
      // best served answer must be at least that good: min(adc_dist)
      // ≤ own err2, per query.
      val err2 = Dedup.rvqEncode(emb, "vec_id", "embedding")
        .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
      val bestServed = streamed.groupBy(_._1).map { case (q0, rows) =>
        q0 -> rows.map(_._3).min }
      bestServed.foreach { case (q0, best) =>
        assert(best <= err2(q0),
          s"query $q0 served best $best worse than its own err2 ${err2(q0)}")
      }

      // the SAME answer path with the family's self-exclusion is batch
      // x185 — pinned row-for-row against Dedup.rvqSearch
      val viaAnswer = Dedup.rvqAnswer(qraw, part2("codes"), part2("recon"),
          topK = 5, excludeSelf = true)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val x185 = Dedup.rvqSearch(emb, "vec_id", "embedding",
          col("vec_id") < 10, topK = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(viaAnswer === x185)
    } finally q.stop()
  }
}
