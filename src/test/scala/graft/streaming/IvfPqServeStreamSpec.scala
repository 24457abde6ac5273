package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup
import graft.sources.Tables

/** Multi-batch contract of the IVFADC serving stream: answers to a
  * query set arriving in pieces, served against the standing index,
  * equal batch ivfPqSearch over the same corpus and parameters —
  * answers depend only on the query vector and the frozen index. */
class IvfPqServeStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("streamed query batches == batch x153 on the same index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("ivfpq-serve").toString
    val emb = Tables(spark, sf).embeddings

    IvfPqServeStream.buildIndex(emb, "vec_id", "embedding",
      s"$root/index", k = 16)

    val queries = emb.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))

    val src = MemoryStream[(Long, Seq[Float])]
    val q = IvfPqServeStream.startServe(
      src.toDF().toDF("query_id", "qvec").select(
        col("query_id"), col("qvec").cast("array<float>")),
      s"$root/index", s"$root/answers", s"$root/ckpt",
      nprobe = 4, topK = 5)
    try {
      for (part <- 0 until 2) {
        src.addData(queries.filter(_._1 % 2 == part): _*)
        q.processAllAvailable()
      }
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "neighbor_id", "qdist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val streamed = canon(spark.read.parquet(s"$root/answers"))
      // batch twin under the SERVING contract (excludeSelf=false —
      // serving ids are external, so an id collision with a corpus vid
      // must not drop that neighbor): same standing index frames.
      def part2(name: String) = spark.read.parquet(s"$root/index/$name")
      val qraw = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val batch = canon(Dedup.ivfPqAnswer(qraw, part2("cents"), part2("book"),
        part2("codes"), part2("vectors"), nprobe = 4, topK = 5,
        shortlist = 50, m = 8, subDim = 8, excludeSelf = false))
      assert(streamed === batch)
      assert(streamed.nonEmpty)
      // the collision pin: these query ids DO collide with corpus vids
      // (they are corpus members), and serving still returns the
      // colliding vector (distance 0) instead of silently dropping it
      assert(queries.forall { case (qid, _) => streamed((qid, qid, 0L)) })
      // ...while the batch corpus-member path keeps self-exclusion
      val excl = canon(Dedup.ivfPqSearch(emb, "vec_id", "embedding",
        col("vec_id") < 10, k = 16, nprobe = 4, topK = 5, shortlist = 50))
      assert(excl.forall { case (qid, nid, _) => qid != nid })
    } finally q.stop()
  }

  test("trained-codebook index: serve ≡ batch answer core against the same frames") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("ivfpq-serve-tr").toString
    val emb = Tables(spark, sf).embeddings
    IvfPqServeStream.buildIndex(emb, "vec_id", "embedding",
      s"$root/index", k = 16, trainIters = 1)
    // the persisted codes must be encodings against the persisted
    // TRAINED book (not the seed book)
    val book = spark.read.parquet(s"$root/index/book")
    val expectCodes = Dedup.pqEncode(emb, "vec_id", "embedding", book)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val gotCodes = spark.read.parquet(s"$root/index/codes")
      .select("vid", "sub", "code")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotCodes === expectCodes)
    val seedCodes = Dedup.pqCodes(emb, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(gotCodes !== seedCodes, "training should change some codes")

    val queries = emb.filter(col("vec_id") < 6)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1)))
    val src = MemoryStream[(Long, Seq[Float])]
    val q = IvfPqServeStream.startServe(
      src.toDF().toDF("query_id", "qvec").select(
        col("query_id"), col("qvec").cast("array<float>")),
      s"$root/index", s"$root/answers", s"$root/ckpt",
      nprobe = 4, topK = 5)
    try {
      src.addData(queries.toSeq: _*)
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df
        .select("query_id", "neighbor_id", "qdist").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      def part(name: String) = spark.read.parquet(s"$root/index/$name")
      val qraw = emb.filter(col("vec_id") < 6)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val batch = canon(Dedup.ivfPqAnswer(qraw, part("cents"), part("book"),
        part("codes"), part("vectors"), nprobe = 4, topK = 5,
        shortlist = 50, m = 8, subDim = 8, excludeSelf = false))
      assert(canon(spark.read.parquet(s"$root/answers")) === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }
}
