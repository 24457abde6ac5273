package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup
import graft.sources.Tables

/** Multi-batch contract of the streaming embedding near-dup gate: with
  * a quantizer frozen on the full corpus's deterministic seed centroids,
  * the union of per-batch pair reports equals batch x143's pair
  * inventory EXACTLY (ids and bit-identical cosines) — ingest-time and
  * audit-time semantic dedup can never diverge. Arrival order doesn't
  * matter for the pair inventory (every pair meets exactly once: across
  * batches through the registry, within a batch through the self-join);
  * batches here arrive in vec_id order as the realistic ingest shape. */
class EmbeddingDedupStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("stream pair union across 3 batches == batch x143; registry = corpus cells") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("embdedup-stream").toString
    val (registryPath, pairsPath, ckpt) =
      (s"$root/registry", s"$root/pairs", s"$root/ckpt")
    // empty schema-bearing seed partition
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType.fromDDL(
        "vec_id BIGINT, cell BIGINT, embedding ARRAY<FLOAT>, nrm DOUBLE"))
      .write.parquet(s"$registryPath/batch_id=-1")

    val emb = Tables(spark, sf).embeddings
    val vecs = emb.select("vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
      .sortBy(_._1)
    val cut1 = vecs(vecs.length / 3)._1
    val cut2 = vecs(2 * vecs.length / 3)._1

    // quantizer frozen up front — x143's deterministic seed centroids
    val cents = Dedup.ivfCentroids(emb, "vec_id", "embedding", k = 16)

    val src = MemoryStream[(Long, Seq[Float])]
    val q = EmbeddingDedupStream.startEmbeddingNearDup(
      src.toDF().toDF("vec_id", "embedding")
        .withColumn("embedding", col("embedding").cast("array<float>")),
      cents, registryPath, pairsPath, ckpt, threshold = 0.4)
    try {
      src.addData(vecs.filter(_._1 <= cut1): _*)
      q.processAllAvailable()
      src.addData(vecs.filter(v => v._1 > cut1 && v._1 <= cut2): _*)
      q.processAllAvailable()
      src.addData(vecs.filter(_._1 > cut2): _*)
      q.processAllAvailable()

      def pairSet(df: org.apache.spark.sql.DataFrame) = df
        .select("vec_a", "vec_b", "cosine")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

      val streamed = pairSet(spark.read.parquet(pairsPath))
      val batch = pairSet(Dedup.embeddingNearDupsIvf(
        emb, "vec_id", "embedding", threshold = 0.4, k = 16))
      assert(batch.nonEmpty)
      assert(streamed === batch)

      // the registry ends as the full corpus cell index — identical to
      // the batch assignment over the same centroids
      val regCells = spark.read.parquet(registryPath)
        .filter(col("batch_id") >= 0)
        .select("vec_id", "cell")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batchCells = Dedup.ivfAssign(emb, "vec_id", "embedding", k = 16)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(regCells === batchCells)
    } finally q.stop()
  }
}
