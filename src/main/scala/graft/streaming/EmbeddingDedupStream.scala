package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructField, StructType}

import graft.operators.Dedup

/** Streaming twin of x143's IVF-cell embedding near-dup — the
  * ingest-time semantic gate of a continuously assembled corpus: each
  * arriving micro-batch's vectors are assigned to their IVF cell
  * (broadcast centroids, fitted ONCE on a seed corpus via
  * [[Dedup.ivfCentroids]] — a fixed quantizer is what keeps incremental
  * assignment consistent with the batch index), then exactly rescored
  * against the STANDING members of the same cell plus the other vectors
  * of the same batch; every cosine ≥ `threshold` pair is reported, and
  * the batch's vectors extend the cell registry — so later arrivals are
  * judged against everything indexed before them, and the union of
  * per-batch pair reports is exactly the batch operator's pair
  * inventory over the same vectors and centroids
  * (EmbeddingDedupStreamSpec pins stream ≡ batch x143 across batches).
  *
  * Scale shape: candidate work per batch is O(batch × cell-slice), not
  * batch × corpus — the registry is only ever probed through the cell
  * equi-join (the same k-knob linear-work contract as batch x143: cell
  * count ∝ corpus/target_cell), the centroid frame is collected once on
  * the driver (small by contract — k rows) and re-broadcast per batch,
  * and the registry is append-only parquet partitioned by batch_id with
  * the batch's own partition excluded on read, so a replayed batch
  * overwrites its previous attempt instead of judging against it (the
  * [[SegmentDedupStream]] idempotence pattern). The registry stores
  * each vector's norm alongside its components, so rescoring never
  * recomputes corpus-side norms.
  */
object EmbeddingDedupStream {

  // containsNull = false: centroids are Dedup.ivfCentroids means —
  // never null-slotted — and a nullable element type here would drag
  // the per-slot isNullAt branch back into every rescore dot loop
  // (anyElementNullable is an EITHER-side switch)
  private val centroidSchema = StructType(Seq(
    StructField("cent_id", LongType),
    StructField("ce", ArrayType(FloatType, containsNull = false)),
    StructField("cn", DoubleType)))

  /** Start the gate over a streaming frame carrying (vec_id, embedding).
    * Near-dup pairs (vec_a < vec_b, cosine) land under
    * `pairsPath/batch_id=<id>`; the growing cell index under
    * `registryPath/batch_id=<id>` (seed any pre-existing corpus under
    * batch_id=-1 with columns (vec_id, cell, embedding, nrm)).
    * `centroids` is the (cent_id, ce, cn) frame from
    * [[Dedup.ivfCentroids]] — collected here, once, so the quantizer is
    * frozen for the life of the query. */
  def startEmbeddingNearDup(
      newVecs: DataFrame,
      centroids: DataFrame,
      registryPath: String,
      pairsPath: String,
      checkpoint: String,
      threshold: Double,
      compactMaxParts: Int = 0): StreamingQuery = {
    val centRows: Array[Row] = centroids
      .select(col("cent_id").cast("long"), col("ce"), col("cn").cast("double"))
      .collect()
    newVecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val cents = spark.createDataFrame(
          spark.sparkContext.parallelize(centRows.toSeq, 1), centroidSchema)
        // both sides of every rescore carry the registry's write
        // contract (the engine never emits null elements), so re-tag
        // containsNull = false at the two read boundaries — parquet
        // and foreachBatch DDL schemas always decode elements as
        // nullable, which would emit the per-slot branch in the dot
        // loops (round-17 verdict item 1)
        val standing = RegistryCompaction.standing(spark, registryPath, batchId,
            compactMaxParts,
            Some("vec_id BIGINT, cell BIGINT, embedding ARRAY<FLOAT>, nrm DOUBLE, batch_id BIGINT"))
          .select(col("vec_id"), col("cell"),
            expr("known_not_null_elements(embedding)").as("embedding"), col("nrm"))
        val assigned = Dedup.assignToCells(
            Dedup.withNorm(
              batch.toDF().withColumn(
                "embedding", expr("known_not_null_elements(embedding)")),
              "vec_id", "embedding"), cents, "vec_id")
          .withColumn("cell", col("cell").cast("long"))
          .transform(graft.plans.Pin.pin)

        def sideA(df: DataFrame) = df.select(col("cell"),
          col("vec_id").as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
        def sideB(df: DataFrame) = df.select(col("cell"),
          col("vec_id").as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
        def rescore(a: DataFrame, b: DataFrame): DataFrame = a
          .join(b, Seq("cell"))
          .filter(col("vec_a") < col("vec_b"))
          .select(col("vec_a"), col("vec_b"),
            (expr("float_vec_dot(ea, eb)") / (col("na") * col("nb"))).as("cosine"))
          .filter(col("cosine") >= threshold)

        // standing × new (both id orientations) plus new × new within
        // the batch — one union, one write, idempotent per batch_id
        rescore(sideA(standing), sideB(assigned))
          .unionAll(rescore(sideA(assigned), sideB(standing)))
          .unionAll(rescore(sideA(assigned), sideB(assigned)))
          .write.mode("overwrite").parquet(s"$pairsPath/batch_id=$batchId")
        assigned
          .select(col("vec_id"), col("cell"), col("embedding"), col("nrm"))
          .write.mode("overwrite").parquet(s"$registryPath/batch_id=$batchId")
        Dedup.release(assigned)
      }
      .start()
  }
}
