package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}

import graft.operators.Dedup

/** Streaming twin of x149's product-quantization encoder — index-at-
  * ingest: each arriving micro-batch's vectors are PQ-encoded against a
  * codebook fitted ONCE on a seed corpus ([[Dedup.pqCodebook]],
  * collected here and re-broadcast per batch) and appended to a code
  * registry. At 100 TB this is how the ADC-searchable code image (32
  * bits/vector at the 8×16 default — SCALE.md "Product quantization")
  * is kept current without ever re-scanning the corpus: encoding cost
  * is per-arrival, the registry is append-only, and any [[Dedup.pqSearch]]-
  * shaped ADC scan over the accumulated codes is valid at any moment
  * because codes are per-vector facts under a frozen codebook.
  *
  * Stream ≡ batch exactly (PqStreamSpec): a vector's code depends only
  * on the vector and the codebook — never on batch boundaries or
  * arrival order — so the union of per-batch code frames over ANY
  * partition of the corpus equals batch [[Dedup.pqCodes]] over the
  * whole corpus. (A moving codebook would silently re-code history;
  * freezing it is what makes incremental ≡ batch — the same discipline
  * as [[EmbeddingDedupStream]]'s fixed IVF quantizer.)
  *
  * Idempotence: each batch's codes land under
  * `codesPath/batch_id=<id>` with overwrite mode; replays overwrite
  * their previous attempt; no cross-batch state exists to corrupt.
  */
object PqStream {

  private val codebookSchema = StructType(Seq(
    StructField("cent_id", LongType),
    StructField("ce", ArrayType(FloatType))))

  /** Start the encoder over a streaming frame carrying (`idCol`,
    * `vecCol`). Code rows (idCol, sub, code — the [[Dedup.pqCodes]]
    * schema) land under `codesPath/batch_id=<id>`. `codebook` is the
    * (cent_id, ce) frame from [[Dedup.pqCodebook]] — collected once
    * here, so the quantizer is frozen for the life of the query. */
  def startPqEncode(
      newVecs: DataFrame,
      codebook: DataFrame,
      codesPath: String,
      checkpoint: String,
      idCol: String,
      vecCol: String,
      m: Int = 8,
      subDim: Int = 8): StreamingQuery = {
    val bookRows: Array[Row] = codebook
      .select(col("cent_id").cast("long"), col("ce")).collect()
    newVecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val book = spark.createDataFrame(
          spark.sparkContext.parallelize(bookRows.toSeq, 1), codebookSchema)
        Dedup.pqEncode(batch.toDF(), idCol, vecCol, book, m, subDim)
          .write.mode("overwrite").parquet(s"$codesPath/batch_id=$batchId")
      }
      .start()
  }
}
