package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Serving-mode twin of x185's RVQ asymmetric top-k — the fourth member
  * of the serving family ([[IvfPqServeStream]], [[IvfSqServeStream]],
  * [[IvfBqServeStream]]), with the additive quantizer in the scan tier:
  * queries arrive as a stream and are answered per micro-batch against
  * a STANDING index built once by [[buildIndex]] (the 8-bit code
  * registry + the ks² = 256-row additive recon table — nothing else;
  * RVQ serving holds no raw vectors and does no float math).
  *
  * Why an RVQ serving tier: the resident state is ONE byte of code per
  * vector plus a 256-row decode table — the smallest standing index in
  * the family — and the per-batch plan is a single registry scan with
  * two broadcasts (recon + the query batch), so it is the tier an
  * operator picks when index RAM is the binding constraint and the
  * 8-bit additive code's recall (measured in PqSpec and SCALE.md "Trained PQ codebooks", seed and
  * trained books both) is acceptable. `lloydIters` at build time picks
  * the seed (x184) or trained (x186) codebook rung; serving is
  * identical either way because the books are frozen into the
  * persisted frames.
  *
  * Stream ≡ batch exactly (RvqServeStreamSpec): an answer depends only
  * on the query vector and the frozen index, and the scoring tail IS
  * batch x185's ([[Dedup.rvqAnswer]]) modulo the family's external-id
  * contract (`excludeSelf = false` — a corpus member queried by its own
  * id is a legal neighbor). Answers land under
  * `answersPath/batch_id=<id>` (overwrite — the idempotent-replay
  * layout shared by every registry stream here).
  */
object RvqServeStream {

  /** Build and persist the standing index for `corpus` under
    * `indexDir`: `codes` (vid, code1, code2) and `recon` (code1, code2,
    * rv). Run once per index release; [[startServe]] only ever reads
    * these. `lloydIters > 0` trains both codebooks before freezing
    * (x186's residual-k-means rung). */
  def buildIndex(
      corpus: DataFrame, idCol: String, vecCol: String, indexDir: String,
      ks: Int = 16, lloydIters: Int = 0): Unit = {
    val (codes, recon) = Dedup.rvqIndex(corpus, idCol, vecCol, ks, lloydIters)
    codes.select(col(idCol).as("vid"), col("code1"), col("code2"))
      .write.mode("overwrite").parquet(s"$indexDir/codes")
    recon.write.mode("overwrite").parquet(s"$indexDir/recon")
  }

  /** Start serving over a streaming frame carrying (`query_id`,
    * `qvec`). Per-batch answer rows (query_id, neighbor_id, adc_dist)
    * land under `answersPath/batch_id=<id>`. The standing index is
    * loaded and PINNED once (the measured serving lesson: per-batch
    * index re-reads dominate small-batch latency). */
  def startServe(
      queryStream: DataFrame,
      indexDir: String,
      answersPath: String,
      checkpoint: String,
      topK: Int): StreamingQuery = {
    val spark = queryStream.sparkSession
    def pin(name: String): DataFrame = {
      val df = spark.read.parquet(s"$indexDir/$name")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    val (codes, recon) = (pin("codes"), pin("recon"))
    queryStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        Dedup.rvqAnswer(batch.toDF(), codes, recon, topK,
            excludeSelf = false)
          .write.mode("overwrite").parquet(s"$answersPath/batch_id=$batchId")
      }
      .start()
  }
}
