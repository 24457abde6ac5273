package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Serving-mode twin of x163's IVF+SQ8 search — the [[IvfPqServeStream]]
  * lifecycle with the scalar quantizer in the scan tier: queries arrive
  * as a stream and are answered per micro-batch against a STANDING
  * index built once by [[buildIndex]] (centroids + the frozen 64-row
  * SQ8 bounds grid + the cell-tagged 1-byte-per-dim code registry +
  * raw vectors for the optional re-rank).
  *
  * Why serve SQ8 next to IVFADC: per probed cell the SQ8 scan costs 8×
  * IVFADC's code rows but ranks near-exactly WITHOUT the re-rank hop at
  * `shortlist = 0` (the quantizer lab's trade, SCALE.md) — and at
  * `shortlist > 0` it is the measured FULL-recall configuration on both
  * corpus regimes (x164: 1.00 where PQ+rerank tie-collapses on
  * clustered vectors). An operator picks the tier per index release;
  * the lifecycle, pinning, and idempotent answer layout are identical.
  *
  * Stream ≡ batch exactly (IvfSqServeStreamSpec): an answer depends
  * only on the query vector and the frozen index. Answers land under
  * `answersPath/batch_id=<id>` (overwrite — the idempotent-replay
  * layout shared by every registry stream here).
  */
object IvfSqServeStream {

  /** Build and persist the standing index for `corpus` under
    * `indexDir`: `cents` (cent_id, ce, cn), `bounds` (pos, lo, hi,
    * span — the frozen grid), `codes` (vid, pos, code, cell),
    * `vectors` (vid, vec). Run once per index release; [[startServe]]
    * only ever reads these. Codes are encoded against the PERSISTED
    * bounds, so any later [[SqStream]] ingest pointed at
    * `indexDir/bounds` extends the registry consistently (out-of-range
    * arrivals saturate — the [[Dedup.sqEncode]] clamp). */
  def buildIndex(
      corpus: DataFrame, idCol: String, vecCol: String, indexDir: String,
      k: Int): Unit = {
    Dedup.ivfCentroids(corpus, idCol, vecCol, k)
      .write.mode("overwrite").parquet(s"$indexDir/cents")
    Dedup.sqBounds(corpus, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$indexDir/bounds")
    val frozenBounds = corpus.sparkSession.read.parquet(s"$indexDir/bounds")
    Dedup.sqEncode(corpus, idCol, vecCol, frozenBounds)
      .join(Dedup.ivfAssign(corpus, idCol, vecCol, k)
        .select(col(idCol), col("cell")), idCol)
      .select(col(idCol).as("vid"), col("pos"), col("code"), col("cell"))
      .write.mode("overwrite").parquet(s"$indexDir/codes")
    corpus.select(col(idCol).as("vid"), col(vecCol).as("vec"))
      .write.mode("overwrite").parquet(s"$indexDir/vectors")
  }

  /** Start serving over a streaming frame carrying (`query_id`,
    * `qvec`). Per-batch answer rows land under
    * `answersPath/batch_id=<id>` — (query_id, neighbor_id, sq_dist) at
    * `shortlist = 0`, (query_id, neighbor_id, qdist) with the exact
    * re-rank at `shortlist > 0`. The standing index is loaded and
    * PINNED once (the measured IvfPqServeStream lesson: per-batch index
    * re-reads dominated small-batch latency); `vectors` is read only
    * when re-ranking. */
  def startServe(
      queryStream: DataFrame,
      indexDir: String,
      answersPath: String,
      checkpoint: String,
      nprobe: Int, topK: Int, shortlist: Int = 0): StreamingQuery = {
    val spark = queryStream.sparkSession
    def pin(name: String): DataFrame = {
      val df = spark.read.parquet(s"$indexDir/$name")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    val (cents, bounds, codes) = (pin("cents"), pin("bounds"), pin("codes"))
    val vectors =
      if (shortlist > 0) pin("vectors")
      else spark.read.parquet(s"$indexDir/vectors")
    queryStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // excludeSelf = false: serving query ids are EXTERNAL (the
        // IvfPqServeStream contract, verbatim)
        Dedup.ivfSqAnswer(
            batch.toDF(), cents, bounds, codes, vectors,
            nprobe, topK, shortlist, excludeSelf = false)
          .write.mode("overwrite").parquet(s"$answersPath/batch_id=$batchId")
      }
      .start()
  }
}
