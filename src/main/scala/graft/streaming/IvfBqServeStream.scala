package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Serving-mode twin of x172's IVF+BQ search — the third member of the
  * serving family ([[IvfPqServeStream]], [[IvfSqServeStream]]), with
  * the 1-bit quantizer in the scan tier: queries arrive as a stream and
  * are answered per micro-batch against a STANDING index built once by
  * [[buildIndex]] (centroids + the frozen sign-threshold frame + the
  * cell-tagged 2-words-per-vector code registry + raw vectors for the
  * re-rank).
  *
  * Why a BQ serving tier: the resident code registry is 8 bytes per
  * vector — 8× under SQ8's, 4× under packed PQ's — and the per-cell
  * scan is one XOR+POPCNT per word row, so this is the tier an
  * operator picks when the index must fit the smallest RAM budget. The
  * exact re-rank is NOT optional here (flat Hamming cannot rank inside
  * its 65-value tie bands — the x169 measurement), so unlike its
  * siblings this stream has no rerank-free mode: `shortlist` must be
  * positive.
  *
  * Stream ≡ batch exactly (IvfBqServeStreamSpec): an answer depends
  * only on the query vector and the frozen index. Answers land under
  * `answersPath/batch_id=<id>` (overwrite — the idempotent-replay
  * layout shared by every registry stream here).
  */
object IvfBqServeStream {

  /** Build and persist the standing index for `corpus` under
    * `indexDir`: `cents` (cent_id, ce, cn), `thresholds` (pos, s, cnt —
    * the frozen sign planes), `codes` (vid, word, code, cell),
    * `vectors` (vid, vec). Run once per index release; [[startServe]]
    * only ever reads these. Codes are encoded against the PERSISTED
    * thresholds, so any later [[BqStream]] ingest pointed at
    * `indexDir/thresholds` extends the registry consistently. */
  def buildIndex(
      corpus: DataFrame, idCol: String, vecCol: String, indexDir: String,
      k: Int): Unit = {
    Dedup.ivfCentroids(corpus, idCol, vecCol, k)
      .write.mode("overwrite").parquet(s"$indexDir/cents")
    Dedup.bqThresholds(corpus, idCol, vecCol)
      .write.mode("overwrite").parquet(s"$indexDir/thresholds")
    val frozenThr = corpus.sparkSession.read.parquet(s"$indexDir/thresholds")
    Dedup.bqEncode(corpus, idCol, vecCol, frozenThr)
      .join(Dedup.ivfAssign(corpus, idCol, vecCol, k)
        .select(col(idCol), col("cell")), idCol)
      .select(col(idCol).as("vid"), col("word"), col("code"), col("cell"))
      .write.mode("overwrite").parquet(s"$indexDir/codes")
    corpus.select(col(idCol).as("vid"), col(vecCol).as("vec"))
      .write.mode("overwrite").parquet(s"$indexDir/vectors")
  }

  /** Start serving over a streaming frame carrying (`query_id`,
    * `qvec`). Per-batch answer rows (query_id, neighbor_id, qdist) land
    * under `answersPath/batch_id=<id>`. The standing index is loaded
    * and PINNED once (the measured serving lesson: per-batch index
    * re-reads dominate small-batch latency). `shortlist` must be > 0 —
    * see the object scaladoc. */
  def startServe(
      queryStream: DataFrame,
      indexDir: String,
      answersPath: String,
      checkpoint: String,
      nprobe: Int, topK: Int, shortlist: Int = 50): StreamingQuery = {
    require(shortlist > 0,
      "BQ serving has no rerank-free mode: flat Hamming cannot rank inside its tie bands")
    val spark = queryStream.sparkSession
    def pin(name: String): DataFrame = {
      val df = spark.read.parquet(s"$indexDir/$name")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count()
      df
    }
    val (cents, thresholds, codes, vectors) =
      (pin("cents"), pin("thresholds"), pin("codes"), pin("vectors"))
    queryStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // excludeSelf = false: serving query ids are EXTERNAL (the
        // serving-family contract)
        Dedup.ivfBqAnswer(
            batch.toDF(), cents, thresholds, codes, vectors,
            nprobe, topK, shortlist, excludeSelf = false)
          .write.mode("overwrite").parquet(s"$answersPath/batch_id=$batchId")
      }
      .start()
  }
}
