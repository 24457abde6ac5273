package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Serving-mode twin of x153's IVFADC search — queries arrive as a
  * stream and are answered per micro-batch against a STANDING index
  * built once by [[buildIndex]]: centroids + PQ codebook (broadcast-
  * sized), the cell-tagged code registry, and the raw vectors (touched
  * only for the shortlist re-rank). This closes the ANN lifecycle the
  * streaming layer already covers for dedup: [[PqStream]] encodes at
  * ingest, this serves at query time — per-batch cost is
  * (n/k)·nprobe code rows per query plus an O(queries·shortlist)
  * vector fetch, independent of the query stream's history.
  *
  * Stream ≡ batch exactly (IvfPqServeStreamSpec): an answer depends
  * only on the query vector and the frozen index — never on batch
  * boundaries — so per-batch answers over any partition of a query set
  * equal batch [[Dedup.ivfPqSearch]] over the same corpus and
  * parameters. Answers land under `answersPath/batch_id=<id>`
  * (overwrite mode — the idempotent-replay layout shared by every
  * registry stream here).
  */
object IvfPqServeStream {

  /** Build and persist the standing index for `corpus` under
    * `indexDir`: `cents` (cent_id, ce, cn), `book` (cent_id, ce),
    * `codes` (vid, sub, code, cell), `vectors` (vid, vec). Run once
    * per index release; [[startServe]] only ever reads these.
    *
    * `trainIters > 0` fits the PQ codebook by that many per-subspace
    * Lloyd rounds ([[Dedup.pqCodebookLloyd]]) before encoding — on
    * clustered corpora one round cuts quantization distortion ~40% and
    * lifts re-rank recall (SCALE.md "Trained PQ codebooks (round 10)"); because
    * the book is PERSISTED and every later encode (this one and any
    * [[PqStream]] ingest pointed at `indexDir/book`) runs against the
    * frozen trained frame, incremental ≡ batch is preserved exactly as
    * with the seed book. */
  def buildIndex(
      corpus: DataFrame, idCol: String, vecCol: String, indexDir: String,
      k: Int, m: Int = 8, subDim: Int = 8, ks: Int = 16,
      trainIters: Int = 0): Unit = {
    val cents = Dedup.ivfCentroids(corpus, idCol, vecCol, k)
    cents.write.mode("overwrite").parquet(s"$indexDir/cents")
    val book =
      if (trainIters > 0)
        Dedup.pqCodebookLloyd(corpus, idCol, vecCol, trainIters, m, subDim, ks)
      else Dedup.pqCodebook(corpus, idCol, vecCol, ks)
    book.write.mode("overwrite").parquet(s"$indexDir/book")
    val frozenBook = corpus.sparkSession.read.parquet(s"$indexDir/book")
    Dedup.pqEncode(corpus, idCol, vecCol, frozenBook, m, subDim)
      .join(Dedup.ivfAssign(corpus, idCol, vecCol, k)
        .select(col(idCol), col("cell")), idCol)
      .select(col(idCol).as("vid"), col("sub"), col("code"), col("cell"))
      .write.mode("overwrite").parquet(s"$indexDir/codes")
    corpus.select(col(idCol).as("vid"), col(vecCol).as("vec"))
      .write.mode("overwrite").parquet(s"$indexDir/vectors")
  }

  /** Start serving over a streaming frame carrying (`query_id`,
    * `qvec`). Per-batch answer rows (query_id, neighbor_id, qdist —
    * the x153 schema) land under `answersPath/batch_id=<id>`.
    *
    * The standing index is loaded and PINNED once here — per-batch
    * re-reads of the index parquet were the measured fixed cost of
    * every micro-batch (SCALE.md "IVFADC serving, measured (round 10)":
    * footer reads + re-planning dominated small-batch latency). `cents`/`book` are broadcast-sized
    * by construction; `codes` is the RAM-resident piece of the IVFADC
    * memory story (8 bytes/vector packed-equivalent — caching it IS the
    * design); `vectors` is touched only for `queries × shortlist` rows
    * per batch and spills to disk harmlessly under MEMORY_AND_DISK at
    * scales where it outgrows executor storage. The cache lives with
    * the session; stopping the query releases it on the next eviction
    * (or unpersist the frames explicitly when decommissioning an index
    * release). */
  def startServe(
      queryStream: DataFrame,
      indexDir: String,
      answersPath: String,
      checkpoint: String,
      nprobe: Int, topK: Int, shortlist: Int = 50,
      m: Int = 8, subDim: Int = 8): StreamingQuery = {
    val spark = queryStream.sparkSession
    def pin(name: String): DataFrame = {
      val df = spark.read.parquet(s"$indexDir/$name")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count() // materialize once, before the first batch arrives
      df
    }
    val (cents, book, codes, vectors) =
      (pin("cents"), pin("book"), pin("codes"), pin("vectors"))
    queryStream.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        // excludeSelf = false: serving query ids are EXTERNAL — a
        // numeric collision with an unrelated corpus vid must not
        // silently drop that true neighbor (the x153 batch path, whose
        // queries ARE corpus members, keeps the exclusion).
        Dedup.ivfPqAnswer(
            batch.toDF(), cents, book, codes, vectors,
            nprobe, topK, shortlist, m, subDim,
            excludeSelf = false)
          .write.mode("overwrite").parquet(s"$answersPath/batch_id=$batchId")
      }
      .start()
  }
}
