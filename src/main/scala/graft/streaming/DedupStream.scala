package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming twin of [[graft.operators.Dedup.incrementalDedup]] — the
  * ingest-time dedup loop of a continuously crawled corpus (reference
  * analog: the weekly ingest loop, `dags/spurs_historic_games.py:444-450`,
  * generalized to near-dup detection): each arriving micro-batch is
  * judged against the STANDING corpus — `exact_dup` (verbatim content
  * match), `near_dup` (≥ `threshold` shingle Jaccard with any standing
  * doc via MinHash band candidates), else `unique` — and, when
  * `admitUnique` is on, the batch's unique survivors join the corpus, so
  * later batches are judged against everything admitted before them.
  *
  * Scale shape is inherited from the batch operator: the new batch
  * broadcasts, the corpus is scanned but never self-shuffled —
  * O(batch × bands) work per micro-batch at any corpus size.
  *
  * Layout contract: `corpusPath` is parquet partitioned by `batch_id`
  * (seed the pre-existing corpus under `batch_id=-1`). Both sinks use
  * the [[StreamSinks]] idempotence pattern — every write lands in its
  * own `batch_id=<id>` subdirectory with overwrite mode, and the corpus
  * read EXCLUDES the running batch's own partition, so a batch replayed
  * after a failure overwrites its previous attempt instead of appending
  * duplicates or judging its docs against its own earlier output.
  *
  * Within-batch duplicates are deliberately NOT adjudicated here (two
  * identical docs arriving in one micro-batch are both judged against
  * the standing corpus only) — that is the upstream exact-dedup's job
  * ([[graft.sources.TextIngest.streamTextFiles]]'s
  * `dropDuplicatesWithinWatermark`), keeping each operator's state story
  * single-purpose.
  */
object DedupStream {

  /** Start the verdict loop over a streaming frame carrying
    * (`idCol`, `textCol`). Verdict rows (id, is_exact_dup, n_near,
    * verdict) land under `verdictsPath/batch_id=<id>`; admitted docs
    * under `corpusPath/batch_id=<id>`. */
  def startIncrementalDedup(
      newDocs: DataFrame,
      corpusPath: String,
      verdictsPath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      threshold: Double,
      admitUnique: Boolean = true,
      compactMaxParts: Int = 0): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val corpus = RegistryCompaction
          .standing(spark, corpusPath, batchId, compactMaxParts)
          .select(col(idCol), col(textCol))
          .withColumn("__new", lit(false))
        val arrived = batch.select(col(idCol), col(textCol))
          .withColumn("__new", lit(true))
        // incrementalDedup materializes its verdicts eagerly, so the
        // corpus read completes before either write below mutates a dir
        val verdicts = Dedup.incrementalDedup(
          corpus.unionByName(arrived), idCol, textCol, col("__new"), threshold)
        verdicts.write.mode("overwrite").parquet(s"$verdictsPath/batch_id=$batchId")
        if (admitUnique) {
          batch.select(col(idCol), col(textCol))
            .join(verdicts.filter(col("verdict") === "unique").select(col(idCol)),
              Seq(idCol), "left_semi")
            .write.mode("overwrite").parquet(s"$corpusPath/batch_id=$batchId")
        }
        Dedup.release(verdicts)
      }
      .start()
}
