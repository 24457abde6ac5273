package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Exact.countIf
import graft.operators.{Corpus, Dedup}

/** Streaming twin of [[graft.operators.Corpus.ngramNovelty]] (x55) —
  * the ingest-time "how much new text does this snapshot add" loop:
  * each arriving micro-batch is scored against the STANDING gram-hash
  * set (everything admitted before it), novel grams are attributed to
  * the batch's lowest-id carrier exactly as the batch operator
  * attributes them to the corpus-wide min id, and each batch's novel
  * grams then join the standing set, so later batches are scored
  * against everything ingested before them.
  *
  * Scale shape: shuffles carry 8-byte gram hashes, never gram text; the
  * standing set is joined on its hash key (no self-join, no all-pairs),
  * and the standing store grows only by NOVEL grams — re-ingesting a
  * duplicated crawl adds nothing.
  *
  * Layout contract (same idempotence pattern as [[DedupStream]]):
  * `gramsPath` is parquet partitioned by `batch_id` — seed the standing
  * set with [[seedGrams]] (an empty corpus is fine; the schema must
  * exist). Every write lands in its own `batch_id=<id>` subdirectory
  * with overwrite mode and the standing read EXCLUDES the running
  * batch's own partition, so a replayed batch overwrites its previous
  * attempt instead of double-admitting its grams.
  *
  * Equivalence contract (pinned in NoveltyStreamSpec): over batches that
  * partition a corpus in ascending id order, the union of per-batch
  * verdicts equals `Corpus.ngramNovelty` on the whole corpus.
  */
object NoveltyStream {

  /** Write `docs`' distinct gram hashes as the standing seed under
    * `gramsPath/batch_id=-1`. Call once before [[startNoveltyScoring]];
    * pass an empty frame (with `idCol`/`textCol` columns) to start from
    * nothing — the parquet schema still gets written. */
  def seedGrams(
      docs: DataFrame, gramsPath: String,
      idCol: String, textCol: String, n: Int = 8): Unit =
    Corpus.gramHashes(docs, idCol, textCol, n)
      .select(col("h")).distinct()
      .write.mode("overwrite").parquet(s"$gramsPath/batch_id=-1")

  /** Start the scoring loop over a streaming frame carrying
    * (`idCol`, `textCol`). Verdict rows (id, n_grams, n_novel, novelty)
    * land under `verdictsPath/batch_id=<id>`; each batch's novel grams
    * under `gramsPath/batch_id=<id>`. */
  def startNoveltyScoring(
      newDocs: DataFrame,
      gramsPath: String,
      verdictsPath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      n: Int = 8,
      compactMaxParts: Int = 0): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val standing = RegistryCompaction
          .standing(spark, gramsPath, batchId, compactMaxParts)
          .select(col("h"))
        // ONE gram build feeds scoring and admission (shared via the
        // library's checkpoint-for-the-call discipline; see
        // Dedup.minhashCandidatePairs for the executor-loss caveat)
        val grams = Corpus.gramHashes(
          batch.select(col(idCol), col(textCol)), idCol, textCol, n)
          .transform(graft.plans.Pin.pin)
        val firstInBatch = grams.groupBy(col("h")).agg(min(col(idCol)).as("first_doc"))
        // a gram is novel for doc d iff it is absent from the standing
        // set AND d is its lowest-id carrier in this batch — the exact
        // attribution the batch operator uses corpus-wide
        val verdicts = grams
          .join(firstInBatch, Seq("h"))
          .join(standing.withColumn("seen", lit(1)), Seq("h"), "left")
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("n_grams"),
            countIf(col("seen").isNull && col("first_doc") === col(idCol)).as("n_novel"))
          .select(col(idCol), col("n_grams"), col("n_novel"),
            (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
          .transform(graft.plans.Pin.pin)
        // materialize the admitted grams BEFORE writing into the
        // directory their plan scans — after this the standing read is done
        val newGrams = firstInBatch
          .join(standing, Seq("h"), "left_anti")
          .select(col("h"))
          .transform(graft.plans.Pin.pin)
        verdicts.write.mode("overwrite").parquet(s"$verdictsPath/batch_id=$batchId")
        newGrams.write.mode("overwrite").parquet(s"$gramsPath/batch_id=$batchId")
        Dedup.release(grams); Dedup.release(verdicts); Dedup.release(newGrams)
      }
      .start()
}
