package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming twin of x139's segment-level dedup — the ingest-time
  * sub-document gate of a continuously assembled corpus: each arriving
  * micro-batch's 8-word segments are judged against the STANDING
  * segment-hash registry under the deterministic winner rule the batch
  * operator uses — min k, where k = doc_id·2²⁰ + position encodes
  * (doc, offset) — NOT under arrival order: a batch occurrence is kept
  * iff its k is the smallest seen for its hash across the registry AND
  * the batch, and its (h, k) then extends the registry.
  *
  * Out-of-order hardening: because the global min-k occurrence for a
  * hash always beats whatever is standing when it arrives, it is
  * appended in its own batch no matter how delivery is shuffled — so
  * the registry's per-hash min CONVERGES to exactly the batch x139
  * winner set under ANY batching and ANY arrival order
  * (SegmentDedupStreamSpec pins shuffled multi-batch ≡ batch). The
  * corpus model carries no event-time column, so disorder is absorbed
  * by convergence rather than a watermark: [[winners]] is the
  * compaction view (one row per hash, the final min-k winner), and the
  * per-batch KEPT files remain arrival-relative — a later-arriving
  * smaller k supersedes an earlier keep in the registry, which
  * [[winners]] resolves and which a per-batch emit fundamentally
  * cannot retract (the streaming-emit trade, stated not hidden).
  *
  * Scale shape: the registry is only ever touched by hash-keyed
  * min-aggregates and joins — segments shuffle as 8-byte poly hashes,
  * never text; per-batch work is O(batch segments + registry probe),
  * the registry is append-only parquet partitioned by batch_id, and
  * the batch's own partition is excluded on read so a replayed batch
  * overwrites its previous attempt instead of judging against it (the
  * [[StreamSinks]] idempotence pattern shared with [[DedupStream]]).
  */
object SegmentDedupStream {

  private val registryDdl = "h BIGINT, k BIGINT, batch_id BIGINT"

  /** Per-doc segment occurrence frame: (doc_id, source, k, h, n_toks)
    * with k = doc_id·2²⁰ + position (the x139 winner encoding). */
  private[streaming] def segments(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("w"))
      .select(col("doc_id"), col("source"), col("w"),
        explode(sequence(lit(0),
          floor((size(col("w")) - 1) / 8).cast("int"))).as("s"))
      .select(col("doc_id"), col("source"),
        (col("doc_id") * lit(1048576L) + col("s")).as("k"),
        expr("poly_hash(array_join(slice(w, s*8+1, 8), ' '))").as("h"),
        least(lit(8), size(col("w")) - col("s") * 8).cast("long").as("n_toks"))

  /** Start the gate over a streaming frame carrying
    * (doc_id, source, text). Per-source survival stats (the x139 report
    * schema plus batch_id; `keep_ratio` is per-batch — re-derive the
    * corpus ratio from summed token columns, ratios don't add) land
    * under `statsPath/batch_id=<id>`; kept
    * segment hashes under `registryPath/batch_id=<id>` (seed any
    * pre-existing corpus under batch_id=-1 with columns (h, k)). */
  def startSegmentDedup(
      newDocs: DataFrame,
      registryPath: String,
      statsPath: String,
      checkpoint: String,
      compactMaxParts: Int = 0): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val standingMin = RegistryCompaction.standing(spark, registryPath,
            batchId, compactMaxParts, Some(registryDdl))
          .groupBy(col("h")).agg(min(col("k")).as("kprev"))
        val occ = segments(batch.toDF())
        // deterministic winner rule (min k), batch-local then vs the
        // standing registry: kept iff k beats both. The global min-k
        // occurrence passes this gate in whatever batch it arrives, so
        // the registry min converges to the batch winner set under any
        // delivery order. Materialized eagerly so both writes below see
        // one computation.
        val batchWin = occ.groupBy(col("h")).agg(min(col("k")).as("kmin"))
          .join(standingMin, Seq("h"), "left")
          .filter(col("kprev").isNull || col("kmin") < col("kprev"))
          .select(col("h"), col("kmin"))
        val judged = occ
          .join(batchWin, Seq("h"), "left")
          .withColumn("kept", col("kmin").isNotNull && col("k") === col("kmin"))
          .transform(graft.plans.Pin.pin)
        judged
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_segments"),
            sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
            sum(col("n_toks")).as("tokens_before"),
            sum(when(col("kept"), col("n_toks")).otherwise(0L)).as("tokens_after"),
            (sum(when(col("kept"), col("n_toks")).otherwise(0L)).cast("double")
              / sum(col("n_toks"))).as("keep_ratio"))
          .write.mode("overwrite").parquet(s"$statsPath/batch_id=$batchId")
        judged.filter(col("kept")).select(col("h"), col("k"))
          .write.mode("overwrite").parquet(s"$registryPath/batch_id=$batchId")
        Dedup.release(judged)
      }
      .start()

  /** Compaction view of the standing registry: one row per segment
    * hash with its final min-k winner. Under ANY batching and arrival
    * order this equals the batch x139 winner set over the union of all
    * arrived documents (see the convergence argument in the object
    * doc); joining a corpus' occurrence frame on (h, k == kmin)
    * re-derives the batch keep/drop verdicts and stats exactly. */
  def winners(spark: org.apache.spark.sql.SparkSession,
      registryPath: String): DataFrame =
    spark.read
      .schema(registryDdl)
      .parquet(registryPath)
      .groupBy(col("h")).agg(min(col("k")).as("kmin"))
}
