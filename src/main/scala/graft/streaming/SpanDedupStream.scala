package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup

/** Streaming twin of the x173/x175 substring-span dedup — the
  * ingest-time form of Lee et al. 2022's rewrite, the every-offset
  * generalization of [[SegmentDedupStream]]'s fixed grid: each arriving
  * micro-batch's k-token windows (ALL offsets) are judged against the
  * STANDING window-hash registry under the deterministic min-k rule
  * (k = doc_id·2²⁰ + pos), each batch document is REWRITTEN with every
  * token dropped that a non-canonical duplicated window covers, and
  * the batch's winning (h, kk) pairs extend the registry.
  *
  * Convergence (the [[SegmentDedupStream]] argument verbatim): the
  * global min-k occurrence of a hash beats whatever is standing when
  * it arrives, so the registry's per-hash min converges to the batch
  * winner set under ANY batching and arrival order — [[winners]] is
  * the compaction view, and
  * [[Dedup.duplicateSpanRewriteAgainst]](corpus, winners) replays the
  * batch x175 rewrite exactly (SpanDedupStreamSpec pins it under
  * adversarially shuffled delivery). Per-batch EMITTED rewrites remain
  * arrival-relative — a later-arriving smaller k supersedes in the
  * registry, which the compaction resolves and an emitted file cannot
  * retract (the streaming-emit trade, stated not hidden).
  *
  * Scale shape: windows enumerate inside one projection (no per-doc
  * Window pass), identities shuffle as 8-byte poly hashes, per-batch
  * work is O(batch windows + registry probe); the registry is
  * append-only parquet partitioned by batch_id with the replayed
  * batch's own partition excluded on read (idempotent replays, the
  * [[StreamSinks]] pattern).
  */
object SpanDedupStream {

  private val registryDdl = "h BIGINT, kk BIGINT, batch_id BIGINT"

  /** Start the gate over a streaming frame carrying (doc_id, text).
    * Rewritten documents (doc_id, n_tokens, n_removed, text_kept) land
    * under `keptPath/batch_id=<id>`; one exact-integer metrics row
    * (docs, tokens_before, tokens_removed) under
    * `metricsPath/batch_id=<id>`; canonical window keys under
    * `registryPath/batch_id=<id>` (seed any pre-existing corpus under
    * batch_id=-1 with columns (h, kk)). */
  def startSpanDedup(
      newDocs: DataFrame,
      registryPath: String,
      keptPath: String,
      metricsPath: String,
      checkpoint: String,
      k: Int = 8,
      compactMaxParts: Int = 0): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val standingMin = RegistryCompaction.standing(spark, registryPath,
            batchId, compactMaxParts, Some(registryDdl))
          .groupBy(col("h")).agg(min(col("kk")).as("kprev"))
        val docs = batch.select(col("doc_id"), col("text"))
        val grams = Dedup.spanGrams(docs, "doc_id", "text", k)
          .transform(graft.plans.Pin.pin)
        val batchMin = grams.groupBy(col("h")).agg(min(col("kk")).as("kb"))
        // judged winner per hash over registry ∪ batch — the min-k rule
        val wins = batchMin.join(standingMin, Seq("h"), "left")
          .select(col("h"), least(col("kb"),
            coalesce(col("kprev"), col("kb"))).as("kmin"))
          .transform(graft.plans.Pin.pin)
        val rewritten = Dedup
          .duplicateSpanRewriteAgainst(docs, "doc_id", "text", wins, k)
          .transform(graft.plans.Pin.pin)
        rewritten
          .write.mode("overwrite").parquet(s"$keptPath/batch_id=$batchId")
        rewritten.agg(
            count(lit(1)).as("docs"),
            sum(col("n_tokens")).as("tokens_before"),
            sum(col("n_removed")).as("tokens_removed"))
          .write.mode("overwrite").parquet(s"$metricsPath/batch_id=$batchId")
        // append only the NEW canonicals: batch minima that beat the
        // standing registry (the convergent SegmentDedupStream gate)
        batchMin.join(standingMin, Seq("h"), "left")
          .filter(col("kprev").isNull || col("kb") < col("kprev"))
          .select(col("h"), col("kb").as("kk"))
          .write.mode("overwrite").parquet(s"$registryPath/batch_id=$batchId")
        Dedup.release(grams); Dedup.release(wins); Dedup.release(rewritten)
      }
      .start()

  /** Compaction view of the standing registry: one row per window hash
    * with its final min-k canonical key — equals the batch winner set
    * over the union of all arrived documents under any delivery order.
    * Feed it to [[Dedup.duplicateSpanRewriteAgainst]] to re-derive the
    * batch x175 rewrite of the whole corpus. */
  def winners(spark: org.apache.spark.sql.SparkSession,
      registryPath: String): DataFrame =
    spark.read
      .schema(registryDdl)
      .parquet(registryPath)
      .groupBy(col("h")).agg(min(col("kk")).as("kmin"))
}
