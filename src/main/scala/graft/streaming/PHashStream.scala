package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming twin of the x187 perceptual near-dup — the ingest-time
  * media gate of a continuously assembled multimodal corpus: each
  * arriving micro-batch's payloads are hashed with the codegen 64-bit
  * block-mean hash (`block_hash64`, the same expression the batch
  * operator plans), banded into 8 byte-bands, and near-dup'd against
  * the STANDING signature registry plus the batch's own rows; every
  * pair within `maxHamming` bits is reported and the batch's
  * signatures extend the registry — so later arrivals are judged
  * against everything indexed before them, and the union of per-batch
  * pair reports is exactly the batch operator's pair inventory over
  * the same corpus (PHashStreamSpec pins stream ≡ batch across
  * shuffled batching).
  *
  * Scale shape: the registry holds 16 bytes per media row (id + hash)
  * — no payload bytes ever re-shuffle after ingest — and candidate
  * generation is the (band, byte) equi-join, so per-batch work is
  * O(batch + matching band buckets), never batch × corpus. The band
  * expansion is a projection of the registry scan (8 rows per
  * signature); a cluster deployment that outgrows the scan keeps the
  * registry pre-bucketed by (band, byte) — same join, partition-pruned
  * probe — without touching this operator's semantics. Pairs and
  * registry extensions land under `batch_id=<id>` partitions with the
  * batch's own partition excluded on read, so a replayed batch
  * overwrites its previous attempt instead of judging against it (the
  * [[SegmentDedupStream]] idempotence pattern). Unlike the batch
  * operator there is no distinct-signature collapse before the band
  * join: the registry is probed per batch and the per-batch DISTINCT
  * on candidate pairs bounds the multi-band duplication at 8× a
  * batch's own candidates.
  *
  * Duplicate ingest: an arriving doc_id that already exists in the
  * standing registry is dropped before pair generation and before the
  * registry write (doc_id anti-join), and two arrivals of the same
  * doc_id within ONE micro-batch collapse to a single deterministic
  * row first (min-phash groupBy — a map-side-combinable aggregate, not
  * a window), so the registry stays one row per doc_id and each
  * unordered pair meets exactly once across the stream's life whether
  * a doc re-arrives in a later batch or twice in the same one
  * (PHashStreamSpec pins both).
  *
  * Registry compaction: the registry accrues one parquet partition per
  * micro-batch and is re-read in full every batch — correct forever,
  * but at stream scale the small files accumulate and the scan
  * amortizes badly. With `compactMaxParts = N > 0`, a batch that finds
  * more than N standing partitions first folds the smallest half of
  * them into one negative `batch_id` partition ([[RegistryCompaction]],
  * the size-tiered fold and its crash protocol). The fold is a
  * `.distinct()` of rows the registry already holds, so the pair
  * inventory is byte-identical with or without it (PHashStreamSpec
  * pins inventory equality across fold boundaries).
  */
object PHashStream {

  /** Start the gate over a streaming frame carrying (doc_id, content:
    * binary). Near-dup pairs (doc_a < doc_b, hamming) land under
    * `pairsPath/batch_id=<id>`; the growing signature registry under
    * `registryPath/batch_id=<id>` (seed any pre-existing corpus under
    * batch_id=-1 with columns (doc_id, phash)). `compactMaxParts = N > 0`
    * keeps the registry at most N + 1 partitions. */
  def startPerceptualNearDup(
      newMedia: DataFrame,
      registryPath: String,
      pairsPath: String,
      checkpoint: String,
      maxHamming: Int = 7,
      compactMaxParts: Int = 0): StreamingQuery = {
    require(maxHamming >= 0 && maxHamming <= 7,
      s"8-band blocking guarantees recall only for maxHamming in [0,7], got $maxHamming")
    newMedia.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val hashed = batch.toDF()
          .select(col("doc_id"), expr("block_hash64(content)").as("phash"))
          // in-batch duplicate collapse: same doc_id arriving twice in
          // ONE micro-batch must not survive as two rows past this
          // point, or both land in the registry partition and every
          // later batch re-meets the doc's partners through the
          // duplicated row. min-phash is a deterministic pick (and a
          // no-op when the payload bytes are identical).
          .groupBy("doc_id").agg(min(col("phash")).as("phash"))

        val standing = RegistryCompaction.standing(spark, registryPath, batchId,
            compactMaxParts, Some("doc_id BIGINT, phash BIGINT, batch_id BIGINT"))
          .select(col("doc_id"), col("phash"))
        // Duplicate-ingest gate: a doc_id already in the registry (seeded
        // at batch_id=-1 or ingested by an earlier batch) is dropped here
        // BEFORE pair generation and the registry write. Without it a
        // re-ingested doc leaves two registry rows (its original batch
        // partition plus this one), so every LATER batch re-meets that
        // doc's partners through the duplicated row and the per-batch
        // DISTINCT — scoped to one batch — cannot dedup across batches.
        // Anti-joining up front keeps both invariants at once: the
        // registry holds exactly one row per doc_id for the stream's
        // life, and each unordered pair meets exactly once (a re-arrival
        // already met everyone when first indexed, so it emits nothing).
        // The anti-join is doc_id-only — registry-row-sized (16 bytes/
        // row), no payload bytes, same join key the registry would be
        // bucketed by at cluster scale.
        val fresh = hashed
          .join(standing.select(col("doc_id")), Seq("doc_id"), "left_anti")
          .transform(graft.plans.Pin.pin) // hashed once; banded + written below

        def banded(df: DataFrame, side: String): DataFrame = df.select(
          col("doc_id").as(s"doc_$side"), col("phash").as(s"sig_$side"),
          posexplode(array((0 until 8).map(b =>
            shiftright(col("phash"), 8 * b).bitwiseAND(255)): _*))
            .as(Seq("band", "bb")))

        // standing × new plus new × new within the batch — each
        // unordered pair meets exactly once across the stream's life:
        // cross-batch through the registry (standing side strictly
        // precedes the batch), within-batch through the id-ordered
        // self-join
        val vsStanding = banded(standing, "a")
          .join(banded(fresh, "b"), Seq("band", "bb"))
        val within = banded(fresh, "a")
          .join(banded(fresh, "b"), Seq("band", "bb"))
          .filter(col("doc_a") < col("doc_b"))
        vsStanding.unionAll(within)
          // defensive only: with the duplicate-ingest anti-join above a
          // doc in `fresh` is never in `standing`, so self-pairs cannot
          // occur — kept so a future seeding path that bypasses the gate
          // still cannot emit the degenerate (d, d, 0) pair
          .filter(col("doc_a") =!= col("doc_b"))
          .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
            greatest(col("doc_a"), col("doc_b")).as("doc_b"),
            col("sig_a"), col("sig_b"))
          .distinct() // multi-band candidate dupes, bounded at 8×
          .select(col("doc_a"), col("doc_b"),
            expr("CAST(bit_count(sig_a ^ sig_b) AS BIGINT)").as("hamming"))
          .filter(col("hamming") <= maxHamming)
          .write.mode("overwrite").parquet(s"$pairsPath/batch_id=$batchId")
        fresh.write.mode("overwrite").parquet(s"$registryPath/batch_id=$batchId")
        graft.operators.Dedup.release(fresh)
      }
      .start()
  }

}
