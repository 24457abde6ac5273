package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Exact.countIf
import graft.operators.Dedup

/** Streaming twin of [[graft.operators.Corpus.chunkDedupRewrite]] (x62) —
  * ingest-time boilerplate stripping: each arriving micro-batch has its
  * fixed-size word chunks checked against the STANDING chunk-hash store
  * (everything admitted before it); a chunk survives only on its first
  * corpus occurrence (standing store miss AND first (doc, pos) carrier
  * within the batch — the same total order the batch operator uses), and
  * each document is rewritten from its kept chunks. Kept chunk hashes
  * then join the standing store, so a crawl's repeated headers/footers
  * survive exactly once across the whole ingest history.
  *
  * Scale shape: chunk identity shuffles as an 8-byte poly_hash (never
  * chunk text), the standing store is joined on that key (no self-join),
  * and the store grows only by NOVEL chunks — re-ingesting a duplicated
  * snapshot admits nothing.
  *
  * Layout contract (same idempotence pattern as [[DedupStream]] /
  * [[NoveltyStream]]): `chunksPath` is parquet partitioned by
  * `batch_id`; seed with [[seedChunks]] (an empty corpus is fine — the
  * schema must exist). Writes land under `batch_id=<id>` with overwrite
  * mode and the standing read EXCLUDES the running batch's own
  * partition, so replays overwrite instead of double-admitting.
  *
  * Equivalence contract (ChunkStreamSpec): over batches that partition a
  * corpus in ascending id order, the union of per-batch rewrites equals
  * `Corpus.chunkDedupRewrite` on the whole corpus.
  */
object ChunkStream {

  private def chunkFrame(
      docs: DataFrame, idCol: String, textCol: String, chunkWords: Int): DataFrame = {
    docs.select(col(idCol), expr(
      s"posexplode(transform(sequence(0, CAST(ceil(size(split($textCol, ' ')) / $chunkWords.0) AS INT) - 1), " +
        s"i -> array_join(slice(split($textCol, ' '), i * $chunkWords + 1, $chunkWords), ' ')))"
    ).as(Seq("pos", "chunk")))
      .withColumn("h", expr("poly_hash(chunk)"))
  }

  /** Write `docs`' distinct chunk hashes as the standing seed under
    * `chunksPath/batch_id=-1`. Call once before [[startChunkRewrite]];
    * pass an empty frame (with `idCol`/`textCol` columns) to start from
    * nothing — the parquet schema still gets written. */
  def seedChunks(
      docs: DataFrame, chunksPath: String,
      idCol: String, textCol: String, chunkWords: Int = 16): Unit =
    chunkFrame(docs, idCol, textCol, chunkWords)
      .select(col("h")).distinct()
      .write.mode("overwrite").parquet(s"$chunksPath/batch_id=-1")

  /** Start the rewrite loop over a streaming frame carrying
    * (`idCol`, `textCol`). Rewrite rows (id, n_chunks, n_kept,
    * text_kept) land under `rewritesPath/batch_id=<id>`; each batch's
    * newly-admitted chunk hashes under `chunksPath/batch_id=<id>`. */
  def startChunkRewrite(
      newDocs: DataFrame,
      chunksPath: String,
      rewritesPath: String,
      checkpoint: String,
      idCol: String,
      textCol: String,
      chunkWords: Int = 16,
      compactMaxParts: Int = 0): StreamingQuery =
    newDocs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val spark = batch.sparkSession
        val standing = RegistryCompaction
          .standing(spark, chunksPath, batchId, compactMaxParts)
          .select(col("h"))
        // ONE chunk build feeds the rewrite and the admission (shared via
        // the library's checkpoint-for-the-call discipline)
        val chunks = chunkFrame(
          batch.select(col(idCol), col(textCol)), idCol, textCol, chunkWords)
          .transform(graft.plans.Pin.pin)
        // first in-batch carrier per hash: min (doc, pos) — the same
        // total order the batch operator resolves corpus-wide
        val firstIn = chunks.groupBy(col("h"))
          .agg(min(struct(col(idCol), col("pos"))).as("f"))
        val marked = chunks
          .join(firstIn, Seq("h"))
          .join(standing.withColumn("seen", lit(1)), Seq("h"), "left")
          .withColumn("kept", col("seen").isNull &&
            col(s"f.$idCol") === col(idCol) && col("f.pos") === col("pos"))
        val rewrites = marked
          .groupBy(col(idCol))
          .agg(
            count(lit(1)).as("n_chunks"),
            countIf(col("kept")).as("n_kept"),
            concat_ws(" ", expr(
              "transform(filter(array_sort(collect_list(struct(pos, chunk, kept))), " +
                "x -> x.kept), x -> x.chunk)")).as("text_kept"))
          .transform(graft.plans.Pin.pin)
        // materialize admitted hashes BEFORE writing into the directory
        // their plan scans
        val newChunks = firstIn.select(col("h"))
          .join(standing, Seq("h"), "left_anti")
          .transform(graft.plans.Pin.pin)
        rewrites.write.mode("overwrite").parquet(s"$rewritesPath/batch_id=$batchId")
        newChunks.write.mode("overwrite").parquet(s"$chunksPath/batch_id=$batchId")
        Dedup.release(chunks); Dedup.release(rewrites); Dedup.release(newChunks)
      }
      .start()
}
