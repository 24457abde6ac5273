package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Shared standing-registry protocol for the standing-state streams.
  *
  * Every standing-registry stream here (PHash signatures, segment/span
  * hashes, novelty grams, chunk hashes, the incremental-dedup corpus,
  * the embedding registry) follows the same layout: one parquet
  * partition `batch_id=<id>` per micro-batch, the full registry
  * re-read every batch with the CURRENT batch's partition excluded (so
  * a replayed batch overwrites its previous attempt instead of judging
  * against it). [[standing]] is that read, and the one place it is
  * written down. Correct forever — but at stream scale the small files
  * accumulate and the per-batch scan amortizes badly, so with
  * `maxParts > 0` the read first runs the size-tiered fold below. The
  * fold preserves semantics for every registry whose rows form a SET
  * (all of the above: consumers take membership or MIN per key, never
  * row counts — a `.distinct()` fold changes neither).
  *
  * The fold is the LSM/Lucene size-tiered rule: trigger only when MORE
  * than `maxParts` standing partitions exist, and fold ONLY the
  * smallest-by-bytes ⌈half⌉ of them into `batch_id=-(batchId+2)`
  * (negative, so it can never collide with a real batch id or the
  * conventional -1 seed), leaving large folded runs in place. Runs
  * then grow geometrically, each row is rewritten O(log N) times over
  * the stream's life, and the directory count stays ≤ maxParts + 1 —
  * constant per-batch listing cost at ANY registry size. A fold of the
  * WHOLE registry every c batches rewrites O(N²/c) registry rows over N
  * batches; SCALE.md "Standing-registry compaction an order of
  * magnitude up" measured it tying the tiered fold at best and losing
  * to no compaction at all on shorter streams, so the tiered fold is
  * the only one.
  */
object RegistryCompaction {

  /** The standing registry for `batchId`: runs [[maybeCompactTiered]],
    * then reads `registryPath` without the batch's own partition (a
    * replay ignores its earlier attempt). `schema` (DDL including a
    * `batch_id BIGINT` column) pins the read; None infers it from the
    * files. */
  def standing(
      spark: SparkSession,
      registryPath: String,
      batchId: Long,
      maxParts: Int,
      schema: Option[String] = None): DataFrame = {
    maybeCompactTiered(spark, registryPath, batchId, maxParts, schema)
    read(spark, registryPath, schema).filter(col("batch_id") =!= batchId)
  }

  private def read(spark: SparkSession, registryPath: String,
      schema: Option[String]): DataFrame =
    schema.fold(spark.read)(s => spark.read.schema(s)).parquet(registryPath)

  /** Size-tiered fold of the standing partitions (everything except
    * `batchId`'s own); `maxParts <= 0` disables it.
    *
    * Crash protocol (a fold-set manifest, because a subset fold must
    * remember WHICH dirs it subsumed):
    *
    *   1. write `distinct(fold set rows)` to the hidden dir
    *      `_compact_tmp_tiered` (underscore-prefixed: partition
    *      discovery never sees it), then write the manifest `_folded`
    *      listing the subsumed partition names — the manifest, not
    *      Spark's `_SUCCESS`, is the completion marker;
    *   2. delete exactly the manifest's partitions;
    *   3. rename tmp → `batch_id=-(batchId+2)`; a failed rename fails
    *      the batch, whose replay finishes from the manifest.
    *
    * Replay windows: target dir already exists → this batch's fold
    * finished, no-op. Tmp without manifest → the fold never completed
    * and nothing was deleted — drop tmp, refold from the live listing.
    * Tmp with manifest → finish steps 2–3 verbatim (recomputing after
    * a partial delete would lose subsumed rows). */
  private[streaming] def maybeCompactTiered(
      spark: SparkSession,
      registryPath: String,
      batchId: Long,
      maxParts: Int,
      schema: Option[String] = None): Unit = {
    if (maxParts <= 0) return
    val root = new Path(registryPath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val target = new Path(root, s"batch_id=${-(batchId + 2)}")
    if (fs.exists(target)) return // replay of a finished fold
    val tmp = new Path(root, "_compact_tmp_tiered")
    val manifest = new Path(tmp, "_folded")

    val foldNames: Seq[String] =
      if (fs.exists(manifest)) {
        // complete fold from a crashed attempt: finish delete + rename
        val in = fs.open(manifest)
        val text = try scala.io.Source.fromInputStream(in).mkString
        finally in.close()
        text.split("\n").toSeq.filter(_.nonEmpty)
      } else {
        if (fs.exists(tmp)) fs.delete(tmp, true) // incomplete: refold
        val parts = fs.listStatus(root).map(_.getPath)
          .filter(p => p.getName.startsWith("batch_id=") &&
            p.getName != s"batch_id=$batchId")
        if (parts.length <= maxParts) return
        val bySize = parts
          .map(p => p -> fs.getContentSummary(p).getLength)
          .sortBy { case (p, len) => (len, p.getName) }
        val names = bySize.take((parts.length + 1) / 2).map(_._1.getName)
        val ids = names.map(_.stripPrefix("batch_id=").toLong)
        read(spark, registryPath, schema)
          .filter(col("batch_id").isin(ids: _*))
          .drop("batch_id")
          .distinct()
          .write.mode("overwrite").parquet(tmp.toString)
        val out = fs.create(manifest, true)
        try out.write(names.mkString("\n").getBytes("UTF-8"))
        finally out.close()
        names.toSeq
      }
    foldNames.foreach(n => fs.delete(new Path(root, n), true))
    require(fs.rename(tmp, target), s"tiered fold rename failed: $tmp -> $target")
  }
}
