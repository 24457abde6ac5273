package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Source/sink round-trips (reference S8/S9: JSON to an object store;
  * our paths are URIs, so `s3a://bucket/prefix` works unchanged on a
  * cluster). Writers default to overwrite — the reference's bucket
  * upload and silver drop-and-recreate are both full-refresh (S10/S11).
  */
object Sinks {

  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** JSON read with an explicit schema — the production form (schema
    * inference is a convenience for fixtures only). */
  def readJson(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).option("header", "true").csv(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** Partitioned parquet layout — the 100 TB silver/gold form; partition
    * pruning on `cols` removes files before task scheduling. */
  def writePartitioned(df: DataFrame, path: String, cols: String*): Unit =
    df.write.mode("overwrite").partitionBy(cols: _*).parquet(path)

  /** All-VARCHAR JDBC silver sink — the literal twin of the reference's
    * Postgres staging load (dags/spurs_historic_games.py:345-423: CREATE
    * TABLE with every column VARCHAR, then batched INSERTs). Every column
    * is cast to string (the silver staging contract; a frame already
    * through SilverNormalize is a no-op cast) and the CREATE TABLE DDL is
    * pinned to VARCHAR(len) via createTableColumnTypes so the database
    * dialect cannot substitute CLOB/TEXT. Overwrite mode drops and
    * recreates, mirroring the reference's full-refresh staging.
    * `numPartitions` bounds the concurrent connection count — at scale
    * the writer must not open one connection per input partition.
    * `varcharLen` is a floor, not a cap: one aggregate pass measures the
    * longest stringified value per column and widens any column that
    * would otherwise overflow the batched INSERT at runtime (silently
    * truncating staging data is never acceptable). Column names are
    * backtick-quoted in the DDL string — `createTableColumnTypes` is
    * parsed by Spark's schema parser, which then applies the JDBC
    * dialect's own identifier quoting — so reserved-word or spaced
    * names survive the CREATE TABLE. */
  def writeJdbcVarchar(
      df: DataFrame, url: String, table: String,
      properties: java.util.Properties = new java.util.Properties,
      varcharLen: Int = 4000, numPartitions: Int = 8): Unit = {
    import org.apache.spark.sql.functions.{coalesce, length, lit, max}
    // persist before measuring: the width pass and the write must see the
    // SAME materialization — with a non-deterministic upstream (rand,
    // monotonically_increasing_id, shuffle-order-dependent values) two
    // independent executions could measure narrower widths than they
    // later write, failing the INSERT at runtime. MEMORY_AND_DISK spills
    // rather than evicts, so the cached rows cannot be silently
    // recomputed between the two passes.
    val stringly = df.select(df.columns.map(c => col(c).cast("string").as(c)): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val maxLens = stringly
        .select(stringly.columns.map(c => coalesce(max(length(col(c))), lit(0)).as(c)): _*)
        .head()
      val ddl = stringly.columns.zipWithIndex.map { case (c, i) =>
        val quoted = "`" + c.replace("`", "``") + "`"
        s"$quoted VARCHAR(${math.max(varcharLen, maxLens.getInt(i))})"
      }.mkString(", ")
      stringly
        .coalesce(numPartitions)
        .write.mode("overwrite")
        .option("createTableColumnTypes", ddl)
        .jdbc(url, table, properties)
    } finally stringly.unpersist(blocking = false)
  }

  /** JDBC read-back of a staged table (partition options belong to the
    * caller: pass predicates/bounds through `properties` when a staged
    * table is big enough to need a parallel read). */
  def readJdbc(
      spark: SparkSession, url: String, table: String,
      properties: java.util.Properties = new java.util.Properties): DataFrame =
    spark.read.jdbc(url, table, properties)

  /** Malformed-tolerant JSON read: PERMISSIVE mode nulls unparseable
    * fields and captures the raw bad line in `_corrupt` instead of
    * failing the job — at 100 TB a handful of broken records must never
    * kill a scan. Filter `_corrupt IS NOT NULL` downstream to quarantine
    * them (the reference's retry loop handles transport errors;
    * this is the data-shape half of that robustness). */
  def readJsonRobust(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val withCorrupt = schema.add("_corrupt", org.apache.spark.sql.types.StringType)
    spark.read
      .schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
  }

  /** Corpus shard materialization with an integrity manifest — the
    * landing step after curation: documents are hash-assigned to
    * `nShards` shards (deterministic in the id, balanced in expectation,
    * no coordination), written as shard-partitioned parquet, and a
    * manifest of per-shard (n_docs, n_tokens, content_fp) lands beside
    * the data. `content_fp` is the BIT_XOR of per-document content
    * hashes — order-independent, so any parallelism (or a rewritten
    * shard with the same docs) reproduces it, while a lost, duplicated,
    * or altered document changes it. Training loaders read one shard per
    * worker; [[validateCorpusShards]] is the cheap end-to-end check that
    * what landed is exactly what was curated. Returns the manifest. */
  def writeCorpusShards(
      df: DataFrame, path: String, idCol: String, textCol: String,
      nShards: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val sharded = df.withColumn(
      "shard_id", pmod(xxhash64(col(idCol)), lit(nShards.toLong)))
    sharded.write.mode("overwrite").partitionBy("shard_id").parquet(path)
    val manifest = sharded
      .groupBy(col("shard_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " ")).cast("long")).as("n_tokens"),
        expr(s"bit_xor(poly_hash($textCol))").as("content_fp"))
    manifest.write.mode("overwrite").parquet(s"$path.manifest")
    df.sparkSession.read.parquet(s"$path.manifest")
  }

  /** Recompute every shard's manifest row from the landed data and
    * compare against the stored manifest: one row per shard with `ok`
    * false on any count/token/fingerprint drift, plus unmatched rows
    * (missing or phantom shards) with `ok` false. */
  def validateCorpusShards(
      spark: SparkSession, path: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // partition discovery types shard_id as int; the manifest stored long
    val stored = spark.read.parquet(s"$path.manifest")
      .select(col("shard_id").cast("long").as("shard_id"), col("n_docs").as("m_docs"),
        col("n_tokens").as("m_tokens"), col("content_fp").as("m_fp"))
    val actual = spark.read.parquet(path)
      .groupBy(col("shard_id").cast("long").as("shard_id"))
      .agg(
        count(lit(1)).as("a_docs"),
        sum(size(split(col(textCol), " ")).cast("long")).as("a_tokens"),
        expr(s"bit_xor(poly_hash($textCol))").as("a_fp"))
    stored.join(actual, Seq("shard_id"), "full_outer")
      .select(col("shard_id"),
        // missing/phantom shards compare as NULL — that is a failure
        coalesce(col("m_docs") === col("a_docs") &&
          col("m_tokens") === col("a_tokens") &&
          col("m_fp") === col("a_fp"), lit(false)).as("ok"),
        col("m_docs"), col("a_docs"), col("m_tokens"), col("a_tokens"))
  }

  /** Parquet with column-level Bloom filters — the point-lookup
    * complement to min/max pruning: range stats skip files for RANGE
    * predicates on clustered keys, but an equality probe on a
    * high-cardinality UNclustered key (a needle doc_id / user_id in a
    * 100 TB table) matches every file's min/max span. A per-column
    * Bloom filter in each row group answers "definitely absent" for
    * ~nothing but a false-positive fraction of row groups, so the scan
    * opens only the files that can contain the key. Costs write-side
    * space/time only on the named columns. */
  def writeWithBloomFilters(
      df: DataFrame, path: String, bloomCols: Seq[String],
      expectedDistinct: Long = 1000000L): Unit = {
    val w = df.write.mode("overwrite")
    val configured = bloomCols.foldLeft(w) { (acc, c) =>
      acc.option(s"parquet.bloom.filter.enabled#$c", "true")
        .option(s"parquet.bloom.filter.expected.ndv#$c", expectedDistinct.toString)
    }
    configured.parquet(path)
  }

  /** Z-ordered parquet layout — multi-dimensional clustering so parquet
    * min/max (file/row-group) statistics prune effectively for
    * predicates on EITHER of two columns at once. A single-column sort
    * gives perfect pruning on that column and none on any other; the
    * Morton interleave (`z_value`, graft.functions.ZValue) gives both
    * columns locality ∝ √filesPerDim — the standard lakehouse layout
    * lever for fact tables filtered by two independent keys (e.g.
    * part AND supplier). One range shuffle on the z-key + within-file
    * sort; ZOrderSpec measures per-file key spans shrinking vs a naive
    * layout on BOTH dimensions.
    *
    * Each key is min/max-normalized onto a 16-bit grid BEFORE the
    * interleave (one tiny bounds aggregate first): raw interleaving
    * puts each key's bits at its natural magnitude, so a wide-domain
    * key monopolizes the high interleaved bits and the file split
    * never clusters the narrow-domain key at all — equalizing bit
    * width is what makes the locality genuinely two-dimensional
    * (Delta/Iceberg z-order does the same via per-column range ids). */
  def writeZOrdered(
      df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int): Unit =
    writeCurveOrdered(df, path, colA, colB, numFiles, "z_value")

  /** Hilbert-curve layout: [[writeZOrdered]] with the Morton interleave
    * replaced by the order-16 Hilbert index
    * ([[graft.functions.HilbertValue]]) — identical normalization,
    * bounds guards, and file splitting, but consecutive curve indices
    * are ALWAYS grid neighbors (the continuity Morton lacks at quadrant
    * boundaries, where z jumps across half the grid), so range splits
    * cut the curve into compact tiles with strictly fewer worst-case
    * straddles. Delta Lake added exactly this as "liquid-style" Hilbert
    * clustering over Z-order, for the same reason. HilbertSpec pins the
    * curve's continuity, bijectivity, and the two-key span shrink. */
  def writeHilbert(
      df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int): Unit =
    writeCurveOrdered(df, path, colA, colB, numFiles, "hilbert_value")

  private def writeCurveOrdered(
      df: DataFrame, path: String, colA: String, colB: String,
      numFiles: Int, curveFn: String): Unit = {
    import org.apache.spark.sql.functions.{expr, max, min}
    val b = df.agg(
      min(col(colA).cast("long")), max(col(colA).cast("long")),
      min(col(colB).cast("long")), max(col(colB).cast("long"))).head()
    // empty input or an all-null key column: no bounds → no meaningful
    // z-key; write the frame as-is instead of NPEing on the bounds row
    if (b.isNullAt(0) || b.isNullAt(2)) {
      df.write.mode("overwrite").parquet(path)
      return
    }
    val (aMin, aMax, bMin, bMax) =
      (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
    // 16-bit range id, overflow-safe across the full int64 key domain.
    // Narrow spans (the overwhelmingly common case) keep the exact
    // multiply-then-divide normalization — it stretches a small domain
    // onto the full 16-bit grid, which is what equalizes bit width
    // between the two keys (the whole point of the interleave); the
    // product (c-lo)·65535 stays under 2^63 whenever span ≤ 2^63/65535
    // ≈ 1.4e14. Beyond that the old form overflowed int64 silently, so
    // the wide regime divides each side by the bucket width BEFORE
    // subtracting (span computed in BigInt — a mixed-sign domain can
    // exceed int64 itself); width ≈ span/2^16 keeps the id on the full
    // grid, and DIV truncates toward zero identically in Spark and on
    // the Scala side (loQ), so the id stays monotone in the key. Stray
    // NULL keys coalesce to the low bucket; LEAST/GREATEST clamp the
    // ±1 edge buckets wide-regime truncation can produce.
    def grid(c: String, lo: Long, hi: Long): String = {
      val span = BigInt(hi) - BigInt(lo)
      val cc = s"COALESCE(CAST($c AS BIGINT), ${lo}L)"
      if (span <= Long.MaxValue / 65535L - 1) {
        val s = math.max(1L, span.toLong)
        s"(($cc - ${lo}L) * 65535L) DIV ${s}L"
      } else {
        val width = ((span >> 16) + 1).toLong
        val loQ = lo / width
        s"LEAST(65535L, GREATEST(0L, $cc DIV ${width}L - ${loQ}L))"
      }
    }
    df.withColumn("__z",
        expr(s"$curveFn(${grid(colA, aMin, aMax)}, ${grid(colB, bMin, bMax)})"))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Small-files compaction for an append-only Hive-partitioned layout —
    * the maintenance pass every streaming registry here needs at scale
    * ([[graft.streaming.SegmentDedupStream]], [[graft.streaming
    * .EmbeddingDedupStream]], [[graft.streaming.PqStream]] all append
    * `batch_id=<id>` directories, one per micro-batch, each holding up
    * to shuffle-partitions files: a day of 10 s batches is ~8,640
    * directories and potentially millions of KB-sized files — metadata
    * pressure on the namenode/listing and per-file open cost dominate
    * scans long before data volume does).
    *
    * One keyed shuffle (`repartition(partitionCols)`) lands each
    * partition value in a single task, so the rewrite yields one file
    * per partition directory (`maxRecordsPerFile` splits oversized
    * ones); the swap is rename-based — atomic on HDFS/POSIX, NOT on
    * object stores (there, write to a fresh generation prefix and flip
    * a manifest pointer instead — the [[writeCorpusShards]] manifest
    * pattern). The layout after compaction is byte-compatible with the
    * streaming writers: a replayed batch still overwrites its own
    * `batch_id=<id>` directory, so idempotence survives compaction.
    *
    * Crash/concurrency contract:
    *   - The swap is RECOVERABLE: the previous generation is kept at
    *     `<path>.__compact_old` until the new root is verified in
    *     place; a crash between the two renames leaves `old` intact and
    *     [[recoverCompaction]] (run here on entry, and safe to run at
    *     every startup) restores it — no window where the canonical
    *     path's data is gone for good.
    *   - Concurrent appends that create a NEW first-level partition
    *     directory (the streaming registries' `batch_id=<id>` layout —
    *     micro-batch ids are monotone, each lands a fresh directory)
    *     are SALVAGED: directories that appear under the old generation
    *     after the compaction read are moved into the new root before
    *     `old` is deleted, so a micro-batch landing mid-compaction is
    *     never silently dropped.
    *   - Appends INTO an already-existing partition directory during
    *     the swap are NOT protected (they ride the old generation into
    *     the salvage diff only if their directory is new) — stop such
    *     writers first. The registry streams here never do this: a
    *     replayed batch overwrites its own directory, which the salvage
    *     pass also preserves.
    *
    * Returns (files before, files after). */
  def compactPartitioned(
      spark: SparkSession, path: String, partitionCols: Seq[String],
      maxRecordsPerFile: Long = 5000000L,
      // test seam: runs between the rewrite and the swap — the window
      // the salvage pass protects; CompactionSpec injects a concurrent
      // micro-batch here deterministically instead of racing threads
      onBeforeSwap: () => Unit = () => ()): (Long, Long) = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    recoverCompaction(spark, path)
    def dataFiles(p: Path): Long = {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) if (visible(it.next().getPath.getName)) n += 1
      n
    }
    val before = dataFiles(root)
    val tmp = new Path(path + ".__compact_tmp")
    val old = new Path(path + ".__compact_old")
    fs.delete(tmp, true)
    // snapshot the partition-directory set the compaction read covers;
    // anything beyond this set at swap time arrived concurrently
    val snapshot = topDirs(fs, root)
    spark.read.parquet(path)
      .repartition(partitionCols.map(col): _*)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy(partitionCols: _*)
      .parquet(tmp.toString)
    onBeforeSwap()
    swapIn(fs, tmp, root, old)
    // salvage micro-batch directories that landed after the read
    salvage(fs, old, root, topDirs(fs, old) -- snapshot)
    // delete the old generation ONLY once the new root is verified
    require(fs.exists(root) && fs.listStatus(root).nonEmpty,
      s"compaction verification failed: $root missing or empty; " +
        s"previous generation preserved at $old")
    fs.delete(old, true)
    (before, dataFiles(root))
  }

  /** Startup recovery for [[compactPartitioned]]: if a crash between
    * the two swap renames left the canonical `path` missing while the
    * previous generation survives at `<path>.__compact_old`, restore
    * it (rename back). Idempotent and cheap — safe to call every time
    * a registry is opened; a dangling `old` NEXT TO a healthy root is
    * a completed-but-unconfirmed swap and is simply cleaned up after
    * salvaging any unmerged late partition directories. */
  def recoverCompaction(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = new Path(path + ".__compact_old")
    restoreOld(fs, root, old)
    if (fs.exists(old)) {
      salvage(fs, old, root, topDirs(fs, old) -- topDirs(fs, root))
      fs.delete(old, true)
    }
  }

  /** Full-refresh parquet write as dbt's `__dbt_tmp`/`__dbt_backup`
    * rename swap (SURVEY S11): `df` lands at `<path>.__tmp`, and only a
    * complete write replaces `path`, so a failed write leaves the
    * previous files readable. A crash between the two renames is undone
    * on the next call's entry. Atomic on HDFS/POSIX, not object stores. */
  def writeSwapped(df: DataFrame, path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
    val (tmp, old) = (new Path(path + ".__tmp"), new Path(path + ".__backup"))
    restoreOld(fs, root, old)
    df.write.mode("overwrite").parquet(tmp.toString)
    swapIn(fs, tmp, root, old)
    fs.delete(old, true)
  }

  /** The two renames of a generation swap: `root` (if any) moves to
    * `old`, then `tmp` becomes `root`; see [[restoreOld]] for a crash. */
  private def swapIn(fs: FileSystem, tmp: Path, root: Path, old: Path): Unit = {
    fs.delete(old, true)
    if (fs.exists(root)) require(fs.rename(root, old), s"swap failed: $root -> $old")
    require(fs.rename(tmp, root), s"swap failed: $tmp -> $root")
  }

  /** Undoes a crash between [[swapIn]]'s renames: `root` missing and
    * `old` present moves `old` back. An `old` left next to a healthy
    * `root` is a finished swap whose cleanup did not run. */
  private def restoreOld(fs: FileSystem, root: Path, old: Path): Unit =
    if (fs.exists(old) && !fs.exists(root))
      require(fs.rename(old, root), s"swap recovery failed: $old -> $root")

  private def visible(name: String): Boolean = !name.startsWith("_") && !name.startsWith(".")

  private def topDirs(fs: FileSystem, p: Path): Set[String] =
    fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).filter(visible).toSet

  private def salvage(fs: FileSystem, from: Path, to: Path, dirs: Set[String]): Unit =
    dirs.foreach { d =>
      require(fs.rename(new Path(from, d), new Path(to, d)),
        s"compaction salvage failed: $from/$d -> $to/$d")
    }
}
