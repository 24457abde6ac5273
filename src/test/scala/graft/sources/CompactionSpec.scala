package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Contract of the small-files compaction pass: rows and the partition
  * column survive byte-identically, the file count collapses to one per
  * partition directory, and the layout stays compatible with the
  * streaming writers' per-batch overwrite (idempotent replay works the
  * same after compaction as before). */
class CompactionSpec extends SparkSuite {
  private def canon(df: org.apache.spark.sql.DataFrame) = df
    .select("batch_id", "k", "v").collect()
    .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet

  test("compaction preserves rows, collapses files, keeps replay semantics") {
    import spark.implicits._
    val root = Files.createTempDirectory("compact").toString + "/registry"

    // simulate a stream: 3 micro-batches, 4 files each (12 data files)
    for (b <- 0L until 3L)
      (0L until 40L).map(i => (b * 100 + i, i % 7)).toDF("k", "v")
        .repartition(4)
        .write.mode("overwrite").parquet(s"$root/batch_id=$b")
    val beforeRows = canon(spark.read.parquet(root))

    val (before, after) = Sinks.compactPartitioned(spark, root, Seq("batch_id"))
    assert(before === 12L)
    assert(after === 3L) // one file per batch_id directory
    assert(canon(spark.read.parquet(root)) === beforeRows)

    // a replayed batch still owns exactly its directory after compaction
    (0L until 40L).map(i => (100 + i, 99L)).toDF("k", "v")
      .repartition(2)
      .write.mode("overwrite").parquet(s"$root/batch_id=1")
    val replayed = spark.read.parquet(root)
    assert(replayed.filter(col("batch_id") === 1 && col("v") =!= 99).count() === 0L)
    assert(replayed.filter(col("batch_id") =!= 1).count() === 80L)
    assert(replayed.count() === 120L)
  }

  test("crash between the swap renames is recoverable; no data-less window survives startup") {
    import spark.implicits._
    val root = Files.createTempDirectory("compact-crash").toString + "/registry"
    for (b <- 0L until 2L)
      (0L until 10L).map(i => (b * 100 + i, i)).toDF("k", "v")
        .write.mode("overwrite").parquet(s"$root/batch_id=$b")
    val rows = canon(spark.read.parquet(root))

    // simulate the crash window: root renamed to .__compact_old, the
    // new generation never promoted (tmp lost with the process)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.rename(new org.apache.hadoop.fs.Path(root),
      new org.apache.hadoop.fs.Path(root + ".__compact_old")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root)))

    Sinks.recoverCompaction(spark, root)
    assert(canon(spark.read.parquet(root)) === rows)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root + ".__compact_old")))

    // a dangling old generation NEXT TO a healthy root: late batch
    // directories inside it are salvaged, then it is cleaned up
    (0L until 5L).map(i => (900 + i, i)).toDF("k", "v")
      .write.mode("overwrite").parquet(s"$root.__compact_old/batch_id=7")
    Sinks.recoverCompaction(spark, root)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root + ".__compact_old")))
    assert(spark.read.parquet(root).filter(col("batch_id") === 7).count() === 5L)

    // idempotent when there is nothing to recover
    Sinks.recoverCompaction(spark, root)
    assert(spark.read.parquet(root).count() === 25L)
  }

  test("micro-batch landing mid-compaction is salvaged, not deleted with the old generation") {
    import spark.implicits._
    val root = Files.createTempDirectory("compact-race").toString + "/registry"
    for (b <- 0L until 2L)
      (0L until 10L).map(i => (b * 100 + i, i)).toDF("k", "v")
        .repartition(3)
        .write.mode("overwrite").parquet(s"$root/batch_id=$b")

    // a micro-batch that lands AFTER the compaction read but BEFORE
    // the swap (injected deterministically through the onBeforeSwap
    // seam — the exact window the old code silently deleted): the new
    // directory rides the old generation through the swap and the
    // salvage diff moves it into the new root
    val late = (0L until 5L).map(i => (500 + i, i)).toDF("k", "v")
    val (_, _) = Sinks.compactPartitioned(spark, root, Seq("batch_id"),
      onBeforeSwap =
        () => late.write.mode("overwrite").parquet(s"$root/batch_id=9"))
    assert(spark.read.parquet(root).filter(col("batch_id") === 9).count() === 5L)
    assert(spark.read.parquet(root).filter(col("batch_id") < 2).count() === 20L)
    // and the old generation is gone once everything is accounted for
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root + ".__compact_old")))
  }
}
