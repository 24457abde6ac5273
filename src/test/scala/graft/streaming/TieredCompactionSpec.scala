package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Laws of [[RegistryCompaction.maybeCompactTiered]] — the geometric
  * fold of the standing registries. Pinned here:
  *
  *  - trigger law: no-op at or under `maxParts` standing partitions;
  *    above it, exactly the smallest-by-bytes ⌈half⌉ fold away and the
  *    directory count drops accordingly (large runs stay in place —
  *    the property that bounds per-row rewrites to O(log N));
  *  - content: the registry's row SET is invariant under any sequence
  *    of tiered folds;
  *  - crash windows (manifest protocol, staged in the fold's own tmp
  *    dir `_compact_tmp_tiered`): tmp WITHOUT a manifest means nothing
  *    was deleted — replay refolds from the live listing; tmp WITH a
  *    manifest means deletes may have started — replay finishes
  *    delete+rename from the manifest, never recomputes (recomputing
  *    after a partial delete would lose subsumed rows); a finished
  *    fold's replay (target exists) is a no-op;
  *  - stream twin-run: SegmentDedupStream with `compactMaxParts` on vs
  *    off produces bit-identical outputs with a bounded
  *    registry directory count.
  */
class TieredCompactionSpec extends SparkSuite {
  private val ddl = "doc_id BIGINT, phash BIGINT, batch_id BIGINT"
  private val tmpDir = "_compact_tmp_tiered"

  private def regDf(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "phash")
  }

  /** partitions batch_id=-1,0,1,2,3 with 1,1,2,3,5 rows (distinct doc
    * ids) so the smallest-by-bytes half is unambiguous. */
  private def freshRegistry(): (String, Map[Long, Long]) = {
    val root = Files.createTempDirectory("tiered").toString
    val reg = s"$root/registry"
    var next = 0L
    def part(id: Long, n: Int): Unit = {
      val rows = (0 until n).map { _ => val d = next; next += 1; d -> (100L + d) }
      regDf(rows).coalesce(1).write.parquet(s"$reg/batch_id=$id")
    }
    part(-1, 1); part(0, 1); part(1, 2); part(2, 3); part(3, 5)
    (reg, (0L until next).map(d => d -> (100L + d)).toMap)
  }

  private def readRegistry(reg: String): Map[Long, Long] =
    spark.read.schema(ddl).parquet(reg)
      .select("doc_id", "phash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def partitionNames(reg: String): Set[String] =
    new java.io.File(reg).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet

  test("trigger law: no-op at/under maxParts; above it the smallest half folds") {
    val (reg, docs) = freshRegistry() // 5 standing partitions
    RegistryCompaction.maybeCompactTiered(spark, reg, 4, maxParts = 5, Some(ddl))
    assert(partitionNames(reg) ===
      Set("batch_id=-1", "batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3"),
      "at maxParts standing partitions nothing may fold")

    RegistryCompaction.maybeCompactTiered(spark, reg, 4, maxParts = 4, Some(ddl))
    // 5 > 4: the smallest ceil(5/2)=3 by bytes (-1, 0, 1) fold into -6;
    // the two largest runs (2, 3) stay in place
    assert(partitionNames(reg) ===
      Set("batch_id=-6", "batch_id=2", "batch_id=3"))
    assert(readRegistry(reg) === docs, "fold must preserve the row set")

    // replay of the finished fold (target exists): no-op
    RegistryCompaction.maybeCompactTiered(spark, reg, 4, maxParts = 4, Some(ddl))
    assert(partitionNames(reg) ===
      Set("batch_id=-6", "batch_id=2", "batch_id=3"))
    assert(readRegistry(reg) === docs)
  }

  test("crash after parquet write, before manifest: replay refolds, no loss") {
    val (reg, docs) = freshRegistry()
    // simulate: tmp parquet written (with _SUCCESS) but no _folded
    // manifest — by protocol nothing has been deleted yet
    regDf(Seq(999L -> 999L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$reg/$tmpDir")
    assert(new java.io.File(s"$reg/$tmpDir/_SUCCESS").exists())
    RegistryCompaction.maybeCompactTiered(spark, reg, 4, maxParts = 4, Some(ddl))
    // the stale tmp (with its bogus row) must be DISCARDED, not trusted
    assert(readRegistry(reg) === docs)
    assert(partitionNames(reg) === Set("batch_id=-6", "batch_id=2", "batch_id=3"))
    assert(!new java.io.File(s"$reg/$tmpDir").exists(),
      "the refold's tmp must be renamed away on completion")
  }

  test("crash mid-delete (manifest present): replay finishes, never recomputes") {
    val (reg, docs) = freshRegistry()
    // run the fold by hand up to the manifest, then delete ONE of the
    // subsumed partitions (the mid-delete crash): its rows now exist
    // only in the tmp fold
    val foldNames = Seq("batch_id=-1", "batch_id=0", "batch_id=1")
    val ids = foldNames.map(_.stripPrefix("batch_id=").toLong)
    spark.read.schema(ddl).parquet(reg)
      .filter(col("batch_id").isin(ids: _*))
      .drop("batch_id").distinct()
      .coalesce(1).write.mode("overwrite").parquet(s"$reg/$tmpDir")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$reg/$tmpDir/_folded"),
      foldNames.mkString("\n").getBytes("UTF-8"))
    def rmdir(p: String): Unit = {
      val d = new java.io.File(p)
      Option(d.listFiles).getOrElse(Array.empty).foreach(f => rmdir(f.getPath))
      d.delete()
    }
    rmdir(s"$reg/batch_id=0") // the partial delete

    RegistryCompaction.maybeCompactTiered(spark, reg, 4, maxParts = 4, Some(ddl))
    assert(readRegistry(reg) === docs,
      "rows of the already-deleted partition must survive via the tmp fold")
    assert(partitionNames(reg) === Set("batch_id=-6", "batch_id=2", "batch_id=3"))
  }

  test("stream twin-run: segment dedup with tiered compaction == compaction off, bounded dirs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val corpus = graft.sources.Tables(spark, "/root/testdata/sf0.001").documents
      .filter(col("doc_id") < 60)
      .select(col("doc_id"), col("source"), col("text"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val batches = corpus.grouped(6).map(_.toSeq).toSeq // 10 micro-batches

    def run(maxParts: Int): (String, Int) = {
      val root = Files.createTempDirectory(s"tiered-seg-$maxParts").toString
      Seq.empty[(Long, Long)].toDF("h", "k").write.parquet(s"$root/registry/batch_id=-1")
      val src = MemoryStream[(Long, String, String)]
      val q = SegmentDedupStream.startSegmentDedup(
        src.toDF().toDF("doc_id", "source", "text"),
        s"$root/registry", s"$root/stats", s"$root/ckpt",
        compactMaxParts = maxParts)
      try batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
      finally q.stop()
      val dirs = new java.io.File(s"$root/registry").listFiles()
        .count(_.getName.startsWith("batch_id="))
      (root, dirs)
    }
    def image(path: String): Seq[String] = spark.read.parquet(path)
      .collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq

    val (off, offDirs) = run(0)
    val (on, onDirs) = run(4)
    assert(image(s"$off/stats") === image(s"$on/stats"),
      "tiered compaction must not change the stream's output")
    assert(offDirs === 11, s"uncompacted run should hold one dir per batch + seed")
    assert(onDirs <= 5, s"tiered run must stay bounded near maxParts, got $onDirs")
  }
}
