package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Crash-window replay of [[RegistryCompaction.compact]]'s three-step
  * protocol (fold to hidden tmp with `_SUCCESS` → delete subsumed →
  * rename — shared by every standing-registry stream, driven here on
  * the PHash signature schema), exercised DIRECTLY against hand-built
  * filesystem states — the streaming specs cover the happy path; these
  * pin the two windows where a naive protocol loses data:
  *
  *  - crash AFTER the fold, BEFORE any delete: the replay must not
  *    trust a recompute (it would be fine here) — it must produce the
  *    same single-partition registry either way;
  *  - crash MID-DELETE: some subsumed partitions are gone and their
  *    rows exist ONLY in the tmp fold — a replay that recomputed the
  *    fold from the remaining partitions would silently drop them
  *    (the exact loss mode the `_SUCCESS` check exists to prevent).
  */
class PHashCompactProtocolSpec extends SparkSuite {
  private def regDf(rows: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    rows.toDF("doc_id", "phash")
  }

  /** A registry with partitions batch_id=-1 (seed), 0, 1 holding docs
    * 0..5; returns (registryPath, full doc set). */
  private def freshRegistry(): (String, Map[Long, Long]) = {
    val root = Files.createTempDirectory("phash-protocol").toString
    val reg = s"$root/registry"
    regDf(Seq(0L -> 10L, 1L -> 11L)).write.parquet(s"$reg/batch_id=-1")
    regDf(Seq(2L -> 12L, 3L -> 13L)).write.parquet(s"$reg/batch_id=0")
    regDf(Seq(4L -> 14L, 5L -> 15L)).write.parquet(s"$reg/batch_id=1")
    (reg, (0L to 5L).map(d => d -> (10L + d)).toMap)
  }

  private def readRegistry(reg: String): Map[Long, Long] =
    spark.read
      .schema("doc_id BIGINT, phash BIGINT, batch_id BIGINT")
      .parquet(reg)
      .select("doc_id", "phash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def partitionNames(reg: String): Set[String] =
    new java.io.File(reg).listFiles()
      .map(_.getName).filter(_.startsWith("batch_id=")).toSet

  test("clean compaction folds everything into one negative partition") {
    val (reg, docs) = freshRegistry()
    RegistryCompaction.compact(spark, reg, 2,
      Some("doc_id BIGINT, phash BIGINT, batch_id BIGINT"))
    assert(partitionNames(reg) === Set("batch_id=-4"))
    assert(readRegistry(reg) === docs)
    // replay of the same compacting batch after completion: idempotent
    RegistryCompaction.compact(spark, reg, 2,
      Some("doc_id BIGINT, phash BIGINT, batch_id BIGINT"))
    assert(partitionNames(reg) === Set("batch_id=-4"))
    assert(readRegistry(reg) === docs)
  }

  test("crash after fold, before deletes: replay converges, no duplicates") {
    val (reg, docs) = freshRegistry()
    // simulate the first attempt crashing right after step 1: the tmp
    // fold (with Spark's _SUCCESS marker) exists, nothing deleted yet
    regDf(docs.toSeq).coalesce(1)
      .write.mode("overwrite").parquet(s"$reg/_compact_tmp")
    assert(new java.io.File(s"$reg/_compact_tmp/_SUCCESS").exists())
    RegistryCompaction.compact(spark, reg, 2,
      Some("doc_id BIGINT, phash BIGINT, batch_id BIGINT"))
    assert(partitionNames(reg) === Set("batch_id=-4"))
    assert(readRegistry(reg) === docs)
  }

  test("crash mid-delete: rows surviving only in the tmp fold are not lost") {
    val (reg, docs) = freshRegistry()
    // first attempt: fold complete, then batch_id=0 (docs 2,3) was
    // deleted before the crash — docs 2,3 now exist ONLY in the tmp
    regDf(docs.toSeq).coalesce(1)
      .write.mode("overwrite").parquet(s"$reg/_compact_tmp")
    val p0 = new java.io.File(s"$reg/batch_id=0")
    p0.listFiles().foreach(_.delete()); assert(p0.delete())
    // a recompute-from-remaining replay would drop docs 2,3 here
    RegistryCompaction.compact(spark, reg, 2,
      Some("doc_id BIGINT, phash BIGINT, batch_id BIGINT"))
    assert(partitionNames(reg) === Set("batch_id=-4"))
    assert(readRegistry(reg) === docs)
  }

  test("incomplete tmp (no _SUCCESS) is recomputed, not trusted") {
    val (reg, docs) = freshRegistry()
    // a torn fold: tmp exists but carries garbage and no marker —
    // step-1 crash mid-write. No deletes can have happened yet (they
    // are gated on the marker), so a recompute from the partitions is
    // both safe and required.
    regDf(Seq(99L -> 999L)).coalesce(1)
      .write.mode("overwrite").parquet(s"$reg/_compact_tmp")
    assert(new java.io.File(s"$reg/_compact_tmp/_SUCCESS").delete())
    RegistryCompaction.compact(spark, reg, 2,
      Some("doc_id BIGINT, phash BIGINT, batch_id BIGINT"))
    assert(partitionNames(reg) === Set("batch_id=-4"))
    assert(readRegistry(reg) === docs) // garbage row gone, all docs kept
  }
}
