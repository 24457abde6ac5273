package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup

/** Incremental-CC contract (CcStream): after every micro-batch the
  * streamed mapping is ROW-IDENTICAL to batch
  * [[Dedup.connectedComponents]] over the concatenation of all edges so
  * far — star edges preserve connectivity and node sets, and min-id
  * roots survive merges (the minimum of a merged class is the minimum
  * over its original members, all of which stand as star-edge nodes).
  * Pins the cross-batch merge case (two clusters formed in different
  * batches bridged by a later edge collapse to the global-min root),
  * prefix equality per batch, singleton survival (a self-pair's
  * one-node cluster persists across later batches), replay idempotence,
  * and the keep-list law (node == cluster_root). */
class CcStreamSpec extends SparkSuite {
  private def mapOf(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select("node", "cluster_root").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("streamed mapping == batch CC per prefix; cross-batch merges; replay; keep-list") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // batch 0: cluster {1,2,3} and cluster {10,11}; SELF-PAIR (40,40)
    //          → singleton cluster {40} that must survive every
    //          subsequent batch (star re-expression keeps root
    //          self-edges precisely so singletons don't vanish)
    // batch 1: cluster {20,21}; an intra-cluster edge (2,3) re-arrives
    // batch 2: edge (11,20) BRIDGES {10,11} and {20,21} → root 10;
    //          edge (3,30) grows {1,2,3} → root stays 1
    val batches: Seq[Seq[(Long, Long)]] = Seq(
      Seq((1L, 2L), (2L, 3L), (10L, 11L), (40L, 40L)),
      Seq((20L, 21L), (2L, 3L)),
      Seq((11L, 20L), (3L, 30L)))

    val root = Files.createTempDirectory("cc-stream").toString
    val (labels, ckpt) = (s"$root/labels", s"$root/ckpt")

    val src = MemoryStream[(Long, Long)]
    val q = CcStream.startIncrementalCc(
      src.toDF().toDF("a", "b"), labels, ckpt, aCol = "a", bCol = "b")
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }
    } finally q.stop()

    def batchCc(prefix: Int): Map[Long, Long] = mapOf(
      Dedup.connectedComponents(
        batches.take(prefix).flatten.toDF("a", "b"), "a", "b"))

    // per-batch prefix equality (row-identical mappings)
    for (i <- batches.indices) {
      val streamed = mapOf(
        spark.read.schema("node BIGINT, cluster_root BIGINT")
          .parquet(s"$labels/batch_id=$i"))
      assert(streamed === batchCc(i + 1), s"prefix ${i + 1} diverged")
    }

    // the bridge collapsed {10,11} ∪ {20,21} to root 10; {1,2,3,30} to 1
    val fin = mapOf(spark.read.schema("node BIGINT, cluster_root BIGINT")
      .parquet(s"$labels/batch_id=2"))
    assert(Seq(10L, 11L, 20L, 21L).forall(fin(_) === 10L))
    assert(Seq(1L, 2L, 3L, 30L).forall(fin(_) === 1L))
    // the batch-0 singleton is STILL in the mapping two batches later
    assert(fin(40L) === 40L, "singleton cluster must survive re-expression")
    // keep-list law: exactly one root per cluster, the min member
    assert(fin.count { case (n, r) => n == r } === 3)

    // replay idempotence: a replayed batch reads the standing state
    // strictly BEFORE its id (its own earlier attempt is ignored), so
    // recomputing batch 2 from the batch-1 mapping — the exact
    // foreachBatch contract — must reproduce the landed mapping
    val standing = spark.read.schema("node BIGINT, cluster_root BIGINT")
      .parquet(s"$labels/batch_id=1")
      .select(col("node").as("a"), col("cluster_root").as("b"))
    val replayed = mapOf(Dedup.connectedComponents(
      batches(2).toDF("a", "b").unionAll(standing), "a", "b"))
    assert(replayed === fin, "replay from the standing state must be idempotent")
  }
}
