package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Dedup

/** Multi-batch contract of the streaming incremental-dedup loop: per-batch
  * verdicts equal the batch operator (x44) on the same data, uniques are
  * admitted to the standing corpus, and later batches are judged against
  * the grown corpus. */
class DedupStreamSpec extends SparkSuite {
  test("stream verdicts == batch incrementalDedup per micro-batch; corpus grows") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("dedup-stream").toString
    val (corpusPath, verdictsPath, ckpt) =
      (s"$root/corpus", s"$root/verdicts", s"$root/ckpt")

    val seed = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six seven")
    )
    seed.toDF("doc_id", "text").write.parquet(s"$corpusPath/batch_id=-1")

    val src = MemoryStream[(Long, String)]
    val q = DedupStream.startIncrementalDedup(
      src.toDF().toDF("doc_id", "text"),
      corpusPath, verdictsPath, ckpt, "doc_id", "text", threshold = 0.5)
    try {
      // batch 0: exact dup of 1, near dup of 2, a unique
      val b0 = Seq(
        (17L, "alpha beta gamma delta epsilon zeta"),
        (27L, "one two three four five six eight"),
        (37L, "totally different words entirely here now"))
      src.addData(b0: _*)
      q.processAllAvailable()
      val v0 = spark.read.parquet(verdictsPath)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(v0 === Map(17L -> "exact_dup", 27L -> "near_dup", 37L -> "unique"))

      // stream verdict == the batch operator (x44 form) on the same data
      val staticTwin = Dedup.incrementalDedup(
          (seed ++ b0).toDF("doc_id", "text"), "doc_id", "text",
          col("doc_id") >= 10, threshold = 0.5)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(v0 === staticTwin)
      Dedup.release(spark.read.parquet(verdictsPath)) // no-op on plain scans — just exercises safety

      // only the unique doc joined the corpus
      val admitted = spark.read.parquet(corpusPath)
        .filter(col("batch_id") >= 0).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(admitted === Set(37L))

      // batch 1: judged against the GROWN corpus — 47 exact-dups the doc
      // admitted in batch 0, 57 near-dups it, 67 is unique
      src.addData(
        (47L, "totally different words entirely here now"),
        (57L, "totally different words entirely here soon"),
        (67L, "nothing in common with anything previous whatsoever"))
      q.processAllAvailable()
      val v1 = spark.read.parquet(verdictsPath)
        .filter(col("batch_id") === 1)
        .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
      assert(v1 === Map(47L -> "exact_dup", 57L -> "near_dup", 67L -> "unique"))
      val admitted1 = spark.read.parquet(corpusPath)
        .filter(col("batch_id") >= 0).select("doc_id")
        .collect().map(_.getLong(0)).toSet
      assert(admitted1 === Set(37L, 67L))
    } finally q.stop()
  }
}
