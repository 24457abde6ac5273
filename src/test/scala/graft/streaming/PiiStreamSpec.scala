package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Corpus

/** Streaming PII scrub contract: scrubbed output over micro-batches
  * equals the batch [[Corpus.piiScan]] on the same documents (the scan
  * is stateless), the sink never carries a surviving match, and the
  * per-batch metrics reconstruct the full scrub audit. */
class PiiStreamSpec extends SparkSuite {
  private val pats = Seq(
    "email" -> "[a-z0-9]+@[a-z]+\\.[a-z]+",
    "phone" -> "\\d{3}-\\d{4}")

  test("stream scrub == batch scan; no surviving match lands; audit reconstructs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("pii-stream").toString
    val (scrubbed, metrics, ckpt) = (s"$root/scrubbed", s"$root/metrics", s"$root/ckpt")

    val corpus = (1L to 30L).map { i =>
      val pii =
        if (i % 3 == 0) s" mail user$i@example.com" else if (i % 5 == 0) s" dial 555-${1000 + i}" else ""
      (i, s"document body number $i$pii tail words")
    }
    val batches = corpus.grouped(10).toSeq

    val src = MemoryStream[(Long, String)]
    val q = PiiStream.startPiiScrub(
      src.toDF().toDF("doc_id", "text"), scrubbed, metrics, ckpt,
      "doc_id", "text", pats)
    try {
      batches.foreach { b => src.addData(b: _*); q.processAllAvailable() }

      val batchScan = Corpus.piiScan(corpus.toDF("doc_id", "text"), "text", pats)
        .collect().map(r => r.getLong(0) ->
          ((r.getString(4), r.getLong(2), r.getLong(3)))).toMap

      val landed = spark.read.parquet(scrubbed)
        .select("doc_id", "text", "email_count", "phone_count")
        .collect().map(r => r.getLong(0) ->
          ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
      assert(landed === batchScan) // stream ≡ batch, text under original name

      // nothing that still matches a pattern ever landed
      landed.values.foreach { case (text, _, _) =>
        pats.foreach { case (_, re) => assert(re.r.findFirstIn(text).isEmpty) }
      }

      // per-batch metrics sum to the batch totals
      val audit = spark.read.parquet(metrics)
        .groupBy("pattern")
        .agg(sum("n_matches").as("m"), sum("n_docs_hit").as("h"))
        .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      val emails = corpus.count(_._1 % 3 == 0).toLong
      val phones = corpus.count(c => c._1 % 5 == 0 && c._1 % 3 != 0).toLong
      assert(audit("email") === ((emails, emails)))
      assert(audit("phone") === ((phones, phones)))
    } finally q.stop()
  }
}
