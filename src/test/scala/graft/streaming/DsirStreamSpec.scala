package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Corpus
import graft.sources.Tables

/** Multi-batch contract of the streaming DSIR gate: verdicts against
  * the frozen weight table equal batch [[Corpus.dsirApply]] over the
  * whole corpus regardless of batching (the score is within-document
  * once the table is fixed), and the metrics rows account for every
  * scored document exactly once. */
class DsirStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("stream kept docs across 3 batches == batch dsirApply; metrics account for all") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("dsir-stream").toString
    val docs = Tables(spark, sf).documents
    DsirStream.buildWeights(docs, s"$root/weights", "doc_id", "text",
      col("source") === "src0")

    val all = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)]
    val q = DsirStream.startDsirGate(
      src.toDF().toDF("doc_id", "text"),
      s"$root/weights", s"$root/kept", s"$root/metrics", s"$root/ckpt",
      "doc_id", "text")
    try {
      for (part <- 0 until 3) {
        src.addData(all.filter(_._1 % 3 == part): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    val weights = spark.read.parquet(s"$root/weights")
    val batchScored = Corpus.dsirApply(docs, "doc_id", "text", weights)
    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_tokens", "score").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val streamedKept = canon(spark.read.parquet(s"$root/kept"))
    val batchKept = canon(batchScored.filter(col("keep")))
    assert(streamedKept === batchKept)

    val m = spark.read.parquet(s"$root/metrics")
      .agg(sum("n_kept"), sum("n_dropped")).head()
    assert(m.getLong(0) + m.getLong(1) === batchScored.count())
    assert(m.getLong(0) === batchKept.size.toLong)
  }

  test("a document of entirely novel vocabulary still gets a verdict row") {
    import spark.implicits._
    val root = Files.createTempDirectory("dsir-novel").toString
    val fit = Seq((1L, "alpha beta gamma", "src0"),
      (2L, "beta delta epsilon", "src1")).toDF("doc_id", "text", "source")
    DsirStream.buildWeights(fit, s"$root/w", "doc_id", "text",
      col("source") === "src0")
    val weights = spark.read.parquet(s"$root/w")
    // every token unseen at fit time → score 0, n_tokens still counted,
    // and the doc appears (as dropped) so gate accounting stays exact
    val novel = Seq((99L, "zzz_one zzz_two zzz_three")).toDF("doc_id", "text")
    val out = Corpus.dsirApply(novel, "doc_id", "text", weights).collect()
    assert(out.length === 1)
    assert(out.head.getLong(1) === 3L) // n_tokens
    assert(out.head.getLong(2) === 0L) // score
    assert(!out.head.getBoolean(3))    // keep = false (score not > 0)
  }
}
