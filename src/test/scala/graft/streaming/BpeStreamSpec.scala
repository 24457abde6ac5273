package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.operators.Corpus
import graft.sources.Tables

/** Multi-batch contract of the streaming BPE segmenter: fertility rows
  * against the frozen merge table equal batch x177 over the whole
  * corpus regardless of batching (merge application is per-word
  * deterministic once the table is fixed), novel words segment via the
  * merges rather than vanishing, and metrics account for every doc. */
class BpeStreamSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  test("stream fertility across 3 shuffled batches == batch x177; metrics account for all") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = Files.createTempDirectory("bpe-stream").toString
    val docs = Tables(spark, sf).documents
    BpeStream.buildTokenizer(docs, s"$root/tok", "doc_id", "text")

    val all = docs.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val src = MemoryStream[(Long, String)]
    val q = BpeStream.startBpeTokenize(
      src.toDF().toDF("doc_id", "text"),
      s"$root/tok", s"$root/out", s"$root/metrics", s"$root/ckpt",
      "doc_id", "text")
    try {
      // deliberately non-id-ordered delivery: mod-3 interleave
      for (part <- Seq(2, 0, 1)) {
        src.addData(all.filter(_._1 % 3 == part): _*)
        q.processAllAvailable()
      }
    } finally q.stop()

    def canon(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "n_words", "n_bpe_tokens", "fertility_bp").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    val streamed = canon(spark.read.parquet(s"$root/out"))
    val batch = canon(
      graft.SparkEntry.queries("x177_bpe_fertility")(spark, sf))
    assert(streamed === batch)

    val m = spark.read.parquet(s"$root/metrics")
      .agg(sum("n_docs"), sum("n_bpe_tokens")).head()
    assert(m.getLong(0) === all.length.toLong)
    assert(m.getLong(1) === batch.toSeq.map(_._3).sum)
  }

  test("novel words segment through the frozen merges, not a closed vocabulary") {
    import spark.implicits._
    // tokenizer trained on the Sennrich vocab; serving sees 'lowest'
    // (novel) which must segment via the learned merges:
    // l-o-w-e-s-t-</w> → es → est → est</w> → lo → low
    // = [low, est</w>] → 2 tokens
    val seed = Seq(
      (0L, Seq.fill(5)("low").mkString(" ")),
      (1L, Seq.fill(2)("lower").mkString(" ")),
      (2L, Seq.fill(6)("newest").mkString(" ")),
      (3L, Seq.fill(3)("widest").mkString(" "))
    ).toDF("doc_id", "text")
    val (merges, _) = Corpus.bpeTrain(seed, "doc_id", "text", 5)
    val novel = Seq((99L, "lowest lowest low")).toDF("doc_id", "text")
    val out = Corpus.bpeApplyMerges(novel, "doc_id", "text",
      merges.map { case (_, a, b, _) => (a, b) }).collect()
    assert(out.length === 1)
    // 3 words; lowest → 2 tokens ×2, low → [low,</w>] → 1 token
    assert(out.head.getLong(1) === 3L)
    assert(out.head.getLong(2) === 5L)
  }
}
