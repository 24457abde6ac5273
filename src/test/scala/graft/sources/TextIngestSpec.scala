package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSuite

class TextIngestSpec extends SparkSuite {
  test("batch ingestion: content-addressed rows with provenance, blanks dropped") {
    val dir = Files.createTempDirectory("txt-ingest").toString
    Files.writeString(Paths.get(s"$dir/a.txt"),
      "the quick brown fox\n\nshared line across files\n")
    Files.writeString(Paths.get(s"$dir/b.txt"),
      "shared line across files\nanother document line\n")
    val df = TextIngest.ingestTextFiles(spark, dir).cache()
    assert(df.count() === 4) // blank line dropped
    assert(df.columns.toSeq ===
      Seq("doc_hash", "text", "source_file", "n_chars"))
    // the duplicated line hashes identically across files
    val dupHashes = df.groupBy("doc_hash").count().filter(col("count") > 1).collect()
    assert(dupHashes.length === 1 && dupHashes(0).getLong(1) === 2)
    // provenance points at the real files
    val files = df.select("source_file").distinct()
      .collect().map(_.getString(0)).toSet
    assert(files.exists(_.endsWith("a.txt")) && files.exists(_.endsWith("b.txt")))
    // exact dedup collapses to 3 distinct documents
    assert(df.select("doc_hash").distinct().count() === 3)
  }

  test("quality signals: identical on batch and stream paths, filter-ready") {
    val dir = Files.createTempDirectory("txt-quality").toString
    Files.writeString(Paths.get(s"$dir/a.txt"),
      "the quick brown fox jumps over the lazy dog\nshort\n")
    val batch = TextIngest.withQualitySignals(
      TextIngest.ingestTextFiles(spark, dir))
    val collected = batch.collect().map(r =>
      r.getAs[String]("text") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_regex_tokens"),
          r.getAs[Double]("quality"))).toMap
    assert(collected("short")._1 === 1L)
    assert(collected.keys.exists(_.startsWith("the quick")))
    val longDoc = collected.keys.find(_.startsWith("the quick")).get
    assert(collected(longDoc)._1 === 9L && collected(longDoc)._2 === 9L)
    assert(collected(longDoc)._3 > collected("short")._3) // quality orders sensibly

    // the same transform runs unchanged on the streaming path
    val q = TextIngest.streamTextFiles(spark, dir, "1 hour")
      .transform(TextIngest.withQualitySignals)
      .writeStream.outputMode("append").format("memory")
      .queryName("txt_quality").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT text, n_tokens, n_regex_tokens, quality FROM txt_quality")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(streamed === collected)
  }

  test("split assignment and contamination flags: identical on batch and stream paths") {
    val dir = Files.createTempDirectory("txt-curation").toString
    Files.writeString(Paths.get(s"$dir/a.txt"),
      "one two three four five six seven eight nine ten\n" +
        "alpha beta gamma delta epsilon zeta eta theta iota\n" +
        "short line\n")
    // benchmark shares one 8-gram with the first doc only
    import spark.implicits._
    val bench = Seq("zero one two three four five six seven eight").toDF("text")
    val hashes = TextIngest.benchmarkGramHashes(bench, "text")
    assert(hashes.length == 2) // 9 words -> two 8-grams

    val batch = TextIngest.withContaminationFlag(
        TextIngest.withSplitAssignment(TextIngest.ingestTextFiles(spark, dir)), hashes)
      .select("text", "split_name", "contaminated")
    val collected = batch.collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(collected.size == 3)
    assert(collected.filter(_._2._2).keys.toSeq == collected.keys.filter(_.startsWith("one two")).toSeq,
      "exactly the overlapping doc is flagged")
    assert(collected("short line")._2 == false) // < 8 words: no gram evidence
    assert(collected.values.forall(v => Set("train", "val", "test")(v._1)))

    // the same two transforms run unchanged on the streaming path
    val q = TextIngest.streamTextFiles(spark, dir, "1 hour")
      .transform(TextIngest.withSplitAssignment)
      .transform(df => TextIngest.withContaminationFlag(df, hashes))
      .writeStream.outputMode("append").format("memory")
      .queryName("txt_curation").start()
    q.processAllAvailable()
    q.stop()
    val streamed = spark.sql("SELECT text, split_name, contaminated FROM txt_curation")
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getBoolean(2))).toMap
    assert(streamed === collected)
  }

  test("streaming ingestion dedups content within the watermark horizon") {
    val dir = Files.createTempDirectory("txt-stream").toString
    Files.writeString(Paths.get(s"$dir/a.txt"), "doc one\ndoc two\n")
    val q = TextIngest.streamTextFiles(spark, dir, horizon = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("txt_ingest").start()
    q.processAllAvailable()
    // a later file replays one document and adds one new
    Files.writeString(Paths.get(s"$dir/b.txt"), "doc two\ndoc three\n")
    q.processAllAvailable()
    q.stop()
    val texts = spark.sql("SELECT text FROM txt_ingest")
      .collect().map(_.getString(0)).sorted
    assert(texts.toSeq === Seq("doc one", "doc three", "doc two"))
  }
}
