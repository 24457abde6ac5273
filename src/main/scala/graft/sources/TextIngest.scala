package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Raw-text corpus ingestion: line-per-document text files (the common
  * crawl-dump / dataset-drop layout) → the `documents` shape, content-
  * addressed so exact dedup is a groupBy on the hash.
  *
  * Paths are URIs (`s3a://…` works unchanged); file provenance rides in
  * via the `_metadata` hidden column (no deprecated input_file_name).
  * At 100 TB the batch form is a pure scan + per-row projection — no
  * shuffle until a downstream dedup groups by `doc_hash`.
  */
object TextIngest {

  /** Batch ingestion: one row per non-blank line, with an md5 content
    * address, source-file provenance, and length metadata. */
  def ingestTextFiles(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(col("value"), col("_metadata.file_path").as("source_file"))
      .filter(length(trim(col("value"))) > 0)
      .select(
        md5(col("value").cast("binary")).as("doc_hash"),
        col("value").as("text"),
        col("source_file"),
        length(col("value")).cast("long").as("n_chars")
      )

  /** Per-row quality enrichment: whitespace + BPE-ish token counts and
    * the length/stopword quality score, appended to any frame with a
    * `text` column. Stateless per-row expressions — the SAME function
    * works on a batch frame and on a `readStream` frame, so a streaming
    * curation gate (filter on quality before landing) is just
    * `streamTextFiles(...).transform(withQualitySignals).filter(...)`. */
  def withQualitySignals(df: DataFrame): DataFrame = {
    val nTok = graft.functions.Text.tokenCount("text")
    val stops = expr(graft.functions.Text.wordCountSql("text", "the"))
    df.withColumn("n_tokens", nTok)
      .withColumn("n_regex_tokens", graft.functions.Text.regexTokenCount("text"))
      .withColumn("quality",
        graft.functions.Text.qualityScore(col("n_tokens"), stops))
  }

  /** Content-hash train/val/test assignment (x43's rule as an ingest
    * column): `poly_hash(text) % 100` → 98/1/1. Per-row and stateless,
    * so the SAME call works on batch and `readStream` frames — and
    * because the key is the CONTENT hash, duplicate documents land in
    * one split whatever batch or stream they arrive in. */
  def withSplitAssignment(df: DataFrame): DataFrame = {
    val bucket = expr("poly_hash(text) % 100")
    df.withColumn("split_name",
      when(bucket < 98, "train").when(bucket < 99, "val").otherwise("test"))
  }

  /** Ingest-time decontamination: flag arriving documents that share any
    * `n`-word-gram with a held-out benchmark, given the benchmark's gram
    * hash set. The set is eval-sized at any corpus scale, so it ships as
    * a broadcast literal and the check is one stateless per-row
    * `arrays_overlap` — no join, no state, streaming-safe (the
    * stream-static-join formulation would force a per-doc re-aggregation
    * under watermark; this shape needs neither). Pair with
    * [[benchmarkGramHashes]] to build the set from the benchmark frame. */
  def withContaminationFlag(df: DataFrame, benchGramHashes: Seq[Long], n: Int = 8): DataFrame = {
    val grams = expr(
      s"CASE WHEN size(split(text, ' ')) >= $n THEN " +
        s"transform(sequence(1, size(split(text, ' ')) - ${n - 1}), " +
        s"i -> poly_hash(array_join(slice(split(text, ' '), i, $n), ' '))) " +
        "ELSE array() END")
    df.withColumn("contaminated",
      arrays_overlap(grams, typedLit(benchGramHashes)))
  }

  /** Distinct `n`-gram poly-hashes of a benchmark frame, collected to
    * the driver. Deliberately driver-side: benchmarks are eval-sized
    * (thousands of docs), and the literal set is what makes the
    * streaming contamination check stateless. */
  def benchmarkGramHashes(bench: DataFrame, textCol: String, n: Int = 8): Seq[Long] =
    bench
      .select(explode(expr(
        s"CASE WHEN size(split($textCol, ' ')) >= $n THEN " +
          s"transform(sequence(1, size(split($textCol, ' ')) - ${n - 1}), " +
          s"i -> poly_hash(array_join(slice(split($textCol, ' '), i, $n), ' '))) " +
          "ELSE array() END")).as("h"))
      .distinct()
      .collect().map(_.getLong(0)).toSeq

  /** Continuous ingestion: the same projection over `readStream`, with
    * exact content dedup bounded to a processing-time `horizon` —
    * `dropDuplicatesWithinWatermark` keeps one state entry per distinct
    * document seen inside the horizon, so state is (horizon × ingest
    * rate), not corpus size. Re-drops of old files beyond the horizon
    * are a downstream batch-dedup concern (Dedup.exact). */
  def streamTextFiles(spark: SparkSession, path: String, horizon: String): DataFrame =
    spark.readStream.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(
        md5(col("value").cast("binary")).as("doc_hash"),
        col("value").as("text"),
        current_timestamp().as("ingest_ts"),
        length(col("value")).cast("long").as("n_chars")
      )
      .withWatermark("ingest_ts", horizon)
      .dropDuplicatesWithinWatermark("doc_hash")
}
