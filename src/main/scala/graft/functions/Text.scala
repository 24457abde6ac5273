package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Column-builder text-analysis API — the reusable form of the
  * oracle-checked x05–x08 queries, which delegate here (zero drift).
  * Builders take column NAMES and compose Spark SQL expression text, so
  * the exact same expressions run in the engine and (dialect-shared) in
  * the DuckDB oracle. All are pure per-row ops — deterministic at any
  * parallelism (see SCALE.md).
  */
object Text {

  /** Whitespace token count via replace-shrinkage (no regex dialect
    * drift; single-space-separated corpora). */
  def tokenCount(textCol: String): Column =
    expr(s"CAST(length($textCol) - length(replace($textCol, ' ', '')) + 1 AS BIGINT)")

  /** Occurrences of `word` (space-delimited, non-overlapping replace
    * semantics — identical in Spark and DuckDB). */
  def wordCount(textCol: String, word: String): Column =
    expr(
      s"(length(' ' || $textCol || ' ') - " +
        s"length(replace(' ' || $textCol || ' ', ' $word ', ' '))) / ${word.length + 1}"
    )

  /** SQL text twin of [[wordCount]] (for oracle construction). */
  def wordCountSql(textCol: String, word: String): String =
    s"(length(' ' || $textCol || ' ') - " +
      s"length(replace(' ' || $textCol || ' ', ' $word ', ' '))) / ${word.length + 1}"

  /** BPE-ish regex token count: alpha runs, digit runs, and single
    * punctuation marks each count as one token — the pre-merge word
    * segmentation a byte-pair tokenizer starts from. The character-class
    * pattern runs identically under Java regex and RE2. */
  val BpeIshPattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def regexTokenCount(textCol: String): Column =
    regexp_count(col(textCol), lit(BpeIshPattern)).cast("long")

  /** Length-normalized quality score with a stopword-ratio boost. */
  def qualityScore(nTokens: Column, stopHits: Column): Column =
    least(lit(1.0), nTokens / lit(100.0)) * (lit(0.2) + stopHits / nTokens)

  /** MD5 content fingerprint (hex, engine-portable). */
  def md5Fingerprint(textCol: String): Column =
    md5(col(textCol).cast("binary"))

  /** Portable polynomial fingerprint (codegen PolyHash; the session needs
    * `spark.sql.extensions=graft.GraftExtensions`, which `Sessions.local`
    * sets). */
  def polyFingerprint(textCol: String): Column = expr(s"poly_hash($textCol)")

  /** Word n-grams over a pre-split array column; empty below n words.
    * Array-valued — when the caller EXPLODES the grams (every hot path
    * does), use [[explodeNgrams]] instead: building every gram string
    * inside this transform() lambda evaluates interpreted per element
    * (SCALE.md "x205 splitter shape" — 2.8× slower and GC-spiky at 5M
    * grams). */
  def wordNgrams(wordsCol: String, n: Int = 3): Column = {
    val parts = (0 until n)
      .map(k => if (k == 0) s"element_at($wordsCol, i)" else s"element_at($wordsCol, i + $k)")
      .mkString(", ")
    expr(
      s"CASE WHEN size($wordsCol) >= $n THEN " +
        s"transform(sequence(1, size($wordsCol) - ${n - 1}), i -> concat_ws(' ', $parts)) " +
        "ELSE array() END"
    )
  }

  /** One row per word n-gram, the MEASURED explode shape (SCALE.md
    * "x205 splitter shape"): gram POSITIONS explode as ints and each gram
    * string concatenates in the fused Generate+Project — codegen'd
    * against a per-input-row word-array reference — instead of
    * materializing every gram string inside a transform() lambda
    * (interpreted per element). Emits (keep…, `as`); docs shorter than
    * `n` words emit nothing, exactly [[wordNgrams]]'s law. */
  def explodeNgrams(df: org.apache.spark.sql.DataFrame, keep: Seq[String],
      wordsCol: String, n: Int, as: String): org.apache.spark.sql.DataFrame = {
    val gram = (0 until n)
      .map(k => if (k == 0) s"element_at($wordsCol, __i)"
        else s"element_at($wordsCol, __i + $k)")
      .mkString(", ")
    df.select((keep.map(col) :+ col(wordsCol) :+
        explode(expr(
          s"CASE WHEN size($wordsCol) >= $n THEN sequence(1, size($wordsCol) - ${n - 1}) " +
            "ELSE array() END")).as("__i")): _*)
      .select((keep.map(col) :+ expr(s"concat_ws(' ', $gram)").as(as)): _*)
  }
}
