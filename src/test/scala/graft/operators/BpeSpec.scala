package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** BPE tokenizer training (x176/x177): golden merges on the Sennrich
  * et al. 2016 example vocabulary, the greedy non-overlapping merge
  * rule, overlapping pair counting, and fertility accounting. */
class BpeSpec extends SparkSuite {
  import spark.implicits._

  // Sennrich et al. 2016 §3.2 example: {low:5, lower:2, newest:6, widest:3}
  private lazy val sennrich = Seq(
    (0L, Seq.fill(5)("low").mkString(" ")),
    (1L, Seq.fill(2)("lower").mkString(" ")),
    (2L, Seq.fill(6)("newest").mkString(" ")),
    (3L, Seq.fill(3)("widest").mkString(" "))
  ).toDF("doc_id", "text")

  test("golden merges on the Sennrich example vocabulary") {
    val (merges, _) = Corpus.bpeTrain(sennrich, "doc_id", "text", 5)
    // (e,s) 9 ties (s,t) 9 and (t,</w>) 9 → lexicographic; then the
    // fused symbols chain; (l,o) 7 ties (o,w) 7 → lexicographic again
    assert(merges === Seq(
      (1, "e", "s", 9L),
      (2, "es", "t", 9L),
      (3, "est", "</w>", 9L),
      (4, "l", "o", 7L),
      (5, "lo", "w", 7L)))
  }

  test("greedy non-overlapping merge: aaaa + (a,a) → aa aa") {
    val syms = Seq(
      ("aaaa", 1L, "a", 1L), ("aaaa", 2L, "a", 1L),
      ("aaaa", 3L, "a", 1L), ("aaaa", 4L, "a", 1L),
      ("aaaa", 5L, "</w>", 1L)
    ).toDF("w", "pos", "sym", "cnt")
    val out = Corpus.bpeMergeStep(syms, "a", "a")
      .orderBy("pos").select("sym").as[String].collect()
    assert(out.toSeq === Seq("aa", "aa", "</w>"))
  }

  test("odd runs leave the trailing symbol: aaaaa + (a,a) → aa aa a") {
    val syms = (1L to 5L).map(p => ("aaaaa", p, "a", 1L))
      .toDF("w", "pos", "sym", "cnt")
    val out = Corpus.bpeMergeStep(syms, "a", "a")
      .orderBy("pos").select("sym").as[String].collect()
    assert(out.toSeq === Seq("aa", "aa", "a"))
  }

  test("pair counts include overlapping occurrences, weighted by word frequency") {
    val df = Seq((0L, "aaa aaa aaa ab")).toDF("doc_id", "text")
    val m = Corpus.bpePairCounts(
      Corpus.bpeVocabSymbols(df, "doc_id", "text"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(m(("a", "a")) === 6L) // "aaa" cnt 3 × 2 overlapping pairs
    assert(m(("a", "b")) === 1L)
    assert(m(("a", "</w>")) === 3L) // "aaa" ends a</w>, ×3
    assert(m(("b", "</w>")) === 1L)
  }

  test("fertility joins every corpus word and counts fused-marker symbols as tokens") {
    // after 5 Sennrich merges: low = [low, </w>] → 1 token;
    // lower = [low, e, r, </w>] → 3; newest = [n, e, w, est</w>] → 4;
    // widest = [w, i, d, est</w>] → 4
    val (_, syms) = Corpus.bpeTrain(sennrich, "doc_id", "text", 5)
    val wtok = Corpus.bpeTokensPerWord(syms)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(wtok === Map("low" -> 1L, "lower" -> 3L, "newest" -> 4L, "widest" -> 4L))
    val fert = Corpus.bpeFertility(sennrich, "doc_id", "text", syms)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(fert.toSeq === Seq(
      (0L, 5L, 5L, 10000L),   // 5×low → 5 tokens
      (1L, 2L, 6L, 30000L),   // 2×lower → 6
      (2L, 6L, 24L, 40000L),  // 6×newest → 24
      (3L, 3L, 12L, 40000L))) // 3×widest → 12
  }

  test("vocab artifact: symbol inventory with type and occurrence counts") {
    // after 5 merges: low=[low,</w>] lower=[low,e,r,</w>]
    // newest=[n,e,w,est</w>] widest=[w,i,d,est</w>]
    val (_, syms) = Corpus.bpeTrain(sennrich, "doc_id", "text", 5)
    val vocab = syms.groupBy(col("sym"))
      .agg(countDistinct(col("w")).as("t"), sum(col("cnt")).as("o"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(vocab === Map(
      "low" -> ((2L, 7L)), "</w>" -> ((2L, 7L)), "e" -> ((2L, 8L)),
      "r" -> ((1L, 2L)), "n" -> ((1L, 6L)), "w" -> ((2L, 9L)),
      "est</w>" -> ((2L, 9L)), "i" -> ((1L, 3L)), "d" -> ((1L, 3L))))
  }

  test("training stops early when no adjacent pair remains") {
    val df = Seq((0L, "a a a")).toDF("doc_id", "text")
    // vocab = {a:3} → symbols [a, </w>]: round 1 merges (a,</w>);
    // afterwards every word is a single symbol — no pairs left
    val (merges, _) = Corpus.bpeTrain(df, "doc_id", "text", 5)
    assert(merges === Seq((1, "a", "</w>", 3L)))
  }
}
