package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Pins the rolling-hash identity: `span_hashes(text, k)[i]` must be
  * BIT-IDENTICAL to `poly_hash(array_join(slice(split(text,' '), i+1,
  * k), ' '))` — the original gram-materializing form that the DuckDB
  * oracles replay. The old form survives here (only here) as the
  * equivalence oracle; adversarial inputs cover the cases a rolling
  * formulation could get wrong: empty tokens (double spaces),
  * leading/trailing spaces, multi-byte codepoints, surrogate pairs,
  * n == k and n < k boundaries. */
class SpanHashesSpec extends SparkSuite {
  private def oldFormVsNew(texts: Seq[String], k: Int): Unit = {
    import spark.implicits._
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("id", "text")
    val oldH = df.select(col("id"), expr(
        s"posexplode(CASE WHEN size(split(text, ' ')) >= $k " +
          s"THEN transform(sequence(0, size(split(text, ' ')) - $k), " +
          s"i -> poly_hash(array_join(slice(split(text, ' '), i + 1, $k), ' '))) " +
          "ELSE array() END)").as(Seq("pos", "h")))
    val newH = df.select(col("id"),
      expr(s"posexplode(span_hashes(text, $k))").as(Seq("pos", "h")))
    val oldRows = oldH.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    val newRows = newH.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted
    assert(oldRows.nonEmpty || texts.forall(_.split(" ", -1).length < k))
    assert(newRows.toSeq === oldRows.toSeq)
  }

  test("identical to poly_hash of the joined gram on plain text, k=8") {
    oldFormVsNew(Seq(
      "the quick brown fox jumps over the lazy dog again and again",
      "a b c d e f g h", // n == k exactly: one window
      "short doc", // n < k: no windows
      ""
    ), k = 8)
  }

  test("identical under empty tokens, leading/trailing spaces, k=3") {
    oldFormVsNew(Seq(
      "a  b   c d", // double/triple spaces → empty tokens
      " leading space", // split yields an initial empty token
      "trailing space ", // ...and a final one
      "   ", // all-empty tokens (4 of them)
      "x y z"
    ), k = 3)
  }

  test("identical on multi-byte codepoints and surrogate pairs, k=2") {
    oldFormVsNew(Seq(
      "café naïve résumé", // 2-byte UTF-8
      "日本語 テスト 漢字", // 3-byte CJK
      "😀 emoji 😁 pair 😂", // surrogate pairs
      "mixed café 😀 日本"
    ), k = 2)
  }

  test("identical on a long pseudo-random document, k=8") {
    // deterministic LCG so the spec is reproducible; ~5k tokens with a
    // skewed vocabulary so real duplicate windows occur
    var s = 42L
    def next(): Long = { s = (s * 6364136223846793005L + 1442695040888963407L); s >>> 33 }
    val words = Array("alpha", "beta", "gamma", "", "déjà", "x")
    val doc = Seq.fill(5000)(words((next() % words.length).toInt)).mkString(" ")
    oldFormVsNew(Seq(doc), k = 8)
  }

  test("INV31 is the modular inverse of 31") {
    assert(31L * SpanHashesUtil.INV31 % PolyHashUtil.P === 1L)
  }
}
