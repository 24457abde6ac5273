package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.SparkSuite
import graft.sources.Tables

/** Corpus library behaviors + plan shapes for the x23–x28 queries. */
class CorpusSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"
  lazy val docs = Tables(spark, sf).documents

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("x23 range join broadcasts the tier dimension (fact side unshuffled by the join)") {
    val p = plan("x23_range_join_tiers")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x25 top-bigrams plans as TakeOrderedAndProject, not a global sort") {
    val p = plan("x25_top_bigrams")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x28 stopword anti-join is broadcast") {
    val p = plan("x28_stopword_filter")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"), p)
  }

  test("stratifiedSample: exactly k per stratum, deterministic across repartitioning") {
    val orders = Tables(spark, sf).orders
    def run(df: DataFrame) =
      Corpus.stratifiedSample(df, col("o_orderpriority"), col("o_orderkey"), 7)
        .select("o_orderpriority", "o_orderkey")
        .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val a = run(orders)
    val b = run(orders.repartition(13))
    assert(a === b)
    val perStratum = a.groupBy(_._1).map { case (_, v) => v.size }.toSet
    assert(perStratum === Set(7))
  }

  test("repetition signals: fractions bounded, degenerate doc scores high") {
    import spark.implicits._
    val synth = Seq(
      (1L, "spam spam spam spam spam spam spam spam"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val sig = Corpus.repetitionSignals(synth, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(3), r.getDouble(4))).toMap
    assert(sig(1L)._1 > 0.8 && sig(1L)._2 === 1.0) // all one word/bigram
    assert(sig(2L)._1 === 0.0)                     // all distinct words
    val real = Corpus.repetitionSignals(docs, "doc_id", "text").collect()
    real.foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getDouble(4) > 0.0 && r.getDouble(4) <= 1.0)
    }
  }

  test("tf-idf top term: rare term beats frequent term") {
    import spark.implicits._
    // 'rare' appears in doc 1 only; 'common' in every doc
    val synth = Seq(
      (1L, "common rare rare common"),
      (2L, "common common common common"),
      (3L, "common other other common")
    ).toDF("doc_id", "text")
    val top = Corpus.tfidfTopTerms(synth, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(top(1L) === "rare")
    assert(top(3L) === "other")
  }

  test("snapshot diff classifies added / removed / changed / unchanged") {
    import spark.implicits._
    val old = Seq((1L, "a a a"), (2L, "b b b"), (3L, "c c c")).toDF("doc_id", "text")
    val next = Seq((2L, "b b b"), (3L, "c c c CHANGED"), (4L, "d d d")).toDF("doc_id", "text")
    val got = Corpus.snapshotDiff(old, next, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
    // the diff of a snapshot against itself is all-unchanged — no id is
    // dropped or duplicated by the full-outer join
    val self = Corpus.snapshotDiff(docs, docs, "doc_id", "text")
    assert(self.filter(col("status") =!= "unchanged").count() === 0L)
    assert(self.count() === docs.count())
  }

  test("token-budget select: band decomposition == naive global window; budget respected") {
    import org.apache.spark.sql.expressions.Window
    val scored = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), countDistinct(col("word")).as("nd"))
      .select(col("doc_id"),
        (col("nd").cast("double") / col("n_tokens")).as("score"), col("n_tokens"))
    val budget = 5000L
    val banded = Corpus.tokenBudgetSelect(scored, "doc_id", "score", "n_tokens", budget)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    val wGlobal = Window.orderBy(col("score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val naive = scored
      .withColumn("cum_tokens", sum(col("n_tokens")).over(wGlobal))
      .filter(col("cum_tokens") <= budget)
      .collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(banded === naive)
    assert(banded.nonEmpty)
    assert(banded.values.max <= budget)
  }

  test("bm25: doc with the rare term outranks the common-term doc; plan is TakeOrdered") {
    import spark.implicits._
    // 'needle' appears only in doc 1; 'hay' in every doc — idf must make
    // the needle doc win for the query {needle, hay}
    val synth = Seq(
      (1L, "needle hay hay hay"),
      (2L, "hay hay hay hay"),
      (3L, "hay hay hay hay"),
      (4L, "hay hay hay hay")
    ).toDF("doc_id", "text")
    val ranked = Corpus.bm25TopK(synth, "doc_id", "text", Seq("needle", "hay"), 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(ranked.head._1 === 1L)
    assert(ranked.map(_._1).toSet === Set(1L, 2L, 3L, 4L))
    // ties among the hay-only docs break by doc_id and scores are equal
    val hayScores = ranked.filter(_._1 != 1L).map(_._2).distinct
    assert(hayScores.size === 1)
    val p = Corpus.bm25TopK(docs, "doc_id", "text", Seq("spark", "join", "data"), 50)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("unigram surprisal: rare-token doc scores above common-token doc; bounds hold") {
    import spark.implicits._
    // 'zyx' occurs once in the corpus; 'the' dominates it
    val synth = Seq(
      (1L, "the the the the"),
      (2L, "the the the zyx"),
      (3L, "the the the the")
    ).toDF("doc_id", "text")
    val out = Corpus.unigramSurprisal(synth, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toList
    val byId = out.map(t => t._1 -> t._3).toMap
    assert(out.forall(_._2 == 4L))
    assert(byId(2L) > byId(1L)) // the rare token raises mean surprisal
    assert(byId(1L) === byId(3L))
    // bounds: 0 <= mean surprisal <= ln(N) (token seen once)
    val n = 12.0
    assert(out.forall(t => t._3 >= 0.0 && t._3 <= math.log(n) + 1e-9))
  }

  test("source scorecard: one row per source, counts reconcile, dup ratio bounded") {
    val full = Tables(spark, sf).documents
    val out = Corpus.sourceScorecard(full, "doc_id", "text", "source")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5)))
    val nSources = full.select("source").distinct().count()
    assert(out.length == nSources)
    assert(out.map(_._2).sum == full.count())
    out.foreach { case (_, nDocs, nDup, ratio, avgTok, surp) =>
      assert(nDup <= nDocs)
      assert(ratio >= 0.0 && ratio <= 1.0)
      assert(avgTok > 0.0)
      assert(surp > 0.0)
    }
  }

  test("boilerplate profile: repeated shingle flagged, unique doc stays clean") {
    import spark.implicits._
    val common = "click here to subscribe now" // shared 3-gram run
    val synth = (1L to 4L).map(i => (i, s"$common unique$i tail$i words$i")).toSeq :+
      ((9L, "completely different text with no repeats at all"))
    val out = Corpus.boilerplateProfile(synth.toDF("doc_id", "text"), "doc_id", "text",
        maxDocFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getBoolean(4)))
    val byId = out.map(t => t._1 -> t).toMap
    // the three shingles inside `common` appear in 4 docs > cap 2
    assert((1L to 4L).forall(i => byId(i)._3 == 3L))
    assert(byId(9L)._3 == 0L && !byId(9L)._5)
    out.foreach { t =>
      assert(t._4 >= 0.0 && t._4 <= 1.0)
      assert(t._5 === (t._3 * 2 > t._2))
    }
  }

  test("bigram surprisal: repeated word order scores below shuffled order") {
    import spark.implicits._
    // docs 1 and 2 share the exact bigram sequence; doc 3 uses the same
    // words in a novel order — its bigrams are rarer, surprisal higher
    val synth = Seq(
      (1L, "a b c d a b c d"),
      (2L, "a b c d a b c d"),
      (3L, "d c b a d c b a"),
      (4L, "a")). // single token: no bigrams, must be absent
      toDF("doc_id", "text")
    val out = Corpus.bigramSurprisal(synth, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byId = out.map(t => t._1 -> t).toMap
    assert(!byId.contains(4L))
    assert(byId(1L)._2 == 7L && byId(3L)._2 == 7L)
    assert(byId(1L)._3 === byId(2L)._3) // identical docs, identical score
    assert(byId(3L)._3 > byId(1L)._3)   // novel order = higher surprisal
    out.foreach { case (_, _, s) => assert(s >= 0.0) }
  }

  test("held-out LM surprisal: OOV words score ln(N/1), seen words ln(N/c)") {
    import spark.implicits._
    val train = Seq((1L, "a a a b")).toDF("doc_id", "text") // N=4: c(a)=3, c(b)=1
    val lm = Corpus.unigramLm(train, "text")
    val heldout = Seq((10L, "a b z")).toDF("doc_id", "text") // z is OOV
    val out = Corpus.lmDocSurprisal(heldout, lm, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length === 1)
    val (_, n, mean) = out.head
    assert(n === 3L)
    // per-word 4-dp rounds: ln(4/3)=0.2877, ln(4/1)=1.3863 (b and OOV z alike)
    assert(math.abs(mean - (0.2877 + 1.3863 + 1.3863) / 3) < 1e-9)
  }

  test("shard manifest: partitioning-proof checksum, id-stable shards, totals add up") {
    import spark.implicits._
    val docsDf = (1L to 40L).map(i => (i, s"w$i text number $i")).toDF("doc_id", "text")
    val m1 = Corpus.shardManifest(docsDf, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(5)))).toMap
    // same rows, radically different partitioning → identical manifest
    val m2 = Corpus.shardManifest(docsDf.repartition(13), "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(5)))).toMap
    assert(m1 === m2)
    assert(m1.values.map(_._1).sum === 40L) // every doc in exactly one shard
    // editing one doc's TEXT changes its shard's checksum but not its shard
    val edited = docsDf.withColumn("text",
      when(col("doc_id") === 7L, lit("edited")).otherwise(col("text")))
    val m3 = Corpus.shardManifest(edited, "doc_id", "text", 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(5)))).toMap
    assert(m3.keySet === m1.keySet)
    assert(m3.values.map(_._1).sum === 40L)
    assert(m1.count { case (s, (_, _, ck)) => m3(s)._3 != ck } === 1)
  }

  test("clean eval sample: paired docs excluded, k per source, deterministic") {
    import spark.implicits._
    val docsDf = Seq(
      (1L, "a"), (2L, "a"), (3L, "a"), (4L, "a"), (5L, "b"), (6L, "b")
    ).toDF("doc_id", "source").withColumn("text", lit("t"))
    val pairs = Seq((1L, 2L)).toDF("doc_a", "doc_b")
    val out = Corpus.cleanEvalSample(
        docsDf, pairs, "doc_a", "doc_b", "doc_id", "source", k = 2)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    assert(!out.exists(t => t._1 == 1L || t._1 == 2L)) // both pair sides gone
    assert(out.count(_._2 == "a") === 2 && out.count(_._2 == "b") === 2)
    // LCG order over {3,4} and {5,6} is total, so the pick is exact
    val again = Corpus.cleanEvalSample(
        docsDf.repartition(5), pairs, "doc_a", "doc_b", "doc_id", "source", k = 2)
      .select("doc_id", "source").as[(Long, String)].collect().toSet
    assert(again === out)
  }

  test("source quantile gate: per-source median cutoffs, interpolation exact") {
    import spark.implicits._
    // source a: 1, 3, 5 tokens (median 3) — source b: 2, 4, 6, 8 (median 5.0)
    val synth = Seq(
      (1L, "a", "w"), (2L, "a", "w w w"), (3L, "a", "w w w w w"),
      (4L, "b", "w w"), (5L, "b", "w w w w"),
      (6L, "b", "w w w w w w"), (7L, "b", "w w w w w w w w")
    ).toDF("doc_id", "source", "text")
    val out = Corpus.sourceQuantileGate(synth, "doc_id", "text", "source", q = 0.5)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) === ((3.0, false)) && out(2L) === ((3.0, true)) && out(3L) === ((3.0, true)))
    Seq(4L, 5L).foreach(i => assert(out(i) === ((5.0, false))))
    Seq(6L, 7L).foreach(i => assert(out(i) === ((5.0, true))))
  }

  test("pii scan: exact counts, full redaction, clean docs untouched") {
    import spark.implicits._
    val pats = Seq(
      "email" -> "[a-z0-9]+@[a-z]+\\.[a-z]+",
      "phone" -> "\\d{3}-\\d{4}")
    val synth = Seq(
      (1L, "mail me at bob7@mail.com or ann@web.org thanks"), // 2 emails
      (2L, "call 555-0142 and 555-9999 or write x@y.zz"),     // 2 phones, 1 email
      (3L, "no contact details in this one at all")).toDF("doc_id", "text")
    val out = Corpus.piiScan(synth, "text", pats)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L)._1 == 2L && out(1L)._2 == 0L)
    assert(out(2L)._1 == 1L && out(2L)._2 == 2L)
    assert(out(3L) === ((0L, 0L, "no contact details in this one at all")))
    // redacted text carries the placeholders and no surviving matches
    assert(out(1L)._3 == "mail me at <EMAIL> or <EMAIL> thanks")
    assert(out(2L)._3 == "call <PHONE> and <PHONE> or write <EMAIL>")
    out.values.foreach { case (_, _, red) =>
      pats.foreach { case (_, re) => assert(!re.r.findFirstIn(red).isDefined) }
    }
  }

  test("truncation waste: exact integer accounting on known token counts") {
    import spark.implicits._
    // whitespace token counts: 3, 5, 10
    val synth = Seq(
      (1L, "a b c"),
      (2L, "a b c d e"),
      (3L, "a b c d e f g h i j")).toDF("doc_id", "text")
    val out = Corpus.truncationWaste(synth, "text", Seq(4, 8))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // max_len=4: docs 2 (5 tok) and 3 (10 tok) cut; kept 3+4+4, lost 1+6
    assert(out(4L) === ((3L, 2L, 11L, 7L, 7.0 / 18.0)))
    // max_len=8: only doc 3 cut; kept 3+5+8, lost 2
    assert(out(8L) === ((3L, 1L, 16L, 2L, 2.0 / 18.0)))
    // invariant at every length: kept + lost == total corpus tokens
    out.values.foreach { case (_, _, kept, lost, frac) =>
      assert(kept + lost == 18L)
      assert(frac === lost.toDouble / 18.0)
    }
  }

  test("histogram sketch: partials merge to the one-shot sketch, quantiles interpolate") {
    import spark.implicits._
    val vals = (1L to 100L).toDF("v")
    val whole = Corpus.histogramSketch(vals, col("v"), 10L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // arbitrary split of the same rows → bin-wise merge is identical
    val partA = Corpus.histogramSketch(vals.filter(col("v") % 3 === 0), col("v"), 10L)
    val partB = Corpus.histogramSketch(vals.filter(col("v") % 3 =!= 0), col("v"), 10L)
    val merged = Corpus.mergeHistograms(partA.unionAll(partB))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(merged === whole)
    // p50 over 1..100 width 10: target 50, bin 5 holds 50..59 w/ cum 60
    val qs = Corpus.histQuantiles(
        Corpus.mergeHistograms(partA.unionAll(partB)), Seq(0.5), 10L)
      .collect().map(r => (r.getDouble(0), r.getDouble(1))).toMap
    // bin 5 (values 50-59): cum before = 49, need 1 more of its 10 → 50 + 1/10*10
    assert(qs(0.5) === 51.0)
  }

  test("label entropy: monolingual source is exactly +0.0, mixed is -sum p ln p") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "en"), (2L, "a", "en"), (3L, "a", "en"),
      (4L, "b", "en"), (5L, "b", "fr")).toDF("doc_id", "source", "lang")
    val out = Corpus.labelEntropy(df, "source", "lang")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val (na, ea) = out("a")
    assert(na === 1L)
    // decimal-domain negation: no IEEE -0.0 may leak to the oracle hash
    assert(java.lang.Double.doubleToRawLongBits(ea) === 0L)
    val (nb, eb) = out("b")
    assert(nb === 2L)
    // two 4-dp-rounded terms of p=0.5: round(0.5*ln 0.5, 4) = -0.3466
    assert(eb === 0.3466 * 2)
  }

  test("mixture drift: pruned-away source gets share_b 0 and kl_term 0, shares sum to 1") {
    import spark.implicits._
    val a = Seq(
      (1L, "s1", "w w w w"), (2L, "s1", "w w w w"),
      (3L, "s2", "w w w w w w w w")).toDF("doc_id", "source", "text")
    val b = a.filter(col("source") === "s1") // curation dropped all of s2
    val out = Corpus.mixtureDrift(a, b, "source", "text")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out("s2") === ((8L, 0L, 0.5, 0.0, 0.0)))
    val (ta, tb, sa, sb, kl) = out("s1")
    assert((ta, tb, sa, sb) === ((8L, 8L, 0.5, 1.0)))
    // share_b doubled vs share_a: kl_term = 1.0 * round(ln 2, 4)
    assert(kl === 0.6931)
    assert(out.values.map(_._3).sum === 1.0 && out.values.map(_._4).sum === 1.0)
  }

  test("grouped hist quantiles: each group's estimate equals its own global walk") {
    import spark.implicits._
    val a = (1L to 100L).map(("a", _))
    val b = (1L to 50L).map(v => ("b", v * 3))
    val df = (a ++ b).toDF("src", "v")
    def sketchOf(s: String) = Corpus.histogramSketch(
      df.filter(col("src") === s).select(col("v")), col("v"), 10L)
    val grouped = Corpus.groupedHistQuantiles(
        df.select(col("src"), floor(col("v") / 10).as("bin"))
          .groupBy(col("src"), col("bin")).agg(count(lit(1)).as("n")),
        Seq("src"), Seq(0.5, 0.9), 10L)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(2)).toMap
    for (s <- Seq("a", "b"); q <- Seq(0.5, 0.9)) {
      val global = Corpus.histQuantiles(sketchOf(s), Seq(q), 10L)
        .collect().head.getDouble(1)
      assert(grouped((s, q)) === global, s"src=$s q=$q")
    }
  }

  test("rrf fusion: overlapping ids add both reciprocals, absent side contributes exact 0") {
    import spark.implicits._
    val lex = Seq((10L, 1), (20L, 2)).toDF("id", "r_lex")
    val vec = Seq((20L, 1), (30L, 2)).toDF("id", "r_vec")
    val out = Corpus.rrfFuse("id", 60, (lex, "r_lex"), (vec, "r_vec"))
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(out(10L) === 1.0 / 61)
    assert(out(20L) === 1.0 / 62 + 1.0 / 61)
    assert(out(30L) === 1.0 / 62)
  }

  test("weighted sample: deterministic, k-sized, and weight-biased") {
    import spark.implicits._
    // evens weight 1.0, odds weight 0.001: E-S keys ln(u)/w push odds far
    // negative, so a 20-of-100 sample should be (nearly) all even
    val df = (0L until 100L)
      .map(i => (i, if (i % 2 == 0) 1.0 else 0.001)).toDF("id", "w")
    val s1 = Corpus.weightedSample(df, "id", col("w"), 20).collect()
    val s2 = Corpus.weightedSample(df, "id", col("w"), 20).collect()
    assert(s1.toSeq === s2.toSeq)
    assert(s1.length === 20)
    assert(s1.count(_.getLong(0) % 2 == 0) >= 19)
    // keys are the documented closed form: round4(ln(u)) / w
    val r = s1.head
    val id = r.getLong(0)
    val u = (((id + 1) * 2654435761L) % 2147483647L + 1).toDouble / 2147483648.0
    val expected = BigDecimal(math.log(u)).setScale(4, BigDecimal.RoundingMode.HALF_UP)
      .toDouble / r.getDouble(1)
    assert(r.getDouble(2) === expected)
  }

  test("cross-source cross-entropy: diagonal is in-domain, disjoint vocab pays the OOV rate") {
    import spark.implicits._
    val df = Seq(
      (1L, "a", "x x x"), (2L, "b", "y y")).toDF("doc_id", "source", "text")
    val out = Corpus.crossSourceCrossEntropy(df, "doc_id", "text", "source")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    // V=2; model a: N=3 → p(x)=4/5, p(y)=1/5; model b: N=2 → p(y)=3/4, p(x)=1/4
    assert(out(("a", "a")) === ((3L, 0.2231))) // round4(ln(5/4))
    assert(out(("a", "b")) === ((3L, 1.3863))) // round4(ln(4/1))
    assert(out(("b", "b")) === ((2L, 0.2877))) // round4(ln(4/3))
    assert(out(("b", "a")) === ((2L, 1.6094))) // round4(ln(5/1))
    // every data row keeps its full token count under every model
    assert(out.keySet.size === 4)
  }

  test("churn by source: verdict counts roll up per source, rate over old size") {
    import spark.implicits._
    val old = Seq((1L, "s1", "a"), (2L, "s1", "b"), (3L, "s2", "c"))
      .toDF("doc_id", "source", "text")
    val next = Seq((1L, "s1", "a"), (2L, "s1", "B"), (4L, "s2", "d"))
      .toDF("doc_id", "source", "text")
    val out = Corpus.snapshotChurnBySource(old, next, "doc_id", "text", "source")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    // s1: doc 2 changed, doc 1 unchanged → churn 1/2
    assert(out("s1") === ((0L, 0L, 1L, 1L, 0.5)))
    // s2: doc 4 added, doc 3 removed, old size 1 → churn 2/1
    assert(out("s2") === ((1L, 1L, 0L, 0L, 2.0)))
  }

  test("tokenizer fertility: punctuation splits inflate regex tokens over whitespace") {
    import spark.implicits._
    val df = Seq((1L, "s", "ab cd, x9!")).toDF("doc_id", "source", "text")
    // ws tokens: 3; regex tokens: ab, cd, ',', x, 9, '!' = 6; chars: 10
    val r = Corpus.tokenizerFertility(df, "source", "text").collect().head
    assert((r.getLong(1), r.getLong(2), r.getLong(3)) === ((3L, 6L, 10L)))
    assert(r.getDouble(4) === 2.0)
    assert(r.getDouble(5) === 10.0 / 6)
  }

  test("dup n-gram coverage: overlaps count once, non-repeating docs read 0") {
    import spark.implicits._
    val df = Seq(
      (1L, "a b c a b c d"), // "a b c" repeats at 1 and 4 → positions {1,2,3,4,5,6} of 7
      (2L, "x x x x"),       // "x x x" at 1,2 → {1,2,3,4} of 4 — overlap counted ONCE
      (3L, "p q r s"),       // nothing repeats → 0
      (4L, "u v")            // shorter than n → no grams → 0
    ).toDF("doc_id", "text")
    val out = Corpus.dupNgramCoverage(df, "doc_id", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    assert(out(1L) === ((7L, 6L, 6.0 / 7)))
    assert(out(2L) === ((4L, 4L, 1.0)))
    assert(out(3L) === ((4L, 0L, 0.0)))
    assert(out(4L) === ((2L, 0L, 0.0)))
  }
}
