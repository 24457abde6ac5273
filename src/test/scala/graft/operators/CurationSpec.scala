package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.SparkSuite
import graft.sources.Tables

/** Semantics + plan shapes for the corpus-curation queries x40–x42
  * (decontamination, vocab coverage, mixture resampling). Cross-engine
  * exactness is the oracle's job; these pin the operator CONTRACT (who
  * is filtered, bounds, determinism) and the scale-relevant plan shape
  * (benchmark/vocab/category sides broadcast — the corpus side never
  * shuffles through a SortMergeJoin).
  */
class CurationSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)
  private def plan(name: String): String =
    run(name).queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("x40 excludes benchmark docs, bounds hit_frac, and flags hits consistently") {
    val rows = run("x40_benchmark_decontamination")
      .select("doc_id", "n_grams", "n_hits", "hit_frac", "contaminated")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getLong(0) % 97 != 0), "benchmark docs must not appear")
    assert(rows.forall { r =>
      val (g, h, f) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      h >= 0 && h <= g && math.abs(f - h.toDouble / g) == 0 &&
        r.getBoolean(4) == (h > 0)
    })
    assert(rows.exists(_.getBoolean(4)), "fixture should contain contaminated docs")
  }

  test("x40 benchmark-set join is broadcast (corpus side never sort-merge joins)") {
    val p = plan("x40_benchmark_decontamination")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x41 vocab is top-K bounded (TakeOrdered, no global sort) and OOV rates are sane") {
    val p = plan("x41_vocab_oov_rate")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val rows = run("x41_vocab_oov_rate").select("n_tokens", "n_oov", "oov_rate").collect()
    assert(rows.forall { r =>
      r.getLong(1) <= r.getLong(0) && r.getDouble(2) >= 0.0 && r.getDouble(2) <= 1.0
    })
    assert(rows.exists(_.getLong(1) > 0), "K=16 of 31 words must leave some OOV tokens")
  }

  test("x42 keeps the rarest language whole and thins the head toward sqrt shares") {
    val docs = graft.sources.Tables(spark, sf).documents
    val before = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val after = run("x42_mixture_resample").groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rarest = before.minBy(_._2)._1
    assert(after(rarest) == before(rarest), "rarest language must be kept in full")
    val head = before.maxBy(_._2)._1
    val expected = math.sqrt(before(rarest).toDouble / before(head)) * before(head)
    assert(after(head) < before(head), "head language must be thinned")
    assert(math.abs(after(head) - expected) / expected < 0.15,
      s"head kept ${after(head)} vs expected ~$expected")
  }

  test("x42 runs deterministic and broadcast-only") {
    val a = run("x42_mixture_resample").orderBy("doc_id").collect().toSeq
    val b = run("x42_mixture_resample").orderBy("doc_id").collect().toSeq
    assert(a == b)
    assert(!plan("x42_mixture_resample").contains("SortMergeJoin"))
  }

  test("x43 buckets are in [0,100), splits match buckets, same text -> same split") {
    val rows = run("x43_content_hash_split").collect()
    assert(rows.length == 500)
    assert(rows.forall { r =>
      val b = r.getLong(1)
      b >= 0 && b < 100 && r.getString(2) == (
        if (b < 98) "train" else if (b < 99) "val" else "test")
    })
    // content-keyed: duplicated text across ids must land in one split
    import spark.implicits._
    val dup = Seq((1L, "spark big data"), (2L, "spark big data"), (3L, "other text"))
      .toDF("doc_id", "text")
      .select(expr("poly_hash(text) % 100").as("bucket"), col("text"))
    assert(dup.select("text", "bucket").distinct().count() == 2)
  }

  test("leakageSafeSplit keeps near-dup clusters in one split") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "one two three four five six seven eight"),
      (2L, "one two three four five six seven nine"),   // near-dup of 1
      (3L, "one two three four five six seven ten"),    // near-dup of 1 and 2
      (4L, "alpha beta gamma delta epsilon zeta eta"),  // isolated
      (5L, "totally unrelated words appear only here")  // isolated
    ).toDF("doc_id", "text")
    val out = Dedup.leakageSafeSplit(corpus, "doc_id", "text", threshold = 0.5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(out.size == 5)
    // the whole near-dup family shares the root key and therefore the split
    assert(out(1L) == out(2L) && out(2L) == out(3L))
    assert(out(1L)._1 == 1L, "cluster root is the min id")
    // isolated docs key on themselves
    assert(out(4L)._1 == 4L && out(5L)._1 == 5L)
    assert(out.values.forall(v => Set("train", "val", "test")(v._2)))
  }

  test("incrementalDedup issues exact/near/unique verdicts against the existing side only") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),       // existing
      (2L, "one two three four five six seven"),         // existing
      (17L, "alpha beta gamma delta epsilon zeta"),      // new: exact dup of 1
      (27L, "one two three four five six eight"),        // new: near dup of 2
      (37L, "totally different words entirely here now") // new: unique
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(corpus, "doc_id", "text",
        col("doc_id") >= 10, threshold = 0.5)
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    assert(out == Map(17L -> "exact_dup", 27L -> "near_dup", 37L -> "unique"))
  }

  test("x45 keeps ~90% inside the [p5,p95] band; bounds ride a broadcast 1-row aggregate") {
    val rows = run("x45_length_outlier_filter").select("n_tokens", "lo", "hi", "keep").collect()
    val keepRate = rows.count(_.getBoolean(3)).toDouble / rows.length
    assert(keepRate >= 0.85 && keepRate <= 0.95, s"keep rate $keepRate")
    assert(rows.forall { r =>
      r.getBoolean(3) == (r.getLong(0) >= r.getDouble(1) && r.getLong(0) <= r.getDouble(2))
    })
    val p = plan("x45_length_outlier_filter")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x46 collocations are TakeOrdered-bounded with broadcast unigram sides") {
    val p = plan("x46_collocation_lift")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val rows = run("x46_collocation_lift").collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getLong(1) >= 5), "min support")
    val lifts = rows.map(_.getDouble(2)).toSeq
    assert(lifts == lifts.sorted.reverse, "descending lift order")
  }

  test("x47 flagship curation plan: pruned scans, no sort-merge joins, split totals consistent") {
    val p = plan("x47_curated_corpus")
    assert(!p.contains("SortMergeJoin"), p)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>"), p)
    assert(!p.contains("lang"), "unused columns must not reach any scan")
    val rows = run("x47_curated_corpus").collect()
    assert(rows.nonEmpty && rows.length < 500, "some docs must be filtered")
    // survivors are a subset of x43's split assignment with identical labels
    val splits = run("x43_content_hash_split").collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(rows.forall(r => splits(r.getLong(0)) == r.getString(1)))
  }

  test("x44 new-batch frames broadcast; corpus side is never sort-merge self-joined") {
    // the public incrementalDedup eagerly materializes (its plan is a
    // Scan ExistingRDD), so the join shape is pinned on the lazy variant
    val docs = graft.sources.Tables(spark, sf).documents
    val (lazyPlan, sh) = Dedup.incrementalDedupPlan(
      docs, "doc_id", "text", col("doc_id") >= 450, threshold = 0.5)
    val p = lazyPlan.queryExecution.executedPlan.toString
    Dedup.release(sh)
    assert(p.contains("BroadcastHashJoin"), p)
    val rows = run("x44_incremental_dedup").collect()
    assert(rows.length == 50)
    assert(rows.exists(_.getString(3) == "near_dup"), "fixture has cross-boundary near dups")
    assert(rows.forall { r =>
      (r.getString(3), r.getBoolean(1), r.getLong(2)) match {
        case ("exact_dup", ex, _)   => ex
        case ("near_dup", ex, n)    => !ex && n > 0
        case ("unique", ex, n)      => !ex && n == 0
        case _                      => false
      }
    })
  }

  test("x55 novelty: every gram is novel exactly once, first doc fully novel") {
    val rows = run("x55_ngram_novelty")
      .select("doc_id", "n_grams", "n_novel", "novelty").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val (g, n, f) = (r.getLong(1), r.getLong(2), r.getDouble(3))
      n >= 0 && n <= g && f >= 0.0 && f <= 1.0
    })
    // the earliest doc sees an empty prior corpus → all its grams novel
    val first = rows.minBy(_.getLong(0))
    assert(first.getDouble(3) == 1.0)
    // Σ n_novel = |distinct gram hashes|: each gram has exactly one first
    val totalNovel = rows.map(_.getLong(2)).sum
    val distinctGrams = graft.sources.Tables(spark, sf).documents
      .select(explode(expr(
        "CASE WHEN size(split(text, ' ')) >= 8 THEN " +
          "transform(sequence(1, size(split(text, ' ')) - 7), " +
          "i -> array_join(slice(split(text, ' '), i, 8), ' ')) " +
          "ELSE array() END")).as("gm"))
      .select(expr("poly_hash(gm)").as("h")).distinct().count()
    assert(totalNovel === distinctGrams)
  }

  test("x60 temperature mixture: weights sum to 1, √ flattens toward uniform") {
    import spark.implicits._
    val rows = run("x60_mixture_temperature")
      .select("source", "n_docs", "weight", "boost").collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_.getDouble(2)).sum - 1.0) < 1e-12)
    // the fixture corpus is balanced → every source weighs 1/n, boost ≈ 1
    assert(rows.forall(r => math.abs(r.getDouble(3) - 1.0) < 1e-12))
    // skewed corpus: rare sources up-sample (boost > 1), dominant ones
    // down-sample (boost < 1) — the point of temperature flattening
    val skew = (1 to 100).map(i => (i.toLong, "big")) :+ (101L, "rare")
    val mix = Corpus.temperatureMixture(skew.toDF("doc_id", "source"), "source")
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(mix("rare") > 1.0 && mix("big") < 1.0)
    // w_raw(rare)=√1=1, Σ√n = √100+√1 = 11 → boost = (1/11)·(101/1)
    assert(math.abs(mix("rare") - 101.0 / 11.0) < 1e-9)
  }

  test("x62 chunk rewrite keeps first occurrences only and rebuilds in order") {
    import spark.implicits._
    val c1 = (1 to 16).map(i => s"a$i").mkString(" ")   // chunk A
    val c2 = (1 to 16).map(i => s"b$i").mkString(" ")   // chunk B
    val df = Seq(
      (1L, s"$c1 $c2"),        // doc 1: A B — both first occurrences
      (2L, s"$c2 $c1"),        // doc 2: repeats both → nothing kept
      (3L, s"$c1 $c1"),        // doc 3: repeats A twice → nothing kept
      (4L, (1 to 16).map(i => s"c$i").mkString(" ") + s" $c1")) // C new, A dup
      .toDF("doc_id", "text")
    val out = Corpus.chunkDedupRewrite(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) === ((2L, 2L, s"$c1 $c2")))
    assert(out(2L) === ((2L, 0L, "")))
    assert(out(3L) === ((2L, 0L, "")))
    assert(out(4L)._2 === 1L)
    assert(out(4L)._3 === (1 to 16).map(i => s"c$i").mkString(" "))
    // intra-doc repeat when the doc IS the first carrier: doc 3 loses its
    // copies to doc 1; a self-repeat with no earlier carrier keeps pos 0
    val solo = Corpus.chunkDedupRewrite(
      Seq((9L, s"$c2 $c2")).toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(solo === ((2L, 1L, c2)))
  }

  test("x64 semantic split: every cosine-near family shares one split") {
    val emb = graft.sources.Tables(spark, sf).embeddings
    val split = run("x64_semantic_safe_split")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(split.size === emb.count())
    val pairs = Dedup.embeddingNearDups(emb, "vec_id", "embedding", threshold = 0.4)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    // exact all-pairs near-dups ⊆ clustered families only up to the
    // candidate generator's recall — but every pair the IVF-CELL path
    // (x64's candidate generator) finds must agree; check the
    // stronger transitive guarantee on shared keys instead: same
    // split_key ⇒ same split_name, and cell-blocked pairs share
    // split_key. The generator runs at the registered auto-k policy
    // (k = max(16, ⌊√n⌋) since round 10), so the pin derives the SAME
    // k — a fixed k here would compare different cell boundaries.
    val kPolicy = math.max(16, math.sqrt(emb.count().toDouble).toInt)
    val cellPairs = Dedup.embeddingNearDupsIvf(emb, "vec_id", "embedding",
        threshold = 0.4, k = kPolicy)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(cellPairs.nonEmpty)
    cellPairs.foreach { case (a, b) =>
      assert(split(a)._1 === split(b)._1, s"pair ($a,$b) split across keys")
      assert(split(a)._2 === split(b)._2, s"pair ($a,$b) split across sets")
    }
  }

  test("x62 invariant: every distinct chunk survives exactly once corpus-wide") {
    val docs = graft.sources.Tables(spark, sf).documents
    val out = Corpus.chunkDedupRewrite(docs, "doc_id", "text")
    val totalKept = out.agg(sum(col("n_kept"))).collect().head.getLong(0)
    val distinctChunks = docs.select(expr(
      "explode(transform(sequence(0, CAST(ceil(size(split(text, ' ')) / 16.0) AS INT) - 1), " +
        "i -> array_join(slice(split(text, ' '), i * 16 + 1, 16), ' ')))").as("c"))
      .select(expr("poly_hash(c)")).distinct().count()
    assert(totalKept === distinctChunks)
  }

  test("x65 quality gate: bitmask encodes exactly the boolean reasons") {
    val rows = run("x65_quality_gate")
      .select("doc_id", "n_words", "too_short", "too_long", "repetitive", "non_en",
        "reasons", "kept")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val (s, l, rep, ne) = (r.getBoolean(2), r.getBoolean(3), r.getBoolean(4), r.getBoolean(5))
      val mask = (if (s) 1L else 0L) + (if (l) 2L else 0L) +
        (if (rep) 4L else 0L) + (if (ne) 8L else 0L)
      r.getLong(6) == mask && r.getBoolean(7) == (mask == 0L)
    })
    // the gate actually gates: both kept and dropped docs exist
    assert(rows.exists(_.getBoolean(7)) && rows.exists(!_.getBoolean(7)))
  }

  test("x63 kNN vote: one verdict per query, bounded votes, honest scoring") {
    val rows = run("x63_knn_label_vote")
      .select("query_id", "true_label", "pred_label", "n_votes", "correct")
      .collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getLong(0) % 10 == 0))
    assert(rows.map(_.getLong(0)).distinct.length === rows.length)
    assert(rows.forall { r =>
      val v = r.getLong(3)
      v >= 1L && v <= 5L && r.getBoolean(4) == (r.getInt(1) == r.getInt(2))
    })
  }

  test("x57 quantization error never exceeds half a quantization step") {
    val rows = run("x57_embedding_quantize")
      .select("vec_id", "max_abs", "scale", "n_sat", "max_err").collect()
    assert(rows.nonEmpty)
    assert(rows.forall { r =>
      val (scale, nSat, maxErr) = (r.getDouble(2), r.getLong(3), r.getDouble(4))
      // absmax scaling means no value exceeds the clamp, so rounding
      // bounds the error at scale/2; the absmax element itself saturates
      maxErr <= scale * 0.5 + 1e-12 && nSat >= 1 && nSat <= 64
    })
    // zero shuffles: pure per-row projection at any corpus size
    assert(!plan("x57_embedding_quantize").contains("Exchange"))
  }

  test("x180 blocklist gate: phrase matches at any offset, overlaps counted, totality") {
    import spark.implicits._
    val df = Seq(
      (1L, "the quick brown fox"),           // 'quick brown' mid-doc
      (2L, "quick brown quick brown end"),   // two occurrences, one phrase
      (3L, "entirely clean document here"),  // no match → kept
      (4L, "bad bad bad")                    // unigram 'bad' ×3
    ).toDF("doc_id", "text")
    val out = Corpus.blocklistGate(df, "doc_id", "text",
      Seq("quick brown", "bad"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq === Seq(
      (1L, 1L, 1L, false),
      (2L, 2L, 1L, false),
      (3L, 0L, 0L, true),
      (4L, 3L, 1L, false)))
  }

  test("x180 blocklist joins are broadcast (corpus side never shuffles on the gram key)") {
    // since round 19 the registered x180 serves from the session
    // blocklist-gate REGISTRY (its plan is a pinned-frame read), so the
    // broadcast-join property is asserted on the library build the
    // registry runs — the plan that actually executes once per session
    val p = Corpus.blocklistGate(
        Tables(spark, sf).documents, "doc_id", "text",
        graft.operators.TrainingData.blockPhrases)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }
}
