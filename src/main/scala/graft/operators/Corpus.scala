package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact.countIf
import graft.functions.Text

/** Corpus-statistics library for training-data curation, beyond the
  * per-document scalars in [[graft.functions.Text]]: repetition /
  * duplication quality signals (the Gopher-style filters), corpus-wide
  * n-gram frequencies, TF-IDF term extraction, stopword filtering, and
  * deterministic stratified sampling.
  *
  * Scale notes: every function is one or two hash-shuffles on explicit
  * keys (word / n-gram / doc_id) — no driver-side loops, no cross joins.
  * TF-IDF keeps both shuffles (term-frequency by (doc, term), document
  * frequency by term); the document count rides in as a broadcast 1-row
  * aggregate. Scoring uses only per-row IEEE chains (two divisions, one
  * multiply) so results are deterministic at any parallelism and
  * bit-identical cross-engine — `ln()` appears only in
  * [[unigramSurprisal]], behind the rounding discipline its scaladoc
  * describes; everything else is rational arithmetic.
  */
object Corpus {

  private def words(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(split(col(textCol), " ")).as("word"))

  private def bigrams(df: DataFrame, idCol: String, textCol: String): DataFrame =
    graft.functions.Text.explodeNgrams(
      df.select(col(idCol), split(col(textCol), " ").as("w")),
      keep = Seq(idCol), wordsCol = "w", n = 2, as = "bg")

  /** Gopher-style repetition signals per document: duplicate-word
    * fraction (1 − distinct/total) and top-bigram fraction (count of the
    * most frequent bigram / bigram total). High values flag low-quality
    * repetitive text. Two shuffles (word + bigram), joined on doc_id. */
  def repetitionSignals(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // n_words per ROW (length arithmetic — no explode); mixing count(*)
    // with countDistinct in one agg would plan an Expand that doubles the
    // exploded word rows, so the distinct count aggregates alone
    val lens = df.select(col(idCol), Text.tokenCount(textCol).as("n_words"))
    val ws = words(df, idCol, textCol)
      .groupBy(col(idCol))
      .agg(countDistinct(col("word")).as("n_distinct_words"))
    val bs = bigrams(df, idCol, textCol)
      .groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col(idCol))
      .agg(max(col("c")).as("top_bigram_count"), sum(col("c")).as("n_bigrams"))
    lens.join(ws, idCol).join(bs, idCol)
      .select(
        col(idCol), col("n_words"), col("n_distinct_words"),
        ((col("n_words") - col("n_distinct_words")).cast("double") / col("n_words"))
          .as("dup_word_fraction"),
        (col("top_bigram_count").cast("double") / col("n_bigrams"))
          .as("top_bigram_fraction")
      )
  }

  /** Gopher-style duplicate n-gram COVERAGE per document (Rae et al.
    * 2021, "Scaling Language Models" §A1.1): the fraction of token
    * positions covered by n-grams that occur MORE THAN ONCE within the
    * document, overlaps counted once — the repetition filter that
    * catches looped/templated spans [[repetitionSignals]]'s
    * duplicate-word and top-bigram fractions miss (a document can have
    * high n-gram repetition with modest word-level duplication).
    * Gopher applies the character-fraction form for n ∈ {5..10} on
    * natural text; this is the token-position form (character
    * weighting is the same plan with a per-token length weight), with
    * `n` a parameter — the registered query (x210) uses n = 3, the
    * smallest n with a non-degenerate signal on the synthetic corpus.
    *
    * Plan shape, all corpus-linear: one positional n-gram explode
    * (size − n + 1 rows/doc), one (doc, gram) count carrying the
    * position list (collect_list over ≤ occurrences-per-gram rows —
    * no second scan or self-join to recover duplicate positions), one
    * offset explode of the ≥2-count grams only (n rows per duplicated
    * occurrence), one distinct + count. Output: (doc_id, n_tokens,
    * n_covered, dup_ngram_coverage), every doc present (coverage 0
    * when nothing repeats). */
  def dupNgramCoverage(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n >= 2, s"n must be >= 2, got $n")
    val gram = (0 until n)
      .map(k => if (k == 0) "element_at(w, i)" else s"element_at(w, i + $k)")
      .mkString(", ")
    val grams = df.select(col(idCol), split(col(textCol), " ").as("w"))
      .select(col(idCol),
        col("w"),
        explode(expr(
          s"CASE WHEN size(w) >= $n THEN sequence(1, size(w) - ${n - 1}) " +
            "ELSE array() END")).as("i"))
      .select(col(idCol), col("i"), expr(s"concat_ws(' ', $gram)").as("gr"))
    val dupPositions = grams
      .groupBy(col(idCol), col("gr"))
      .agg(count(lit(1)).as("c"), collect_list(col("i")).as("starts"))
      .filter(col("c") >= 2)
      .select(col(idCol), explode(col("starts")).as("i"))
      .select(col(idCol), explode(expr(s"sequence(i, i + ${n - 1})")).as("p"))
      .distinct()
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_covered"))
    df.select(col(idCol), size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(dupPositions, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (coalesce(col("n_covered"), lit(0L)).cast("double") / col("n_tokens"))
          .as("dup_ngram_coverage"))
  }

  /** Corpus-wide top-k n-grams (n=2) by count, deterministically
    * tiebroken by the n-gram itself. One shuffle + a global top-k (Spark
    * runs TakeOrderedAndProject: per-partition heaps, no full sort). */
  def topBigrams(df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    bigrams(df, idCol, textCol)
      .groupBy(col("bg"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bg").asc)
      .limit(k)

  /** Top TF-IDF term per document. IDF is the rational N/df (not
    * log-scaled) so cross-engine results are bit-exact; the ranking is
    * unchanged for any monotone transform. Tiebreak: (score desc, term
    * asc). */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = words(df, idCol, textCol)
      .groupBy(col(idCol), col("word").as("term"))
      .agg(count(lit(1)).as("tf"))
    val withLen = tf.withColumn(
      "doc_len", sum(col("tf")).over(Window.partitionBy(col(idCol))))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = withLen
      .join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf",
        (col("tf").cast("double") / col("doc_len")) *
          (col("n_docs").cast("double") / col("df")))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col(idCol), col("term"), col("tf"), col("tfidf"))
  }

  /** Remove stopwords via a broadcast left-anti join (NOT-IN semantics
    * for a non-null list), then re-count per document. */
  /** Distinct n-word-gram poly hashes per document: (`idCol`, `h`).
    * The shared currency of decontamination (x40), novelty (x55) and
    * their streaming twins — shuffles carry the 8-byte hash, never gram
    * text. Docs shorter than `n` words produce no grams. */
  def gramHashes(df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame =
    // one rolling-hash pass per document (SpanHashesUtil): bit-identical
    // to poly_hash over the joined n-token window, without materializing
    // n× the corpus text pre-hash
    df.select(col(idCol),
        explode(expr(s"span_hashes($textCol, $n)")).as("h"))
      .distinct()

  /** Per-document n-gram novelty vs the earlier corpus (`idCol` order
    * standing in for ingest order): the fraction of a doc's distinct
    * n-word-gram hashes whose FIRST corpus occurrence is this doc.
    *
    * Shape: a gram is novel for exactly its min-id carrier, so novelty
    * needs NO corpus-sized join-back — one per-doc count and one
    * min-per-gram → count-per-first-doc aggregate, joined at document
    * granularity (tiny next to the gram frame). The shared gram frame is
    * built once via the library's checkpoint-for-the-call discipline
    * (see [[Dedup.minhashCandidatePairs]] for the executor-loss caveat);
    * the returned per-doc frame is eager — [[Dedup.release]] it once
    * consumed in a long-lived session. See
    * [[graft.streaming.NoveltyStream]] for the incremental form. */
  def ngramNovelty(df: DataFrame, idCol: String, textCol: String, n: Int = 8): DataFrame = {
    // r19: the gram frame is NO LONGER pinned — its two consumers below
    // are the same subtree (one distinct-gram exchange), which AQE's
    // runtime stage reuse computes once inside the one job either way;
    // the pin paid a corpus-token-sized checkpoint write (plus the
    // eager result pin + release bookkeeping it forced) for sharing
    // Spark already provides. Measured r19 same-host: see
    // OPTIMIZATION_r19.md batch 8 (the batch-6 pin lesson applied to
    // the library's own older pins).
    val grams = gramHashes(df, idCol, textCol, n)
    val perDoc = grams.groupBy(col(idCol)).agg(count(lit(1)).as("n_grams"))
    val novel = grams.groupBy(col("h")).agg(min(col(idCol)).as("first_doc"))
      .groupBy(col("first_doc")).agg(count(lit(1)).as("n_novel"))
    perDoc
      .join(novel, col(idCol) === col("first_doc"), "left")
      .select(col(idCol), col("n_grams"),
        coalesce(col("n_novel"), lit(0L)).as("n_novel"),
        (coalesce(col("n_novel"), lit(0L)).cast("double") / col("n_grams")).as("novelty"))
  }

  def stopwordFilter(
      df: DataFrame, idCol: String, textCol: String, stopwords: Seq[String]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val stops = stopwords.toDF("sw")
    words(df, idCol, textCol)
      .join(broadcast(stops), col("word") === col("sw"), "left_anti")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_kept"), countDistinct(col("word")).as("n_distinct_kept"))
  }

  /** Chunk-level dedup REWRITE — the apply step after x38-style
    * chunk-dup measurement: split each document into fixed `chunkWords`
    * word windows, keep only each chunk's FIRST corpus occurrence
    * (ordered by (doc_id, position) — later repeats inside the SAME
    * document drop too), and rebuild the document from its kept chunks.
    * This is exact-substring training-data dedup at chunk granularity:
    * boilerplate headers/footers repeated across a crawl survive exactly
    * once, corpus-wide.
    *
    * Scale shape: chunk identity travels as an 8-byte poly_hash (the
    * shuffle never carries chunk text), first-occurrence is two keyed
    * aggregates on that hash (min doc, then min position within the min
    * doc — no window over the corpus), and the rebuild is a per-document
    * sort of its own chunk list. */
  def chunkDedupRewrite(
      df: DataFrame, idCol: String, textCol: String, chunkWords: Int = 16): DataFrame = {
    val chunks = df.select(col(idCol), expr(
      s"posexplode(transform(sequence(0, CAST(ceil(size(split($textCol, ' ')) / $chunkWords.0) AS INT) - 1), " +
        s"i -> array_join(slice(split($textCol, ' '), i * $chunkWords + 1, $chunkWords), ' ')))"
    ).as(Seq("pos", "chunk")))
      .withColumn("h", expr("poly_hash(chunk)"))
    val firstDoc = chunks.groupBy(col("h")).agg(min(col(idCol)).as("fd"))
    val firstPos = chunks.join(firstDoc, Seq("h"))
      .filter(col(idCol) === col("fd"))
      .groupBy(col("h"), col("fd")).agg(min(col("pos")).as("fi"))
    chunks.join(firstPos, Seq("h"))
      .withColumn("kept", col(idCol) === col("fd") && col("pos") === col("fi"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_chunks"),
        countIf(col("kept")).as("n_kept"),
        concat_ws(" ", expr(
          "transform(filter(array_sort(collect_list(struct(pos, chunk, kept))), " +
            "x -> x.kept), x -> x.chunk)")).as("text_kept"))
  }

  /** Temperature-scaled source mixture weights (α = 0.5, i.e. √count) —
    * the up/down-sampling schedule multi-domain pretraining uses so big
    * crawls don't drown small high-quality sources: weight_s =
    * √n_s / Σ_t √n_t, and `boost` = weight_s / (n_s / N) is the per-doc
    * sampling factor (>1 up-sample rare source, <1 down-sample dominant).
    * √ is the one temperature exponent that is a correctly-rounded IEEE
    * primitive in every engine — pow(x, α) is not, so other temperatures
    * trade the bit-exact oracle for flexibility.
    *
    * Scale shape: one count shuffle by source; the per-source frame is
    * domain-cardinality-sized (thousands at web scale), so the Σ √n fold
    * runs on ONE collected array in source order — a deterministic
    * sequential fold, not a partition-order-dependent double sum — and
    * the totals row broadcasts back. */
  def temperatureMixture(df: DataFrame, srcCol: String): DataFrame = {
    val counts = df.groupBy(col(srcCol).as("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w_raw", sqrt(col("n_docs").cast("double")))
    val totals = counts.agg(
      expr("aggregate(transform(array_sort(collect_list(struct(source, w_raw))), " +
        "x -> x.w_raw), CAST(0 AS DOUBLE), (acc, x) -> acc + x)").as("total_w"),
      sum(col("n_docs")).as("total_docs"))
    counts
      .crossJoin(broadcast(totals))
      .select(col("source"), col("n_docs"),
        (col("w_raw") / col("total_w")).as("weight"),
        (col("w_raw") / col("total_w") * col("total_docs").cast("double") /
          col("n_docs").cast("double")).as("boost"))
  }

  /** Snapshot diff — the change-data-capture audit between two corpus
    * versions (crawl N vs crawl N+1): per document id, `added` (only in
    * the new snapshot), `removed` (only in the old), `changed` (present
    * in both with different content), or `unchanged`. This is what makes
    * incremental recrawls auditable — downstream dedup/curation can
    * re-process exactly the added ∪ changed slice instead of the whole
    * corpus.
    *
    * Scale shape: content identity travels as an 8-byte poly_hash, so
    * the full-outer join shuffles (id, hash) pairs only — never document
    * text — and partitions by id with no skew (ids are unique per side).
    * One shuffle each side + the join; at 100 TB this is the cheapest
    * possible whole-corpus comparison. */
  def snapshotDiff(
      oldDf: DataFrame, newDf: DataFrame, idCol: String, textCol: String): DataFrame = {
    val a = oldDf.select(col(idCol).as("old_id"), expr(s"poly_hash($textCol)").as("h_old"))
    val b = newDf.select(col(idCol).as("new_id"), expr(s"poly_hash($textCol)").as("h_new"))
    a.join(b, col("old_id") === col("new_id"), "full_outer")
      .select(
        coalesce(col("old_id"), col("new_id")).as(idCol),
        when(col("old_id").isNull, "added")
          .when(col("new_id").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
  }

  /** Per-source recrawl churn: [[snapshotDiff]]'s per-document verdicts
    * rolled up to the per-source rates a crawl operator watches —
    * added / removed / changed / unchanged counts and the churn rate
    * (added + removed + changed over the OLD snapshot's size). Each
    * side hashes to 8 bytes before the one full-outer join (text never
    * shuffles), the source rides the hash rows, and the rollup is a
    * |sources|-row integer aggregate with one final IEEE division. */
  def snapshotChurnBySource(
      oldDf: DataFrame, newDf: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame = {
    val a = oldDf.select(col(idCol).as("old_id"), col(srcCol).as("old_src"),
      expr(s"poly_hash($textCol)").as("h_old"))
    val b = newDf.select(col(idCol).as("new_id"), col(srcCol).as("new_src"),
      expr(s"poly_hash($textCol)").as("h_new"))
    a.join(b, col("old_id") === col("new_id"), "full_outer")
      .select(
        coalesce(col("old_src"), col("new_src")).as("source"),
        when(col("old_id").isNull, "added")
          .when(col("new_id").isNull, "removed")
          .when(col("h_old") =!= col("h_new"), "changed")
          .otherwise("unchanged").as("status"))
      .groupBy(col("source"))
      .agg(
        sum(when(col("status") === "added", 1L).otherwise(0L)).as("n_added"),
        sum(when(col("status") === "removed", 1L).otherwise(0L)).as("n_removed"),
        sum(when(col("status") === "changed", 1L).otherwise(0L)).as("n_changed"),
        sum(when(col("status") === "unchanged", 1L).otherwise(0L)).as("n_unchanged"))
      .withColumn("churn_rate",
        (col("n_added") + col("n_removed") + col("n_changed")).cast("double") /
          (col("n_removed") + col("n_changed") + col("n_unchanged")))
  }

  /** Token-budget corpus selection — keep the best documents (by
    * `scoreCol`, descending, `idCol` tiebreak) until the running token
    * total exceeds `budget`: the "fill the training run with the
    * highest-quality N tokens" step after scoring/filtering.
    *
    * Semantically this is a global ORDER BY score DESC prefix — but a
    * global sort of 100 TB to take a prefix is exactly the plan to
    * avoid. Instead: scores are bucketed into monotone bands
    * (floor(score·1000)), a band-level token histogram (≤ ~1001 rows)
    * computes each band's exact preceding total with one tiny-frame
    * window, and each document's global running total is band_prefix +
    * its within-band running total from a window PARTITIONED by band —
    * so every corpus-sized shuffle is band-partitioned and parallel.
    * Identical to the naive global-window form because banding is
    * monotone in score and ties cannot cross a band boundary (equal
    * scores share a band). Caveat: a corpus where most docs share one
    * score degenerates that band's partition to the corpus — pick a
    * finer band function if scores cluster. */
  def tokenBudgetSelect(
      df: DataFrame, idCol: String, scoreCol: String, tokensCol: String,
      budget: Long): DataFrame = {
    val scored = df.select(
      col(idCol), col(scoreCol).as("score"), col(tokensCol).as("n_tokens"),
      floor(col(scoreCol) * lit(1000)).as("band"))
    val bandTotals = scored.groupBy(col("band"))
      .agg(sum(col("n_tokens")).as("band_tokens"))
    // ≤ ~1001 rows: the unpartitioned window is over the band histogram,
    // never the corpus
    val wBands = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = bandTotals
      .withColumn("band_prefix", coalesce(sum(col("band_tokens")).over(wBands), lit(0L)))
      .select(col("band"), col("band_prefix"))
    val wInBand = Window.partitionBy(col("band"))
      .orderBy(col("score").desc, col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    scored
      .join(broadcast(prefixes), Seq("band"))
      .withColumn("cum_tokens", col("band_prefix") + sum(col("n_tokens")).over(wInBand))
      .filter(col("cum_tokens") <= budget)
      .select(col(idCol), col("score"), col("n_tokens"), col("cum_tokens"))
  }

  /** BM25 top-k retrieval for a fixed term query — the lexical-search
    * ranking step (candidate mining, eval-set retrieval, dedup-by-query
    * probes) over a document corpus.
    *
    * Uses the RATIONAL idf form (N − df + 0.5)/(df + 0.5) instead of its
    * usual log: log's last-ulp rounding differs across math libraries
    * (the same reason x26's TF-IDF is rational), while this form is pure
    * IEEE add/divide — bit-identical on any engine — and induces the
    * same document ordering for a fixed query. k1 = 1.2, b = 0.75.
    *
    * Per-term scores land in fixed columns (one per query term, the
    * query is small and fixed) and the document score is their FIXED-
    * ORDER sum — never a float aggregation whose partition order could
    * vary. Scale shape: one word-explode aggregate for (doc, term) tf
    * filtered to query terms only (the explode drops non-query words
    * before any shuffle), doc lengths ride the same aggregate, df and
    * avglen are broadcast 1-row/`terms.size`-row frames, and the top-k
    * is a TakeOrdered — no global sort. */
  def bm25TopK(
      df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int): DataFrame = {
    // r19 one-pass shape (guide §2.3 "aggregate before you shuffle"): the
    // old form exploded the corpus twice (doc lengths; query-term tf) and
    // re-joined tf⋈dfreq⋈lens. The query is a small FIXED term list, so
    // per-term tf lands in one conditional-count column each inside the
    // SAME per-doc aggregate as the length — one explode, one map-side-
    // combined shuffle by doc, and every corpus-level statistic (df per
    // term, total length, doc count) is one tiny aggregate over that
    // frame, broadcast back. Scores keep the identical IEEE expression
    // tree per term (same casts, same op order) and the identical
    // fixed-order sum, so emitted doubles are bit-identical; docs
    // containing NO query term are filtered exactly as before (they never
    // entered the tf frame).
    val tfCols = terms.zipWithIndex.map { case (t, i) =>
      countIf(col("word") === t).as(s"tf_$i")
    }
    val perDoc = words(df, idCol, textCol)
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("len"), tfCols: _*)
    val totalCols = Seq(count(lit(1)).as("n_docs")) ++
      terms.indices.map(i => countIf(col(s"tf_$i") > 0).as(s"df_$i"))
    val totals = perDoc.agg(sum(col("len")).as("total_len"), totalCols: _*)
    val scoreCols = terms.indices.map { i =>
      val idf = ((col("n_docs") - col(s"df_$i")).cast("double") + lit(0.5)) /
        (col(s"df_$i").cast("double") + lit(0.5))
      when(col(s"tf_$i") > 0,
        idf * ((col(s"tf_$i").cast("double") * lit(2.2)) /
          (col(s"tf_$i").cast("double") +
            lit(1.2) * (lit(0.25) + lit(0.75) *
              (col("len").cast("double") / col("avglen"))))))
        .otherwise(lit(0.0)).as(s"s_$i")
    }
    perDoc
      .filter(terms.indices.map(i => col(s"tf_$i") > 0).reduceLeft(_ || _))
      .crossJoin(broadcast(totals))
      .withColumn("avglen", col("total_len").cast("double") / col("n_docs").cast("double"))
      .select(col(idCol) +: scoreCols: _*)
      .withColumn("score",
        terms.indices.map(i => col(s"s_$i")).reduceLeft(_ + _))
      .select(col(idCol), col("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
  }

  /** Quality gate with drop-reason codes (the x65 decision layer,
    * shared by the batch query and [[graft.streaming.QualityStream]]):
    * per document — boolean reasons (too_short / too_long / repetitive /
    * non-target-language via the marker-word heuristic), a reasons
    * bitmask for compact storage, and the final keep verdict. All
    * signals are WITHIN-document (one word-explode aggregate + per-row
    * marker arithmetic), so the gate is stateless across documents:
    * batch and micro-batch runs produce identical verdicts by
    * construction. */
  def qualityGate(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val markers = Seq("en" -> "the", "es" -> "el", "de" -> "der", "fr" -> "le", "zh" -> "ha")
    val withCounts = markers.foldLeft(df.select(col(idCol), col(textCol))) {
      case (acc, (l, w)) =>
        acc.withColumn(s"c_$l", Text.wordCount(textCol, w).cast("double"))
    }
    val lng = withCounts.select(
      col(idCol),
      when(col("c_en") >= col("c_es") && col("c_en") >= col("c_de") &&
        col("c_en") >= col("c_fr") && col("c_en") >= col("c_zh"), "en")
        .when(col("c_es") >= col("c_de") && col("c_es") >= col("c_fr") &&
          col("c_es") >= col("c_zh"), "es")
        .when(col("c_de") >= col("c_fr") && col("c_de") >= col("c_zh"), "de")
        .when(col("c_fr") >= col("c_zh"), "fr")
        .otherwise("zh").as("lang_pred"))
    val ws = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), countDistinct(col("word")).as("n_distinct_words"))
    val f = ws.join(lng, Seq(idCol))
      .select(col(idCol), col("n_words"),
        (col("n_words") < 40).as("too_short"),
        (col("n_words") > 400).as("too_long"),
        ((col("n_words") - col("n_distinct_words")).cast("double") / col("n_words") > 0.8)
          .as("repetitive"),
        (col("lang_pred") =!= "en").as("non_en"))
    f.select(col(idCol), col("n_words"),
      col("too_short"), col("too_long"), col("repetitive"), col("non_en"),
      (when(col("too_short"), 1L).otherwise(0L) +
        when(col("too_long"), 2L).otherwise(0L) +
        when(col("repetitive"), 4L).otherwise(0L) +
        when(col("non_en"), 8L).otherwise(0L)).as("reasons"),
      (!(col("too_short") || col("too_long") || col("repetitive") || col("non_en")))
        .as("kept"))
  }

  /** Unigram-surprisal quality score per document — the perplexity-proxy
    * filter of LM data curation: mean self-information
    * `avg(ln(N / n_w))` of a document's tokens under the corpus unigram
    * distribution. Low mean surprisal = the document is made of globally
    * common tokens (boilerplate, templates); high = rare-token soup
    * (garbled text, dumps). Both tails are drop candidates.
    *
    * Exactness: this is the one place the library evaluates `ln`, whose
    * last-ulp rounding is not guaranteed identical across math
    * libraries. Both engines feed it the SAME double (one IEEE division
    * of two exact integers), and the result is rounded to 4 decimals
    * and summed as exact decimal — a cross-library sub-ulp disagreement
    * flips the rounded value only within ~1e-13 of a 0.00005 boundary,
    * which the oracle gate would surface. The decimal sum also makes the
    * per-doc mean independent of partition order (a raw double sum would
    * not be). One corpus word scan; the unigram table is vocabulary-sized
    * → broadcast; per-doc aggregation is one shuffle on doc id. */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = words(df, idCol, textCol)
    val uni = w.groupBy(col("word")).agg(count(lit(1)).as("n"))
    val nt = w.agg(count(lit(1)).as("nn"))
    w.join(broadcast(uni), "word")
      .crossJoin(broadcast(nt))
      .select(col(idCol),
        round(log(col("nn").cast("double") / col("n")), 4)
          .cast("decimal(9,4)").as("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("s")).cast("double") / count(lit(1))).as("mean_surprisal"))
  }

  /** Boilerplate-shingle profile per document: the fraction of a doc's
    * distinct word 3-grams that occur in more than `maxDocFreq` documents
    * corpus-wide — the shingle-level form of boilerplate/template
    * detection (navigation chrome, license headers, footer text repeat
    * verbatim across pages and inflate near-dup scores without being
    * content). `is_template` flags docs where boilerplate shingles are
    * the majority (integer comparison, no float threshold). Docs with
    * fewer than 3 words carry no shingles and drop out. Shape: the same
    * inverted index [[Dedup.ngramJaccardPairs]] builds — shingle
    * doc-frequency is one count shuffle, the profile one join + one
    * doc-id shuffle; at 100 TB the df table is the corpus shingle
    * vocabulary, which the join keys on (no broadcast assumption). */
  def boilerplateProfile(
      df: DataFrame, idCol: String, textCol: String, maxDocFreq: Long): DataFrame = {
    val sh = Dedup.shingles(df, idCol, textCol)
    val dfq = sh.groupBy(col("sh")).agg(count(lit(1)).as("sdf"))
    sh.join(dfq, "sh")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        countIf(col("sdf") > maxDocFreq).as("n_boiler"))
      .select(col(idCol), col("n_shingles"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_shingles")).as("boiler_ratio"),
        (col("n_boiler") * 2 > col("n_shingles")).as("is_template"))
  }

  /** Per-source curation scorecard — the one-table health readout a
    * corpus owner reads before mixing sources: document count, exact-dup
    * document count and ratio, mean tokens per document, and the
    * token-weighted mean unigram surprisal (same `ln` discipline as
    * [[unigramSurprisal]], aggregated by source instead of document).
    * Everything is exact (integer counts, decimal surprisal sums, one
    * final IEEE division per ratio). Shape: one word scan (vocabulary
    * table broadcast back), one content-hash groupBy for dup counts,
    * then source-keyed aggregates — the output is |sources| rows. */
  def sourceScorecard(
      df: DataFrame, idCol: String, textCol: String, srcCol: String): DataFrame = {
    val w = df.select(col(srcCol).as("source"), explode(split(col(textCol), " ")).as("word"))
    val uni = w.groupBy(col("word")).agg(count(lit(1)).as("n"))
    val nt = w.agg(count(lit(1)).as("nn"))
    val persrc = w.join(broadcast(uni), "word")
      .crossJoin(broadcast(nt))
      .select(col("source"),
        round(log(col("nn").cast("double") / col("n")), 4)
          .cast("decimal(9,4)").as("s"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("ssum"))
    val dup = df.groupBy(col(textCol)).agg(count(lit(1)).as("c"))
    val docs = df.join(dup, Seq(textCol))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"), countIf(col("c") > 1).as("n_dup_docs"))
      .withColumnRenamed(srcCol, "source")
    docs.join(persrc, "source")
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        (col("n_dup_docs").cast("double") / col("n_docs")).as("dup_doc_ratio"),
        (col("n_tokens").cast("double") / col("n_docs")).as("avg_tokens"),
        (col("ssum").cast("double") / col("n_tokens")).as("mean_surprisal"))
  }

  /** Reference unigram LM for [[lmPartialScorecard]]: (word, n) counts
    * from a reference corpus. The total token count is `sum(n)` — always
    * derivable from the frame itself, so consumers need no side channel
    * for unseen-word smoothing. */
  def unigramLm(reference: DataFrame, textCol: String): DataFrame =
    reference.select(explode(split(col(textCol), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))

  /** Per-source PARTIAL scorecard of `docs` scored against a FIXED
    * reference LM — (source, n_docs, n_tokens, ssum) where ssum is the
    * exact decimal sum of 4-dp-rounded surprisals (same discipline as
    * [[unigramSurprisal]]; words unseen in the reference score
    * `ln(N / 1)`, count-1 smoothing). All three aggregates are
    * ASSOCIATIVE (long sums + exact decimal sums), so partials computed
    * over any row partitioning of `docs` — micro-batches included —
    * merge by [[scorecardFromPartials]] into exactly the whole-corpus
    * answer. This is the streaming-exact-aggregation contract: no keyed
    * state, just per-batch partial rows appended to a table. */
  def lmPartialScorecard(
      docs: DataFrame, lm: DataFrame,
      textCol: String, srcCol: String): DataFrame = {
    val nt = lm.agg(sum(col("n")).as("nn"))
    val scored = docs
      .select(col(srcCol).as("source"), explode(split(col(textCol), " ")).as("word"))
      .join(broadcast(lm), Seq("word"), "left")
      .crossJoin(broadcast(nt))
      .select(col("source"),
        round(log(col("nn").cast("double") / coalesce(col("n"), lit(1L))), 4)
          .cast("decimal(9,4)").as("s"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("s")).as("ssum"))
    docs.groupBy(col(srcCol)).agg(count(lit(1)).as("n_docs"))
      .withColumnRenamed(srcCol, "source")
      .join(scored, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("ssum"))
  }

  /** Merge [[lmPartialScorecard]] partials (any number of batches) into
    * the final per-source scorecard — exact because every partial column
    * is an associative sum. */
  def scorecardFromPartials(partials: DataFrame): DataFrame =
    partials.groupBy(col("source"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("ssum")).as("ssum"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        (col("ssum").cast("double") / col("n_tokens")).as("mean_surprisal"))

  /** Per-DOCUMENT surprisal against a FIXED reference LM (the per-doc
    * companion to [[lmPartialScorecard]]'s per-source rollup): each
    * word scores ln(N / c(word)) with unseen words smoothed to count 1,
    * 4-dp-rounded then summed as exact decimals. The canonical use is
    * held-out evaluation — train the LM on one split, score another —
    * where per-doc granularity lets a curation pass rank or filter
    * individual held-out documents rather than whole sources. Scale:
    * the LM is vocabulary-bounded and broadcasts; scoring is one
    * map-side explode + one shuffle on `idCol`. */
  def lmDocSurprisal(
      docs: DataFrame, lm: DataFrame,
      idCol: String, textCol: String): DataFrame = {
    val nt = lm.agg(sum(col("n")).as("nn"))
    docs.select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .join(broadcast(lm), Seq("word"), "left")
      .crossJoin(broadcast(nt))
      .select(col(idCol),
        round(log(col("nn").cast("double") / coalesce(col("n"), lit(1L))), 4)
          .cast("decimal(9,4)").as("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        (sum(col("s")).cast("double") / count(lit(1))).as("mean_surprisal"))
  }

  /** Shard manifest for a deterministic dataset release: assign every
    * document to one of `nShards` shards by hashing its ID (content
    * changes never move a doc between shards; re-runs are stable on any
    * cluster size), then emit per-shard `n_docs`, token totals, the id
    * range, and an order-independent XOR checksum of content hashes.
    * The checksum is the cheap equality witness between two
    * materializations of the same release — `bit_xor` is associative
    * and commutative, so it is partitioning-proof and can never
    * overflow the way a sum of hashes would at 100 TB row counts.
    * Cost: one map-side-combined shuffle to `nShards` groups; the
    * write path this manifests for is `partitionBy(shard)`. */
  def shardManifest(
      df: DataFrame, idCol: String, textCol: String, nShards: Int): DataFrame = {
    df.select(
        expr(s"poly_hash(CAST($idCol AS STRING)) % $nShards").as("shard"),
        col(idCol).cast("long").as("__id"),
        Text.tokenCount(textCol).as("__tok"),
        expr(s"poly_hash($textCol)").as("__h"))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("__tok")).as("n_tokens"),
        min(col("__id")).as("min_id"),
        max(col("__id")).as("max_id"),
        expr("bit_xor(__h)").as("checksum"))
  }

  /** Merge per-batch [[shardManifest]] partials into the standing
    * release manifest: counts add, id ranges combine by min/max, and
    * the XOR checksum — associative, commutative, self-inverse —
    * folds across batches to exactly the one-shot corpus checksum.
    * This is what makes the manifest STREAMABLE: each micro-batch
    * contributes a |shards|-row partial and the merge never rescans
    * documents ([[graft.streaming.ManifestStream]]). */
  def manifestFromPartials(partials: DataFrame): DataFrame =
    partials.groupBy(col("shard"))
      .agg(sum(col("n_docs")).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        min(col("min_id")).as("min_id"),
        max(col("max_id")).as("max_id"),
        expr("bit_xor(checksum)").as("checksum"))

  /** Dedup-clean evaluation sample: `k` docs per source drawn ONLY from
    * documents that appear in NO near-dup pair — the eval-set builder
    * that composes near-dup detection with [[stratifiedSample]] so a
    * held-out benchmark can't share a template with anything else in
    * the corpus (weaker near-dup leakage than x52 guards, but the
    * right default for sampling eval sets). `pairs` is any
    * (aCol, bCol) near-dup pair frame; docs on either side are
    * excluded via one anti-join (pair ids are tiny next to the corpus,
    * so AQE broadcasts the exclusion set), then the LCG sample picks
    * deterministically. */
  def cleanEvalSample(
      docs: DataFrame, pairs: DataFrame, aCol: String, bCol: String,
      idCol: String, srcCol: String, k: Int): DataFrame = {
    val dup = pairs.select(col(aCol).as("__dup"))
      .union(pairs.select(col(bCol).as("__dup"))).distinct()
    val clean = docs.join(dup, docs(idCol) === dup("__dup"), "left_anti")
    stratifiedSample(clean, col(srcCol), col(idCol), k)
  }

  /** Deterministic stratified sample: `k` rows per stratum, chosen by an
    * arithmetic LCG of the unique key — reproducible on any cluster
    * size, no RNG state. One shuffle (the window by stratum). */
  def stratifiedSample(
      df: DataFrame, stratumCol: Column, keyCol: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(stratumCol)
      .orderBy(((keyCol * lit(48271L)) % lit(2147483647L)).asc, keyCol.asc)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Mixture-drift audit between two corpus versions (raw → curated,
    * release N → N+1): per-source token shares in each version and the
    * per-source KL(b‖a) contribution `share_b · ln(share_b / share_a)`
    * — the readout that says WHICH domains a curation pass silently
    * over- or under-pruned, before committing a 100 TB tokenization to
    * a skewed mixture. Token counts are per-row length arithmetic (no
    * explode); each side is one map-side-combined shuffle to |sources|
    * groups and the totals ride in as broadcast 1-row aggregates.
    * Exactness: shares are single IEEE divisions of exact longs; the
    * one `ln` is 4-dp-rounded before the multiply (the
    * [[unigramSurprisal]] cross-library discipline). Sources absent
    * from `b` contribute 0 by the 0·ln0 = 0 convention. */
  def mixtureDrift(
      a: DataFrame, b: DataFrame, srcCol: String, textCol: String): DataFrame = {
    def tokensBySource(df: DataFrame, out: String): DataFrame =
      df.groupBy(col(srcCol))
        .agg(sum(Text.tokenCount(textCol)).as(out))
    val ta = tokensBySource(a, "tokens_a")
    val tb = tokensBySource(b, "tokens_b")
    val tota = ta.agg(sum(col("tokens_a")).as("__tota"))
    val totb = tb.agg(sum(col("tokens_b")).as("__totb"))
    ta.join(tb, Seq(srcCol), "left")
      .na.fill(0L, Seq("tokens_b"))
      .crossJoin(broadcast(tota)).crossJoin(broadcast(totb))
      .select(
        col(srcCol),
        col("tokens_a"), col("tokens_b"),
        (col("tokens_a").cast("double") / col("__tota")).as("share_a"),
        (col("tokens_b").cast("double") / col("__totb")).as("share_b"))
      .withColumn("kl_term",
        when(col("tokens_b") === 0L, lit(0.0))
          .otherwise(col("share_b") *
            round(log(col("share_b") / col("share_a")), 4)
              .cast("decimal(9,4)").cast("double")))
  }

  /** Tokenizer fertility audit per source: whitespace tokens, BPE-ish
    * regex tokens ([[graft.functions.Text.regexTokenCount]]), chars,
    * and the two ratios curation actually reads — regex/whitespace
    * fertility (how much a subword-style split inflates the count) and
    * chars per regex token (script/density proxy). All three sums are
    * per-row length arithmetic folded map-side into |sources| groups:
    * one shuffle, integer-exact on any partitioning, with two final
    * IEEE divisions. */
  def tokenizerFertility(df: DataFrame, srcCol: String, textCol: String): DataFrame =
    df.groupBy(col(srcCol))
      .agg(
        sum(Text.tokenCount(textCol)).as("ws_tokens"),
        sum(Text.regexTokenCount(textCol)).as("regex_tokens"),
        sum(length(col(textCol)).cast("long")).as("n_chars"))
      .select(col(srcCol), col("ws_tokens"), col("regex_tokens"), col("n_chars"),
        (col("regex_tokens").cast("double") / col("ws_tokens")).as("fertility"),
        (col("n_chars").cast("double") / col("regex_tokens")).as("chars_per_token"))

  /** Per-source label composition entropy over a categorical column
    * (language, license, topic): each (source, label) share p and the
    * source's Shannon entropy −Σ p·ln p — the one-number "is this
    * domain monolingual?" audit a mixture designer reads before
    * weighting. Two map-side-combined shuffles (label counts, then
    * |sources| groups). Exactness: each term's `p·ln p` is
    * 4-dp-rounded to exact decimal BEFORE the sum (the
    * [[unigramSurprisal]] discipline), so the per-source total is
    * associative and partitioning-proof. */
  def labelEntropy(df: DataFrame, srcCol: String, labelCol: String): DataFrame = {
    val counts = df.groupBy(col(srcCol), col(labelCol))
      .agg(count(lit(1)).as("c"))
    val totals = counts.groupBy(col(srcCol)).agg(sum(col("c")).as("n"))
    counts.join(broadcast(totals), srcCol)
      .select(col(srcCol),
        round((col("c").cast("double") / col("n")) *
            log(col("c").cast("double") / col("n")), 4)
          .cast("decimal(9,4)").as("term"))
      .groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_labels"),
        // negate in the DECIMAL domain (no signed zero) BEFORE the double
        // cast, so a monolingual source is +0.0 in every engine
        (-sum(col("term"))).cast("double").as("entropy"))
  }

  /** Fixed-width histogram sketch of a long-valued column: one
    * map-side-combined shuffle to at most range/`binWidth` groups.
    * This is the mergeable, partitioning-proof alternative to exact
    * percentiles at 100 TB: partial histograms from any split of the
    * data merge by bin-wise addition ([[mergeHistograms]]), so the
    * sketch streams, unions across releases, and never needs a sort. */
  def histogramSketch(df: DataFrame, valueCol: Column, binWidth: Long): DataFrame =
    df.select(floor(valueCol / lit(binWidth)).as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"))

  /** Bin-wise merge of histogram partials — associative and
    * commutative, the equality witness that makes [[histogramSketch]]
    * a sketch rather than a one-shot aggregate. */
  def mergeHistograms(partials: DataFrame): DataFrame =
    partials.groupBy(col("bin")).agg(sum(col("n")).as("n"))

  /** Error-bounded quantile estimates off a [[histogramSketch]]: for
    * each requested q, walk the cumulative histogram to the first bin
    * where cum ≥ ⌈q·N⌉ and linearly interpolate inside it. The
    * estimate is within `binWidth` of the exact order statistic by
    * construction, at the cost of one tiny (≤ #bins rows) window pass
    * — the whole corpus is touched exactly once, by the sketch. */
  def histQuantiles(hist: DataFrame, qs: Seq[Double], binWidth: Long): DataFrame = {
    val w = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist
      .withColumn("cum", sum(col("n")).over(w))
      .crossJoin(broadcast(hist.agg(sum(col("n")).as("total"))))
    qs.foldLeft(Option.empty[DataFrame]) { (acc, q) =>
        val target = ceil(lit(q) * col("total"))
        val row = cum.filter(col("cum") >= target)
          .orderBy(col("bin")).limit(1)
          .select(lit(q).as("q"),
            (col("bin") * binWidth +
              round((target - (col("cum") - col("n"))).cast("double") / col("n")
                * binWidth, 4).cast("decimal(14,4)").cast("double")).as("estimate"))
        Some(acc.fold(row)(_.unionAll(row)))
      }.get
  }

  /** Per-group [[histQuantiles]]: the same cumulative-walk interpolation
    * run once per group of a grouped [[histogramSketch]] (hist carries
    * `groupCols` + bin + n). The window partitions by group, so no
    * global sort exists anywhere; the output is |groups| × |qs| rows.
    * This is the sketch-based scale twin of the exact per-source
    * quantile gate (x101): at 100 TB the exact within-group percentile
    * sort is the one cost this version deletes, trading it for a
    * ±binWidth error bound. */
  def groupedHistQuantiles(
      hist: DataFrame, groupCols: Seq[String], qs: Seq[Double],
      binWidth: Long): DataFrame = {
    val gc = groupCols.map(col)
    val w = Window.partitionBy(gc: _*).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val totals = hist.groupBy(gc: _*).agg(sum(col("n")).as("total"))
    val cum = hist
      .withColumn("cum", sum(col("n")).over(w))
      .join(broadcast(totals), groupCols)
    qs.foldLeft(Option.empty[DataFrame]) { (acc, q) =>
        val target = ceil(lit(q) * col("total"))
        val hit = cum.filter(col("cum") >= target)
          .withColumn("__rn",
            row_number().over(Window.partitionBy(gc: _*).orderBy(col("bin"))))
          .filter(col("__rn") === 1)
          .select(gc :+ lit(q).as("q") :+
            (col("bin") * binWidth +
              round((target - (col("cum") - col("n"))).cast("double") / col("n")
                * binWidth, 4).cast("decimal(14,4)").cast("double")).as("estimate"): _*)
        Some(acc.fold(hit)(_.unionAll(hit)))
      }.get
  }

  /** Reciprocal-rank fusion of N retrieval rankings (lexical BM25,
    * vector ANN, …): each input carries (`idCol`, its rank column);
    * every id scores Σ 1/(k0 + rank) over the rankings it appears in,
    * absent ids contributing exactly 0. The contributions are summed in
    * INPUT order (a fixed two-term-at-a-time fold of exactly-rounded
    * integer reciprocals), so the fused score is bit-identical on any
    * engine and any partitioning — no transcendental, no data-order
    * float sum. Rankings are top-k-bounded frames (tiny), so the
    * full-outer chain stays broadcast-sized no matter the corpus. */
  def rrfFuse(idCol: String, k0: Int, rankings: (DataFrame, String)*): DataFrame = {
    val renamed = rankings.zipWithIndex.map { case ((df, rc), i) =>
      df.select(col(idCol), col(rc).cast("long").as(s"rank_$i"))
    }
    val joined = renamed.reduceLeft((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = rankings.indices
      .map(i => coalesce(lit(1.0) / (lit(k0) + col(s"rank_$i")), lit(0.0)))
      .reduceLeft(_ + _)
    joined.withColumn("rrf_score", score)
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis): each
    * row draws a deterministic uniform u ∈ (0, 1] from an arithmetic
    * LCG of its id (the library's F6 discipline — reproducible on any
    * cluster size, no `rand()`), takes key = ln(u) / w, and the k
    * largest keys are the sample — rows with weight w are selected with
    * probability ∝ w, exactly the E–S scheme. The one transcendental
    * (ln) is 4-dp-rounded before the division so the key is
    * cross-engine exact; top-k goes through ORDER BY … LIMIT
    * (TakeOrderedAndProject — a per-partition heap + driver merge of k,
    * never a global sort). */
  def weightedSample(
      df: DataFrame, idCol: String, weightCol: Column, k: Int): DataFrame = {
    val u = (((col(idCol) + 1) * lit(2654435761L)) % lit(2147483647L) + 1)
      .cast("double") / lit(2147483648.0)
    df.select(col(idCol), weightCol.as("weight"),
        (round(log(u), 4).cast("decimal(9,4)").cast("double") /
          col("weight")).as("es_key"))
      .orderBy(col("es_key").desc, col(idCol))
      .limit(k)
  }

  /** Cross-source LM cross-entropy matrix: for every (data-source B,
    * model-source A) pair, the mean surprisal of B's tokens under A's
    * add-1-smoothed unigram LM — the domain-similarity readout behind
    * mixture design ("which domains are interchangeable, which are
    * outliers?"). The diagonal is each domain's in-domain entropy; a
    * large off-diagonal gap means the domains don't share a vocabulary
    * distribution. Exactness: p_A(w) = (c_A(w)+1)/(N_A+V) over the
    * GLOBAL vocab (so every token of every data source has a defined
    * probability), each −ln p is 4-dp-rounded to exact decimal, and
    * the weighted sums run in the exact decimal domain — c_B(w) × lnp
    * as a decimal product is bit-identical to summing c_B(w)
    * occurrence copies of lnp (both exact), which is how the engine's
    * counts-based form hash-matches the oracle's occurrence-level SQL.
    * Scale shape: the model table is |vocab|×|sources| built from the
    * COUNT table (no corpus rescan), the scoring join is count-table ⋈
    * count-table on word — nothing token-sized ever shuffles. */
  def crossSourceCrossEntropy(
      df: DataFrame, idCol: String, textCol: String, srcCol: String): DataFrame = {
    val w = df.select(col(srcCol).as("src"),
      explode(split(col(textCol), " ")).as("word"))
    val counts = w.groupBy(col("src"), col("word")).agg(count(lit(1)).as("c"))
    val na = w.groupBy(col("src")).agg(count(lit(1)).as("n_a"))
    val vocab = w.select(col("word")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("v"))
    val m = vocab.crossJoin(counts.select(col("src")).distinct())
      .join(counts, Seq("src", "word"), "left").na.fill(0L, Seq("c"))
      .join(broadcast(na), "src")
      .crossJoin(broadcast(vsize))
      .select(col("word"), col("src").as("src_model"),
        round(log((col("n_a") + col("v")).cast("double") /
            (col("c") + 1).cast("double")), 4)
          .cast("decimal(9,4)").as("lnp"))
    counts.select(col("src").as("src_data"), col("word"), col("c"))
      .join(m, "word")
      .groupBy(col("src_data"), col("src_model"))
      .agg(sum(col("c")).as("n_tokens"),
        (sum(col("c").cast("decimal(20,0)") * col("lnp")).cast("double") /
          sum(col("c"))).as("cross_entropy"))
  }

  /** Truncation-waste curve: for each candidate max sequence length,
    * how many documents would be cut and what fraction of corpus tokens
    * the cut discards — the readout that picks a packing/context length
    * BEFORE committing a 100 TB tokenization run. Token counts are
    * per-row length arithmetic ([[graft.functions.Text.tokenCount]] —
    * no explode), each row fans out to `maxLens.size` (length, tokens)
    * pairs, and one small aggregate (≤ `maxLens.size` groups) does the
    * rest: a single map-side-combined shuffle over the whole corpus.
    * All sums are integers (exact on any partitioning); the one double
    * is a final single division. */
  /** Bigram-conditional surprisal — the KenLM-style LM quality proxy
    * one order above [[unigramSurprisal]]: every in-document bigram
    * (w1, w2) scores −ln P(w2 | w1) = ln(c(w1·)/c(w1,w2)) against
    * corpus counts, where c(w1·) counts bigrams STARTING with w1 (so
    * the conditional normalizes to 1 and end-of-document tokens never
    * skew the denominator). Repetitive/templated text compresses well
    * under its own corpus (low surprisal); token-soup scores high —
    * a sharper quality filter than the unigram model because it sees
    * word ORDER, not just frequency. Same cross-engine exactness
    * discipline as [[unigramSurprisal]]: per-bigram ln rounded to 4 dp
    * then summed as exact decimals. Scale shape: the bigram count table
    * is vocabulary²-bounded so it joins by shuffle on the bigram key
    * (NOT broadcast — unlike the unigram table it need not fit in one
    * executor); the prefix-count table is unigram-sized and broadcasts. */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val bg = bigrams(df, idCol, textCol)
    val c2 = bg.groupBy(col("bg")).agg(count(lit(1)).as("c2"))
    val c1 = bg.select(split(col("bg"), " ").getItem(0).as("w1"))
      .groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    bg.join(c2, "bg")
      .withColumn("w1", split(col("bg"), " ").getItem(0))
      .join(broadcast(c1), "w1")
      .select(col(idCol),
        round(log(col("c1").cast("double") / col("c2")), 4)
          .cast("decimal(9,4)").as("s"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("s")).cast("double") / count(lit(1))).as("mean_surprisal"))
  }

  /** Per-source quantile curation gate: each source contributes its own
    * length cutoff (the exact interpolated `q`-quantile of whitespace
    * token counts — Spark `percentile` ≡ DuckDB `quantile_cont` on
    * integer inputs), and a document is kept when it reaches its OWN
    * source's cutoff. This is the per-domain thresholding a mixed crawl
    * needs — one global cutoff over-prunes terse sources and
    * under-prunes verbose ones. Returns (`idCol`, `sourceCol`,
    * `n_tokens`, `cutoff`, `kept`). Scale shape: one map-side-combined
    * aggregate to a sources-sized cutoff table, then a broadcast join
    * back — the corpus never shuffles. */
  def sourceQuantileGate(
      df: DataFrame, idCol: String, textCol: String, sourceCol: String,
      q: Double): DataFrame = {
    val toks = df.select(col(idCol), col(sourceCol),
      Text.tokenCount(textCol).as("n_tokens"))
    val cutoffs = toks.groupBy(col(sourceCol))
      .agg(percentile(col("n_tokens"), lit(q)).as("cutoff"))
    toks.join(broadcast(cutoffs), Seq(sourceCol))
      .select(col(idCol), col(sourceCol), col("n_tokens"), col("cutoff"),
        (col("n_tokens").cast("double") >= col("cutoff")).as("kept"))
  }

  /** PII scan + redaction in one projection pass: appends a
    * `<name>_count` column per (name, regex) pattern and a
    * `<textCol>_redacted` column with every match replaced by
    * `<NAME>`. Patterns are applied to the redaction in sequence, so an
    * earlier pattern cannot be re-matched by a later one — the same
    * left-to-right discipline a reducing-scrubber needs for overlapping
    * pattern families. Everything is per-row codegen'd regex work (no
    * shuffle, no UDF); at 100 TB this is a map-only stage whose cost is
    * the regex engine itself, and the patterns must stay in the
    * backtracking-safe subset (character classes + bounded quantifiers,
    * no nested unbounded groups) to keep worst-case per-row time linear. */
  def piiScan(
      df: DataFrame, textCol: String, patterns: Seq[(String, String)]): DataFrame = {
    val withCounts = patterns.foldLeft(df) { case (acc, (name, re)) =>
      acc.withColumn(s"${name}_count",
        size(regexp_extract_all(col(textCol), lit(re), lit(0))).cast("long"))
    }
    val redacted = patterns.foldLeft(col(textCol)) { case (e, (name, re)) =>
      regexp_replace(e, lit(re), lit(s"<${name.toUpperCase}>"))
    }
    withCounts.withColumn(s"${textCol}_redacted", redacted)
  }

  def truncationWaste(
      df: DataFrame, textCol: String, maxLens: Seq[Int]): DataFrame =
    df.select(Text.tokenCount(textCol).as("n_tokens"))
      .select(col("n_tokens"),
        explode(array(maxLens.map(l => lit(l.toLong)): _*)).as("max_len"))
      .groupBy(col("max_len"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("n_tokens") > col("max_len"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum(least(col("n_tokens"), col("max_len"))).as("tokens_kept"),
        sum(greatest(col("n_tokens") - col("max_len"), lit(0L)))
          .as("tokens_lost"))
      .withColumn("waste_frac",
        col("tokens_lost").cast("double") /
          (col("tokens_kept") + col("tokens_lost")))

  /** Hashing-trick linear classifier score (the x161 operator as a
    * library function, shared with [[graft.streaming.ClassifierStream]]):
    * tokens hash into 4096 weight buckets via the portable `poly_hash`,
    * the document's score is the exact int64 sum of its token-occurrence
    * weights, `keep = score ≥ 0`. The weight table is a deterministic
    * pseudo-model expression — swapping in a TRAINED model is a
    * 4096-entry broadcast lookup in the same plan. All signals are
    * WITHIN-document (one token-explode + per-doc hash-agg), so the
    * classifier is stateless across documents: batch and micro-batch
    * runs produce identical verdicts by construction. Returns (`idCol`,
    * `n_tokens`, `score`, `keep`). */
  def hashedClassifierScore(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    df.select(col(idCol), explode(split(col(textCol), " ")).as("__w"))
      .select(col(idCol),
        expr("(poly_hash(__w) % 4096) * CAST(2654435761 AS BIGINT) % 2001 - 1000")
          .as("__wgt"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__wgt")).as("score"))
      .select(col(idCol), col("n_tokens"), col("score"),
        (col("score") >= 0).as("keep"))
  }

  /** DSIR-style hashed importance weights (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score
    * every document by how much more its token distribution resembles a
    * TARGET slice (`targetPred` — a curated source, a trusted domain)
    * than the raw corpus at large. Tokens hash into `buckets` cells
    * (the x161 feature-hashing trick), each bucket carries the integer
    * log-likelihood ratio `lw = (⌊log₂(t+1)⌋ − ⌊log₂(T+1)⌋) −
    * (⌊log₂(r+1)⌋ − ⌊log₂(R+1)⌋)` of the normalized target vs raw
    * bucket frequencies (+1 = add-one smoothing; T/R = total token
    * counts), and a document's score is the sum of its token-occurrence
    * weights with `keep = score > 0` (more target-like than
    * corpus-average) as the selection rule — the paper's importance
    * weight with ⌊log₂⌋ in place of ln.
    *
    * Why ⌊log₂⌋ and not ln: the log here only needs to be MONOTONE and
    * portable, and libm logs are neither exactly reproducible across
    * engines nor exact on the int grid (the x142 lesson). Floor-log₂
    * of a positive int64 is computed by joining against a 63-row
    * powers-of-two frame (`max k where 2^k ≤ x`) — exact, branch-free,
    * and bit-identical in any engine. Weights stay in [−62, 62], so
    * |score| ≤ 62·n_tokens — no overflow at any corpus size.
    *
    * Scale shape — the same join-free economics that make hashed
    * models THE 100 TB classifier family: one token explode, one
    * map-side-combined bucket count (output bounded by `buckets`
    * regardless of corpus size), two broadcast joins of that
    * bucket-sized frame against the 63-row powers frame, and the
    * resulting bucket→weight table broadcast back over the token
    * stream into a doc-keyed combine. One real shuffle (the per-doc
    * agg); the target pass and the raw pass share one scan. */
  def dsirScore(df: DataFrame, idCol: String, textCol: String,
      targetPred: org.apache.spark.sql.Column,
      buckets: Int = 4096): DataFrame =
    dsirApply(df, idCol, textCol,
      dsirWeights(df, idCol, textCol, targetPred, buckets), buckets)

  /** The DSIR bucket→weight table alone: (`bucket`, `lw`) for every
    * hash bucket seen in the fit corpus — the FROZEN "model" a serving
    * gate carries ([[graft.streaming.DsirStream]] is the at-ingest
    * form; fit once per target release, ≤ `buckets` rows, broadcast
    * everywhere). See [[dsirScore]] for the weight's definition. */
  def dsirWeights(df: DataFrame, idCol: String, textCol: String,
      targetPred: org.apache.spark.sql.Column,
      buckets: Int = 4096): DataFrame = {
    val spark = df.sparkSession
    val tok = df.select(targetPred.as("__tgt"),
        explode(split(col(textCol), " ")).as("__w"))
      .select(col("__tgt"), expr(s"poly_hash(__w) % $buckets").as("__b"))
    val cnt = tok.groupBy(col("__b"))
      .agg(count(lit(1)).as("__r"),
        sum(when(col("__tgt"), 1L).otherwise(0L)).as("__t"))
      .transform(graft.plans.Pin.pin)
    val p2 = broadcast(spark.range(63).select(col("id").as("__k"),
      expr("shiftleft(CAST(1 AS BIGINT), cast(id as int))").as("__p")))
    val fr = cnt.join(p2, col("__p") <= col("__r") + 1L)
      .groupBy(col("__b")).agg(max(col("__k")).as("__fr"))
    val ft = cnt.join(p2, col("__p") <= col("__t") + 1L)
      .groupBy(col("__b")).agg(max(col("__k")).as("__ft"))
    val tot = cnt.agg(sum(col("__r")).as("__tr"), sum(col("__t")).as("__tt"))
    val fR = tot.join(p2, col("__p") <= col("__tr") + 1L)
      .agg(max(col("__k")).as("__gr"))
    val fT = tot.join(p2, col("__p") <= col("__tt") + 1L)
      .agg(max(col("__k")).as("__gt"))
    fr.join(ft, "__b")
      .crossJoin(broadcast(fR)).crossJoin(broadcast(fT))
      .select(col("__b").as("bucket"),
        ((col("__ft") - col("__gt")) - (col("__fr") - col("__gr"))).as("lw"))
  }

  /** Score documents against a standing [[dsirWeights]] table. A token
    * hashing to a bucket NEVER seen at fit time carries no evidence:
    * it contributes weight 0 (left join + coalesce), but it still
    * counts in `n_tokens` and the document still gets a row — so a
    * serving gate's accounting (n_kept + n_dropped = batch size) holds
    * even for documents of entirely novel vocabulary. Identical to the
    * one-pass batch form on the fit corpus itself, where every scored
    * token's bucket exists by construction. */
  def dsirApply(df: DataFrame, idCol: String, textCol: String,
      weights: DataFrame, buckets: Int = 4096): DataFrame = {
    df.select(col(idCol), explode(split(col(textCol), " ")).as("__w"))
      .select(col(idCol), expr(s"poly_hash(__w) % $buckets").as("bucket"))
      .join(broadcast(weights), Seq("bucket"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("lw"), lit(0L))).as("score"))
      .select(col(idCol), col("n_tokens"), col("score"),
        (col("score") > 0).as("keep"))
  }

  /** Count-Min sketch cells (Cormode & Muthukrishnan 2005) for the
    * token stream of `df`'s `textCol`: (`r`, `bucket`, `total`) over
    * `rows`×`buckets` salted-hash cells — the x167 sketch-build stage,
    * shared verbatim by the streaming form
    * ([[graft.streaming.CountMinStream]]). The defining property this
    * factoring exists to exploit: cells are MERGEABLE BY PLAIN SUM —
    * countMinCells(A ∪ B) ≡ countMinCells(A) ⊎ countMinCells(B) summed
    * per (r, bucket) — so per-partition partials, per-batch stream
    * registries, and cross-corpus unions all combine exactly, and the
    * standing state is 3·1024 rows regardless of corpus size. One
    * explode + one map-side-combined hash-agg; salted `poly_hash` rows
    * replay exactly in the oracle. */
  def countMinCells(df: DataFrame, textCol: String,
      rows: Int = 3, buckets: Int = 1024): DataFrame = {
    df.select(explode(split(col(textCol), " ")).as("__w"))
      .select(col("__w"),
        explode(sequence(lit(0), lit(rows - 1))).as("__r"))
      .select(col("__r").cast("long").as("r"),
        expr(s"poly_hash(concat(cast(__r AS string), __w)) % $buckets")
          .as("bucket"))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("total"))
  }

  /** Count-Min point estimate for each word in `words` (`wordCol`)
    * against a cell frame from [[countMinCells]]: the min over rows of
    * the probed cell totals — ≥ the true count by construction, with
    * overestimate bounded by the hash collisions in the LIGHTEST of the
    * `rows` salted rows. A probe landing in a cell the sketch never
    * touched reads 0 (left join + coalesce) — the Count-Min
    * definition's empty-cell value — so a fully-unseen word estimates
    * exactly 0 rather than vanishing, and a partially-unseen probe set
    * cannot inflate the min. `cells` is sketch-sized (≤ rows·buckets)
    * and broadcasts under the probe frame. */
  def countMinEstimate(cells: DataFrame, words: DataFrame, wordCol: String,
      rows: Int = 3, buckets: Int = 1024): DataFrame = {
    val probes = words
      .select(col(wordCol),
        explode(sequence(lit(0), lit(rows - 1))).as("__r"))
      .select(col(wordCol), col("__r").cast("long").as("r"),
        expr(s"poly_hash(concat(cast(__r AS string), $wordCol)) % $buckets")
          .as("bucket"))
    probes.join(broadcast(cells), Seq("r", "bucket"), "left")
      .groupBy(col(wordCol))
      .agg(min(coalesce(col("total"), lit(0L))).as("est_cnt"))
  }

  /** Phrase-blocklist gate — the multi-word wordlist filter standard
    * curation pipelines run ahead of model gates (x28 filters single
    * stopwords; real blocklists carry PHRASES). The blocklist is a
    * static artifact: grouped by word length, each length's phrases
    * broadcast against one n-gram pass over the corpus at that length —
    * passes = distinct phrase lengths (1-3 in practice), the corpus
    * never shuffles on the gram key. Every document gets a verdict row
    * (left join): (id, n_matches = total occurrences, n_phrases =
    * distinct blocklist phrases hit, kept = no match). The match frame
    * is tiny (hits only), so its count+distinct Expand is harmless —
    * the repetitionSignals caveat doesn't bite here. */
  def blocklistGate(df: DataFrame, idCol: String, textCol: String,
      phrases: Seq[String]): DataFrame = {
    require(phrases.nonEmpty, "empty blocklist")
    val spark = df.sparkSession
    import spark.implicits._
    val matches = phrases.groupBy(_.split(" ").length).toSeq.sortBy(_._1)
      .map { case (n, ps) =>
        graft.functions.Text.explodeNgrams(
            df.select(col(idCol), split(col(textCol), " ").as("w")),
            keep = Seq(idCol), wordsCol = "w", n = n, as = "phrase")
          .join(broadcast(ps.toDF("phrase")), "phrase")
          .select(col(idCol), col("phrase"))
      }.reduce(_ unionAll _)
    val agg = matches.groupBy(col(idCol))
      .agg(count(lit(1)).as("m"), countDistinct(col("phrase")).as("p"))
    df.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("m"), lit(0L)).as("n_matches"),
        coalesce(col("p"), lit(0L)).as("n_phrases"),
        (coalesce(col("m"), lit(0L)) === 0L).as("kept"))
  }

  // ── BPE tokenizer training (Sennrich et al. 2016, arXiv:1508.07909) ──

  /** The BPE working frame: the corpus WORD VOCABULARY exploded to
    * per-word symbol sequences — (w, pos, sym, cnt) with initial
    * symbols = single characters plus a trailing '</w>' end-of-word
    * marker, cnt = the word's corpus frequency. This is why BPE
    * training scales: the corpus is scanned ONCE to count word
    * frequencies, and every subsequent round runs on this vocab-sized
    * table (Heaps' law: vocab ≪ corpus tokens — at 100 TB the corpus
    * has ~10¹³ tokens but ~10⁸ word types, so the iterated frame is
    * 5 orders of magnitude smaller than the data). */
  def bpeVocabSymbols(df: DataFrame, idCol: String, textCol: String): DataFrame =
    words(df, idCol, textCol)
      .groupBy(col("word").as("w"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("w"), col("cnt"),
        posexplode(expr(
          "transform(sequence(1, length(w) + 1), " +
            "i -> CASE WHEN i <= length(w) THEN substring(w, i, 1) " +
            "ELSE '</w>' END)")).as(Seq("p", "sym")))
      .select(col("w"), (col("p") + 1).cast("long").as("pos"),
        col("sym"), col("cnt"))

  /** Weighted adjacent-pair counts over a symbol table from
    * [[bpeVocabSymbols]]/[[bpeMergeStep]]: (a, b, pc) with
    * pc = Σ word-frequency over every adjacent occurrence — overlapping
    * occurrences each count, the reference `get_stats` convention
    * ("aaa" contributes (a,a) twice). One vocab-partitioned window +
    * one map-side-combined sum. */
  def bpePairCounts(syms: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("w")).orderBy(col("pos"))
    syms.withColumn("b", lead(col("sym"), 1).over(w))
      .filter(col("b").isNotNull)
      .groupBy(col("sym").as("a"), col("b"))
      .agg(sum(col("cnt")).as("pc"))
  }

  /** One BPE merge application: rewrite every word's symbol sequence,
    * replacing left-to-right non-overlapping occurrences of (a, b) with
    * the fused symbol a+b. Overlap only arises when a == b (runs of the
    * same symbol — a match at pos i and i+1 both require sym(i+1) = b =
    * a); within each maximal run of adjacent matches the 1st, 3rd, …
    * merge and the even ones are consumed, the greedy convention
    * reference implementations use ("aaaa" + (a,a) → "aa aa"). Islands
    * of adjacent matches are keyed by pos − match-rank (strictly
    * increasing across islands, so no collisions), merge parity is the
    * match-rank offset within the island, and a row whose predecessor
    * merged is dropped. Every window is partitioned by word — the
    * frames stay vocab-sized at any corpus scale. */
  def bpeMergeStep(syms: DataFrame, a: String, b: String): DataFrame = {
    val w = Window.partitionBy(col("w")).orderBy(col("pos"))
    syms
      .withColumn("nxt", lead(col("sym"), 1).over(w))
      .withColumn("im",
        coalesce(col("sym") === lit(a) && col("nxt") === lit(b), lit(false)))
      .withColumn("mseq",
        sum(when(col("im"), lit(1L)).otherwise(lit(0L))).over(w))
      .withColumn("isl", when(col("im"), col("pos") - col("mseq")))
      .withColumn("ir",
        when(col("im"), col("mseq") -
          min(col("mseq")).over(Window.partitionBy(col("w"), col("isl")))))
      .withColumn("sel", col("im") && col("ir") % 2 === 0)
      .withColumn("cons", coalesce(lag(col("sel"), 1).over(w), lit(false)))
      .filter(!col("cons"))
      .select(col("w"),
        row_number().over(w).cast("long").as("pos"),
        when(col("sel"), lit(a + b)).otherwise(col("sym")).as("sym"),
        col("cnt"))
  }

  /** BPE training: `rounds` merge rounds over the corpus vocabulary.
    * Returns (merge table rows (round, left, right, pair_count), final
    * symbol table). Each round is one vocab-sized pair count, a
    * deterministic argmax (max weighted count, ties to the
    * lexicographically smallest (a, b)), and one [[bpeMergeStep]]; the
    * symbol table is localCheckpointed per round (the iterative-template
    * rule — bounded plan depth, no lineage blowup). The winning pair is
    * a driver-side 1-row fetch per round — the bounded-scalar
    * convention (x157's vertex count); everything corpus-sized stays
    * distributed. Stops early if no adjacent pair remains; callers that
    * need a fixed-arity oracle replay must pick `rounds` below the
    * corpus' merge capacity (31-type corpora support hundreds). */
  def bpeTrain(df: DataFrame, idCol: String, textCol: String,
      rounds: Int): (Seq[(Int, String, String, Long)], DataFrame) = {
    var syms = bpeVocabSymbols(df, idCol, textCol).transform(graft.plans.Pin.pin)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      val top = bpePairCounts(syms)
        .orderBy(desc("pc"), asc("a"), asc("b")).limit(1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (a, b, pc) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((r, a, b, pc))
        syms = bpeMergeStep(syms, a, b).transform(graft.plans.Pin.pin)
        r += 1
      }
    }
    (merges.result(), syms)
  }

  /** Tokens-per-word under a trained BPE segmentation: the final symbol
    * count per word, excluding a still-unmerged bare '</w>' marker (a
    * marker FUSED into a symbol — "w</w>" — is part of that token and
    * counts; every word keeps ≥ 1 counted symbol). Vocab-sized. */
  def bpeTokensPerWord(finalSyms: DataFrame): DataFrame =
    finalSyms.filter(col("sym") =!= "</w>")
      .groupBy(col("w"))
      .agg(count(lit(1)).as("wtok"))

  /** Apply an ORDERED trained merge list to arbitrary documents — the
    * BPE serving path. The tokenizer ARTIFACT is the merge table (not
    * a closed vocabulary), so novel words segment correctly: symbols
    * are built for the batch's own vocab and the merges replay in
    * training order, exactly what reference BPE encoders do. Each
    * merge step is localCheckpointed (rounds-many bounded jobs per
    * call — the train loop's own discipline) so the plan stays shallow
    * instead of stacking rounds × window-chains for Catalyst to
    * re-analyze. Returns the [[bpeFertility]] frame. */
  def bpeApplyMerges(df: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val syms = merges.foldLeft(bpeVocabSymbols(df, idCol, textCol)) {
      case (s, (a, b)) => bpeMergeStep(s, a, b).transform(graft.plans.Pin.pin)
    }
    bpeFertility(df, idCol, textCol, syms)
  }

  /** Per-document fertility under a trained BPE segmentation: join the
    * corpus word stream against the vocab-sized tokens-per-word table
    * (broadcast — it is the vocabulary, not the corpus) and aggregate
    * (n_words, n_bpe_tokens, fertility_bp = tokens·10⁴ div words —
    * integer basis points, exact in both engines). */
  def bpeFertility(df: DataFrame, idCol: String, textCol: String,
      finalSyms: DataFrame): DataFrame =
    words(df, idCol, textCol)
      .join(broadcast(bpeTokensPerWord(finalSyms)),
        col("word") === col("w"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_words"), sum(col("wtok")).as("n_bpe_tokens"))
      .select(col(idCol), col("n_words"), col("n_bpe_tokens"),
        expr("n_bpe_tokens * 10000 div n_words").as("fertility_bp"))

  /** Per-source data card — the release-report row every dataset ship
    * publishes next to its artifact: volume (docs, tokens, chars),
    * redundancy (exact-dup count), lexical richness (type-token
    * ratio), and language spread, one row per source.
    *
    * Plan discipline: NO multi-distinct aggregate anywhere (two
    * COUNT(DISTINCT)s in one Aggregate plan an Expand that triplicates
    * the corpus rows pre-shuffle — the repetitionSignals caveat).
    * Instead four independent map-side-combinable aggregates — plain
    * per-source stats, a (source, hash) sub-aggregate for dup
    * accounting, a (source, lang) distinct, and the word explode for
    * vocabulary — joined on the source key, which is
    * sources-cardinality-sized (tiny) after each aggregate. Every
    * output is an integer except the type-token ratio, which is ONE
    * int/int division (IEEE-exact, bit-identical in both engines) —
    * never a float sum. */
  def datacard(df: DataFrame, idCol: String, textCol: String,
      srcCol: String, langCol: String, charsCol: String): DataFrame = {
    val base = df.groupBy(col(srcCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(graft.functions.Text.tokenCount(textCol)).as("n_tokens"),
        min(col(charsCol)).as("min_chars"),
        max(col(charsCol)).as("max_chars"),
        sum(col(charsCol)).as("total_chars"))
    val dups = df.select(col(srcCol), expr(s"poly_hash($textCol)").as("h"))
      .groupBy(col(srcCol), col("h")).agg(count(lit(1)).as("c"))
      .groupBy(col(srcCol))
      .agg(sum(col("c") - 1).as("n_exact_dups"))
    val langs = df.select(col(srcCol), col(langCol)).distinct()
      .groupBy(col(srcCol)).agg(count(lit(1)).as("n_langs"))
    val vocab = df
      .select(col(srcCol), explode(split(col(textCol), " ")).as("word"))
      .groupBy(col(srcCol), col("word")).agg(count(lit(1)).as("wc"))
      .groupBy(col(srcCol)).agg(count(lit(1)).as("vocab_size"))
    base.join(dups, srcCol).join(langs, srcCol).join(vocab, srcCol)
      .select(col(srcCol), col("n_docs"), col("n_tokens"),
        col("vocab_size"),
        (col("vocab_size").cast("double") / col("n_tokens"))
          .as("type_token_ratio"),
        col("n_exact_dups"), col("n_langs"),
        col("min_chars"), col("max_chars"), col("total_chars"))
  }

  /** Content-defined chunks (Rabin-style CDC over words): a boundary
    * lands after word m wherever the rolling hash of the last `k` word
    * hashes — the [[graft.functions.PolyHash]] fold `(acc·31 + wh)
    * mod 1e9+7` seeded 7 over the window — is ≡ 0 mod `divisor`
    * (expected chunk ≈ `divisor` words). Boundaries depend only on the
    * window's own words, so an edit shifts the chunk grid only within
    * ~k words of the edit — the insertion-robustness fixed-grid
    * chunking lacks (CdcSpec pins it). Cuts are suppressed at the last
    * word (no empty tail chunk — the engines disagree on `split('')`).
    * One row per chunk: (idCol, `chunk_idx`, `chunk`). All per-doc work
    * is array HOFs in the scan projection; the explode emits
    * chunk-count rows, never word-count rows. Extra columns in `keep`
    * ride through. */
  def cdcChunks(df: DataFrame, idCol: String, textCol: String,
      k: Int = 4, divisor: Int = 16, keep: Seq[String] = Nil): DataFrame = {
    df
      .select((Seq(col(idCol)) ++ keep.map(col) :+
        split(col(textCol), " ").as("words")): _*)
      .withColumn("n", size(col("words")).cast("long"))
      // one native pass (word hashes + window folds + cut filter);
      // the law is the oracle's list_filter/list_reduce form verbatim —
      // see graft.functions.CdcCuts
      .withColumn("cuts", expr(s"cdc_cuts(words, $k, $divisor)"))
      // explode the (start, end) BOUNDS (the zip_with lambda touches
      // only ints — cheap even interpreted) and build each chunk string
      // in the fused Generate+Project, where slice/array_join run
      // codegen'd against a per-input-row word-array reference. The
      // first form built the chunk STRINGS inside the zip_with lambda —
      // interpreted per element, measured 21× slower at 781 chunks/doc
      // (SCALE.md "x205 splitter shape").
      .select((Seq(col(idCol)) ++ keep.map(col) :+ col("words") :+
        posexplode(expr(
          "zip_with(concat(array(0L), transform(cuts, c -> c + 1)), " +
            "concat(cuts, array(n - 1)), (s, e) -> struct(s, e))"))
          .as(Seq("chunk_idx", "b"))): _*)
      .select((Seq(col(idCol)) ++ keep.map(col) :+ col("chunk_idx") :+
        array_join(
          slice(col("words"), expr("cast(b.s as int) + 1"),
            expr("cast(b.e - b.s as int) + 1")), " ").as("chunk")): _*)
  }

  /** Overflow splitter for context-window packing — the stage the
    * harmonic packer (x193) flags oversize docs FOR: any doc longer
    * than `window` whitespace tokens splits into ⌈n/window⌉
    * consecutive chunks of exactly `window` tokens (the tail carries
    * the remainder), so every emitted chunk fits the window by
    * construction and a downstream packer (x205) can guarantee zero
    * overflow bins. Docs at or under the window pass through UNTOUCHED
    * as their own single chunk (chunk_idx 0) — the split-path array
    * HOFs (word split, slice, re-join) run only on the oversize
    * subset, which at real corpus shapes is a thin tail. Disjoint
    * grid, not x82's sliding windows: packing wants partition, not
    * overlap (overlap would double-count training tokens).
    *
    * Output: (keep…, idCol, chunk_idx, chunk) — chunk is real TEXT
    * (the exact word slice re-joined), so the stage composes with any
    * downstream text operator, not just token accounting. Pure
    * per-row generate, zero shuffles; chunk counts and token totals
    * conserve the corpus exactly (PackingSpec pins conservation
    * through split + repack). */
  def splitOversize(df: DataFrame, idCol: String, textCol: String,
      window: Int, keep: Seq[String] = Nil): DataFrame = {
    require(window > 0, s"window must be positive, got $window")
    val keepCols = keep.map(col)
    val base = df.select(
      (keepCols :+ col(idCol) :+ col(textCol).as("__text")): _*)
    val nTok = graft.functions.Text.tokenCount("__text")
    // NULL text counts as 0 tokens, NOT as "neither path": a plain
    // `nTok <= window` filter is three-valued-NULL on null text and the
    // big-path `nTok > window` is too, so a null-text row would silently
    // vanish from BOTH branches — breaking the pass-through contract
    // above and x205/PackingSpec's exact token conservation. Coalescing
    // the count routes such rows through the small path untouched.
    val small = base.filter(coalesce(nTok, lit(0L)) <= window)
      .select((keepCols :+ col(idCol) :+
        lit(0L).as("chunk_idx") :+ col("__text").as("chunk")): _*)
    // SHAPE IS MEASURED, NOT GUESSED (SCALE.md "x205 splitter shape",
    // 512 docs × 50k tokens = 781 chunks/doc): explode the chunk INDICES
    // and slice after the Generate. Whole-stage codegen fuses
    // Generate+Project, so the word array is a per-input-row REFERENCE
    // sliced once per output chunk (never copied per row), and the
    // whole path stays codegen'd — 0.4 s on the stress corpus. The
    // "obvious" alternative (build all chunk strings in one transform()
    // projection, explode only strings — x194's shape for HASHES) runs
    // the slice+join INSIDE a higher-order-function lambda, which
    // Spark evaluates interpreted per element: 56 s on the same corpus,
    // 140× slower. Same law, same output, hash-identical.
    val big = base.filter(nTok > window)
      .withColumn("__words", split(col("__text"), " "))
      .withColumn("__n", size(col("__words")).cast("long"))
      .withColumn("chunk_idx",
        explode(sequence(lit(0L), expr(s"(__n - 1) div $window"))))
      .select((keepCols :+ col(idCol) :+ col("chunk_idx") :+
        array_join(
          slice(col("__words"),
            (col("chunk_idx") * window + 1).cast("int"), lit(window)),
          " ").as("chunk")): _*)
    small.unionByName(big)
  }

  /** Per-source CDC duplication report over [[cdcChunks]] — the x188
    * redundancy law at chunk grain: per (source, chunk-hash) count c
    * contributes c−1 dups; word totals conserve the corpus exactly.
    * Shuffles only chunk-count-sized rows. */
  def cdcChunkDedup(df: DataFrame, idCol: String, textCol: String,
      srcCol: String): DataFrame =
    cdcChunks(df, idCol, textCol, keep = Seq(srcCol))
      .select(col(srcCol).as("source"), expr("poly_hash(chunk)").as("h"),
        size(split(col("chunk"), " ")).cast("long").as("w"))
      .groupBy(col("source"), col("h"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_chunks"),
        sum(col("c") - 1).as("n_dup_chunks"),
        sum(col("c") * col("w")).as("words_total"),
        sum((col("c") - 1) * col("w")).as("words_dup"))
      .withColumn("dup_word_fraction",
        col("words_dup").cast("double") / col("words_total"))

  /** Water-filling token allocation across sources under a global
    * budget — the data-constrained mixing allocator (Muennighoff et
    * al. 2023's regime): small sources keep EVERYTHING they have,
    * large sources are capped at a common water level λ chosen so the
    * total hits the budget exactly. Contrast with x79's fixed per-cap
    * (λ given, budget emergent) and x60's temperature mix
    * (proportional, never exact-budget): here the budget is the
    * primary and the level is solved.
    *
    * Exact integer law, no search loop: rank sources by (tokens,
    * source) ascending with running prefix sums; the saturated-set
    * size is k* = max{k : c₍ₖ₎·(S−k) ≤ B − prefix(k)} (the textbook
    * feasibility test as a pure int64 inequality — no division, no
    * floats); then λ = (B − prefix(k*)) div (S − k*) and the remainder
    * r spreads one extra token to the first r uncapped sources in the
    * same rank order, so Σ allocated = B EXACTLY. The budget is
    * `B = total div budgetDiv` (derived from the exact corpus total so
    * both engines agree bit-for-bit); contract: budgetDiv ≥ 2.
    *
    * Scale shape: corpus touched once (the per-source token
    * aggregate); everything after runs on the DOMAIN-sized per-source
    * frame — its global window is source-count-bounded (PlanSweepSpec
    * whitelist, x72's justification), and k* and λ ride one broadcast
    * 1-row frame. Output: (source, c_tokens, allocated, capped). */
  def waterfillAllocation(
      df: DataFrame, srcCol: String, tokensCol: org.apache.spark.sql.Column,
      budgetDiv: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val per = df.select(col(srcCol).as("source"), tokensCol.as("t"))
      .groupBy(col("source")).agg(sum(col("t")).as("c"))
    val tot = per.agg(count(lit(1)).as("nsrc"), sum(col("c")).as("total"))
    val ranked = per.crossJoin(broadcast(tot))
      .withColumn("k", row_number().over(
        Window.orderBy(col("c"), col("source"))))
      .withColumn("prefix", sum(col("c")).over(
        Window.orderBy(col("c"), col("source"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val withB = ranked.withColumn("budget",
      expr(s"total div ${budgetDiv}L"))
    val kstar = withB
      .filter(col("c") * (col("nsrc") - col("k")) <=
        col("budget") - col("prefix"))
      .agg(coalesce(max(col("k")), lit(0L)).cast("long").as("kstar"),
        coalesce(max(when(col("c") * (col("nsrc") - col("k")) <=
          col("budget") - col("prefix"), col("prefix"))), lit(0L))
          .as("prefix_k"))
    withB.crossJoin(broadcast(kstar))
      .withColumn("lam",
        expr("(budget - prefix_k) div (nsrc - kstar)"))
      .withColumn("r", expr("(budget - prefix_k) % (nsrc - kstar)"))
      .select(col("source"), col("c").as("c_tokens"),
        when(col("k") <= col("kstar"), col("c"))
          .otherwise(col("lam") +
            when(col("k") - col("kstar") <= col("r"), 1L).otherwise(0L))
          .as("allocated"),
        (col("k") <= col("kstar")).as("capped"))
  }
}
