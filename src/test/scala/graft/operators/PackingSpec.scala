package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Structural laws of the x193 harmonic packing (the DuckDB oracle pins
  * cross-engine exactness; these pin the guarantees the law is FOR):
  * every doc lands in exactly one bin, every non-overflow bin fits the
  * 2048-token window BY CONSTRUCTION (class k packs k docs of size
  * ≤ 2048/k), every bin holds at most its class's k docs, and the
  * assignment is invariant under repartitioning (the window is
  * (source, class)-partitioned and fully ordered — no tie depends on
  * physical layout). */
class PackingSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("harmonic packing: bin bound, class capacity, doc conservation, layout invariance") {
    val fn = graft.SparkEntry.queries("x193_harmonic_packing")
    val bins = fn(spark, sf).cache()

    // every non-overflow bin fits the window
    assert(bins.filter(!col("overflow") && col("tokens") > 2048).count() === 0L)
    // class capacity: a class-k bin holds at most k docs
    assert(bins.filter(col("n_docs") > col("k")).count() === 0L)
    // doc conservation: bins partition the corpus
    val docTotal = graft.sources.Tables(spark, sf).documents.count()
    assert(bins.agg(sum("n_docs")).head().getLong(0) === docTotal)
    // oversize docs (if any) are one-per-bin and flagged
    assert(bins.filter(col("overflow") && col("n_docs") > 1).count() === 0L)
    assert(bins.count() > 0)

    // layout invariance: same bins from a hostile repartitioning
    val t = graft.sources.Tables(spark, sf)
    val key = (df: org.apache.spark.sql.DataFrame) => df
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    val a = key(bins)
    val shuffled = t.documents.repartition(13, col("n_chars"))
    shuffled.createOrReplaceTempView("__x193_shuffled")
    val b = key {
      val W = 2048L
      val classed = shuffled
        .select(col("source"), col("doc_id"),
          graft.functions.Text.tokenCount("text").as("n_tokens"))
        .withColumn("k", greatest(expr(s"$W div n_tokens"), lit(1L)))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source"), col("k"))
        .orderBy(col("n_tokens").desc, col("doc_id"))
      classed
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("bin_id", expr("(rn - 1) div k"))
        .groupBy(col("source"), col("k"), col("bin_id"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"),
          (sum(col("n_tokens")).cast("double") / lit(2048.0)).as("fill"),
          (max(col("n_tokens")) > lit(W)).as("overflow"))
    }
    assert(a === b)
    bins.unpersist()
  }

  test("x205 split+repack: zero overflow, exact token conservation, chunk bounds") {
    val W = 64L
    val t = graft.sources.Tables(spark, sf)
    val fn = graft.SparkEntry.queries("x205_overflow_split_packing")
    val bins = fn(spark, sf).cache()

    // the guarantee the splitter buys: NO bin overflows, ever
    assert(bins.filter(col("overflow")).count() === 0L)
    assert(bins.filter(col("tokens") > W).count() === 0L)
    // conservation THROUGH the split: packed token total == corpus total
    val corpusTokens = t.documents
      .agg(sum(graft.functions.Text.tokenCount("text"))).head().getLong(0)
    assert(bins.agg(sum("tokens")).head().getLong(0) === corpusTokens)
    // chunk conservation: n_chunks total == Σ ⌈n/W⌉ over docs
    val expectedChunks = t.documents
      .select(graft.functions.Text.tokenCount("text").as("n"))
      .agg(sum(expr(s"(n - 1) div $W + 1"))).head().getLong(0)
    assert(bins.agg(sum("n_chunks")).head().getLong(0) === expectedChunks)
    assert(bins.count() > 0)
    bins.unpersist()

    // the splitter itself: every chunk ≤ W REAL tokens, words conserve
    // exactly, and re-joining a doc's chunks reproduces the doc
    val chunks = Corpus
      .splitOversize(t.documents, "doc_id", "text", W.toInt).cache()
    val tooBig = chunks
      .filter(graft.functions.Text.tokenCount("chunk") > W).count()
    assert(tooBig === 0L)
    val rejoined = chunks
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ",
        sort_array(collect_list(struct(col("chunk_idx"), col("chunk"))))
          .getField("chunk")).as("text2"))
    val mismatches = t.documents.join(rejoined, "doc_id")
      .filter(col("text") =!= col("text2")).count()
    assert(mismatches === 0L, "chunks must re-join to the original text")
    chunks.unpersist()
  }

  test("splitOversize routes null-text rows through the small path untouched") {
    // a null text must NOT vanish into the three-valued-NULL gap between
    // the <=window and >window branches — it passes through as its own
    // chunk_idx-0 row with chunk NULL
    val df = spark.sql(
      "SELECT * FROM VALUES " +
        "(1L, 'a b c'), " +
        "(2L, CAST(NULL AS STRING)), " +
        "(3L, 'one two three four five six seven eight') " +
        "AS t(doc_id, text)")
    val out = Corpus.splitOversize(df, "doc_id", "text", window = 4)
    val byDoc = out.collect().groupBy(_.getLong(0))
    assert(byDoc.keySet === Set(1L, 2L, 3L), "all docs must survive the split")
    val nullRow = byDoc(2L)
    assert(nullRow.length === 1)
    assert(nullRow.head.getLong(1) === 0L)   // chunk_idx 0
    assert(nullRow.head.isNullAt(2))          // chunk passes through as NULL
    assert(byDoc(3L).length === 2)            // 8 tokens at window 4 → 2 chunks
  }
}
