package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.Text

/** User-facing deduplication / similarity library — the reusable form of
  * the oracle-checked x01–x04 and x09–x11 queries, which delegate here.
  * Every function is shuffle-scalable (inverted-index / bucket joins,
  * never driver loops; see SCALE.md "Dedup & similarity at scale").
  */
object Dedup {

  private lazy val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Unpersist the executor-local blocks behind an eagerly materialized
    * frame returned by this library ([[minhashCandidatePairs]],
    * [[incrementalDedup]], [[ngramJaccardPairsPrefix]],
    * [[connectedComponents]]): walks the analyzed plan and unpersists
    * every scanned-RDD leaf. Safe to call on any frame — non-block-backed
    * plans are a no-op. Call this once the result has been consumed in a
    * long-lived session; otherwise the blocks stay pinned until the RDD
    * object is garbage collected. */
  def release(df: DataFrame): Unit = {
    // localCheckpoint / checkpoint pins surface as LogicalRDD leaves
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
    // `spark.graft.pin=eager` pins via persist(MEMORY_AND_DISK), which
    // leaves NO LogicalRDD in the plan — the frame itself is registered
    // with the cache manager. Without this, every release() under the
    // eager posture was a silent no-op and iterative operators
    // accumulated persisted blocks for the job's lifetime (round-12
    // advice). unpersist on a never-persisted frame is a no-op, and
    // non-cascading, so independently cached downstream frames survive.
    df.unpersist(blocking = false)
  }

  /** Exact dedup: one shuffle on content; canonical row = min id. */
  def exact(df: DataFrame, idCol: String, contentCol: String): DataFrame =
    df.groupBy(col(contentCol))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(contentCol, "keep_id", "n_copies")

  /** Maximal duplicated substring spans at EVERY token offset — the
    * suffix-array dedup family (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better") re-expressed relationally: a
    * span is reported wherever a k-token window's text occurs at ≥ 2
    * distinct (doc, position) sites corpus-wide, and runs of duplicated
    * windows whose union is contiguous (start gap ≤ k) merge into one
    * maximal span per document — so a duplicate straddling any fixed
    * chunk boundary is still caught, which is exactly what
    * [[graft.operators.Corpus.chunkDedupRewrite]]'s fixed-grid chunks
    * (x62) cannot do (DedupLibrarySpec pins the strict superset).
    * Output: (id, span_start, span_end, span_tokens, n_windows), token
    * positions 0-based inclusive.
    *
    * Scale shape: windows are enumerated per document inside one
    * projection (posexplode of a transform — no per-doc Window pass and
    * no shuffle), window identity shuffles as an 8-byte `poly_hash`
    * (the x62 trade: a ~2³⁰-space collision can merge two window texts;
    * the oracle replays the same hash), duplicate detection is one
    * map-side-combined count by hash, and the islands Window runs on
    * the SEED frame only — duplicated positions, partitioned by doc —
    * never on the full corpus. The former 100 TB term — n·k gram bytes
    * materialized before hashing — is closed: `span_hashes` computes
    * every window's identity in one rolling O(chars) pass per document
    * (bit-identical to poly_hash of the joined gram; SpanHashesSpec),
    * so the pre-shuffle pass is O(n) bytes and 8 bytes/window ship. */
  def duplicateSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    require(k >= 2, s"span window must cover at least 2 tokens, got $k")
    import org.apache.spark.sql.expressions.Window
    // one rolling-hash pass per document (SpanHashesUtil) — the scaladoc's
    // named 100 TB term closed: O(chars) pre-shuffle work, 8 bytes per
    // window, bit-identical hashes
    val grams = df.select(col(idCol),
        expr(s"posexplode(span_hashes($textCol, $k))").as(Seq("pos", "h")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("h"))
    val dup = grams.groupBy(col("h")).agg(count(lit(1)).as("occ"))
      .filter(col("occ") >= 2).select("h")
    val seeds = grams.join(dup, Seq("h")).select(col(idCol), col("pos"))
    val wd = Window.partitionBy(col(idCol)).orderBy(col("pos"))
    seeds
      .withColumn("ni",
        when(lag(col("pos"), 1).over(wd).isNull ||
          col("pos") - lag(col("pos"), 1).over(wd) > k, 1L).otherwise(0L))
      .withColumn("island", sum(col("ni")).over(wd))
      .groupBy(col(idCol), col("island"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(k - 1).cast("long")).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col(idCol), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + lit(1L)).as("span_tokens"),
        col("n_windows"))
  }

  /** The APPLY step over [[duplicateSpans]]' detections — Lee et al.
    * 2022's actual dedup: REWRITE the corpus with duplicated spans
    * removed, keeping one canonical occurrence of every duplicated
    * window. Canonical = the occurrence with the smallest
    * k = id·2²⁰ + pos (the first-writer convention x62/x139 use); every
    * token covered by a NON-canonical duplicated window (positions
    * [pos, pos+k-1]) is dropped, and each document is rebuilt from its
    * surviving tokens in order. Output: (id, n_tokens, n_removed,
    * text_kept).
    *
    * Scale shape: windows enumerate in one projection (no per-doc
    * Window pass), identity shuffles as the 8-byte poly_hash, the
    * canonical pick is one keyed min, and coverage marks explode to at
    * most k rows per non-canonical window before a distinct + keyed
    * anti-join against the token stream — every step linear in corpus
    * tokens, shuffles keyed by hash or (id, pos), no skew beyond the
    * duplicated mass itself. Document positions must fit the 2²⁰
    * packing (the stated x139 convention). */
  def duplicateSpanRewrite(df: DataFrame, idCol: String, textCol: String,
      k: Int = 8): DataFrame = {
    val wins = spanGrams(df, idCol, textCol, k)
      .groupBy(col("h"))
      .agg(count(lit(1)).as("occ"), min(col("kk")).as("kmin"))
      .filter(col("occ") >= 2)
      .select(col("h"), col("kmin"))
    duplicateSpanRewriteAgainst(df, idCol, textCol, wins, k)
  }

  /** Every k-token window occurrence of the corpus with its 8-byte
    * identity and first-writer key: (id, pos, h, kk = id·2²⁰ + pos).
    * The shared enumeration under [[duplicateSpans]],
    * [[duplicateSpanRewrite]] and the streaming twin
    * ([[graft.streaming.SpanDedupStream]]). */
  private[graft] def spanGrams(df: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    require(k >= 2, s"span window must cover at least 2 tokens, got $k")
    // one rolling-hash pass per document: 8 bytes per window pre-shuffle
    // instead of k joined tokens of text — bit-identical h values
    // (SpanHashesUtil's scaladoc carries the identity proof; the old
    // array_join(slice(...)) form survives in SpanHashesSpec as the
    // equivalence oracle)
    df.select(col(idCol),
        expr(s"posexplode(span_hashes($textCol, $k))").as(Seq("pos", "h")))
      .select(col(idCol), col("pos").cast("long").as("pos"), col("h"))
      .select(col(idCol), col("pos"), col("h"),
        // the 2²⁰ packing is the shared x139 convention (the streaming
        // registry and the DuckDB oracles replay it), so a doc with
        // ≥2²⁰ tokens, a negative id, or an id ≥ 2⁴³ (whose ·2²⁰
        // product wraps Long BEFORE the sum — the wrap itself is the
        // collision) would SILENTLY collide keys across documents —
        // fail loudly instead. The guard is one codegen'd branch per
        // window; raise_error's NullType casts cleanly into the
        // LongType arithmetic and never fires on well-formed input, so
        // the hot path is unchanged.
        (col(idCol) * lit(1048576L) +
          when(col("pos") < lit(1048576L) && col(idCol) >= 0 &&
              col(idCol) <= lit(Long.MaxValue / 1048576L), col("pos"))
            .otherwise(raise_error(concat(
              lit("spanGrams packing overflow: need 0 <= id < 2^43 and pos < 2^20, got id="),
              col(idCol).cast("string"), lit(" pos="),
              col("pos").cast("string"))).cast("long"))).as("kk"))
  }

  /** The rewrite tail against an EXPLICIT winner table (`h`, `kmin`) —
    * how the streaming gate replays batch semantics: a window whose
    * hash is absent from `wins` is its own canonical (kept); one whose
    * `kk` ≠ the table's `kmin` marks its k positions for removal.
    * Passing the corpus' own duplicated-hash minima reproduces
    * [[duplicateSpanRewrite]] exactly; passing a converged streaming
    * registry reproduces it over any arrival order
    * (SpanDedupStreamSpec). */
  def duplicateSpanRewriteAgainst(df: DataFrame, idCol: String,
      textCol: String, wins: DataFrame, k: Int = 8): DataFrame = {
    val grams = spanGrams(df, idCol, textCol, k)
    val removedPos = grams.join(wins, Seq("h"))
      .filter(col("kk") =!= col("kmin"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(k - 1))).as("rpos"))
      .distinct()
    val toks = df.select(col(idCol),
        posexplode(split(col(textCol), " ")).as(Seq("tpos", "w")))
      .select(col(idCol), col("tpos").cast("long").as("tpos"), col("w"))
    val kept = toks
      .join(removedPos,
        toks(idCol) === removedPos(idCol) && col("tpos") === col("rpos"),
        "left_anti")
      .groupBy(toks(idCol))
      .agg(count(lit(1)).as("n_kept"),
        concat_ws(" ", expr(
          "transform(array_sort(collect_list(struct(tpos, w))), x -> x.w)"))
          .as("text_kept"))
    // left join from the corpus side: a document whose every token sat
    // inside non-canonical duplicated windows (an exact later-id copy)
    // still gets its row — fully rewritten away, not silently dropped
    df.select(col(idCol),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(kept, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("text_kept"), lit("")).as("text_kept"))
  }

  /** Word-n-gram shingles per document, not yet deduplicated: (id, sh) —
    * via the measured position-explode shape ([[Text.explodeNgrams]]). */
  private def rawShingles(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    Text.explodeNgrams(
      df.select(col(idCol), split(col(textCol), " ").as("w")),
      keep = Seq(idCol), wordsCol = "w", n = n, as = "sh")

  /** Distinct word-n-gram shingles per document: (id, sh). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    rawShingles(df, idCol, textCol, n).distinct()

  /** N-gram Jaccard near-dup pairs via inverted-index self-join.
    * `maxDocFreq`: optionally drop shingles appearing in more than this
    * many docs — the hot-key cap for degenerate corpora at scale (changes
    * candidate recall, not pair scoring).
    * `hashShingles`: join on the poly_hash of each shingle instead of
    * the string — the shuffled key drops from a multi-word string to one
    * long (≈3× fewer shuffle bytes). Measured trade: on a single node
    * (memcpy shuffle) the per-character hash costs more than it saves
    * (~2.0s vs ~1.6s at sf0.1), so the default is false; on a
    * network-bound cluster the byte reduction wins — turn it on there. A
    * collision in the ~2^30 hash space can merge two shingles of a
    * candidate pair (the standard shingle-join trade). */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      n: Int = 3,
      maxDocFreq: Option[Long] = None,
      hashShingles: Boolean = false
  ): DataFrame = {
    val shBase =
      if (hashShingles) {
        rawShingles(df, idCol, textCol, n)
          .select(col(idCol), expr("poly_hash(sh)").as("sh"))
          .distinct()
      } else shingles(df, idCol, textCol, n)
    val sh = maxDocFreq.fold(shBase) { cap =>
      val hot = shBase.groupBy(col("sh")).agg(count(lit(1)).as("df"))
        .filter(col("df") > cap).select("sh")
      shBase.join(hot, Seq("sh"), "left_anti")
    }
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val a = sh.select(col(idCol).as("doc_a"), col("sh"))
    val b = sh.select(col(idCol).as("doc_b"), col("sh"))
    val pairs = a
      .join(b, a("sh") === b("sh") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    val ca = counts.select(col(idCol).as("ca_id"), col("n").as("na"))
    val cb = counts.select(col(idCol).as("cb_id"), col("n").as("nb"))
    pairs
      .join(ca, col("doc_a") === col("ca_id"))
      .join(cb, col("doc_b") === col("cb_id"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "common", "jaccard")
  }

  /** Cross-set near-dup report — every `train` document whose n-gram
    * Jaccard against SOME `bench` document reaches `threshold`, with
    * its best-matching bench doc (highest Jaccard, lowest id tiebreak):
    * the NEAR-DUP benchmark-decontamination layer that catches
    * paraphrased or lightly-edited eval leakage the exact-gram pass
    * (x40/x80) can't. Plan shape is [[incrementalDedup]]'s: the bench
    * side is eval-sized and BROADCASTS to the shingle join, the train
    * corpus streams through once and never self-joins — O(|corpus| ×
    * |bench-shingle hits|), scale-correct at 100 TB. The per-train
    * argmax is rank-bounded via [[Ranks.topKPerGroup]]. */
  def crossNearDup(
      train: DataFrame, bench: DataFrame, idCol: String, textCol: String,
      threshold: Double, n: Int = 3): DataFrame = {
    val shT = shingles(train, idCol, textCol, n)
    val shB = shingles(bench, idCol, textCol, n)
    val cT = shT.groupBy(col(idCol)).agg(count(lit(1)).as("na"))
    val cB = shB.groupBy(col(idCol)).agg(count(lit(1)).as("nb"))
    val pairs = shT.select(col(idCol).as("train_id"), col("sh"))
      .join(broadcast(shB.select(col(idCol).as("bench_id"), col("sh"))), "sh")
      .groupBy(col("train_id"), col("bench_id")).agg(count(lit(1)).as("common"))
      .join(cT.select(col(idCol).as("train_id"), col("na")), "train_id")
      .join(broadcast(cB.select(col(idCol).as("bench_id"), col("nb"))), "bench_id")
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
    Ranks.topKPerGroup(pairs, Seq("train_id"),
      Seq(("jaccard", false), ("bench_id", true)), 1)
      .select(col("train_id"), col("bench_id"), col("common"), col("jaccard"))
  }

  /** Dedup-threshold sensitivity sweep: for each candidate Jaccard
    * threshold, the surviving near-dup pair count and the number of
    * distinct non-canonical docs a keep-min-id rule would drop — the
    * curve that shows how sharply corpus size reacts to the threshold
    * choice BEFORE a full dedup run commits to one. One inverted-index
    * pair build at `thresholds.min` ([[ngramJaccardPairs]] — never
    * all-pairs) feeds every threshold: the pair frame is tiny relative
    * to the corpus, so the ×`thresholds.size` fan-out and the final
    * ≤ `thresholds.size`-row aggregate are negligible at any scale.
    * Thresholds with no qualifying pair still emit a zero row (that row
    * is the "threshold too strict" signal). */
  def thresholdSensitivity(
      df: DataFrame,
      idCol: String,
      textCol: String,
      thresholds: Seq[Double],
      n: Int = 3): DataFrame =
    thresholdSensitivityFromPairs(
      ngramJaccardPairs(df, idCol, textCol, thresholds.min, n), thresholds)

  /** [[thresholdSensitivity]] over a PRE-BUILT pair frame — the
    * registry-served form (the session builds the loose pair frame once
    * and every threshold consumer sweeps it). `pairs` must carry
    * (doc_b, jaccard) and have been built at a threshold <=
    * `thresholds.min`, otherwise low buckets under-count — the caller
    * owns that contract (the registered x99 passes the 0.05 registry
    * frame with thresholds.min == 0.05). */
  def thresholdSensitivityFromPairs(
      pairs: DataFrame, thresholds: Seq[Double]): DataFrame = {
    val swept = pairs
      .select(col("jaccard"), col("doc_b"),
        explode(array(thresholds.map(lit): _*)).as("threshold"))
      .filter(col("jaccard") >= col("threshold"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).as("n_pairs"),
        countDistinct(col("doc_b")).as("n_dup_docs"))
    val ts = pairs.sparkSession.range(1)
      .select(explode(array(thresholds.map(lit): _*)).as("threshold"))
    ts.join(swept, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
        coalesce(col("n_dup_docs"), lit(0L)).as("n_dup_docs"))
  }

  /** Directional containment pairs: for each ordered pair (inner, outer),
    * containment = |S(inner) ∩ S(outer)| / |S(inner)| over distinct word
    * n-gram shingles. Unlike the symmetric Jaccard of
    * [[ngramJaccardPairs]], containment flags near-SUPERSET relations —
    * a short document quoted or embedded inside a longer aggregate page
    * scores high even when their symmetric Jaccard is low, which is why
    * corpus curation runs both. Same inverted-index self-join shape
    * (never all-pairs); both directions of a pair are emitted because
    * containment is asymmetric. Docs with fewer than `n` words carry no
    * shingles and drop out. */
  def containmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      n: Int = 3
  ): DataFrame = {
    val sh = shingles(df, idCol, textCol, n)
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val a = sh.select(col(idCol).as("doc_a"), col("sh"))
    val b = sh.select(col(idCol).as("doc_b"), col("sh"))
    // |A ∩ B| is symmetric, so the expensive inverted-index self-join and
    // its pair aggregation run ONCE on ordered pairs (a < b, halving the
    // shuffled pair rows); the two containment directions differ only in
    // the denominator and are fanned out from the small aggregated frame
    val pairs = a
      .join(b, a("sh") === b("sh") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    val ca = counts.select(col(idCol).as("ca_id"), col("n").as("na"))
    val cb = counts.select(col(idCol).as("cb_id"), col("n").as("nb"))
    pairs
      .join(ca, col("doc_a") === col("ca_id"))
      .join(cb, col("doc_b") === col("cb_id"))
      .select(col("doc_a"), col("doc_b"), col("common"), col("na"), col("nb"))
      .withColumn("dir", explode(array(
        struct(col("doc_a").as("doc_inner"), col("doc_b").as("doc_outer"),
          (col("common").cast("double") / col("na")).as("containment")),
        struct(col("doc_b").as("doc_inner"), col("doc_a").as("doc_outer"),
          (col("common").cast("double") / col("nb")).as("containment")))))
      .select(col("dir.doc_inner").as("doc_inner"),
        col("dir.doc_outer").as("doc_outer"),
        col("common"), col("dir.containment").as("containment"))
      .filter(col("containment") >= threshold)
  }

  /** Pick one canonical document per cluster by an explicit priority
    * order (e.g. trusted source first), instead of [[connectedComponents]]'
    * arbitrary min-id root: `labels` is the (`idCol`, `cluster_root`)
    * frame a clustering produced, `meta` carries the ordering columns,
    * `orderBy` ranks candidates within a cluster (first = keeper). The
    * window partitions by cluster root — cluster-sized partitions, never
    * an unpartitioned global sort. */
  def canonicalByPriority(
      labels: DataFrame,
      meta: DataFrame,
      idCol: String,
      orderBy: Seq[org.apache.spark.sql.Column]
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val joined = labels.join(meta, Seq(idCol))
    val w = Window.partitionBy(col("cluster_root")).orderBy(orderBy: _*)
    val canon = joined
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("cluster_root"), col(idCol).as("canonical_id"))
    joined
      .join(canon, Seq("cluster_root"))
      .withColumn("is_kept", col(idCol) === col("canonical_id"))
  }

  /** MinHash signatures (constants shared with MinHashAggregator) plus
    * banded LSH keys; candidates at scale = equi-join on a band. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    minhashSignaturesFromShingles(shingles(df, idCol, textCol), idCol)

  /** [[minhashSignatures]] from an existing `(idCol, sh)` shingle frame —
    * lets a caller materialize the shingle set once and feed signatures,
    * verification joins, and per-doc counts from the same blocks. */
  def minhashSignaturesFromShingles(sh: DataFrame, idCol: String): DataFrame = {
    import graft.functions.MinHashAggregator.{A, B, P}
    val hashed = sh.withColumn("sh_h", expr("poly_hash(sh)"))
    val sigs = hashed
      .groupBy(col(idCol))
      .agg(
        A.indices.map { j =>
          min((col("sh_h") * A(j) + B(j)) % P).as(s"mh$j")
        }.head,
        A.indices.map { j =>
          min((col("sh_h") * A(j) + B(j)) % P).as(s"mh$j")
        }.tail: _*
      )
    (0 until 4).foldLeft(sigs) { (d, k) =>
      d.withColumn(s"band$k", (col(s"mh${2 * k}") * 1000003L + col(s"mh${2 * k + 1}")) % P)
    }
  }

  /** 16-bit SimHash per document (bit-majority of word hashes). */
  def simhash16(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .withColumn("wh", expr("poly_hash(word)"))
    val bits = words
      .groupBy(col(idCol))
      .agg(
        (0 until 16).map { b =>
          sum(expr(s"CASE WHEN (shiftright(wh, $b) & 1) = 1 THEN 1 ELSE -1 END")).as(s"s$b")
        }.head,
        (0 until 16).map { b =>
          sum(expr(s"CASE WHEN (shiftright(wh, $b) & 1) = 1 THEN 1 ELSE -1 END")).as(s"s$b")
        }.tail: _*
      )
    bits.select(
      col(idCol),
      (0 until 16).map { b =>
        when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _).cast("long").as("simhash16")
    )
  }

  /** SimHash near-dup pairs within `maxHamming` bits of the 16-bit
    * [[simhash16]], via banded bit-blocking: the signature splits into 4
    * nibbles (4-bit bands), and by pigeonhole any pair differing in at
    * most 3 bits agrees on at least one whole band — so candidate
    * generation is an equi-join on (band, nibble) with recall 1.0 for
    * `maxHamming <= 3`, never an all-pairs comparison. Candidates are
    * verified exactly with `bit_count(xor)`. The blocking degrades
    * gracefully: at `maxHamming = 4` a pair can dodge all 4 bands, so
    * callers needing guaranteed recall above 3 bits should widen the
    * signature (more bands), not the verify threshold. Candidate
    * generation runs on DISTINCT signatures, not documents — docs
    * sharing a signature collapse into one node, so the band join is
    * |signatures|²-bounded and template-heavy corpora compress hard;
    * production widens to 64-bit signatures with 8-bit bands (1024
    * buckets). Band-bucket skew concentrates only when the corpus is
    * simhash-degenerate (near-identical bit-majorities), which is
    * itself a dedup signal. */
  def simhashHammingPairs(
      df: DataFrame, idCol: String, textCol: String, maxHamming: Int = 3): DataFrame = {
    val sigs = simhash16(df, idCol, textCol)
    // pair at the SIGNATURE level, not the document level: docs sharing a
    // signature collapse into one node for candidate generation, so the
    // band join and hamming verify run on |distinct signatures|² terms
    // (heavily compressed on template-ridden corpora) and no doc-level
    // distinct is ever needed — each unordered doc pair emerges exactly
    // once from its (ordered) signature pair
    val distinctSigs = sigs.select(col("simhash16").as("siga")).distinct()
    val keyed = distinctSigs.select(col("siga"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("siga"), 4 * b).bitwiseAND(15)): _*)).as(Seq("band", "nib")))
    val sigPairs = keyed
      .join(keyed.select(col("siga").as("sigb"), col("band"), col("nib")),
        Seq("band", "nib"))
      .filter(col("siga") <= col("sigb")) // = keeps same-signature groups
      .select(col("siga"), col("sigb"),
        expr("CAST(bit_count(siga ^ sigb) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct() // signature-pair-sized, not doc-pair-sized
    val da = sigs.select(col(idCol).as("doc_a"), col("simhash16").as("siga"))
    val db = sigs.select(col(idCol).as("doc_b"), col("simhash16").as("sigb"))
    sigPairs.join(da, "siga").join(db, "sigb")
      // same-signature groups produce both orientations and self-pairs —
      // order-filter them; cross-signature pairs appear once, any order
      .filter(col("siga") =!= col("sigb") || col("doc_a") < col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"), col("hamming"))
  }

  /** Vectors with L2 norm attached; registers `float_vec_dot` in the
    * session so each public entry point works standalone. */
  private[graft] def withNorm(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol).as("embedding"),
      sqrt(expr(s"float_vec_dot($vecCol, $vecCol)")).as("nrm"))

  /** Exact cosine near-dup pairs above `threshold` (all-pairs baseline;
    * at scale pre-block with [[lshBuckets]] and join on bucket). */
  def embeddingNearDups(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double): DataFrame = {
    val norms = withNorm(df, idCol, vecCol)
    val a = norms.select(col(idCol).as("vec_a"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = norms.select(col(idCol).as("vec_b"), col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (expr("float_vec_dot(ea, eb)") / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Brute-force cosine top-k for a query subset (exact ANN baseline).
    * The per-query rank runs through [[Ranks.topKPerGroup]]: the
    * query×corpus similarity frame never reaches the exchange whole —
    * bounded per-partition heaps forward at most k rows per (partition,
    * query), then the exact window ranks survivors. Output is identical
    * to the plain row_number window (total order via the neighbor-id
    * tiebreak). */
  def annTopK(
      df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val norms = withNorm(df, idCol, vecCol)
    val a = norms.select(col(idCol).as("query_id"),
      col("embedding").as("ea"), col("nrm").as("na")).filter(queryPred)
    val b = norms.select(col(idCol).as("neighbor_id"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val sims = a
      .join(b, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        (expr("float_vec_dot(ea, eb)") / (col("na") * col("nb"))).as("cosine"))
    // Explicitly the HEAP form here: the all-pairs candidate frame is
    // the one input where the native WindowGroupLimit prune loses — its
    // pre-exchange step fully SORTS each partition's ~n²/p rows
    // (O(n log n)) where the bounded heap pays O(n log k). Measured at
    // sf0.1: x89 2.5 → 3.7 s and x59 2.7 → 3.7 s under the native form,
    // while every moderate-input site (IVF candidates, PQ shortlists)
    // prefers native (see Ranks scaladoc). Both forms are bit-identical.
    Ranks.topKPerGroupHeap(sims, Seq("query_id"),
      Seq(("cosine", false), ("neighbor_id", true)), k)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** Matryoshka (truncated-prefix) retrieval recall: for each query
    * (per `queryPred`) and each prefix dimensionality `d` in `dims`,
    * the top-`k` neighbors by PREFIX cosine (first `d` elements,
    * renormalized) are compared against the full-dimension top-`k`
    * ground truth — recall@k per (d, query). This is the serving-dim
    * selection curve for matryoshka-style embeddings (Kusupati et al.
    * 2022): at 100 TB a 8× shorter prefix is 8× less scan + shuffle per
    * query, and this audit tells you what recall that buys.
    *
    * Plan shape: the query side is a filtered broadcast; the corpus
    * scans ONCE — all prefix cosines for one pair are computed in a
    * single projection (`float_vec_dot` folds min(len) elements, so
    * slicing only the query side yields the prefix dot with no corpus
    * copy), then `stack` widens to (d, cosine) rows and the per-(d,
    * query) rank is the bounded [[Ranks.topKPerGroupHeap]] prune (the
    * all-pairs input where the heap beats the native window sort — see
    * [[annTopK]]). Output: (d, query_id, n_hit, recall), `fullDim`
    * excluded (its recall is 1 by construction). */
  def matryoshkaRecall(
      df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int,
      dims: Seq[Int], fullDim: Int): DataFrame = {
    val allDims = (dims :+ fullDim).distinct.sorted
    def normCols(prefix: String) = allDims.map(d =>
      sqrt(expr(s"float_vec_dot(slice(embedding, 1, $d), embedding)"))
        .as(s"${prefix}$d"))
    val base = df.select(col(idCol), col(vecCol).as("embedding"))
    // query side: prefixes pre-sliced ONCE (broadcast), so the per-pair
    // projection is pure dot products with no array allocation
    val a = base.select(col(idCol).as("query_id") +:
        (allDims.map(d => expr(s"slice(embedding, 1, $d)").as(s"ea$d")) ++
          normCols("na")): _*)
      .filter(queryPred)
    val b = base.select(col(idCol).as("neighbor_id") +:
        col("embedding").as("eb") +: normCols("nb"): _*)
    val pairs = a.join(b, col("query_id") =!= col("neighbor_id"))
    val stacked = pairs.selectExpr(
      "query_id", "neighbor_id",
      s"stack(${allDims.size}, " + allDims.map(d =>
        s"CAST($d AS BIGINT), " +
          s"float_vec_dot(ea$d, eb) / (na$d * nb$d)")
        .mkString(", ") + ") AS (d, cosine)")
    val topk = Ranks.topKPerGroupHeap(stacked, Seq("d", "query_id"),
      Seq(("cosine", false), ("neighbor_id", true)), k)
      .select("d", "query_id", "neighbor_id")
      .transform(graft.plans.Pin.pin)
    val truth = topk.filter(col("d") === fullDim)
      .select(col("query_id").as("t_query"), col("neighbor_id").as("t_neighbor"))
    topk.filter(col("d") < fullDim)
      .join(truth,
        col("query_id") === col("t_query") &&
          col("neighbor_id") === col("t_neighbor"),
        "left")
      .groupBy(col("d"), col("query_id"))
      .agg(
        sum(when(col("t_neighbor").isNotNull, 1L).otherwise(0L)).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / lit(k.toDouble))
  }

  /** Hard-negative mining for contrastive training: for each anchor
    * vector (per `anchorPred`), the `k` highest-cosine vectors carrying
    * a DIFFERENT label — the semantically-closest wrong answers, which
    * are exactly the negatives a contrastive loss learns most from
    * (random negatives are trivially far at scale). Same plan shape as
    * [[annTopK]]: the anchor side is small and broadcasts, the corpus
    * side scans once, the per-anchor rank is bounded through
    * [[Ranks.topKPerGroup]]; the label inequality rides the join
    * condition so same-label vectors never reach scoring. */
  def hardNegatives(
      df: DataFrame, idCol: String, vecCol: String, labelCol: String,
      anchorPred: org.apache.spark.sql.Column, k: Int): DataFrame = {
    val n = df.select(col(idCol), col(labelCol).as("lbl"),
      col(vecCol).as("embedding"),
      sqrt(expr(s"float_vec_dot($vecCol, $vecCol)")).as("nrm"))
    val a = n.filter(anchorPred).select(col(idCol).as("query_id"),
      col("lbl").as("anchor_label"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = n.select(col(idCol).as("neighbor_id"),
      col("lbl").as("neighbor_label"), col("embedding").as("eb"), col("nrm").as("nb"))
    val sims = a
      .join(b, col("query_id") =!= col("neighbor_id") &&
        col("anchor_label") =!= col("neighbor_label"))
      .select(col("query_id"), col("anchor_label"),
        col("neighbor_id"), col("neighbor_label"),
        (expr("float_vec_dot(ea, eb)") / (col("na") * col("nb"))).as("cosine"))
    Ranks.topKPerGroup(sims, Seq("query_id"),
      Seq(("cosine", false), ("neighbor_id", true)), k)
      .select("query_id", "anchor_label", "neighbor_id", "neighbor_label", "cosine")
  }

  /** Per-label robust centroid + cosine-diversity profile — the "is this
    * semantic cluster coherent" audit a labeled/clustered embedding
    * corpus runs before using labels for mixture decisions. The centroid
    * is the per-dimension LOWER MEDIAN (rank ⌊(n+1)/2⌋ ordered by value,
    * id tiebreak) — a rank statistic, so every component is an actual
    * data value and the result is bit-reproducible on any cluster size
    * (a float mean would be partition-order dependent). Per label the
    * profile reports member count, the minimum cosine-to-centroid (the
    * worst outlier) and the lower-median cosine (typical coherence).
    *
    * Scale shape: one posexplode to n·d rows shuffled by (label, dim) —
    * each rank window sorts only a label's values for one dimension, so
    * parallelism is labels×dims; the centroid frame is labels-sized →
    * broadcast back; the final profile windows are label-partitioned.
    * For a label with billions of members the per-cell sort still fits a
    * partition (one double per member); if not, swap the rank median for
    * a two-pass counting median — same contract. */
  def labelCentroidProfile(
      df: DataFrame, idCol: String, vecCol: String, labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ex = df.select(col(labelCol).as("label"), col(idCol).as("vid"),
      posexplode(col(vecCol)).as(Seq("dim", "v")))
    val byCell = Window.partitionBy(col("label"), col("dim"))
    val med = ex
      .withColumn("rn", row_number().over(byCell.orderBy(col("v").asc, col("vid").asc)))
      .withColumn("n", count(lit(1)).over(byCell))
      .filter(col("rn") === floor((col("n") + lit(1)) / lit(2)))
      .select(col("label"), col("dim"), col("v"))
    val cents = med
      .groupBy(col("label"))
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("v")))),
        x => x.getField("v")).as("centroid"))
      // medians of non-null components — re-tag for branch-free dots
      .withColumn("centroid", expr("known_not_null_elements(centroid)"))
    val scored = df
      .select(col(labelCol).as("label"), col(idCol).as("vid"), col(vecCol).as("e"))
      .join(broadcast(cents), Seq("label"))
      .select(col("label"), col("vid"),
        (expr("float_vec_dot(e, centroid)") /
          (sqrt(expr("float_vec_dot(e, e)")) *
            sqrt(expr("float_vec_dot(centroid, centroid)")))).as("cos_centroid"))
    val byLabel = Window.partitionBy(col("label"))
    scored
      .withColumn("rn",
        row_number().over(byLabel.orderBy(col("cos_centroid").asc, col("vid").asc)))
      .withColumn("n_vecs", count(lit(1)).over(byLabel))
      .withColumn("min_cos", min(col("cos_centroid")).over(byLabel))
      .filter(col("rn") === floor((col("n_vecs") + lit(1)) / lit(2)))
      .select(col("label"), col("n_vecs"), col("min_cos"),
        col("cos_centroid").as("median_cos"))
  }

  /** Mutual-kNN edges: (u, v) with u < v where each vector is in the
    * other's cosine top-`k` — the standard edge set for semantic
    * (embedding-space) clustering, much more precise than one-directional
    * kNN because hub vectors stop absorbing everything. Built here on the
    * exact [[annTopK]] baseline (the oracle contract); at scale generate
    * the top-k lists with [[ivfSearch]] or [[lshBandKeys]] blocking
    * instead — the mutuality self-join is on n·k rows either way. The
    * top-k frame is materialized once (checkpoint-for-the-call) so the
    * mutuality join does not recompute the similarity scan twice. */
  def mutualKnnEdges(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame =
    mutualEdgesFromTopK(annTopK(df, idCol, vecCol, lit(true), k))

  /** The mutuality tail shared by the exact and IVF kNN-cluster paths:
    * given ANY (query_id, neighbor_id) top-k list frame, keep the edges
    * both endpoints agree on. The self-join's two sides are the SAME
    * projection of `lists`, so AQE's runtime stage reuse computes the
    * upstream once (r19: the former checkpoint-for-the-call pins here
    * were the batch-8 loser shape — a pinned copy of a stage Spark
    * already shares, plus a second pin of a result every caller feeds
    * straight into [[connectedComponents]], which pins its own input);
    * the join is on n·k rows regardless of how the lists were
    * generated — which is exactly why swapping exact [[annTopK]] lists
    * for [[ivfSearch]] lists changes only the candidate-generation
    * cost, never the clustering tail. */
  def mutualEdgesFromTopK(lists: DataFrame): DataFrame = {
    val topk = lists.select(col("query_id"), col("neighbor_id"))
    // a rev row (rq, rv) = (q2's neighbor, q2): the edge (q, n) survives
    // iff some topk row has q2 = n, n2 = q — i.e. q matches the REVERSED
    // neighbor (rq) and n the reversed query (rv)
    val rev = topk.select(col("neighbor_id").as("rq"), col("query_id").as("rv"))
    topk
      .join(rev, col("query_id") === col("rq") && col("neighbor_id") === col("rv"))
      .filter(col("query_id") < col("neighbor_id"))
      .select(col("query_id").as("u"), col("neighbor_id").as("v"))
  }

  /** Nearest-centroid assignment of every normed vector: tiny centroid
    * frame broadcast, one corpus scan. The per-vector argmax runs
    * through [[Ranks.topKPerGroup]], whose pre-exchange prune (native
    * WindowGroupLimit since round 11, mapPartitions heap before) caps
    * the shuffle at ONE row per (partition, vector) — n rows total,
    * k-invariant — where a prune-less window would exchange all n·k
    * scored rows, each carrying the embedding array: at the auto-k
    * policy (k = ⌊√n⌋) that n·√n·256 B is exactly the flat-assignment
    * cost the round-10 scaling pass measured as the sparse-query
    * premium. Bit-identical output either way (the exact window runs
    * on survivors). */
  private[graft] def assignToCells(norms: DataFrame, cents: DataFrame, idCol: String): DataFrame =
    Ranks.topKPerGroup(
      norms
        .crossJoin(broadcast(cents))
        .select(col(idCol), col("embedding"), col("nrm"), col("cent_id"),
          (expr("float_vec_dot(embedding, ce)") / (col("nrm") * col("cn"))).as("ccos")),
      Seq(idCol), Seq(("ccos", false), ("cent_id", true)), 1)
      .select(col(idCol), col("embedding"), col("nrm"), col("cent_id").as("cell"))

  /** Shared IVF index build: deterministic seed centroids (first `k`
    * vectors by id), optionally refined by `lloydIters` rounds of
    * assign → per-cell mean. Returns (centroids, assignment) from the
    * SAME final centroid set, so probe routing and cell contents can
    * never disagree. Each Lloyd round costs one corpus scan for the
    * assignment plus one (cell, dim)-grouped aggregate — the mean is
    * computed distributed (explode to n·d rows, two shuffles of k·d
    * rows out), never on the driver.
    *
    * The per-cell mean is computed on 1e-6-FLOOR-QUANTIZED components:
    * each float is mapped to ⌊v·10⁶⌋ (one exact-rounded IEEE multiply +
    * floor — identical on every engine), summed as plain longs (exact,
    * order-independent — safe to ~9e12 rows/cell before overflow), and
    * the mean rebuilt with one fixed-order double divide. Centroids are
    * therefore BIT-reproducible under any partitioning and any engine —
    * which is what lets x53 carry a DuckDB hash oracle; the ≤1e-6
    * perturbation per component is far below the recall noise floor
    * (IvfSpec pins refined-vs-seed recall). */
  private[operators] def ivfIndex(
      df: DataFrame, idCol: String, vecCol: String, k: Int,
      lloydIters: Int): (DataFrame, DataFrame) = {
    val norms = withNorm(df, idCol, vecCol)
    var cents = norms.filter(col(idCol) < k).select(
      col(idCol).as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))
    for (_ <- 0 until lloydIters) {
      cents = assignToCells(norms, cents, idCol)
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(floor(col("v").cast("double") * lit(1000000.0)).cast("long"))
            .cast("double") /
          (count(lit(1)).cast("double") * lit(1000000.0))).as("mv"))
        .groupBy(col("cell"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mv")))),
          x => x.getField("mv").cast("float")).as("ce"))
        // the struct-field lambda re-widens elements to nullable (agg
        // outputs are nullable in the schema even though every group
        // here is non-empty) — re-tag so every centroid dot downstream
        // stays branch-free (PlanSweepSpec pins this)
        .withColumn("ce", expr("known_not_null_elements(ce)"))
        .select(col("cell").as("cent_id"), col("ce"),
          sqrt(expr("float_vec_dot(ce, ce)")).as("cn"))
    }
    (cents, assignToCells(norms, cents, idCol))
  }

  /** IVF-style cell assignment: the first `k` vectors (by id) act as
    * deterministic seed centroids; every vector lands in the cell of its
    * nearest centroid by cosine. The centroid set is tiny → broadcast;
    * assignment is one scan. `lloydIters > 0` refines the seeds by that
    * many rounds of assign → per-cell mean (one k-means / Lloyd step
    * each) before the final assignment — on clustered (non-uniform)
    * embedding distributions the refined cells track the density modes,
    * which is what makes probe recall robust; the default 0 keeps the
    * fully deterministic cross-engine-reproducible seeds (the x39 oracle
    * contract). */
  def ivfAssign(df: DataFrame, idCol: String, vecCol: String, k: Int,
      lloydIters: Int = 0): DataFrame =
    ivfIndex(df, idCol, vecCol, k, lloydIters)._2

  /** The centroid frame alone (`cent_id`, `ce`, `cn`) — for callers
    * that fit the coarse quantizer once (on a seed corpus) and reuse it
    * across later data, e.g. the ingest-time near-dup gate
    * ([[graft.streaming.EmbeddingDedupStream]]): a fixed centroid set
    * is what makes incremental cell assignment consistent with the
    * batch index over the same vectors. */
  def ivfCentroids(df: DataFrame, idCol: String, vecCol: String, k: Int,
      lloydIters: Int = 0): DataFrame =
    ivfIndex(df, idCol, vecCol, k, lloydIters)._1

  /** IVF probe search: route each query to its `nprobe` nearest cells,
    * score exactly only within those cells — the search side of the
    * scale path (work ∝ corpus/k × nprobe instead of the full corpus). */
  def ivfSearch(
      df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column,
      k: Int, nprobe: Int, topK: Int, lloydIters: Int = 0,
      flatIndex: Option[(DataFrame, DataFrame)] = None
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (cents, assigned) =
      flatIndex.getOrElse(ivfIndex(df, idCol, vecCol, k, lloydIters))
    val queries = withNorm(df, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      .filter(queryPred)
    // both selections run through topKPerGroup's bounded prune, not prune-less windows:
    // probe routing scores queries·k rows (all-corpus-queries workloads
    // like x137/x138 make that n·k) and the candidate stream below is
    // queries·(n/k)·nprobe rows — the two largest frames in the IVF
    // family; the heap caps each exchange at nprobe/topK rows per
    // (partition, query) with bit-identical output
    val probed = Ranks.topKPerGroup(
      queries
        .crossJoin(broadcast(cents))
        .select(col("query_id"), col("qe"), col("qn"), col("cent_id"),
          (expr("float_vec_dot(qe, ce)") / (col("qn") * col("cn"))).as("ccos")),
      Seq("query_id"), Seq(("ccos", false), ("cent_id", true)), nprobe)
      .select(col("query_id"), col("qe"), col("qn"), col("cent_id").as("cell"))
    Ranks.topKPerGroup(
      probed
        .join(assigned, "cell")
        .filter(col("query_id") =!= col(idCol))
        .select(col("query_id"), col(idCol).as("neighbor_id"),
          (expr("float_vec_dot(qe, embedding)") / (col("qn") * col("nrm"))).as("cosine")),
      Seq("query_id"), Seq(("cosine", false), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "cosine")
  }

  // ---- product quantization (PQ) --------------------------------------

  /** Product-quantization codes (`idCol`, `sub`, `code`): each vector's
    * m subspaces independently assigned to the nearest of `ks` codebook
    * entries under exact quantized int64 squared L2 (the `pq_subdist`
    * expression — argmin ties break to the smaller `cent_id`, so codes
    * are bit-reproducible cross-engine). Codebooks are deterministic by
    * construction — subvectors of the first `ks` vectors (`idCol < ks`),
    * the same seeding convention as the IVF family (x39/x53) — so the
    * DuckDB oracle can replicate them exactly.
    *
    * This is the 100 TB MEMORY answer for ANN: a 64-dim float vector is
    * 256 B raw; its PQ code is m small ints (m·log₂ks = 32 BITS at the
    * 8×16 default) — a 64× compression, which is what lets a
    * 100 TB embedding corpus's search structure live in cluster RAM.
    * The plan is one broadcast of the ks-row codebook against an
    * exploded (n·m)-row frame — n·m·ks narrow codegen'd rows, linear in
    * the corpus, then a map-side-combining `min(struct(d, cent_id))`
    * hash-agg (no window, no sort). */
  def pqCodes(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, subDim: Int = 8, ks: Int = 16): DataFrame =
    pqEncode(df, idCol, vecCol, pqCodebook(df, idCol, vecCol, ks), m, subDim)

  /** The deterministic seed codebook (`cent_id`, `ce`) [[pqCodes]] trains
    * against — split out so an ingest stream ([[graft.streaming.PqStream]])
    * can fit it ONCE on a seed corpus and encode every later arrival
    * against the frozen frame (a moving codebook would silently re-code
    * history; fixed is what makes incremental ≡ batch). */
  def pqCodebook(df: DataFrame, idCol: String, vecCol: String,
      ks: Int = 16): DataFrame =
    df.filter(col(idCol) < ks)
      .select(col(idCol).cast("long").as("cent_id"), col(vecCol).as("ce"))

  /** TRAINED product-quantization codebook: the seed codebook refined
    * by `iters` rounds of per-subspace Lloyd — encode every vector
    * ([[pqEncode]]), then replace entry c's subspace s by the quantized
    * mean of the subvectors that chose code c in subspace s. This is
    * how production PQ indexes are actually fit (Jégou et al. 2011 §III
    * trains each subquantizer by k-means); the seed book is the
    * deterministic worst case SCALE.md "PQ parameter laws" measures against, and on clustered
    * corpora the trained book moves entries onto the density modes,
    * which is where PQ's recall comes from.
    *
    * Determinism is the x53 contract verbatim: means are computed on
    * ⌊v·10⁶⌋ exact longs (order-independent integer sums, one
    * fixed-order double divide, one float cast), so the trained book —
    * and everything encoded against it — is bit-reproducible
    * cross-engine and carries a full hash oracle (x155). A (code,
    * subspace) cell that attracts no vectors keeps its seed entry
    * (the coalesce), so the book never loses entries; each seed vector
    * encodes to its own code at distance 0, making true emptiness a
    * tie-break corner rather than the common case.
    *
    * Scale shape per round: one [[pqEncode]] pass (n·m·ks codegen'd
    * rows), one posexplode to n·d rows joined to codes on (id, sub) —
    * a co-keyed shuffle — and one (code, dim)-grouped aggregate whose
    * output is ks·d rows: linear in the corpus, tiny out. */
  def pqCodebookLloyd(df: DataFrame, idCol: String, vecCol: String,
      iters: Int = 1, m: Int = 8, subDim: Int = 8, ks: Int = 16): DataFrame = {
    var book = pqCodebook(df, idCol, vecCol, ks)
    for (_ <- 0 until iters) {
      val codes = pqEncode(df, idCol, vecCol, book, m, subDim)
      val dims = df
        .select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
        .withColumn("sub", expr(s"pos div $subDim"))
        .join(codes, Seq(idCol, "sub"))
      val means = dims
        .groupBy(col("code"), col("pos"))
        .agg((sum(floor(col("v").cast("double") * lit(1000000.0)).cast("long"))
            .cast("double") /
          (count(lit(1)).cast("double") * lit(1000000.0))).as("mv"))
      val seedDims = book
        .select(col("cent_id"), posexplode(col("ce")).as(Seq("pos", "sv")))
      book = seedDims
        .join(means,
          seedDims("cent_id") === means("code") && seedDims("pos") === means("pos"),
          "left")
        .select(seedDims("cent_id"), seedDims("pos"),
          coalesce(col("mv").cast("float"), col("sv")).as("cv"))
        .groupBy(col("cent_id"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as("ce"))
    }
    book
  }

  /** OPQ-style dimension permutation (Ge et al. 2013 "Optimized
    * Product Quantization", the eigenvalue-allocation initialization
    * restricted to axis-aligned rotations): dimensions are ranked by
    * exact per-dim variance score n·Σq² − (Σq)² on the ⌊v·10⁶⌋ grid
    * (decimal(38,0) arithmetic — no overflow to 10³⁸, no floats) and
    * dealt snake-wise into the m subspaces — round r hands rank
    * r·m..r·m+m−1 out in alternating direction — so every subspace
    * gets one dimension from each variance band instead of whatever
    * contiguous slice the raw layout happened to put there. A
    * permutation matrix IS an orthogonal rotation, so distances are
    * preserved exactly and the whole rung stays integer-exact and
    * oracle-checkable — full OPQ's SVD iterations would trade that for
    * a few recall points and a libm dependency.
    *
    * Output: (`pos`, `newpos`) — dimension `pos` of the raw vector
    * lands at `newpos` in the rotated vector. Vector-dim-sized frame
    * (64 rows), fit once and broadcast everywhere, the same frozen-
    * artifact economics as [[sqBounds]]/[[bqThresholds]]. The rank is
    * computed by a bounded self-join (64×64, broadcast) — not an
    * unpartitioned window — so the fit stays inside the PlanSweep
    * rules at any corpus size. */
  def opqPermutation(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, subDim: Int = 8): DataFrame = {
    val dec = "decimal(38,0)"
    val stats = df
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("pos").cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("q"))
      .groupBy(col("pos"))
      .agg(count(lit(1)).cast(dec).as("n"),
        sum(col("q").cast(dec) * col("q").cast(dec)).as("s2"),
        sum(col("q")).cast(dec).as("s1"))
      .select(col("pos"),
        (col("n") * col("s2") - col("s1") * col("s1")).as("score"))
    val other = stats.select(col("pos").as("pos2"), col("score").as("score2"))
    stats
      .join(broadcast(other),
        col("score2") > col("score") ||
          (col("score2") === col("score") && col("pos2") < col("pos")),
        "left")
      .groupBy(col("pos"), col("score"))
      .agg(count(col("pos2")).as("r"))
      .select(col("pos"),
        (when(expr(s"(r div $m) % 2") === 0, col("r") % m)
          .otherwise(lit(m - 1) - col("r") % m) * subDim
          + expr(s"r div $m")).as("newpos"))
  }

  /** Apply an [[opqPermutation]]: rebuild each vector with its
    * dimensions at their permuted positions — as ONE codegen'd
    * projection. The permutation frame is vector-dim-sized by contract
    * (the [[opqPermutation]] scaladoc's frozen-artifact economics), so
    * it is collected once and compiled into a fixed `array(
    * element_at(v, p₁), …)` pick list: zero shuffles, zero
    * allocations beyond the output array. The prior shape — posexplode
    * to n·d rows, broadcast-join the map, collect_list re-combine —
    * paid a corpus×dims shuffle to apply 64 constants; measured
    * sf0.1: x174 1.77 → 1.34 s controlled min-of-3 (−24 %,
    * BENCH_NOTES_r18 §6).
    * Output rows/values identical (the pick list replays the old
    * sort-by-newpos order), so the x174 oracle hash is unchanged.
    *
    * CONTRACT (tightened vs the explode form): every vector must carry
    * all permuted dimensions, and the guard is ENFORCED per row — a
    * vector shorter than the permutation (or a NULL vector) hits
    * `raise_error` at first action instead of silently feeding NULL
    * slots to the branch-free kernels (which would read them as 0
    * garbage; the old explode shape's failure mode at least dropped
    * dims visibly). The guard is a value-level CASE, costing one
    * length compare per row in the good path — crucially NOT a
    * per-element branch, so the downstream kernels stay branch-free
    * (the `known_not_null_elements` tag wraps the CASE, and
    * PlanSweepSpec's nullable-element sweep still holds). Distances
    * are exactly preserved (a permutation is orthogonal), so any PQ
    * machinery downstream — seed or Lloyd-trained codebooks, ADC,
    * re-rank — runs unchanged over the rotated frame.
    *
    * EAGER by design: the dims-sized `perm` frame is collected at
    * CONSTRUCTION time (one tiny Spark job before any action on the
    * result — plan-only consumers like PlanSweepSpec pay it too) so
    * the permutation can be compiled into the projection; deferring
    * it would need a lazily-built LogicalPlan for what is a 64-row
    * frozen artifact. */
  def opqRotate(df: DataFrame, idCol: String, vecCol: String,
      perm: DataFrame): DataFrame = {
    val srcByNew = perm
      .select(col("pos").cast("long"), col("newpos").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._2).map(_._1)
    val dims = srcByNew.length
    // backtick-quote the column so non-identifier names survive the
    // generated SQL text (embedded backticks escape by doubling)
    val v = s"`${vecCol.replace("`", "``")}`"
    val picks = srcByNew
      .map(p => s"element_at($v, ${p + 1})").mkString(", ")
    // element_at is nullable in the schema (out-of-bounds ⇒ NULL); the
    // size guard makes that vacuous — re-tag so downstream switched
    // kernels stay branch-free
    df.select(col(idCol),
      expr(s"known_not_null_elements(CASE WHEN size($v) >= $dims " +
        s"THEN array($picks) ELSE raise_error(concat(" +
        s"'opqRotate: vector shorter than the $dims-dim permutation " +
        s"(size=', CAST(size($v) AS STRING), ')')) END)").as(vecCol))
  }

  /** Encode vectors against an EXPLICIT codebook frame (`cent_id`,
    * `ce`) — the shared kernel of [[pqCodes]] and the streaming
    * encoder. Per-vector work is m·|codebook| codegen'd subdistances
    * into a map-side-combining argmin; the codebook is broadcast. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int = 8, subDim: Int = 8): DataFrame = {
    val cents = codebook.select(col("cent_id"), col("ce").as("__pq_ce"))
    df.select(col(idCol), col(vecCol).as("__pq_vec"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .crossJoin(broadcast(cents))
      .select(col(idCol), col("sub"), col("cent_id"),
        expr(s"pq_subdist(__pq_vec, __pq_ce, sub, $subDim)").as("d"))
      .groupBy(col(idCol), col("sub"))
      .agg(min(struct(col("d"), col("cent_id"))).as("mn"))
      .select(col(idCol), col("sub"), col("mn.cent_id").as("code"))
  }

  /** The packed storage form of [[pqCodes]]: all m codes bit-packed
    * into ONE long per vector (`packed_code` = Σ code_s << (4·s) at the
    * 8×16 default) — the literal "32 bits per vector" the PQ memory
    * claim rests on, made a physical column: the code registry is n
    * rows × one BIGINT, shuffles and registries carry 8 bytes/vector,
    * and any code is recovered with one shift+mask. Pure integer
    * arithmetic, so the packing is oracle-exact (x154). Requires
    * ks ≤ 16 and m ≤ 15 so the packed word fits a non-negative long. */
  def pqCodesPacked(df: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, subDim: Int = 8, ks: Int = 16): DataFrame = {
    require(ks <= 16 && m <= 15, "packed form needs ks <= 16 and m <= 15")
    pqCodes(df, idCol, vecCol, m, subDim, ks)
      .groupBy(col(idCol))
      .agg(sum(expr("shiftleft(code, CAST(sub AS INT) * 4)")).as("packed_code"))
  }

  /** PQ asymmetric-distance (ADC) top-k search: queries keep their full
    * vectors, the corpus is represented ONLY by its codes, and each
    * query×vector distance is the sum over subspaces of the
    * precomputed query→codebook-entry distance table — `Σ_s T_q[s,
    * code_s(v)]`, never a touch of the corpus vectors at query time.
    * Distances are exact int64 (quantized), so ranking is
    * deterministic and the oracle hash-matches; the ADC estimate
    * itself is approximate relative to true L2 by PQ's nature
    * (x150 audits the recall).
    *
    * Scale shape: the distance tables are (queries·m·ks) rows —
    * broadcast-sized for any audit-scale query set — joined against
    * the (n·m)-row code frame on (sub, code): a broadcast hash join
    * into a summing hash-agg, all linear in n, followed by a
    * bounded-heap top-k ([[Ranks.topKPerGroup]]). At 1000 executors
    * the corpus codes partition freely; nothing global but the tiny
    * table broadcast. Returns (`query_id`, `neighbor_id`,
    * `adc_dist`). `book` overrides the deterministic seed codebook —
    * pass [[pqCodebookLloyd]]'s output to search against a TRAINED
    * book (corpus encode and query distance tables both derive from
    * the same frame, so they stay consistent by construction). */
  def pqSearch(df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, topK: Int,
      m: Int = 8, subDim: Int = 8, ks: Int = 16,
      book: Option[DataFrame] = None,
      codesIn: Option[DataFrame] = None): DataFrame = {
    val theBook = book.getOrElse(pqCodebook(df, idCol, vecCol, ks))
    val codes = codesIn.getOrElse(pqEncode(df, idCol, vecCol, theBook, m, subDim))
    val cents = theBook
      .select(col("cent_id"), col("ce").as("__pq_ce"))
    val qtab = df.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__pq_qe"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .crossJoin(broadcast(cents))
      .select(col("query_id"), col("sub"), col("cent_id"),
        expr(s"pq_subdist(__pq_qe, __pq_ce, sub, $subDim)").as("d"))
    val adc = codes
      .join(broadcast(qtab),
        codes("sub") === qtab("sub") && codes("code") === qtab("cent_id"))
      .filter(col("query_id") =!= codes(idCol))
      .groupBy(col("query_id"), codes(idCol))
      .agg(sum(col("d")).as("adc_dist"))
      .select(col("query_id"), col(idCol).as("neighbor_id"), col("adc_dist"))
    Ranks.topKPerGroup(adc, Seq("query_id"),
      Seq(("adc_dist", true), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "adc_dist")
  }

  /** PQ search with exact re-ranking — the production ANN pipeline
    * shape (IVFADC + re-rank): ADC over the compressed codes produces a
    * `shortlist`-sized candidate set per query (the cheap, linear,
    * RAM-resident pass), then ONLY those candidates' full vectors are
    * fetched and scored under the exact quantized metric. Final top-k
    * recall therefore equals the shortlist's capture rate — measured
    * 0.72 at shortlist=50 on sf0.01's 500 random vectors vs 0.16 for
    * ADC-only top-5 (random uniform vectors are PQ's worst case; real
    * embedding corpora cluster and fare far better). At 100 TB the
    * full-vector fetch touches `queries × shortlist` rows — a keyed
    * join against the vector store, never a scan — so the expensive
    * storage tier is read O(queries), not O(corpus). */
  def pqSearchRerank(df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, topK: Int, shortlist: Int = 50,
      m: Int = 8, subDim: Int = 8, ks: Int = 16,
      book: Option[DataFrame] = None,
      codesIn: Option[DataFrame] = None): DataFrame = {
    val sl = pqSearch(df, idCol, vecCol, queryPred, shortlist, m, subDim, ks,
      book, codesIn)
      .select(col("query_id"), col("neighbor_id"))
    val qs = df.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__pq_qe"))
    val dist = (0 until m)
      .map(s => expr(s"pq_subdist(__pq_qe, __pq_vec, $s, $subDim)"))
      .reduce(_ + _)
    val reranked = sl
      .join(df.select(col(idCol).as("neighbor_id"), col(vecCol).as("__pq_vec")),
        "neighbor_id")
      .join(broadcast(qs), "query_id")
      .select(col("query_id"), col("neighbor_id"), dist.as("qdist"))
    Ranks.topKPerGroup(reranked, Seq("query_id"),
      Seq(("qdist", true), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "qdist")
  }

  /** Per-dimension corpus bounds for SCALAR quantization (SQ8 — the
    * uniform per-dimension 8-bit quantizer FAISS ships as
    * `ScalarQuantizer/QT_8bit`): one 64-row frame (`pos`, `lo`, `hi`,
    * `span`) of min/max per dimension on the exact ⌊v·10⁶⌋ long grid.
    * One linear pass, map-side-combined min/max hash-agg, broadcast-
    * sized output regardless of corpus size — the train step of SQ8 is
    * a single cheap aggregate (vs PQ's codebook fit), which is why SQ8
    * is the default first rung on the ANN memory ladder. */
  def sqBounds(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("pos").cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("q"))
      .groupBy(col("pos"))
      .agg(min(col("q")).as("lo"), max(col("q")).as("hi"))
      .withColumn("span", col("hi") - col("lo"))

  /** SQ8 encode: each dimension quantized independently onto its own
    * 256-step uniform grid — `code = (q − lo)·255 div span` (0 when the
    * dimension is constant), SATURATED to [0, 255]: a value outside
    * `bounds` clamps to the grid edge (FAISS's ScalarQuantizer
    * behavior — bounds are train-time facts, add-time data clamps),
    * which is a no-op when bounds come from the encoded corpus itself
    * (the x159 batch case, so the oracle needs no clamp) and is what
    * makes encoding SAFE against a frozen seed-bounds frame in the
    * ingest stream ([[graft.streaming.SqStream]]), where an arrival
    * outside the seed range must not wrap into a foreign code.
    * The physical registry row is 1 byte per
    * dimension: 8× under the raw float vector, vs PQ's 64× — but the
    * reconstruction error is bounded per-dimension by span/255 ≈ 0.4%
    * of the value range, so SQ8 distances rank nearly exactly where PQ's
    * subspace codes are coarse (SqSpec pins SQ8 top-5 recall ≥ PQ's on
    * the same corpus). All arithmetic exact int64 on the quantized grid
    * — codes, and everything computed from them, hash-match the DuckDB
    * oracle (x159). No overflow: |q| ≤ ~10⁶·|v|, span ≤ hi−lo, and
    * (q−lo)·255 ≤ 255·span ≪ 2⁶³ for any sane embedding scale.
    *
    * Scale shape: posexplode to n·d narrow rows, one broadcast join
    * against the 64-row bounds frame, pure codegen arithmetic — linear,
    * shuffle-free (the broadcast replaces any co-partitioning). */
  def sqEncode(df: DataFrame, idCol: String, vecCol: String,
      bounds: DataFrame): DataFrame =
    df.select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("q"))
      .join(broadcast(bounds), Seq("pos"))
      .select(col(idCol), col("pos"),
        when(col("span") === 0L, 0L)
          .otherwise(least(lit(255L), greatest(lit(0L),
            expr("(q - lo) * 255 div span")))).as("code"))

  /** SQ8 asymmetric top-k search: queries keep exact quantized values,
    * the corpus is its 1-byte-per-dim codes; each candidate dimension is
    * decoded (`lo + code·span div 255`) and scored against the exact
    * query value — the asymmetric-distance trick (query side never
    * quantized) that halves SQ's error at zero extra memory. Distances
    * are exact int64 over decoded grid points, so ranking — and the
    * oracle (x160) — is bit-deterministic; the approximation lives
    * entirely in the decode rounding.
    *
    * Scale shape: the audit-scale query frame broadcasts as (queries·d)
    * narrow rows against the (n·d)-row decoded code frame — a broadcast
    * hash join into a summing hash-agg, linear in n, then bounded-heap
    * top-k. Where PQ's ADC scans n·m rows (m=8 subspaces), SQ8 scans
    * n·d (d=64): 8× more compute for ~exact recall — the measured
    * compute/recall trade SCALE.md "SQ8 on the quantizer recall/time axes" quantifies. At 100 TB the same
    * composition rules as PQ apply: route through IVF cells first and
    * SQ8-scan only the probed fraction. */
  def sqSearch(df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, topK: Int,
      sqIndex: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val bounds = sqIndex.map(_._2).getOrElse(sqBounds(df, idCol, vecCol))
    val dec = sqIndex.map(_._1).getOrElse(sqEncode(df, idCol, vecCol, bounds))
      .join(broadcast(bounds), Seq("pos"))
      .select(col(idCol).as("neighbor_id"), col("pos"),
        (col("lo") + expr("code * span div 255")).as("dv"))
    val qd = df.filter(queryPred)
      .select(col(idCol).as("query_id"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("query_id"), col("pos").cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("q"))
    val dist = dec
      .join(broadcast(qd), Seq("pos"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum((col("q") - col("dv")) * (col("q") - col("dv"))).as("sq_dist"))
    Ranks.topKPerGroup(dist, Seq("query_id"),
      Seq(("sq_dist", true), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "sq_dist")
  }

  /** Exact quantized-L2 distance over a full `dim`-wide vector pair,
    * summed in ⌈dim/8⌉ `pq_subdist` subspaces of width 8. `pq_subdist`
    * clamps at the array end, so a non-multiple-of-8 `dim` is still
    * covered exactly; the rerank tails below thread their `dim`
    * parameter here so vectors wider than the 64-dim test corpus are
    * scored over ALL their dimensions, not silently truncated. */
  private def exactQuantizedL2(qCol: String, vCol: String,
      dim: Int): org.apache.spark.sql.Column = {
    require(dim > 0, s"vector dim must be positive, got $dim")
    (0 until (dim + 7) / 8)
      .map(s => expr(s"pq_subdist($qCol, $vCol, $s, 8)"))
      .reduce(_ + _)
  }

  /** SQ8 search with exact re-ranking — built because the quantizer lab
    * measured the need (SCALE.md "SQ8 on the quantizer recall/time
    * axes"): on distance-concentrated corpora the rank-5/rank-6 margin
    * falls below SQ8's decode rounding and NO pure-code ranking can
    * recover it (flat SQ8 0.72 vs PQ+rerank 1.00 at sf1), so the fix is
    * the same pipeline shape PQ uses — decode-scan to a
    * `shortlist`-sized candidate set, then exactly score ONLY those
    * candidates' full vectors under the quantized L2 metric
    * ([[pqSearchRerank]]'s tail, verbatim economics: the expensive
    * vector store is read O(queries·shortlist), never scanned). Final
    * recall = the SQ8 shortlist's capture rate, which the lab measured
    * strictly above PQ's at equal shortlist on both corpus regimes. */
  def sqSearchRerank(df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, topK: Int,
      shortlist: Int = 50, dim: Int = 64,
      sqIndex: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val sl = sqSearch(df, idCol, vecCol, queryPred, shortlist, sqIndex)
      .select(col("query_id"), col("neighbor_id"))
    val qs = df.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__sq_qe"))
    val dist = exactQuantizedL2("__sq_qe", "__sq_ve", dim)
    val reranked = sl
      .join(df.select(col(idCol).as("neighbor_id"), col(vecCol).as("__sq_ve")),
        "neighbor_id")
      .join(broadcast(qs), "query_id")
      .select(col("query_id"), col("neighbor_id"), dist.as("qdist"))
    Ranks.topKPerGroup(reranked, Seq("query_id"),
      Seq(("qdist", true), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "qdist")
  }

  /** Per-dimension binarization thresholds for 1-bit quantization —
    * the coarsest rung of the quantizer ladder (BQ 256× under raw
    * float32, vs PQ's 64× and SQ8's 8×): a 64-row frame (`pos`, `s`,
    * `cnt`) carrying each dimension's exact ⌊v·10⁶⌋-grid SUM and count.
    * The threshold itself is the per-dim MEAN, but it is never
    * materialized as a quotient: [[bqEncode]] compares by
    * cross-multiplication (`q·cnt > s`), so no division — and no
    * floor-vs-truncate portability edge on negative sums — exists
    * anywhere in the BQ path. One linear map-side-combined pass,
    * broadcast-sized output regardless of corpus size (the
    * [[sqBounds]] train-step economics, one aggregate cheaper). */
  def bqThresholds(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col("pos").cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("q"))
      .groupBy(col("pos"))
      .agg(sum(col("q")).as("s"), count(lit(1)).as("cnt"))

  /** Binary (1-bit-per-dimension) codes — sign-of-centered hashing
    * (Charikar 2002's hyperplane sketch with axis-aligned planes
    * through the per-dim mean): `bit = 1` iff the dimension sits
    * strictly above its corpus mean, packed 32 dims per int64 word
    * (`word = pos div 32`, `code = Σ bit << (pos mod 32)`). Two words
    * per 64-dim vector = 8 bytes — 32× under the raw vector, 256×
    * counting float32 at 4 bytes/dim against 1 bit/dim.
    *
    * Why 32-bit words and not one 64-bit word: bit 63 of an int64 is
    * the sign bit, and `1 << 63` wraps negative in Spark while DuckDB
    * range-errors — packing 32 bits per word keeps every code value in
    * [0, 2³²) where shift, XOR, and popcount semantics are identical
    * in both engines. Cross-multiplied threshold comparison keeps the
    * whole encode division-free (see [[bqThresholds]]); no overflow:
    * |q·cnt| ≤ 10⁶·10¹² at a 10¹²-row corpus ≪ 2⁶³.
    *
    * Scale shape: posexplode to n·d narrow rows, one broadcast join
    * against the 64-row threshold frame, shift+sum map-side-combined
    * hash-agg back to n·2 code rows — linear, shuffle-free except the
    * final id-keyed combine, all codegen. */
  def bqEncode(df: DataFrame, idCol: String, vecCol: String,
      thr: DataFrame): DataFrame =
    df.select(col(idCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .select(col(idCol), col("pos").cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("q"))
      .join(broadcast(thr), Seq("pos"))
      .select(col(idCol), expr("pos div 32").as("word"),
        when(col("q") * col("cnt") > col("s"), 1L).otherwise(0L).as("bit"),
        col("pos"))
      .select(col(idCol), col("word"),
        expr("shiftleft(bit, cast(pos % 32 as int))").as("term"))
      .groupBy(col(idCol), col("word"))
      .agg(sum(col("term")).as("code"))

  /** Symmetric Hamming top-k over binary codes: both sides binarized
    * (unlike SQ8/PQ's asymmetric forms — 1-bit codes have no useful
    * decode), distance = Σ_word popcount(xor(code, qcode)) ∈ [0, 64].
    * Exact integers end-to-end → full hash oracle (x169). The scan is
    * the cheapest in the quantizer family — n·2 word rows against a
    * broadcast query frame, XOR+POPCNT per row (both single
    * instructions under codegen), summing hash-agg, bounded-heap top-k
    * — which is why binary sketches are the web-scale FIRST-pass
    * filter (Google's SimHash dedup is this same distance over token
    * space; x04/x85 are the document twins). The price is resolution:
    * 65 distinct distance values over the whole corpus, so ties are
    * massive and ranking within a tie band is id-order — [[
    * bqSearchRerank]] is the registered fix, exactly the shortlist
    * economics the lab measured for SQ8/PQ. */
  def bqSearch(df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, topK: Int,
      bqIndex: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val thr = bqIndex.map(_._2).getOrElse(bqThresholds(df, idCol, vecCol))
    val codes = bqIndex.map(_._1).getOrElse(bqEncode(df, idCol, vecCol, thr))
    val qc = bqEncode(df.filter(queryPred), idCol, vecCol, thr)
      .select(col(idCol).as("query_id"), col("word"), col("code").as("qcode"))
    val dist = codes
      .select(col(idCol).as("neighbor_id"), col("word"), col("code"))
      .join(broadcast(qc), Seq("word"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(expr("cast(bit_count(code ^ qcode) as bigint)")).as("hamming"))
    Ranks.topKPerGroup(dist, Seq("query_id"),
      Seq(("hamming", true), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "hamming")
  }

  /** Hamming shortlist → exact re-rank: the [[sqSearchRerank]] /
    * [[pqSearchRerank]] tail verbatim over a [[bqSearch]] shortlist.
    * This is the deployment form of binary quantization (Hamming
    * prefilter + exact distance on survivors): the 8-byte code registry
    * does the O(n) work, the full vector store is read
    * O(queries·shortlist). Recall = the Hamming shortlist's capture
    * rate — bounded below the finer quantizers at equal shortlist by
    * the 65-value resolution, which is the measured, documented trade
    * for 8× less resident memory than SQ8. */
  def bqSearchRerank(df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, topK: Int,
      shortlist: Int = 50, dim: Int = 64,
      bqIndex: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val sl = bqSearch(df, idCol, vecCol, queryPred, shortlist, bqIndex)
      .select(col("query_id"), col("neighbor_id"))
    val qs = df.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__bq_qe"))
    val dist = exactQuantizedL2("__bq_qe", "__bq_ve", dim)
    val reranked = sl
      .join(df.select(col(idCol).as("neighbor_id"), col(vecCol).as("__bq_ve")),
        "neighbor_id")
      .join(broadcast(qs), "query_id")
      .select(col("query_id"), col("neighbor_id"), dist.as("qdist"))
    Ranks.topKPerGroup(reranked, Seq("query_id"),
      Seq(("qdist", true), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "qdist")
  }

  /** IVF+BQ search — the quantizer ladder's coarsest composition,
    * completing the composed-tier family (x153 IVFADC at 64×, x163
    * IVF+SQ8 at 8×, this at 256×): two-level auto-k routing (identical
    * frames and policy), a Hamming scan of ONLY the probed cells' 1-bit
    * codes, then the mandatory exact re-rank — mandatory because flat
    * Hamming's 65-value resolution cannot rank inside its tie bands
    * (the measured x169 finding); for BQ the re-rank is part of the
    * operator's definition, not an optional recall lever. Probe work is
    * (n/k)·nprobe·2 WORD rows per query — the smallest scan of the
    * three tiers — and the vector store is read O(queries·shortlist).
    * All integers exact end-to-end → full hash oracle through routing,
    * scan, and re-rank. */
  def ivfBqSearch(df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int, nprobe: Int,
      topK: Int, kc: Int, shortlist: Int = 50, dim: Int = 64,
      index2: Option[(DataFrame, DataFrame, DataFrame)] = None,
      bqIndex: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val thr = bqIndex.map(_._2).getOrElse(bqThresholds(df, idCol, vecCol))
    val codes = bqIndex.map(_._1).getOrElse(bqEncode(df, idCol, vecCol, thr))
      .select(col(idCol).as("vid"), col("word"), col("code"))
    val (fineParent, activeCoarse, assigned) =
      index2.getOrElse(ivfIndexTwoLevel(df, idCol, vecCol, k, kc))
    val qraw = df.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val probed = routeQueriesTwoLevel(qraw, fineParent, activeCoarse, nprobe)
    val qc = bqEncode(df.filter(queryPred), idCol, vecCol, thr)
      .select(col(idCol).as("query_id"), col("word"), col("code").as("qcode"))
    val ham = codes
      .join(assigned.select(col(idCol).as("vid"), col("cell")), "vid")
      .join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("vid"))
      .join(broadcast(qc), Seq("query_id", "word"))
      .groupBy(col("query_id"), col("vid"))
      .agg(sum(expr("cast(bit_count(code ^ qcode) as bigint)")).as("hamming"))
      .select(col("query_id"), col("vid").as("neighbor_id"), col("hamming"))
    val sl = Ranks.topKPerGroup(ham, Seq("query_id"),
      Seq(("hamming", true), ("neighbor_id", true)), shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val qs = df.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__ivfbq_qe"))
    val dist = exactQuantizedL2("__ivfbq_qe", "__ivfbq_ve", dim)
    val reranked = sl
      .join(df.select(col(idCol).as("neighbor_id"),
        col(vecCol).as("__ivfbq_ve")), "neighbor_id")
      .join(broadcast(qs), "query_id")
      .select(col("query_id"), col("neighbor_id"), dist.as("qdist"))
    Ranks.topKPerGroup(reranked, Seq("query_id"),
      Seq(("qdist", true), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "qdist")
  }

  /** IVF+PQ search (FAISS's IVFADC — Jégou et al. 2011) — the composed
    * billion-scale ANN pipeline, assembled from this library's two
    * verified halves: coarse-route each query to its `nprobe` nearest
    * IVF cells (deterministic cosine seeds, the x39/x53 contract), then
    * ADC-scan ONLY those cells' PQ codes (exact int64 distance tables —
    * corpus vectors untouched), shortlist, and exactly re-rank the
    * shortlist under the quantized L2 metric.
    *
    * Why the composition is the 100 TB answer: PQ alone still scans
    * every vector's code (linear, RAM-resident — x149); IVF alone
    * exactly rescans nprobe/k of the raw corpus (x53). Together the
    * probe work is (n/k)·nprobe CODE rows per query — both the memory
    * term (32-bit codes) and the scan term (cell fraction) cut at once,
    * which is how a 10⁹-vector index serves queries from one machine's
    * RAM. Recall compounds the two approximations (cell routing × code
    * quantization); the re-rank recovers everything the shortlist
    * captured, and near-uniform synthetic vectors remain the documented
    * worst case for both stages. Returns (`query_id`, `neighbor_id`,
    * `qdist`). */
  def ivfPqSearch(df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int, nprobe: Int,
      topK: Int, shortlist: Int = 50,
      m: Int = 8, subDim: Int = 8, ks: Int = 16,
      book: Option[DataFrame] = None,
      kc: Option[Int] = None,
      index2: Option[(DataFrame, DataFrame, DataFrame)] = None,
      codesIn: Option[DataFrame] = None): DataFrame = {
    val theBook = book.getOrElse(pqCodebook(df, idCol, vecCol, ks))
    // queryPred is over idCol (e.g. col("vec_id") < 10): applied BEFORE
    // any rename, uniformly for routing, ADC tables, and re-rank queries
    val qraw = df.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val vectors = df.select(col(idCol).as("vid"), col(vecCol).as("vec"))
    kc match {
      case None =>
        val (cents, assigned) = ivfIndex(df, idCol, vecCol, k, 0)
        val codes = pqEncode(df, idCol, vecCol, theBook, m, subDim)
          .join(assigned.select(col(idCol), col("cell")), idCol)
          .select(col(idCol).as("vid"), col("sub"), col("code"), col("cell"))
        ivfPqAnswer(qraw, cents, theBook, codes, vectors,
          nprobe, topK, shortlist, m, subDim, excludeSelf = true)
      case Some(kcv) =>
        // TWO-LEVEL routing (the 100 TB default — see ivfSearchTwoLevel):
        // corpus and queries route coarse→fine through the same frames
        val (fineParent, activeCoarse, assigned) =
          index2.getOrElse(ivfIndexTwoLevel(df, idCol, vecCol, k, kcv))
        val codes = codesIn
          .getOrElse(pqEncode(df, idCol, vecCol, theBook, m, subDim))
          .join(assigned.select(col(idCol), col("cell")), idCol)
          .select(col(idCol).as("vid"), col("sub"), col("code"), col("cell"))
        val probed =
          routeQueriesTwoLevel(qraw, fineParent, activeCoarse, nprobe)
        ivfPqAdcRerank(qraw, theBook, codes, probed, vectors,
          topK, shortlist, m, subDim, excludeSelf = true)
    }
  }

  /** Coarse→fine query routing against a two-level IVF index
    * ([[ivfIndexTwoLevel]]'s frames): nearest active coarse cell first,
    * then `nprobe` nearest fine cells WITHIN that parent — per query
    * kc + k/kc cosines instead of flat k, the assignment law the k-law
    * measurement pinned. Both selections run through the bounded top-k prune.
    * `qraw` = (query_id, qvec); returns (query_id, cell). Shared by
    * [[ivfPqSearch]] (PQ codes) and [[ivfSqSearch]] (SQ8 codes) — the
    * routing tier is agnostic to which quantizer scans the cells. */
  private def routeQueriesTwoLevel(qraw: DataFrame, fineParent: DataFrame,
      activeCoarse: DataFrame, nprobe: Int): DataFrame = {
    val queries = qraw.select(col("query_id"), col("qvec").as("qe"),
      sqrt(expr("float_vec_dot(qvec, qvec)")).as("qn"))
    val qCoarse = Ranks.topKPerGroup(
      queries.crossJoin(broadcast(activeCoarse))
        .select(col("query_id"), col("qe"), col("qn"), col("co_id"),
          (expr("float_vec_dot(qe, coe)") / (col("qn") * col("con"))).as("ccos")),
      Seq("query_id"), Seq(("ccos", false), ("co_id", true)), 1)
      .select(col("query_id"), col("qe"), col("qn"), col("co_id").as("parent"))
    Ranks.topKPerGroup(
      qCoarse.join(broadcast(fineParent), Seq("parent"))
        .select(col("query_id"), col("cent_id"),
          (expr("float_vec_dot(qe, ce)") / (col("qn") * col("cn"))).as("fcos")),
      Seq("query_id"), Seq(("fcos", false), ("cent_id", true)), nprobe)
      .select(col("query_id"), col("cent_id").as("cell"))
  }

  /** IVF+SQ8 search — the composed scale form of [[sqSearch]], exactly
    * as IVFADC ([[ivfPqSearch]]) is the composed form of PQ's flat ADC
    * scan: two-level coarse→fine routing picks `nprobe` cells per
    * query, and ONLY those cells' SQ8 codes are decoded and scored
    * asymmetrically (exact query values vs decoded grid points, exact
    * int64). Probe work is (n/k)·nprobe·d decoded rows per query.
    *
    * Where IVFADC needs a re-rank stage to recover PQ's coarse-code
    * recall, IVF+SQ8 needs none — the residual error is the per-dim
    * decode rounding (≤ span/255), so the cell routing is the ONLY
    * recall approximation in the plan. The memory trade vs IVFADC:
    * 8× compression instead of 64×, for a shorter pipeline and
    * near-exact in-cell ranking — the configuration FAISS ships as
    * IVF,SQ8 between IVF,Flat and IVF,PQ. Returns (`query_id`,
    * `neighbor_id`, `sq_dist`). */
  def ivfSqSearch(df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, k: Int, nprobe: Int,
      topK: Int, kc: Int,
      index2: Option[(DataFrame, DataFrame, DataFrame)] = None,
      sqIndex: Option[(DataFrame, DataFrame)] = None): DataFrame = {
    val bounds = sqIndex.map(_._2).getOrElse(sqBounds(df, idCol, vecCol))
    val (fineParent, activeCoarse, assigned) =
      index2.getOrElse(ivfIndexTwoLevel(df, idCol, vecCol, k, kc))
    val dec = sqIndex.map(_._1).getOrElse(sqEncode(df, idCol, vecCol, bounds))
      .join(broadcast(bounds), Seq("pos"))
      .select(col(idCol).as("vid"), col("pos"),
        (col("lo") + expr("code * span div 255")).as("dv"))
      .join(assigned.select(col(idCol).as("vid"), col("cell")), "vid")
    val qraw = df.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val probed = routeQueriesTwoLevel(qraw, fineParent, activeCoarse, nprobe)
    val qd = qraw
      .select(col("query_id"), posexplode(col("qvec")).as(Seq("pos", "v")))
      .select(col("query_id"), col("pos").cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("q"))
    val dist = dec
      .join(broadcast(probed), Seq("cell"))
      .filter(col("query_id") =!= col("vid"))
      .join(broadcast(qd), Seq("query_id", "pos"))
      .groupBy(col("query_id"), col("vid"))
      .agg(sum((col("q") - col("dv")) * (col("q") - col("dv"))).as("sq_dist"))
      .select(col("query_id"), col("vid").as("neighbor_id"), col("sq_dist"))
    Ranks.topKPerGroup(dist, Seq("query_id"),
      Seq(("sq_dist", true), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "sq_dist")
  }

  /** Answer-side core of [[ivfPqSearch]], split out so a serving stream
    * ([[graft.streaming.IvfPqServeStream]]) can run arriving query
    * batches against a STANDING index (the same cents/book/codes/
    * vectors frames, persisted once at index-build time). `qraw` =
    * (query_id, qvec); `codes` = (vid, sub, code, cell); `vectors` =
    * (vid, vec). Query-sized frames are broadcast; the only big frame
    * touched is the code registry, through the cell equi-join.
    *
    * `excludeSelf` drops candidates whose `vid` equals the `query_id` —
    * correct ONLY when queries are corpus members sharing the corpus id
    * space (the x153 batch path, where a query must not return itself).
    * Serving streams carry EXTERNAL query ids, where an accidental
    * numeric collision with an unrelated corpus vid must NOT lose that
    * neighbor — [[graft.streaming.IvfPqServeStream]] passes false. */
  private[graft] def ivfPqAnswer(
      qraw: DataFrame, cents: DataFrame, book: DataFrame,
      codes: DataFrame, vectors: DataFrame,
      nprobe: Int, topK: Int, shortlist: Int,
      m: Int, subDim: Int, excludeSelf: Boolean): DataFrame =
    ivfPqAdcRerank(qraw, book, codes,
      routeQueriesFlat(qraw, cents, nprobe), vectors,
      topK, shortlist, m, subDim, excludeSelf)

  /** Flat probe routing against a standing centroid frame — each query
    * scored against all k centroids through the bounded top-k prune (serving
    * batches can be large). `qraw` = (query_id, qvec); returns
    * (query_id, cell). */
  private def routeQueriesFlat(qraw: DataFrame, cents: DataFrame,
      nprobe: Int): DataFrame = {
    val queries = qraw.select(col("query_id"), col("qvec").as("qe"),
      sqrt(expr("float_vec_dot(qvec, qvec)")).as("qn"))
    Ranks.topKPerGroup(
      queries
        .crossJoin(broadcast(cents))
        .select(col("query_id"), col("cent_id"),
          (expr("float_vec_dot(qe, ce)") / (col("qn") * col("cn"))).as("ccos")),
      Seq("query_id"), Seq(("ccos", false), ("cent_id", true)), nprobe)
      .select(col("query_id"), col("cent_id").as("cell"))
  }

  /** Answer-side core of IVF+SQ8 serving
    * ([[graft.streaming.IvfSqServeStream]]), the SQ8 sibling of
    * [[ivfPqAnswer]]: route each query to its `nprobe` cells (flat,
    * bounded prune), decode-scan ONLY those cells' SQ8 codes
    * asymmetrically (exact int64), and either return the scan's top-k
    * directly (`shortlist = 0` — the rerank-free SQ8 point, column
    * `sq_dist`) or shortlist and exactly re-rank against the stored
    * vectors (`shortlist > 0` — the full-recall x164 configuration,
    * column `qdist`; `vectors` is touched for queries·shortlist rows
    * only). `bounds` is the frozen 64-row grid; `codes` = (vid, pos,
    * code, cell). `excludeSelf` as in [[ivfPqAnswer]] — serving streams
    * pass false because their query ids are external. */
  private[graft] def ivfSqAnswer(
      qraw: DataFrame, cents: DataFrame, bounds: DataFrame,
      codes: DataFrame, vectors: DataFrame,
      nprobe: Int, topK: Int, shortlist: Int,
      excludeSelf: Boolean, dim: Int = 64): DataFrame = {
    val probed = routeQueriesFlat(qraw, cents, nprobe)
    val dec = codes
      .join(broadcast(bounds), Seq("pos"))
      .select(col("vid"), col("cell"), col("pos"),
        (col("lo") + expr("code * span div 255")).as("dv"))
    val qd = qraw
      .select(col("query_id"), posexplode(col("qvec")).as(Seq("pos", "v")))
      .select(col("query_id"), col("pos").cast("long").as("pos"),
        floor(col("v").cast("double") * lit(1000000.0)).cast("long").as("q"))
    val scan = dec
      .join(broadcast(probed), Seq("cell"))
      .filter(if (excludeSelf) col("query_id") =!= col("vid") else lit(true))
      .join(broadcast(qd), Seq("query_id", "pos"))
      .groupBy(col("query_id"), col("vid"))
      .agg(sum((col("q") - col("dv")) * (col("q") - col("dv"))).as("sq_dist"))
      .select(col("query_id"), col("vid").as("neighbor_id"), col("sq_dist"))
    if (shortlist <= 0)
      Ranks.topKPerGroup(scan, Seq("query_id"),
        Seq(("sq_dist", true), ("neighbor_id", true)), topK)
        .select("query_id", "neighbor_id", "sq_dist")
    else {
      val sl = Ranks.topKPerGroup(scan, Seq("query_id"),
        Seq(("sq_dist", true), ("neighbor_id", true)), shortlist)
        .select(col("query_id"), col("neighbor_id"))
      val qs = qraw.select(col("query_id"), col("qvec").as("__sq_qe"))
      val dist = exactQuantizedL2("__sq_qe", "__sq_ve", dim)
      val reranked = sl
        .join(vectors.select(col("vid").as("neighbor_id"),
          col("vec").as("__sq_ve")), "neighbor_id")
        .join(broadcast(qs), "query_id")
        .select(col("query_id"), col("neighbor_id"), dist.as("qdist"))
      Ranks.topKPerGroup(reranked, Seq("query_id"),
        Seq(("qdist", true), ("neighbor_id", true)), topK)
        .select("query_id", "neighbor_id", "qdist")
    }
  }

  /** Answer-side core of IVF+BQ serving
    * ([[graft.streaming.IvfBqServeStream]]), the 1-bit sibling of
    * [[ivfPqAnswer]]/[[ivfSqAnswer]]: route each query to its `nprobe`
    * cells (flat, bounded prune), encode the query against the FROZEN
    * `thresholds`, Hamming-scan ONLY those cells' word rows, shortlist,
    * and exactly re-rank against the stored vectors (`vectors` is
    * touched for queries·shortlist rows only). The re-rank stage is
    * mandatory — flat Hamming cannot rank inside its 65-value tie
    * bands — so `shortlist` must be positive. `codes` = (vid, word,
    * code, cell). `excludeSelf` as in [[ivfPqAnswer]] — serving streams
    * pass false because their query ids are external. */
  private[graft] def ivfBqAnswer(
      qraw: DataFrame, cents: DataFrame, thresholds: DataFrame,
      codes: DataFrame, vectors: DataFrame,
      nprobe: Int, topK: Int, shortlist: Int,
      excludeSelf: Boolean, dim: Int = 64): DataFrame = {
    require(shortlist > 0, "BQ answers require the exact re-rank stage")
    val probed = routeQueriesFlat(qraw, cents, nprobe)
    val qc = bqEncode(qraw.select(col("query_id"), col("qvec")),
        "query_id", "qvec", thresholds)
      .select(col("query_id"), col("word"), col("code").as("qcode"))
    val ham = codes
      .join(broadcast(probed), Seq("cell"))
      .filter(if (excludeSelf) col("query_id") =!= col("vid") else lit(true))
      .join(broadcast(qc), Seq("query_id", "word"))
      .groupBy(col("query_id"), col("vid"))
      .agg(sum(expr("cast(bit_count(code ^ qcode) as bigint)")).as("hamming"))
      .select(col("query_id"), col("vid").as("neighbor_id"), col("hamming"))
    val sl = Ranks.topKPerGroup(ham, Seq("query_id"),
      Seq(("hamming", true), ("neighbor_id", true)), shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val qs = qraw.select(col("query_id"), col("qvec").as("__bqs_qe"))
    val dist = exactQuantizedL2("__bqs_qe", "__bqs_ve", dim)
    val reranked = sl
      .join(vectors.select(col("vid").as("neighbor_id"),
        col("vec").as("__bqs_ve")), "neighbor_id")
      .join(broadcast(qs), "query_id")
      .select(col("query_id"), col("neighbor_id"), dist.as("qdist"))
    Ranks.topKPerGroup(reranked, Seq("query_id"),
      Seq(("qdist", true), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "qdist")
  }

  /** ADC + exact-re-rank tail shared by [[ivfPqAnswer]] (flat probe
    * routing) and the two-level routed [[ivfPqSearch]]: `probed` =
    * (query_id, cell), everything downstream is routing-agnostic. */
  private def ivfPqAdcRerank(
      qraw: DataFrame, book: DataFrame, codes: DataFrame,
      probed: DataFrame, vectors: DataFrame,
      topK: Int, shortlist: Int, m: Int, subDim: Int,
      excludeSelf: Boolean): DataFrame = {
    val bookR = book.select(col("cent_id"), col("ce").as("__pq_ce"))
    val qtab = qraw
      .select(col("query_id"), col("qvec").as("__pq_qe"),
        explode(sequence(lit(0), lit(m - 1))).as("sub"))
      .crossJoin(broadcast(bookR))
      .select(col("query_id"), col("sub"), col("cent_id"),
        expr(s"pq_subdist(__pq_qe, __pq_ce, sub, $subDim)").as("d"))
    val routed = codes.join(broadcast(probed), "cell")
    val adc = routed
      .join(broadcast(qtab),
        routed("query_id") === qtab("query_id") &&
          routed("sub") === qtab("sub") && routed("code") === qtab("cent_id"))
      .filter(if (excludeSelf) routed("query_id") =!= routed("vid") else lit(true))
      .groupBy(routed("query_id"), routed("vid"))
      .agg(sum(qtab("d")).as("adc_dist"))
      .select(routed("query_id"), routed("vid").as("neighbor_id"), col("adc_dist"))
    val sl = Ranks.topKPerGroup(adc, Seq("query_id"),
      Seq(("adc_dist", true), ("neighbor_id", true)), shortlist)
      .select(col("query_id"), col("neighbor_id"))
    val qs = qraw.select(col("query_id"), col("qvec").as("__pq_qe"))
    val dist = (0 until m)
      .map(s => expr(s"pq_subdist(__pq_qe, __pq_vec, $s, $subDim)"))
      .reduce(_ + _)
    val reranked = sl
      .join(vectors.select(col("vid").as("neighbor_id"), col("vec").as("__pq_vec")),
        "neighbor_id")
      .join(broadcast(qs), "query_id")
      .select(col("query_id"), col("neighbor_id"), dist.as("qdist"))
    Ranks.topKPerGroup(reranked, Seq("query_id"),
      Seq(("qdist", true), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "qdist")
  }

  /** Exact top-k under the SAME quantized int64 L2 metric PQ
    * approximates — the audit baseline for [[pqSearch]] (x150's recall
    * denominator). Full scan: queries broadcast against the corpus,
    * distance = Σ over all m subspaces of `pq_subdist` — deliberately
    * the identical arithmetic, so the only difference from ADC is the
    * codebook approximation being measured. */
  def pqQuantizedExactTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, topK: Int,
      m: Int = 8, subDim: Int = 8): DataFrame = {
    val qs = df.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("__pq_qe"))
    val dist = (0 until m)
      .map(s => expr(s"pq_subdist(__pq_qe, __pq_vec, $s, $subDim)"))
      .reduce(_ + _)
    val pairs = df.select(col(idCol), col(vecCol).as("__pq_vec"))
      .crossJoin(broadcast(qs))
      .filter(col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"), dist.as("qdist"))
    Ranks.topKPerGroup(pairs, Seq("query_id"),
      Seq(("qdist", true), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "qdist")
  }

  /** Prefix-filtered n-gram Jaccard pairs (PPJoin-style, Xiao et al.):
    * with shingles globally ordered by (document frequency asc, shingle
    * asc), any pair with jaccard ≥ t must share a shingle inside each
    * side's first `|d| - ⌈t·|d|⌉ + 1` shingles — so only those prefix
    * shingles enter the candidate self-join (at t=0.5 roughly half, and
    * the RAREST half, so candidate buckets are far smaller than the full
    * inverted index's). Exact common counts are then rebuilt for the
    * candidates from sorted full-shingle arrays (array_intersect).
    * Results are identical to [[ngramJaccardPairs]] at the same
    * threshold (DedupLibrarySpec pins equality); the win grows with the
    * threshold and with inverted-index bucket size. Measured at sf0.1
    * (small buckets, no skew) the naive join is still faster (~1.7s vs
    * ~4.2s — the gdf/window/array machinery outweighs the pruning), so
    * this is the documented path for web-scale corpora where common
    * shingles make naive buckets quadratic, not the local default. */
  def ngramJaccardPairsPrefix(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      n: Int = 3
  ): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same checkpoint-for-the-call discipline as minhashCandidatePairs:
    // the shared shingle frame lives only until the (small) pair result
    // is materialized, then its blocks are released
    val sh = shingles(df, idCol, textCol, n).transform(graft.plans.Pin.pin)
    val gdf = sh.groupBy(col("sh")).agg(count(lit(1)).as("gdf"))
    val wDoc = Window.partitionBy(col(idCol))
    val wPos = wDoc.orderBy(col("gdf").asc, col("sh").asc)
    val ranked = sh.join(gdf, "sh")
      .withColumn("pos", row_number().over(wPos))
      .withColumn("nsh", count(lit(1)).over(wDoc))
      .filter(col("pos") <= col("nsh") - ceil(lit(threshold) * col("nsh")) + 1)
    val a = ranked.select(col(idCol).as("doc_a"), col("sh"))
    val b = ranked.select(col(idCol).as("doc_b"), col("sh"))
    val candidates = a
      .join(b, a("sh") === b("sh") && col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    val arrs = sh.groupBy(col(idCol))
      .agg(sort_array(collect_list(col("sh"))).as("arr"))
    val aa = arrs.select(col(idCol).as("a_id"), col("arr").as("sa"))
    val bb = arrs.select(col(idCol).as("b_id"), col("arr").as("sb"))
    val result = candidates
      .join(aa, col("doc_a") === col("a_id"))
      .join(bb, col("doc_b") === col("b_id"))
      .select(
        col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).cast("long").as("common"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "common", "jaccard")
      .transform(graft.plans.Pin.pin)
    release(sh)
    result
  }

  /** Connected components over a near-dup pair list: every node's label
    * converges to the smallest doc id reachable from it (= a canonical
    * cluster root).
    *
    * Two execution paths, picked by the materialized pair count — the
    * same adaptive small-vs-big decision AQE makes for joins:
    *
    *  - **pairs ≤ `localSolveMaxEdges`** (default 4M ≈ 64 MB of edge
    *    longs): union-find with path compression on the driver. Dedup
    *    pair lists are candidate-verified near-dup relations — a tiny
    *    fraction of any corpus — so this is the common case even at
    *    100 TB, and it replaces a dozen iterative Spark jobs with one
    *    collect. The threshold bounds driver memory explicitly; results
    *    are identical to the distributed path (pinned in
    *    DedupLibrarySpec).
    *  - **bigger graphs**: distributed min-label propagation with
    *    pointer jumping — each round takes the min label over one edge
    *    hop, then compresses paths by looking up the label OF the label
    *    (labels are node ids, so that lookup is a self-join on the
    *    label frame). The hop alone needs `diameter` rounds; the jump
    *    doubles effective reach per round → O(log diameter) rounds.
    *    Each round is two joins + one aggregate, lineage truncated with
    *    an eager localCheckpoint; the per-round convergence check is a
    *    single driver-side count.
    *
    * Returns (node, cluster_root) for every doc appearing in ≥1 pair;
    * the canonical dedup keep-list is `node == cluster_root`. Ids are
    * returned as LONG in both paths. On the distributed path the result
    * is backed by the final round's checkpointed blocks — call
    * [[release]] on it (or on a frame derived from it) once consumed in
    * a long-lived session; intermediate rounds release their own blocks
    * as the loop advances.
    *
    * If the distributed propagation has NOT converged after `maxIter`
    * rounds (a component with diameter ≥ ~2^maxIter), the labels are
    * WRONG for that component: one chain gets ≥2 roots, which for a
    * consumer like [[leakageSafeSplit]] silently splits a near-dup
    * family across train/test — the exact leakage the operator exists to
    * prevent. So non-convergence throws by default; pass
    * `requireConvergence = false` to instead get the partial labels with
    * a WARN (only correct when the caller tolerates over-segmented
    * clusters, e.g. best-effort reporting). */
  def connectedComponents(
      pairs: DataFrame, aCol: String, bCol: String, maxIter: Int = 20,
      requireConvergence: Boolean = true,
      localSolveMaxEdges: Long = 4000000L): DataFrame = {
    // materialize the (possibly expensive) pair computation ONCE before
    // the union doubles the plan — both directions then read the
    // checkpointed rows instead of recomputing the upstream join twice
    val p = pairs.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .transform(graft.plans.Pin.pin)
    if (p.count() <= localSolveMaxEdges) {
      val spark = pairs.sparkSession
      import spark.implicits._
      val parent = new scala.collection.mutable.LongMap[Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (c != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      p.collect().foreach { row =>
        val a = row.getLong(0); val b = row.getLong(1)
        if (!parent.contains(a)) parent(a) = a
        if (!parent.contains(b)) parent(b) = b
        val ra = find(a); val rb = find(b)
        // unioning under the smaller id keeps every root = min member,
        // the exact fixpoint the distributed propagation converges to
        if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      }
      // materialize the key set before resolving: find() compresses
      // paths (in-place value writes) and must not race the iterator
      val nodes = parent.keys.toArray
      val labels = nodes.map(n => (n, find(n))).toSeq.sorted
      release(p)
      return labels.toDF("node", "cluster_root")
    }
    val edgesWide = p.select(col("a").as("u"), col("b").as("v"))
      .unionAll(p.select(col("b").as("u"), col("a").as("v")))
      .distinct()
      .transform(graft.plans.Pin.pin)
    // near-dup graphs are usually a tiny fraction of the corpus: once the
    // edge count is known, collapse small graphs to few partitions so
    // each propagation round is a handful of tasks instead of full-width
    // shuffles; big graphs keep the parallel layout
    val nEdges = edgesWide.count()
    val parts = math.max(1, math.min(
      edgesWide.rdd.getNumPartitions, (nEdges / 100000L).toInt))
    val edges = edgesWide.coalesce(parts).transform(graft.plans.Pin.pin)
    release(p); release(edgesWide) // edges is materialized — drop inputs
    var labels = edges.select(col("u").as("node")).distinct()
      .withColumn("lbl", col("node"))
      .transform(graft.plans.Pin.pin)
    var prevRound = labels // last round's checkpoint, released once superseded
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbr = edges.join(labels, edges("v") === labels("node"))
        .groupBy(col("u")).agg(min(col("lbl")).as("nbr_lbl"))
      val stepped = labels
        .join(nbr, labels("node") === nbr("u"), "left")
        .select(col("node"), col("lbl"),
          least(col("lbl"), coalesce(col("nbr_lbl"), col("lbl"))).as("hop_lbl"))
        // materialized once: the jump below self-joins this frame, and
        // without the checkpoint both sides would recompute the hop join
        .transform(graft.plans.Pin.pin)
      // pointer jump: a label is itself a node id, so following it one
      // more step through this round's labels doubles every path length
      // covered per round (path compression)
      val jump = stepped.select(col("node").as("jn"), col("hop_lbl").as("jl"))
      val updated = stepped
        .join(jump, stepped("hop_lbl") === jump("jn"), "left")
        .select(col("node"), col("lbl"),
          least(col("hop_lbl"), coalesce(col("jl"), col("hop_lbl"))).as("new_lbl"))
        .transform(graft.plans.Pin.pin)
      release(stepped)
      converged = updated.filter(col("new_lbl") =!= col("lbl")).count() == 0L
      release(prevRound)
      prevRound = updated
      labels = updated.select(col("node"), col("new_lbl").as("lbl"))
      i += 1
    }
    release(edges)
    if (!converged) {
      val msg = s"connectedComponents did not converge within $maxIter rounds: " +
        "some component has diameter >= maxIter and carries SPLIT labels " +
        "(one cluster, multiple roots). Raise maxIter past the largest " +
        "component diameter."
      if (requireConvergence) {
        release(prevRound)
        throw new IllegalStateException(msg)
      } else log.warn(msg + " Returning partial (over-segmented) labels.")
    }
    labels.select(col("node"), col("lbl").as("cluster_root"))
  }

  /** Signed projection of `vecCol` onto arithmetic hyperplane `j` — the
    * shared plane family of [[lshBuckets]] and [[lshBandKeys]] (and of
    * their DuckDB oracle twins, which evaluate the same left-fold). */
  private def planeDot(vecCol: String, j: Int, dims: Int): String =
    s"aggregate(sequence(0, ${dims - 1}), CAST(0 AS DOUBLE), " +
      s"(acc, i) -> acc + CAST(element_at($vecCol, i + 1) AS DOUBLE) * " +
      s"(CAST((($j * $dims + i) * 2654435761) % 2147483647 AS DOUBLE) / 2147483647.0 - 0.5))"

  /** Deterministic 8-plane hyperplane-LSH bucket per vector — the scale
    * path for near-dup candidate generation. One band of 8 planes via the
    * codegen [[graft.functions.HyperplaneBands]] expression (bit-identical
    * to the HOF fold family [[planeDot]] documents, which remains the
    * DuckDB-oracle twin). */
  def lshBuckets(df: DataFrame, idCol: String, vecCol: String, dims: Int = 64): DataFrame = {
    df.select(
      df.columns.map(col) :+
        expr(s"element_at(hyperplane_bands($vecCol, 1, 8, $dims), 1)").as("bucket"): _*
    )
  }

  /** Banded hyperplane LSH: `bands` independent sign-buckets of
    * `planesPerBand` planes each, exploded to one (…, band, band_key) row
    * per band. Two vectors are candidates when ANY band key matches —
    * the OR-of-ANDs construction that trades a little precision work for
    * recall (an 8-plane single bucket keeps only ~(1−θ/π)^8 of true
    * pairs; 4 bands of 4 planes keep 1−(1−(1−θ/π)^4)^4). Plane `p` of
    * band `k` is global plane `k·planesPerBand + p` from the same
    * arithmetic family as [[lshBuckets]]. */
  def lshBandKeys(
      df: DataFrame, vecCol: String,
      bands: Int = 4, planesPerBand: Int = 4, dims: Int = 64): DataFrame = {
    // all band keys in ONE codegen pass over the vector (the per-plane
    // HOF folds are the interpreted documentation/oracle twin), then
    // posexplode to (band, band_key) rows
    df.select(
      df.columns.map(col) :+
        posexplode(expr(s"hyperplane_bands($vecCol, $bands, $planesPerBand, $dims)"))
          .as(Seq("band", "band_key")): _*
    )
  }

  /** Bucketed embedding near-dup — the scale path [[embeddingNearDups]]
    * is the correctness baseline for: banded-LSH candidate generation
    * (equi-join on (band, band_key) — never an all-pairs comparison),
    * then exact cosine scoring of the candidates only. Work scales with
    * Σ bucket² instead of n²; recall is the standard LSH trade
    * (DedupLibrarySpec pins it against the exact baseline on the
    * fixture), and precision is 1.0 because survivors are re-scored
    * exactly. A pair matching several bands is deduplicated BEFORE the
    * dot products, so each candidate is scored once. */
  def embeddingNearDupsBucketed(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bands: Int = 4, planesPerBand: Int = 4): DataFrame =
    embeddingNearDupsBucketedFromCandidates(df, idCol, vecCol, threshold,
      lshBandCandidates(df, idCol, vecCol, bands, planesPerBand))

  /** The candidate half of [[embeddingNearDupsBucketed]] alone: distinct
    * banded-LSH collision pairs (vec_a, vec_b), vec_a < vec_b, unscored.
    * Split out so the pair-sized candidate set can live in a session
    * registry and serve both the scored near-dup query (x34) and the
    * recall audit's hit side (x102) from ONE band join per session. */
  def lshBandCandidates(
      df: DataFrame, idCol: String, vecCol: String,
      bands: Int = 4, planesPerBand: Int = 4): DataFrame = {
    val keys = lshBandKeys(df.select(col(idCol), col(vecCol).as("embedding")),
      "embedding", bands, planesPerBand)
      .select(col(idCol), col("band"), col("band_key"))
    val a = keys.select(col(idCol).as("vec_a"), col("band"), col("band_key"))
    val b = keys.select(col(idCol).as("vec_b"), col("band"), col("band_key"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("vec_a") < col("vec_b"))
      .select("vec_a", "vec_b")
      .distinct()
  }

  /** The scoring half of [[embeddingNearDupsBucketed]] over a pre-built
    * candidate pair frame (vec_a, vec_b; extra columns ignored): exact
    * cosine on candidates only, survivors above `threshold`. */
  def embeddingNearDupsBucketedFromCandidates(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      candidates: DataFrame): DataFrame = {
    val norms = withNorm(df, idCol, vecCol)
    val na = norms.select(col(idCol).as("a_id"), col("embedding").as("ea"), col("nrm").as("na"))
    val nb = norms.select(col(idCol).as("b_id"), col("embedding").as("eb"), col("nrm").as("nb"))
    candidates.select("vec_a", "vec_b")
      .join(na, col("vec_a") === col("a_id"))
      .join(nb, col("vec_b") === col("b_id"))
      .select(col("vec_a"), col("vec_b"),
        (expr("float_vec_dot(ea, eb)") / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** IVF-cell-blocked embedding near-dup — candidate pairs are generated
    * WITHIN coarse-quantizer cells only ([[ivfAssign]]'s deterministic
    * seed centroids), then exactly rescored; near-dup vectors are near in
    * cosine, so they overwhelmingly share a nearest centroid. Unlike a
    * fixed-parameter LSH band join (bucket size ∝ n/2^p — quadratic
    * candidates at any fixed p, see x34's sf1 measurement), the cell
    * count k is an explicit knob: pick k ∝ n/target_cell_size and
    * candidate work stays LINEAR in the corpus at a fixed recall
    * profile. The flat centroid ASSIGNMENT pays n·k cosines, so total
    * cost is a·n·k + b·n²/k, minimized at k ∝ √n — the measured
    * U-shape and the honest Θ(n^1.5) law are in SCALE.md's round-9
    * k-scaling table (the cut past that is a two-level quantizer).
    * Precision is 1.0 (exact rescoring); recall vs the all-pairs
    * baseline is pinned in DedupLibrarySpec, and `nassign = 2` is the
    * measured recall lever (0.20 → 0.53 at sf0.1, k=16). */
  def embeddingNearDupsIvf(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      k: Int = 16, nassign: Int = 1,
      assignedIn: Option[DataFrame] = None): DataFrame = {
    val assigned =
      if (nassign == 1) assignedIn.getOrElse(ivfAssign(df, idCol, vecCol, k))
      else {
        // multi-assignment recall lever: each vector lands in its
        // `nassign` nearest cells, so a near-dup pair is blocked
        // together when ANY of the nassign×nassign cell combinations
        // coincide — candidate work scales ×nassign² in exchange (the
        // trade SCALE.md "IVF k-scaling law" measures; deterministic, so still oracle-able
        // with `rn <= nassign` in the assignment CTE)
        val (cents, _) = ivfIndex(df, idCol, vecCol, k, lloydIters = 0)
        Ranks.topKPerGroup(
          withNorm(df, idCol, vecCol)
            .crossJoin(broadcast(cents))
            .select(col(idCol), col("embedding"), col("nrm"), col("cent_id"),
              (expr("float_vec_dot(embedding, ce)") / (col("nrm") * col("cn"))).as("ccos")),
          Seq(idCol), Seq(("ccos", false), ("cent_id", true)), nassign)
          .select(col(idCol), col("embedding"), col("nrm"), col("cent_id").as("cell"))
      }
    val a = assigned.select(col("cell"), col(idCol).as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col(idCol).as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val scored = a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (expr("float_vec_dot(ea, eb)") / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
    // pairs sharing >1 cell appear once per shared cell with the
    // identical cosine floats — distinct on the small post-filter
    // result, never on the candidate stream
    if (nassign == 1) scored else scored.distinct()
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * deduplication by keep-policy over cosine near-dup clusters.
    * Paraphrases and re-templated copies share embeddings, not
    * n-grams — near-dup CLUSTERS (IVF-cell candidates → exact cosine ≥
    * `threshold` → connected components, the x143/x64 machinery) are
    * semantic duplicate groups, and the paper's policy keeps the
    * member FARTHEST from its cluster's density center (low
    * similarity-to-centroid examples carry the most residual
    * information) and drops the rest. Centroid = the member's IVF
    * cell's dim-wise sum of ⌊x·10⁶⌋-quantized members — the same
    * DIRECTION as the mean (cosine is scale-invariant, and edges only
    * form within a cell, so one shared |centroid| cancels from every
    * within-cluster comparison); member score = exact-integer
    * dot(q, cellsum) / nrm, ordered ascending with id tiebreak. Output:
    * one row per DROPPED member — (vec_id, kept_id, cluster_size).
    *
    * Scale shape: one deterministic assignment scan (reused, via
    * localCheckpoint, by candidate generation AND centroid sums — no
    * second n·k pass), within-cell candidate blocking exactly as x143,
    * the guarded CC solve, then cell-keyed sums and one
    * cluster-partitioned bounded window. Integer envelope: |q| ≤ 10⁶,
    * so dot ≤ dims·10¹²·cellsize — safe below ~10⁵ members/cell at 64
    * dims; the auto-k = ⌊√n⌋ policy keeps cells far under that. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, k: Int = 16,
      assignedIn: Option[DataFrame] = None): DataFrame =
    semDedupFromAssigned(
      assignedIn.getOrElse(ivfAssign(df, idCol, vecCol, k)), idCol, threshold)

  /** [[semDedup]] on the two-level routed assignment
    * ([[ivfAssignTwoLevel]]) — the registered SCALE path: the flat
    * variant's n·k centroid scan is the Θ(n^1.5) term the round-10
    * three-point curve measured super-linear in the 10→30× segment
    * (x178 re-measured it at exp 1.89 on 1→3×), while coarse→fine
    * routing pays n·(kc + k/kc). Same candidate rule, CC, and
    * keep-policy; cells differ only by the routing approximation,
    * which the x148-family recall pins already bound. */
  def semDedupTwoLevel(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, k: Int, kc: Int,
      index2: Option[(DataFrame, DataFrame, DataFrame)] = None): DataFrame =
    semDedupFromAssigned(
      index2.map(_._3).getOrElse(ivfAssignTwoLevel(df, idCol, vecCol, k, kc)),
      idCol, threshold)

  private def semDedupFromAssigned(assignedRaw: DataFrame, idCol: String,
      threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val assigned = assignedRaw
      // double→bigint casts are force-nullable (overflow ⇒ NULL), so
      // the quantized array reports nullable elements; under the
      // ⌊v·10⁶⌋ INPUT-MAGNITUDE CONTRACT (PqSubSqDist scaladoc —
      // unit-ish vectors, |q| ≪ 2⁶³) the cast never nulls — re-tag so
      // the scoring long_vec_dot stays branch-free
      // PINNED on purpose — the r19 batch-8 unpin audit MEASURED this
      // site and the unpin LOST (x178 1.09→1.37, x179 1.44→1.78 s,
      // min-of-3 same-host): unlike the suffix-sum/mutual-edge cases,
      // the consumers' shared prefix ends in NO exchange (registry scan
      // + this transform), so AQE stage reuse cannot dedupe it and all
      // four consumers re-read + re-transform without the pin.
      .withColumn("qv", expr(
        "known_not_null_elements(" +
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))"))
      .transform(graft.plans.Pin.pin)
    val a = assigned.select(col("cell"), col(idCol).as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col(idCol).as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    val pairs = a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (expr("float_vec_dot(ea, eb)") / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
    val comps = connectedComponents(pairs, "vec_a", "vec_b")
    val cellSums = assigned
      .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(sum(col("v")).as("sv"))
      .groupBy(col("cell"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("sv")))),
        x => x.getField("sv")).as("cs"))
      // sums of non-null slots over non-empty groups — re-tag so the
      // long_vec_dot scoring loop stays branch-free
      .withColumn("cs", expr("known_not_null_elements(cs)"))
    val scored = assigned
      .join(comps, assigned(idCol) === comps("node"))
      .join(cellSums, "cell")
      .select(col(idCol), col("cluster_root"),
        (expr("long_vec_dot(qv, cs)")
          .cast("double") / col("nrm")).as("score"))
    val w = Window.partitionBy(col("cluster_root"))
      .orderBy(col("score").asc, col(idCol).asc)
    val ranked = scored
      .withColumn("rn", row_number().over(w))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_root"))))
      .withColumn("kept_id",
        first(col(idCol)).over(w.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
    ranked.filter(col("rn") > 1)
      .select(col(idCol), col("kept_id"), col("cluster_size"))
  }

  /** Residual vector quantization (RVQ — Juang & Gray 1982; the
    * additive-codebook rung of the FAISS quantizer family next to
    * PQ/OPQ/SQ8/BQ): stage 1 assigns each vector to its nearest
    * full-dimension seed centroid (ids < ks, the pqCodebook/x39
    * convention), stage 2 quantizes the RESIDUAL against a second
    * codebook — the residuals of vectors ks ≤ id < 2·ks under their own
    * stage-1 assignment, the same deterministic seeding one rung up.
    * Reconstruction = c1[code1] + c2[code2]; storage is 2·log₂ks bits
    * (8 bits at ks=16 — 256× under raw floats) and the code is ADDITIVE,
    * so unlike PQ the two stages refine the SAME dimensions rather than
    * partitioning them. Everything runs on the ⌊x·10⁶⌋ integer grid:
    * distances ≤ 64·(4·10⁶)² < 2⁶³, so argmins (ties to the smaller
    * centroid id) are bit-reproducible and the oracle replays the full
    * two-stage chain. Output: (id, code1, code2, err2 = exact squared
    * quantization error after both stages).
    *
    * Scale shape: two broadcast joins of ks-row codebooks against the
    * corpus (n·ks codegen'd array rows each), two map-side-combined
    * min_by argmins — linear, no shuffle wider than n rows. Exact
    * per-seed pins: ids < ks carry zero stage-1 residual; codebook-2
    * donors (ks ≤ id < 2·ks) encode their own residual, so err2 = 0
    * and code2 = own id (PqSpec). */
  def rvqEncode(df: DataFrame, idCol: String, vecCol: String,
      ks: Int = 16, lloydIters: Int = 0): DataFrame =
    rvqIndex(df, idCol, vecCol, ks, lloydIters)._1

  /** The shared RVQ build: (codes, recon) where `recon` enumerates all
    * ks² additive reconstructions (code1, code2, rv = c1 + c2) — the
    * whole decode table is ks² rows (256 at the default), the lookup
    * economics that make additive codes servable: a scan of the 8-bit
    * code registry plus one broadcast of the tiny recon table recovers
    * approximate vectors with no float math.
    *
    * `lloydIters > 0` TRAINS both codebooks (residual k-means, the fit
    * production RVQ indexes perform — Chen et al. 2010 optimize each
    * stage's codebook on the residual distribution the previous stage
    * leaves): stage 1 runs `lloydIters` Lloyd rounds on the grid
    * vectors, residuals are recomputed under the TRAINED stage-1 book,
    * and stage 2 runs its own rounds on those residuals. Each round is
    * the x53/x155 determinism contract (exact-long cell means, one
    * double divide, one float cast, seed-coalesced empty cells), so the
    * trained chain is bit-reproducible and the x186 oracle replays it
    * end to end. `lloydIters = 0` is the seed rung x184/x185 pin. */
  def rvqIndex(df: DataFrame, idCol: String, vecCol: String,
      ks: Int = 16, lloydIters: Int = 0): (DataFrame, DataFrame) = {
    val q = df.select(col(idCol),
      // re-tag: the double→bigint cast is force-nullable but never
      // nulls under the ⌊v·10⁶⌋ input-magnitude contract (PqSubSqDist
      // scaladoc) — keeps every codebook sqdist branch-free
      expr(s"known_not_null_elements(" +
          s"transform($vecCol, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))")
        .as("q"))

    /** nearest-codebook assignment under exact integer squared distance,
      * ties to the smaller codebook id: (id, code, cv). Shared by both
      * stages (vectors vs residuals) and by seed and trained books. */
    def assign(vecs: DataFrame, vc: String, book: DataFrame,
        bid: String, bv: String): DataFrame =
      vecs.crossJoin(broadcast(book))
        .select(col(idCol), col(bid), col(bv),
          expr(s"long_vec_sqdist($vc, $bv)").as("d"))
        .groupBy(col(idCol))
        .agg(min_by(struct(col(bid), col(bv)),
          struct(col("d"), col(bid))).as("b"))
        .select(col(idCol), col(s"b.$bid").as("code"), col(s"b.$bv").as("cv"))

    /** One Lloyd round on the ⌊·10⁶⌋ grid — the x53/x155 determinism
      * contract verbatim: entry c's dimension p becomes the exact-long
      * mean of the vectors assigned to c (order-independent integer
      * sum, ONE fixed-order double divide, one float cast, requantize),
      * empty cells keep their seed entry (coalesce) so the book never
      * loses entries. Cost per round: one assignment scan (n·ks codegen
      * rows), one posexplode joined on id (co-keyed), one (code, pos)
      * aggregate whose output is ks·d rows — linear in the corpus. */
    def refine(vecs: DataFrame, vc: String, book: DataFrame,
        bid: String, bv: String): DataFrame = {
      val codes = assign(vecs, vc, book, bid, bv).select(col(idCol), col("code"))
      val means = vecs
        .select(col(idCol), posexplode(col(vc)).as(Seq("pos", "v")))
        .join(codes, Seq(idCol))
        .groupBy(col("code"), col("pos"))
        .agg((sum(col("v")).cast("double") /
          (count(lit(1)).cast("double") * lit(1000000.0))).as("mv"))
      val seedDims = book
        .select(col(bid), posexplode(col(bv)).as(Seq("pos", "sv")))
      seedDims
        .join(means,
          seedDims(bid) === means("code") && seedDims("pos") === means("pos"),
          "left")
        .select(seedDims(bid), seedDims("pos"),
          coalesce(
            floor(col("mv").cast("float").cast("double") * lit(1000000.0))
              .cast("long"),
            col("sv")).as("cv"))
        .groupBy(col(bid))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as(bv))
        // cv is coalesce(mean, seed) — never null; re-tag so the next
        // round's assignment sqdists stay branch-free
        .withColumn(bv, expr(s"known_not_null_elements($bv)"))
    }

    var c1 = q.filter(col(idCol) < ks)
      .select(col(idCol).cast("long").as("c1_id"), col("q").as("c1"))
    for (_ <- 0 until lloydIters) c1 = refine(q, "q", c1, "c1_id", "c1")
    val best1 = assign(q, "q", c1, "c1_id", "c1")
      .select(col(idCol), col("code").as("code1"), col("cv").as("cv1"))
    val resid = q.join(best1, Seq(idCol))
      .select(col(idCol), col("code1"),
        // zip_with always reports nullable elements (it null-pads a
        // shorter side) — q and cv1 are same-dim by construction (one
        // quantization of one corpus), so re-tag to keep the stage-2
        // sqdist loops branch-free
        expr("known_not_null_elements(zip_with(q, cv1, (x, y) -> x - y))").as("res"))
    // stage-2 seeds are the residuals of ids ks..2ks−1 under the FINAL
    // stage-1 book (trained or seed) — residual k-means trains stage 2
    // on the residual distribution the trained stage 1 actually leaves
    var c2 = resid.filter(col(idCol) >= ks && col(idCol) < 2L * ks)
      .select(col(idCol).cast("long").as("c2_id"), col("res").as("c2"))
    for (_ <- 0 until lloydIters) c2 = refine(resid, "res", c2, "c2_id", "c2")
    val codes = resid.crossJoin(broadcast(c2))
      .select(col(idCol), col("code1"), col("c2_id"),
        expr("long_vec_sqdist(res, c2)").as("d"))
      .groupBy(col(idCol), col("code1"))
      .agg(min(struct(col("d"), col("c2_id"))).as("b2"))
      .select(col(idCol), col("code1"), col("b2.c2_id").as("code2"),
        col("b2.d").as("err2"))
    val recon = c1.crossJoin(c2)
      .select(col("c1_id").as("code1"), col("c2_id").as("code2"),
        // same-dim books (one corpus quantization) — see `res` above
        expr("known_not_null_elements(zip_with(c1, c2, (x, y) -> x + y))").as("rv"))
    (codes, recon)
  }

  /** RVQ asymmetric top-k — the serving tier over [[rvqEncode]]'s
    * codes, completing the rung to parity with its siblings (PQ ADC
    * x149, SQ8 x160, BQ x169): each query scans the 8-bit code
    * registry, decodes neighbors through the broadcast ks² recon table
    * (integer adds only), and ranks by exact integer squared distance
    * on the quantized grid, ties to the smaller neighbor id. Per-query
    * work is one registry scan — n·|queries| narrow codegen rows, the
    * broadcast frames are ks² and |queries| rows. */
  def rvqSearch(df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column, topK: Int = 5,
      ks: Int = 16, lloydIters: Int = 0): DataFrame = {
    val (codes, recon) = rvqIndex(df, idCol, vecCol, ks, lloydIters)
    rvqAnswer(
      df.filter(queryPred)
        .select(col(idCol).as("query_id"), col(vecCol).as("qvec")),
      codes.select(col(idCol).as("vid"), col("code1"), col("code2")),
      recon, topK, excludeSelf = true)
  }

  /** The RVQ answer path against EXPLICIT index frames — the serving-
    * family convention ([[ivfPqAnswer]]/[[ivfSqAnswer]]/[[ivfBqAnswer]]):
    * `qraw` carries (query_id, qvec), `codes` the 8-bit registry (vid,
    * code1, code2), `recon` the ks² additive decode table. Batch x185 is
    * this with the corpus' own frames and `excludeSelf = true`;
    * [[graft.streaming.RvqServeStream]] replays it per micro-batch with
    * external ids (`excludeSelf = false`). Per-query work is one
    * registry scan; both index frames and the query batch broadcast. */
  private[graft] def rvqAnswer(
      qraw: DataFrame, codes: DataFrame, recon: DataFrame,
      topK: Int, excludeSelf: Boolean): DataFrame = {
    val queries = qraw.select(col("query_id"),
      // re-tag per the ⌊v·10⁶⌋ input-magnitude contract — see rvqIndex
      expr("known_not_null_elements(" +
          "transform(qvec, x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)))")
        .as("qv"))
    val scored = codes.join(broadcast(recon), Seq("code1", "code2"))
      .crossJoin(broadcast(queries))
      .filter(if (excludeSelf) col("query_id") =!= col("vid") else lit(true))
      .select(col("query_id"), col("vid").as("neighbor_id"),
        expr("long_vec_sqdist(qv, rv)").as("adc_dist"))
    Ranks.topKPerGroup(scored, Seq("query_id"),
      Seq(("adc_dist", true), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "adc_dist")
  }

  /** Two-level (coarse → fine) deterministic IVF assignment — the cut
    * past SCALE.md's measured a·n·k + b·n²/k law: flat assignment pays
    * n·k centroid cosines, which at the law's optimum k ∝ √n makes the
    * WHOLE operator Θ(n^1.5); routing each vector through `kc` coarse
    * cells and then only the fine centroids under the chosen coarse
    * parent pays n·(kc + k/kc) — minimized at kc ∝ √k, i.e. n·2√k.
    * Both levels use the same deterministic seed-centroid rule (first
    * `kc`/`k` vectors by id) and id tiebreaks, so the full route is
    * bit-reproducible and the DuckDB oracle replays it. Routing is
    * approximate at the fine level (the true nearest fine centroid may
    * live under a different coarse parent) — the recall cost is
    * measured in SCALE.md "IVF k-scaling law", not assumed. Vectors route only to
    * coarse cells that own at least one fine centroid (a childless
    * coarse would otherwise silently drop its vectors). */
  def ivfAssignTwoLevel(df: DataFrame, idCol: String, vecCol: String,
      k: Int, kc: Int): DataFrame =
    ivfIndexTwoLevel(df, idCol, vecCol, k, kc)._3

  /** Shared two-level index build: (fineParent, activeCoarse,
    * assignment). `fineParent` = (cent_id, ce, cn, parent) — every fine
    * centroid under its nearest coarse; `activeCoarse` = (co_id, coe,
    * con) coarse centroids owning ≥ 1 fine child; `assigned` = the
    * corpus routed coarse→fine. Split out so [[ivfSearchTwoLevel]] can
    * route QUERIES through the identical frames the corpus was indexed
    * with — routing and cell contents can never disagree. */
  private[operators] def ivfIndexTwoLevel(
      df: DataFrame, idCol: String, vecCol: String, k: Int, kc: Int
  ): (DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val norms = withNorm(df, idCol, vecCol)
    val fine = norms.filter(col(idCol) < k).select(
      col(idCol).as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))
    val coarse = norms.filter(col(idCol) < kc).select(
      col(idCol).as("co_id"), col("embedding").as("coe"), col("nrm").as("con"))
    val fineParent = fine.crossJoin(broadcast(coarse))
      .select(col("cent_id"), col("ce"), col("cn"), col("co_id"),
        (expr("float_vec_dot(ce, coe)") / (col("cn") * col("con"))).as("ccos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cent_id")).orderBy(col("ccos").desc, col("co_id"))))
      .filter(col("rn") === 1)
      .select(col("cent_id"), col("ce"), col("cn"), col("co_id").as("parent"))
    val activeCoarse = coarse.join(
      fineParent.select(col("parent")).distinct(),
      col("co_id") === col("parent"), "left_semi")
    // the two n-scale argmaxes route through the bounded top-k prune (the
    // k·kc fineParent frame above stays a window — it is k rows)
    val vCoarse = Ranks.topKPerGroup(
      norms.crossJoin(broadcast(activeCoarse))
        .select(col(idCol), col("embedding"), col("nrm"), col("co_id"),
          (expr("float_vec_dot(embedding, coe)") / (col("nrm") * col("con"))).as("ccos")),
      Seq(idCol), Seq(("ccos", false), ("co_id", true)), 1)
      .select(col(idCol), col("embedding"), col("nrm"), col("co_id").as("parent"))
    val assigned = Ranks.topKPerGroup(
      vCoarse.join(broadcast(fineParent), Seq("parent"))
        .select(col(idCol), col("embedding"), col("nrm"), col("cent_id"),
          (expr("float_vec_dot(embedding, ce)") / (col("nrm") * col("cn"))).as("fcos")),
      Seq(idCol), Seq(("fcos", false), ("cent_id", true)), 1)
      .select(col(idCol), col("embedding"), col("nrm"), col("cent_id").as("cell"))
    (fineParent, activeCoarse, assigned)
  }

  /** [[ivfSearch]] with TWO-LEVEL routing on both sides — the 100 TB
    * form of the IVF list queries (x137/x138/x144 since round 10): the
    * round-10 three-point scaling curve measured flat assignment's
    * n·k term going super-linear in the 10→30× segment (exp 1.5–2.1 at
    * auto-k, exactly the Θ(n^1.5) the k-law predicts) while the
    * two-level pair query held exp 0.50. Corpus vectors route
    * coarse→fine (n·(kc + k/kc) cosines); each query routes to its one
    * coarse parent, then its `nprobe` nearest fine cells UNDER that
    * parent (a parent owning fewer than nprobe children probes them
    * all — deterministic on both engines). The fine-level routing is
    * approximate exactly as in [[ivfAssignTwoLevel]]; recall vs flat
    * routing is measured in SCALE.md, not assumed. */
  def ivfSearchTwoLevel(
      df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column,
      k: Int, kc: Int, nprobe: Int, topK: Int,
      index2: Option[(DataFrame, DataFrame, DataFrame)] = None
  ): DataFrame = {
    val (fineParent, activeCoarse, assigned) =
      index2.getOrElse(ivfIndexTwoLevel(df, idCol, vecCol, k, kc))
    val queries = withNorm(df, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      .filter(queryPred)
    val qCoarse = Ranks.topKPerGroup(
      queries.crossJoin(broadcast(activeCoarse))
        .select(col("query_id"), col("qe"), col("qn"), col("co_id"),
          (expr("float_vec_dot(qe, coe)") / (col("qn") * col("con"))).as("ccos")),
      Seq("query_id"), Seq(("ccos", false), ("co_id", true)), 1)
      .select(col("query_id"), col("qe"), col("qn"), col("co_id").as("parent"))
    val probed = Ranks.topKPerGroup(
      qCoarse.join(broadcast(fineParent), Seq("parent"))
        .select(col("query_id"), col("qe"), col("qn"), col("cent_id"),
          (expr("float_vec_dot(qe, ce)") / (col("qn") * col("cn"))).as("fcos")),
      Seq("query_id"), Seq(("fcos", false), ("cent_id", true)), nprobe)
      .select(col("query_id"), col("qe"), col("qn"), col("cent_id").as("cell"))
    Ranks.topKPerGroup(
      probed
        .join(assigned, "cell")
        .filter(col("query_id") =!= col(idCol))
        .select(col("query_id"), col(idCol).as("neighbor_id"),
          (expr("float_vec_dot(qe, embedding)") / (col("qn") * col("nrm"))).as("cosine")),
      Seq("query_id"), Seq(("cosine", false), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** Exact integer cube root: largest t with t³ ≤ n, via a float seed
    * ±1-adjusted — the adjustment makes the result exact whatever the
    * seed's last-ulp rounding (pow(n, 1/3) can read 3.999…96 at a
    * perfect cube), and the identical two-step law is replayable in
    * ANSI SQL (POWER seed + CASE adjust), so both engines derive the
    * same integer from the same count. */
  private[graft] def icbrt(n: Long): Long = {
    val t0 = math.floor(math.pow(n.toDouble, 1.0 / 3.0) + 0.5).toLong
    if ((t0 + 1) * (t0 + 1) * (t0 + 1) <= n) t0 + 1
    else if (t0 * t0 * t0 <= n) t0
    else t0 - 1
  }

  /** Routing-depth dispatcher for the registered IVF-backed queries:
    * `spark.graft.ivf.levels` = "2" (default — the oracle-replayed
    * two-level law, every registered result unchanged) or "3" (the
    * SCALE.md x137/x183 mitigation: top/mid sizes k^(1/3)/k^(2/3), so
    * assignment pays n·3·k^(1/3) ≈ n^1.125 at the auto-k policy
    * instead of two-level's n·2·√k ≈ n^1.25). Level 3 changes WHICH
    * approximate neighbors surface (routing is approximate per level),
    * so it is a deliberate opt-in for scale runs — x190 carries the
    * hash oracle for the three-level law itself. */
  def ivfSearchRouted(df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column,
      k: Int, kc: Int, nprobe: Int, topK: Int): DataFrame =
    df.sparkSession.conf.getOption("spark.graft.ivf.levels").getOrElse("2") match {
      case "2" => ivfSearchTwoLevel(df, idCol, vecCol, queryPred, k, kc, nprobe, topK)
      case "3" =>
        val kct = math.max(2L, icbrt(k.toLong)).toInt
        val kcm = math.max(4, kct * kct)
        ivfSearchThreeLevel(df, idCol, vecCol, queryPred, k, kcm, kct, nprobe, topK)
      case other => sys.error(s"spark.graft.ivf.levels must be 2 or 3, got '$other'")
    }

  /** Three-level (top → mid → fine) deterministic IVF assignment — the
    * L = 3 instance of the Θ(n·L·k^(1/L)) routing family SCALE.md
    * documents as the x137/x183 exponent mitigation: two-level
    * assignment pays n·(kc + k/kc) ≥ n·2√k cosines (n^1.25 at the
    * auto-k k = √n), three levels pay n·(kct + kcm/kct + k/kcm) ≥
    * n·3·k^(1/3) (n^1.125) when kct ≈ k^(1/3), kcm ≈ k^(2/3). Same
    * deterministic seed rule at every level (first `kct`/`kcm`/`k`
    * vectors by id), same id tiebreaks, so the full route is
    * bit-reproducible and the DuckDB oracle replays it (x190). Like
    * the two-level router, each level's routing is approximate (the
    * true nearest fine centroid may live under a different mid/top) —
    * one more level trades a little recall for the exponent, measured
    * in BENCH_NEW_r14, never assumed. Children route only to parents
    * that own at least one descendant, so no vector is dropped. */
  def ivfAssignThreeLevel(df: DataFrame, idCol: String, vecCol: String,
      k: Int, kcm: Int, kct: Int): DataFrame =
    ivfIndexThreeLevel(df, idCol, vecCol, k, kcm, kct)._4

  /** Shared three-level index build: (fineParent, midParent, activeTop,
    * assigned). `fineParent` = (cent_id, ce, cn, parent) — each fine
    * centroid under its nearest MID; `midParent` = (mi_id, me, mn,
    * ptop) — each ACTIVE mid (≥ 1 fine child) under its nearest TOP;
    * `activeTop` = (to_id, te, tn) tops owning ≥ 1 active mid;
    * `assigned` = the corpus routed top→mid→fine. Queries route through
    * the identical frames ([[ivfSearchThreeLevel]]), so routing and
    * cell contents can never disagree. */
  private def ivfIndexThreeLevel(
      df: DataFrame, idCol: String, vecCol: String, k: Int, kcm: Int, kct: Int
  ): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import org.apache.spark.sql.expressions.Window
    val norms = withNorm(df, idCol, vecCol)
    val fine = norms.filter(col(idCol) < k).select(
      col(idCol).as("cent_id"), col("embedding").as("ce"), col("nrm").as("cn"))
    val mid = norms.filter(col(idCol) < kcm).select(
      col(idCol).as("mi_id"), col("embedding").as("me"), col("nrm").as("mn"))
    val top = norms.filter(col(idCol) < kct).select(
      col(idCol).as("to_id"), col("embedding").as("te"), col("nrm").as("tn"))
    // fine → nearest mid (k×kcm rows, k out — bounded window)
    val fineParent = fine.crossJoin(broadcast(mid))
      .select(col("cent_id"), col("ce"), col("cn"), col("mi_id"),
        (expr("float_vec_dot(ce, me)") / (col("cn") * col("mn"))).as("mcos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cent_id")).orderBy(col("mcos").desc, col("mi_id"))))
      .filter(col("rn") === 1)
      .select(col("cent_id"), col("ce"), col("cn"), col("mi_id").as("parent"))
    val activeMid = mid.join(
      fineParent.select(col("parent")).distinct(),
      col("mi_id") === col("parent"), "left_semi")
    // active mid → nearest top (kcm×kct rows — bounded window)
    val midParent = activeMid.crossJoin(broadcast(top))
      .select(col("mi_id"), col("me"), col("mn"), col("to_id"),
        (expr("float_vec_dot(me, te)") / (col("mn") * col("tn"))).as("tcos"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("mi_id")).orderBy(col("tcos").desc, col("to_id"))))
      .filter(col("rn") === 1)
      .select(col("mi_id"), col("me"), col("mn"), col("to_id").as("ptop"))
    val activeTop = top.join(
      midParent.select(col("ptop")).distinct(),
      col("to_id") === col("ptop"), "left_semi")
    // the three n-scale argmaxes route through the bounded top-k prune
    val vTop = Ranks.topKPerGroup(
      norms.crossJoin(broadcast(activeTop))
        .select(col(idCol), col("embedding"), col("nrm"), col("to_id"),
          (expr("float_vec_dot(embedding, te)") / (col("nrm") * col("tn"))).as("tcos")),
      Seq(idCol), Seq(("tcos", false), ("to_id", true)), 1)
      .select(col(idCol), col("embedding"), col("nrm"), col("to_id").as("ptop"))
    val vMid = Ranks.topKPerGroup(
      vTop.join(broadcast(midParent), Seq("ptop"))
        .select(col(idCol), col("embedding"), col("nrm"), col("mi_id"),
          (expr("float_vec_dot(embedding, me)") / (col("nrm") * col("mn"))).as("mcos")),
      Seq(idCol), Seq(("mcos", false), ("mi_id", true)), 1)
      .select(col(idCol), col("embedding"), col("nrm"), col("mi_id").as("parent"))
    val assigned = Ranks.topKPerGroup(
      vMid.join(broadcast(fineParent), Seq("parent"))
        .select(col(idCol), col("embedding"), col("nrm"), col("cent_id"),
          (expr("float_vec_dot(embedding, ce)") / (col("nrm") * col("cn"))).as("fcos")),
      Seq(idCol), Seq(("fcos", false), ("cent_id", true)), 1)
      .select(col(idCol), col("embedding"), col("nrm"), col("cent_id").as("cell"))
    (fineParent, midParent, activeTop, assigned)
  }

  /** [[ivfSearchTwoLevel]] with THREE-LEVEL routing on both sides —
    * corpus vectors route top→mid→fine (n·(kct + kcm/kct + k/kcm)
    * cosines); each query routes to its one top, its one mid under
    * that top, then its `nprobe` nearest fine cells under that mid (a
    * mid owning fewer than nprobe children probes them all —
    * deterministic on both engines). */
  def ivfSearchThreeLevel(
      df: DataFrame, idCol: String, vecCol: String,
      queryPred: org.apache.spark.sql.Column,
      k: Int, kcm: Int, kct: Int, nprobe: Int, topK: Int
  ): DataFrame = {
    val (fineParent, midParent, activeTop, assigned) =
      ivfIndexThreeLevel(df, idCol, vecCol, k, kcm, kct)
    val queries = withNorm(df, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("embedding").as("qe"), col("nrm").as("qn"))
      .filter(queryPred)
    val qTop = Ranks.topKPerGroup(
      queries.crossJoin(broadcast(activeTop))
        .select(col("query_id"), col("qe"), col("qn"), col("to_id"),
          (expr("float_vec_dot(qe, te)") / (col("qn") * col("tn"))).as("tcos")),
      Seq("query_id"), Seq(("tcos", false), ("to_id", true)), 1)
      .select(col("query_id"), col("qe"), col("qn"), col("to_id").as("ptop"))
    val qMid = Ranks.topKPerGroup(
      qTop.join(broadcast(midParent), Seq("ptop"))
        .select(col("query_id"), col("qe"), col("qn"), col("mi_id"),
          (expr("float_vec_dot(qe, me)") / (col("qn") * col("mn"))).as("mcos")),
      Seq("query_id"), Seq(("mcos", false), ("mi_id", true)), 1)
      .select(col("query_id"), col("qe"), col("qn"), col("mi_id").as("parent"))
    val probed = Ranks.topKPerGroup(
      qMid.join(broadcast(fineParent), Seq("parent"))
        .select(col("query_id"), col("qe"), col("qn"), col("cent_id"),
          (expr("float_vec_dot(qe, ce)") / (col("qn") * col("cn"))).as("fcos")),
      Seq("query_id"), Seq(("fcos", false), ("cent_id", true)), nprobe)
      .select(col("query_id"), col("qe"), col("qn"), col("cent_id").as("cell"))
    Ranks.topKPerGroup(
      probed
        .join(assigned, "cell")
        .filter(col("query_id") =!= col(idCol))
        .select(col("query_id"), col(idCol).as("neighbor_id"),
          (expr("float_vec_dot(qe, embedding)") / (col("qn") * col("nrm"))).as("cosine")),
      Seq("query_id"), Seq(("cosine", false), ("neighbor_id", true)), topK)
      .select("query_id", "neighbor_id", "cosine")
  }

  /** [[embeddingNearDupsIvf]] with candidate cells from the two-level
    * router ([[ivfAssignTwoLevel]]) — same exact within-cell rescoring
    * tail, assignment cost n·(kc + k/kc) instead of n·k. */
  def embeddingNearDupsIvfTwoLevel(
      df: DataFrame, idCol: String, vecCol: String, threshold: Double,
      k: Int, kc: Int): DataFrame = {
    val assigned = ivfAssignTwoLevel(df, idCol, vecCol, k, kc)
    val a = assigned.select(col("cell"), col(idCol).as("vec_a"),
      col("embedding").as("ea"), col("nrm").as("na"))
    val b = assigned.select(col("cell"), col(idCol).as("vec_b"),
      col("embedding").as("eb"), col("nrm").as("nb"))
    a.join(b, Seq("cell"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a"), col("vec_b"),
        (expr("float_vec_dot(ea, eb)") / (col("na") * col("nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** MinHash banded candidate pairs with exact verification — the scale
    * path [[ngramJaccardPairs]] is the correctness baseline for:
    * signatures ([[minhashSignatures]]) → explode the 4 band keys →
    * equi-join on (band, key) → distinct candidate pairs → exact Jaccard
    * from each side's full shingle set, keeping pairs ≥ `threshold`.
    * Candidate volume scales with band-bucket sizes instead of the
    * inverted index's shingle-bucket sizes; recall is the banding curve
    * 1−(1−s²)⁴ (pinned vs the exact join in DedupLibrarySpec), precision
    * 1.0 via the exact re-check. */
  def minhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame = {
    // ONE shingle build feeds signatures, per-doc counts AND the exact
    // verification join — the corpus-wide explode is the expensive part,
    // and recomputing it per consumer is strictly worse than reading the
    // checkpointed blocks once the shuffle leaves a single node. The
    // eager localCheckpoint is the fast sharing vehicle (a row copy; the
    // columnar persist() cache measured ~40% slower end to end), with
    // connectedComponents' caveat: blocks are non-replicated, so an
    // executor loss DURING this call fails the job instead of
    // recomputing. The frame lives only for the call — the small result
    // (∝ matching pairs, not corpus) is materialized eagerly, then the
    // corpus-sized shingle blocks are released before returning. Call
    // [[release]] on the returned frame once consumed to free its
    // (small) blocks too.
    val sh = shingles(df, idCol, textCol).transform(graft.plans.Pin.pin)
    val sigs = minhashSignaturesFromShingles(sh, idCol)
    val bandStructs = (0 until 4).map { k =>
      struct(lit(k).as("band"), col(s"band$k").as("key"))
    }
    val keys = sigs
      .select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.key"))
    val a = keys.select(col(idCol).as("doc_a"), col("band"), col("key"))
    val b = keys.select(col(idCol).as("doc_b"), col("band"), col("key"))
    val cand = a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val common = cand
      .join(sh.select(col(idCol).as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col(idCol).as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    val result = common
      .join(counts.select(col(idCol).as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(counts.select(col(idCol).as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "common", "jaccard")
      .transform(graft.plans.Pin.pin)
    release(sh)
    result
  }

  /** Empirical banding-recall calibration curve: for every true pair at
    * shingle Jaccard ≥ `minJaccard`, whether the 4-band MinHash blocking
    * ([[minhashCandidatePairs]]' candidate stage) would have surfaced it
    * — aggregated per 0.1-wide Jaccard bucket as (n_true, n_hit,
    * recall). This is the measured counterpart of the theoretical
    * banding curve 1−(1−s²)⁴: the readout that tells an operator
    * whether the signature budget (8 permutations / 4 bands) is safe to
    * trust at their dedup threshold BEFORE they skip exact
    * verification at scale. ONE shingle build feeds the exact join, the
    * signatures and the band join (checkpoint-for-the-call, released
    * before returning); the curve frame is ≤ 11 rows. */
  def bandingRecallCurve(
      df: DataFrame, idCol: String, textCol: String, minJaccard: Double): DataFrame = {
    val sh = shingles(df, idCol, textCol).transform(graft.plans.Pin.pin)
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val a = sh.select(col(idCol).as("doc_a"), col("sh").as("sh_a"))
    val b = sh.select(col(idCol).as("doc_b"), col("sh").as("sh_b"))
    val truePairs = a
      .join(b, col("sh_a") === col("sh_b") && col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
      .join(counts.select(col(idCol).as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(counts.select(col(idCol).as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= minJaccard)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val sigs = minhashSignaturesFromShingles(sh, idCol)
    val bandStructs = (0 until 4).map { k =>
      struct(lit(k).as("band"), col(s"band$k").as("key"))
    }
    val keys = sigs
      .select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.key"))
    val ca = keys.select(col(idCol).as("doc_a"), col("band"), col("key"))
    val cb = keys.select(col(idCol).as("doc_b"), col("band"), col("key"))
    val cand = ca.join(cb, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
      .withColumn("hit", lit(1L))
    val result = truePairs
      .join(cand, Seq("doc_a", "doc_b"), "left")
      .select(floor(col("jaccard") * 10).cast("long").as("bucket"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"), sum(col("hit")).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_true"))
      .transform(graft.plans.Pin.pin)
    release(sh)
    result
  }

  /** [[bandingRecallCurve]] over PRE-BUILT frames — the registry-served
    * form: `truePairs` is the exact-Jaccard pair frame at the audited
    * floor (carrying doc_a, doc_b, jaccard), `candidates` the banded
    * candidate pair set (doc_a, doc_b; extra columns ignored). Both come
    * from session registries in the registered x97, so the curve costs
    * one pair-frame-sized left join + a <= 11-row aggregate instead of
    * re-deriving shingles, signatures and both joins per pass. No pin,
    * no release — the inputs are session-lifetime frames this call must
    * not unpersist. */
  def bandingRecallCurveFromFrames(
      truePairs: DataFrame, candidates: DataFrame): DataFrame = {
    val hits = candidates.select(col("doc_a"), col("doc_b"))
      .withColumn("hit", lit(1L))
    truePairs.select(col("doc_a"), col("doc_b"), col("jaccard"))
      .join(hits, Seq("doc_a", "doc_b"), "left")
      .select(floor(col("jaccard") * 10).cast("long").as("bucket"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"), sum(col("hit")).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_true"))
  }

  /** Empirical hyperplane-LSH recall curve for the embedding scale path:
    * for every true near-dup pair at exact cosine ≥ `minCosine`
    * ([[embeddingNearDups]], the all-pairs baseline), whether the banded
    * hyperplane bucketing ([[embeddingNearDupsBucketed]], the 100 TB
    * path) surfaced it — aggregated per 0.1-wide cosine bucket as
    * (n_true, n_hit, recall). The embedding counterpart of
    * [[bandingRecallCurve]]: the readout that says whether the
    * bands×planes budget is safe at YOUR similarity threshold before the
    * bucketed path replaces the exact one. The all-pairs side restricts
    * this audit to eval-sized corpora — at scale it runs on a sampled
    * slice, and the curve transfers because recall depends only on pair
    * cosine, not corpus size. */
  def embeddingBandingRecallCurve(
      df: DataFrame, idCol: String, vecCol: String, minCosine: Double): DataFrame =
    embeddingBandingRecallCurveFromFrames(
      embeddingNearDups(df, idCol, vecCol, minCosine),
      lshBandCandidates(df, idCol, vecCol))

  /** [[embeddingBandingRecallCurve]] over PRE-BUILT frames — the
    * registry-served form: `exact` the exact cosine pair frame at the
    * audited threshold (vec_a, vec_b, cosine), `candidates` the banded
    * LSH collision pair set (vec_a, vec_b). A true pair was surfaced by
    * the bucketed path iff it is a candidate (the bucketed path rescores
    * candidates exactly, so at the same threshold candidate ∩ true =
    * surfaced ∩ true), so the curve needs no second scoring pass. */
  def embeddingBandingRecallCurveFromFrames(
      exact: DataFrame, candidates: DataFrame): DataFrame = {
    val hits = candidates
      .select(col("vec_a"), col("vec_b"))
      .withColumn("hit", lit(1L))
    exact
      .join(hits, Seq("vec_a", "vec_b"), "left")
      .select(floor(col("cosine") * 10).cast("long").as("bucket"),
        coalesce(col("hit"), lit(0L)).as("hit"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_true"), sum(col("hit")).as("n_hit"))
      .withColumn("recall", col("n_hit").cast("double") / col("n_true"))
  }

  /** Cluster-cohesion audit — the over-merge guard for transitive
    * dedup: connected components chain A~B~C into one cluster even when
    * A and C share nothing, so before a keep-one-per-cluster rewrite
    * deletes real content, this reports, per cluster, how tightly its
    * members actually cohere. Output per `cluster_root`: member count,
    * observed near-dup pair count, the weakest and mean observed pair
    * similarity (4-dp decimal discipline — order-independent sums), and
    * `pair_coverage` = observed pairs / all member pairs. Low coverage
    * with a low minimum is the chaining signature; coverage 1.0 is a
    * clique (safe to collapse). Cost: one CC solve over the pair frame
    * plus two pair-frame-sized aggregates — the corpus itself is never
    * touched. Pass an eagerly-materialized `pairs` frame
    * (localCheckpoint) since it feeds both the CC solve and the
    * cohesion aggregate. */
  def clusterCohesion(
      pairs: DataFrame, aCol: String, bCol: String, simCol: String): DataFrame = {
    val roots = connectedComponents(pairs, aCol, bCol)
    val sizes = roots.groupBy(col("cluster_root")).agg(count(lit(1)).as("n_docs"))
    val coh = pairs
      .join(roots.select(col("node").as(aCol), col("cluster_root")), Seq(aCol))
      .select(col("cluster_root"),
        round(col(simCol), 4).cast("decimal(9,4)").as("j"))
      .groupBy(col("cluster_root"))
      .agg(count(lit(1)).as("n_pairs"),
        min(col("j")).cast("double").as("min_jaccard"),
        (sum(col("j")).cast("double") / count(lit(1))).as("mean_jaccard"))
    sizes.join(coh, Seq("cluster_root"))
      .withColumn("pair_coverage",
        col("n_pairs").cast("double") /
          (col("n_docs") * (col("n_docs") - 1) / 2))
  }

  /** MinHash estimator-error audit: every banded candidate pair with its
    * signature-agreement Jaccard ESTIMATE (matching components / 8) next
    * to the exact shingle Jaccard — the calibration readout that decides
    * whether a signature budget (here 8 permutations, 4 bands) is
    * trustworthy enough to skip exact verification at scale, and the
    * first thing to check when tuning the band/row trade. Band-collision
    * pairs that share NO shingle (pure hash collisions) are kept with
    * exact Jaccard 0 — they are the estimator's worst case, exactly what
    * the audit exists to surface. Same shuffle shape as
    * [[minhashCandidatePairs]]: banded equi-join candidates, exact
    * scoring only on candidates, never all-pairs. */
  def minhashEstimateAudit(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.MinHashAggregator.NumHashes
    val sh = shingles(df, idCol, textCol).transform(graft.plans.Pin.pin)
    val sigs = minhashSignaturesFromShingles(sh, idCol).transform(graft.plans.Pin.pin)
    val bandStructs = (0 until 4).map { k =>
      struct(lit(k).as("band"), col(s"band$k").as("key"))
    }
    val keys = sigs
      .select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.key"))
    val a = keys.select(col(idCol).as("doc_a"), col("band"), col("key"))
    val b = keys.select(col(idCol).as("doc_b"), col("band"), col("key"))
    val cand = a.join(b, Seq("band", "key"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b")
      .distinct()
    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val common = cand
      .join(sh.select(col(idCol).as("doc_a"), col("sh")), Seq("doc_a"))
      .join(sh.select(col(idCol).as("doc_b"), col("sh")), Seq("doc_b", "sh"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("common"))
    val sa = sigs.select(
      col(idCol).as("doc_a") +: (0 until NumHashes).map(j => col(s"mh$j").as(s"a$j")): _*)
    val sb = sigs.select(
      col(idCol).as("doc_b") +: (0 until NumHashes).map(j => col(s"mh$j").as(s"b$j")): _*)
    val agree = (0 until NumHashes)
      .map(j => when(col(s"a$j") === col(s"b$j"), 1L).otherwise(0L))
      .reduce(_ + _)
    val result = cand
      .join(common, Seq("doc_a", "doc_b"), "left")
      .join(counts.select(col(idCol).as("doc_a"), col("n").as("na")), Seq("doc_a"))
      .join(counts.select(col(idCol).as("doc_b"), col("n").as("nb")), Seq("doc_b"))
      .join(sa, Seq("doc_a"))
      .join(sb, Seq("doc_b"))
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .withColumn("n_agree", agree)
      .withColumn("est_jaccard", col("n_agree").cast("double") / NumHashes)
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .withColumn("abs_err", abs(col("est_jaccard") - col("jaccard")))
      .select("doc_a", "doc_b", "n_agree", "est_jaccard", "common", "jaccard", "abs_err")
      .transform(graft.plans.Pin.pin)
    release(sh); release(sigs)
    result
  }

  /** Leakage-safe train/val/test split — content-hash splitting alone
    * (TextIngest.withSplitAssignment) only keeps EXACT duplicates
    * together; near-duplicate pairs can still straddle train and test
    * and leak. This assigns every document the split of its near-dup
    * CLUSTER: pairs → [[connectedComponents]] → each member takes the
    * hash of its cluster root's id (documents with no near-dup keep
    * their own id as root), so a whole near-dup family always lands in
    * one split. Root-id hashing (vs root-content) keeps the final pass
    * to one join against the root map. The root map is proportional to
    * the DUPLICATED subset of the corpus, not to the corpus — usually
    * tiny, but on a heavily duplicated web crawl it can be large, so the
    * join carries no broadcast hint: AQE broadcasts it at runtime when
    * it is small and falls back to a shuffled join when it is not,
    * instead of failing on the driver's broadcast limit.
    *
    * Correctness gate: the clustering runs with a raised round cap
    * (`maxIter = 64` — each round is cheap once the graph is coalesced,
    * and near-dup chains longer than that are vanishingly rare) and
    * [[connectedComponents]]' convergence guard ON, so a component whose
    * diameter still exceeds the cap fails the job loudly instead of
    * silently assigning one near-dup family two roots — and therefore
    * possibly two splits, the exact leakage this operator prevents. */
  def leakageSafeSplit(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double): DataFrame =
    leakageSafeSplitFromPairs(df, idCol,
      ngramJaccardPairs(df, idCol, textCol, threshold))

  /** [[leakageSafeSplit]] from a precomputed near-dup pair frame
    * (`doc_a`, `doc_b`) — lets a caller that already paid for candidate
    * generation (or wants different pair semantics, e.g. containment or
    * simhash pairs) reuse it instead of re-running the shingle join.
    * `trainCut`/`valCut` set the split fractions as percent boundaries
    * (default 98/1/1, x43's rule): train = bucket < trainCut, val =
    * bucket < valCut, else test. */
  def leakageSafeSplitFromPairs(
      df: DataFrame, idCol: String, pairs: DataFrame,
      trainCut: Int = 98, valCut: Int = 99): DataFrame = {
    val roots = connectedComponents(pairs, "doc_a", "doc_b", maxIter = 64)
    val withRoot = df
      .join(roots, df(idCol) === roots("node"), "left")
      .select(df(idCol),
        coalesce(col("cluster_root"), df(idCol)).as("split_key"))
    // same portable percent-bucket hash rule as the content-hash split
    // (x43), keyed on the root id's digits — bit-identical cross-engine
    val bucket = expr("poly_hash(CAST(split_key AS STRING)) % 100")
    withRoot.select(col(idCol), col("split_key"),
      when(bucket < trainCut, "train").when(bucket < valCut, "val")
        .otherwise("test").as("split_name"))
  }

  /** Embedding-level leakage-safe split — [[leakageSafeSplit]]'s
    * semantic sibling: n-gram clustering only catches near-dups that
    * share SURFACE text, but a translated, paraphrased or re-templated
    * copy can carry near-identical embeddings with little n-gram
    * overlap, and a split that separates such a pair leaks meaning
    * rather than text. Pairs come from the IVF-cell cosine path
    * ([[embeddingNearDupsIvf]]) — never all-pairs, and never the
    * fixed-plane LSH band join whose buckets grow ∝ n at any fixed
    * plane count (the round-8 sf1 run measured that shape at exponent
    * ~1.9; the cell count `k` is the explicit knob that keeps candidate
    * work linear, k ∝ corpus/target_cell) — then the same guarded
    * cluster → root-hash assignment keeps every semantic family in one
    * split. Fully deterministic (seed centroids, id tiebreaks), so the
    * whole split carries a cross-engine hash oracle (x64). */
  def semanticSafeSplit(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, k: Int = 16): DataFrame = {
    val pairs = embeddingNearDupsIvf(df, idCol, vecCol, threshold, k)
    val roots = connectedComponents(pairs, "vec_a", "vec_b")
    val withRoot = df
      .join(roots, df(idCol) === roots("node"), "left")
      .select(df(idCol),
        coalesce(col("cluster_root"), df(idCol).cast("long")).as("split_key"))
    // same portable 98/1/1 hash rule as the content-hash split (x43)
    val bucket = expr("poly_hash(CAST(split_key AS STRING)) % 100")
    withRoot.select(col(idCol), col("split_key"),
      when(bucket < 98, "train").when(bucket < 99, "val")
        .otherwise("test").as("split_name"))
  }

  /** Incremental-batch dedup — the ingestion-time question ("is this
    * newly crawled doc already in the corpus?") rather than the
    * self-dedup one: each NEW doc (per `isNew`) gets a verdict against
    * the EXISTING side only — `exact_dup` (identical content),
    * `near_dup` (≥ `threshold` shingle Jaccard with any existing doc via
    * MinHash band candidates), else `unique`. New batches are small
    * relative to the corpus, so every new-side frame broadcasts: the
    * existing corpus is scanned, never shuffled against itself — at
    * 100 TB this is the difference between O(batch × bands) and the
    * full self-join. Candidate generation is banded (same recall
    * contract as [[minhashCandidatePairs]]); exact matches are caught
    * by content equality independent of banding. */
  def incrementalDedup(
      df: DataFrame, idCol: String, textCol: String,
      isNew: org.apache.spark.sql.Column, threshold: Double): DataFrame = {
    val (plan, sh) = incrementalDedupPlan(df, idCol, textCol, isNew, threshold)
    val result = plan.transform(graft.plans.Pin.pin)
    release(sh)
    result
  }

  /** The lazy plan behind [[incrementalDedup]] plus the shared
    * checkpointed shingle frame (the caller must [[release]] it after
    * consuming the plan) — exposed so plan-shape tests can pin the
    * broadcast join structure that the public function's eager
    * materialization hides. */
  private[graft] def incrementalDedupPlan(
      df: DataFrame, idCol: String, textCol: String,
      isNew: org.apache.spark.sql.Column, threshold: Double): (DataFrame, DataFrame) = {
    val flags = df.select(col(idCol), isNew.as("is_new"))
    val newIds = flags.filter(col("is_new")).select(col(idCol))

    // exact: new content seen verbatim on the existing side
    val extTexts = df.join(flags.filter(!col("is_new")), idCol)
      .select(col(textCol)).distinct()
    val exactHits = df.join(broadcast(newIds), idCol)
      .join(extTexts, Seq(textCol), "left_semi")
      .select(col(idCol).as("__exact_id"))

    // near: banded candidates restricted to new × existing; ONE shingle
    // build feeds signatures, counts and the verification join (see
    // minhashCandidatePairs — same shared-frame rationale, same
    // checkpoint-for-the-call discipline and executor-loss caveat: the
    // corpus-sized shingle blocks are released before returning, the
    // small eager verdict frame is the caller's to [[release]])
    val sh = shingles(df, idCol, textCol).transform(graft.plans.Pin.pin)
    val sigs = minhashSignaturesFromShingles(sh, idCol)
    val bandStructs = (0 until 4).map { k =>
      struct(lit(k).as("band"), col(s"band$k").as("key"))
    }
    val keys = sigs
      .select(col(idCol), explode(array(bandStructs: _*)).as("bk"))
      .select(col(idCol), col("bk.band"), col("bk.key"))
      .join(flags, idCol)
    val newK = keys.filter(col("is_new"))
      .select(col(idCol).as("new_id"), col("band"), col("key"))
    val extK = keys.filter(!col("is_new"))
      .select(col(idCol).as("ext_id"), col("band"), col("key"))
    val cand = broadcast(newK).join(extK, Seq("band", "key"))
      .select("new_id", "ext_id").distinct()

    val counts = sh.groupBy(col(idCol)).agg(count(lit(1)).as("n"))
    val near = cand
      .join(sh.select(col(idCol).as("new_id"), col("sh")), Seq("new_id"))
      .join(sh.select(col(idCol).as("ext_id"), col("sh")), Seq("ext_id", "sh"))
      .groupBy(col("new_id"), col("ext_id"))
      .agg(count(lit(1)).as("common"))
      .join(counts.select(col(idCol).as("new_id"), col("n").as("na")), Seq("new_id"))
      .join(counts.select(col(idCol).as("ext_id"), col("n").as("nb")), Seq("ext_id"))
      .filter(col("common").cast("double") / (col("na") + col("nb") - col("common"))
        >= threshold)
      .groupBy(col("new_id")).agg(count(lit(1)).as("n_near"))

    val verdicts = newIds
      .join(broadcast(exactHits), col(idCol) === col("__exact_id"), "left")
      .join(broadcast(near), col(idCol) === col("new_id"), "left")
      .select(
        col(idCol),
        col("__exact_id").isNotNull.as("is_exact_dup"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(col("__exact_id").isNotNull, "exact_dup")
          .when(coalesce(col("n_near"), lit(0L)) > 0, "near_dup")
          .otherwise("unique").as("verdict"))
    (verdicts, sh)
  }
}
