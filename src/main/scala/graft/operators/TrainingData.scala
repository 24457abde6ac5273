package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Exact._
import graft.sources.Tables

/** Training-data pipeline operators over `documents` / `embeddings` /
  * `events` — the large-scale corpus-preparation surface a 100 TB engine
  * needs beyond the reference's analytics: deduplication (exact, n-gram
  * Jaccard, MinHash/LSH, SimHash), similarity search (exact top-k +
  * hyperplane-LSH bucketing), text analysis (token stats, quality score,
  * language ID, fingerprinting), multimodal byte-column plumbing, and
  * event sessionization/windowing.
  *
  * Every query that is SQL-expressible carries a DuckDB oracle built from
  * the SAME expression fragments (portable arithmetic hashes, sequential
  * left-fold float reductions) so results are bit-identical cross-engine.
  * All "randomness" (hash permutations, LSH hyperplanes) is explicit
  * arithmetic — reproducible on any cluster size.
  */
object TrainingData {

  // ---- portable expression fragments ----------------------------------

  /** Polynomial character hash (oracle side), identical to the engine's
    * codegen `poly_hash` (graft.functions.PolyHash): left fold of
    * `(acc * 31 + ascii(char)) % 1e9+7` seeded with 7. */
  private val P = 1000000007L
  private def duckPolyHash(e: String): String =
    s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
      s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
      s"(acc, x) -> (acc * 31 + x) % $P)"

  /** Sequential-fold dot product (oracle side) — bit-identical to the
    * engine's codegen `float_vec_dot`: both fold left in element order
    * with the same per-element double products. */
  private def duckDot(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, 65), " +
      s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"

  /** Occurrences of word `w` in space-padded text via replace-shrinkage
    * (identical non-overlapping-replace semantics in both engines). */
  private def sparkWordCount(w: String): String =
    s"(length(' ' || text || ' ') - length(replace(' ' || text || ' ', ' $w ', ' '))) / ${w.length + 1}"
  private val duckWordCount: String => String = sparkWordCount // same SQL dialect here

  /** Exact geometric length-band thresholds for fuzzy-dedup blocking
    * (x51's prune, x142's block key): band(len) = #{b : T_b ≤ len} − 1
    * with T_b = ⌈(10/7)^b⌉ computed in exact BigInt arithmetic. This is
    * the SAME partition of the integers as ⌊ln(len)/ln(10/7)⌋ (for
    * integer len, len ≥ (10/7)^b ⟺ len ≥ ⌈(10/7)^b⌉) but with no libm
    * call anywhere — ⌊ln/ln⌋ is only ulp-accurate and a length landing
    * within an ulp of a band boundary could band differently across
    * engines, flipping a join key the hash oracle depends on. Char
    * lengths are ints, so the table stops at 2³¹ (61 entries). */
  private[operators] val lengthBandThresholds: Seq[Long] =
    Iterator.from(0)
      .map { b =>
        val den = BigInt(7).pow(b)
        (BigInt(10).pow(b) + den - 1) / den // ceil(10^b / 7^b)
      }
      .takeWhile(_ <= BigInt(Int.MaxValue)).map(_.toLong).toSeq

  /** Spark side of the band: count thresholds ≤ len as a 61-term
    * CASE-WHEN sum — pure integer comparisons inside whole-stage
    * codegen (a higher-order `filter` over a literal array would read
    * the same but its lambda can't capture the outer length column —
    * Spark binds lambda bodies against the array element only). */
  private def lengthBandCol(len: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val l = greatest(len, lit(1))
    lengthBandThresholds
      .map(t => when(l >= lit(t), 1L).otherwise(0L))
      .reduce(_ + _)
      .-(lit(1L))
      .cast("long")
  }

  /** DuckDB side of the band over a length expression `e`. */
  private def duckLengthBand(e: String): String =
    s"CAST(len(list_filter([${lengthBandThresholds.mkString(", ")}], " +
      s"t -> t <= greatest($e, 1))) - 1 AS BIGINT)"

  // ---- dedup -----------------------------------------------------------

  /** Exact dedup: hash-groupBy on content; canonical row = min doc_id.
    * At scale this is one shuffle on a 128-bit content hash. */
  val x01 = Q(
    "x01_dedup_exact",
    Some(
      "SELECT text, CAST(MIN(doc_id) AS BIGINT) AS keep_id, " +
        s"$sqlCount AS n_copies FROM documents GROUP BY text"
    )
  ) { t => Dedup.exact(t.documents, "doc_id", "text") }

  // shared shingle fragments: word 3-gram sets per document
  private val duckShingleCtes: String =
    "words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
      "shingles AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1), " +
      "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM words)"

  /** N-gram Jaccard near-dup detection via inverted-index join (explode
    * shingles → self-join on shingle → count common / union) — the
    * shuffle-scalable formulation; never an O(n²) cross join. String
    * shingle keys here (single-node optimum); Dedup.ngramJaccardPairs
    * offers hashed keys for network-bound clusters. */
  val x02 = Q(
    "x02_dedup_ngram_jaccard",
    Some(
      s"WITH $duckShingleCtes, " +
        "counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY doc_id), " +
        "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common " +
        "FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
        "GROUP BY a.doc_id, b.doc_id) " +
        "SELECT doc_a, doc_b, common, " +
        "CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard " +
        "FROM pairs JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id " +
        "WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.05"
    )
  ) { t => ngramPairsLoose(t) }

  /** MinHash signatures (8 permutations of the shingle hash) + 4 banded
    * LSH keys: candidate pairs at scale are found by joining on band
    * values instead of comparing all pairs. */
  private val mhA = Seq(1000003L, 1000033L, 1000037L, 1000039L,
    1000081L, 1000099L, 1000117L, 1000121L)
  private val mhB = mhA.indices.map(j => j * 7919L + 13L)

  val x03 = Q(
    "x03_dedup_minhash",
    Some {
      val mins = mhA.indices.map { j =>
        s"CAST(MIN((sh_h * ${mhA(j)} + ${mhB(j)}) % $P) AS BIGINT) AS mh$j"
      }.mkString(", ")
      val bands = (0 until 4).map { k =>
        s"CAST((mh${2 * k} * 1000003 + mh${2 * k + 1}) % $P AS BIGINT) AS band$k"
      }.mkString(", ")
      s"WITH $duckShingleCtes, " +
        s"hashed AS (SELECT doc_id, ${duckPolyHash("sh")} AS sh_h FROM shingles), " +
        s"sigs AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id) " +
        s"SELECT doc_id, ${mhA.indices.map(j => s"mh$j").mkString(", ")}, $bands FROM sigs"
    }
  ) { t =>
    Dedup.minhashSignatures(t.documents, "doc_id", "text")
  }

  /** SimHash (16-bit): per-word hash bit-majority — near-dup fingerprint
    * whose Hamming distance tracks content similarity. */
  // shared simhash fragments: 16-bit bit-majority signature per document
  // (ends in a `sims(doc_id, simhash16)` CTE for x04 and x85 to build on)
  private val duckSimhashCtes: String = {
    val sums = (0 until 16).map { b =>
      s"CAST(SUM(CASE WHEN ((wh >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS BIGINT) AS s$b"
    }.mkString(", ")
    val assemble = (0 until 16).map { b =>
      s"(CASE WHEN s$b > 0 THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    "simwords AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
      s"hashed AS (SELECT doc_id, ${duckPolyHash("word")} AS wh FROM simwords), " +
      s"bits AS (SELECT doc_id, $sums FROM hashed GROUP BY doc_id), " +
      s"sims AS (SELECT doc_id, CAST($assemble AS BIGINT) AS simhash16 FROM bits)"
  }

  val x04 = Q(
    "x04_dedup_simhash",
    Some(s"WITH $duckSimhashCtes SELECT doc_id, simhash16 FROM sims")
  ) { t =>
    Dedup.simhash16(t.documents, "doc_id", "text")
  }

  // ---- text analysis ---------------------------------------------------

  /** Token counting: whitespace tokens via replace-arithmetic (identical
    * semantics in both engines, no regex dialect drift). */
  val x05 = Q(
    "x05_token_count",
    Some(
      "SELECT doc_id, n_chars, CAST(length(text) AS BIGINT) AS len_chars, " +
        "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens " +
        "FROM documents"
    )
  ) { t =>
    t.documents.select(
      col("doc_id"), col("n_chars"),
      length(col("text")).cast("long").as("len_chars"),
      graft.functions.Text.tokenCount("text").as("n_tokens")
    )
  }

  /** End-to-end dedup: near-dup pairs (Jaccard ≥ 0.5) → connected
    * components → canonical keep-list (cluster root = min doc id). The
    * Spark side is iterative min-label propagation (Dedup
    * .connectedComponents); the oracle computes the same closure with a
    * recursive CTE — both converge to min-reachable-id per node. */
  // shared near-dup cluster fragments (jaccard >= 0.5 pairs → transitive
  // closure → per-node min-reachable root); requires a WITH RECURSIVE
  // prefix and ends in a `lab(doc_id, cluster_root)` CTE
  private val duckClusterCtes: String =
    s"$duckShingleCtes, " +
      "counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY doc_id), " +
      "prs AS (SELECT doc_a, doc_b FROM " +
      "(SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common " +
      "FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
      "GROUP BY a.doc_id, b.doc_id) p " +
      "JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id " +
      "WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5), " +
      "edges AS (SELECT doc_a AS u, doc_b AS v FROM prs " +
      "UNION SELECT doc_b, doc_a FROM prs), " +
      "reach(u, v) AS (SELECT u, v FROM edges " +
      "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
      "lab AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_root FROM reach GROUP BY u)"

  val x33 = Q(
    "x33_dedup_clusters",
    Some(
      s"WITH RECURSIVE $duckClusterCtes " +
        "SELECT doc_id, cluster_root, (doc_id = cluster_root) AS is_keeper FROM lab"
    )
  ) { t =>
    val pairs = nearDupPairs(t)
    Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("cluster_root"),
        (col("node") === col("cluster_root")).as("is_keeper"))
  }

  /** BPE-ish regex token counting (alpha runs / digit runs / single
    * punctuation) next to the whitespace count — the pre-merge word
    * segmentation a byte-pair tokenizer starts from; the character-class
    * regex behaves identically under Java regex and DuckDB's RE2. */
  val x31 = Q(
    "x31_regex_tokens",
    Some(
      "SELECT doc_id, " +
        "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS ws_tokens, " +
        "CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS BIGINT) " +
        "AS regex_tokens FROM documents"
    )
  ) { t =>
    t.documents.select(
      col("doc_id"),
      graft.functions.Text.tokenCount("text").as("ws_tokens"),
      graft.functions.Text.regexTokenCount("text").as("regex_tokens")
    )
  }

  /** Quality scoring: length-normalized token count × stopword-ratio
    * boost — a pure per-row arithmetic pipeline (deterministic IEEE ops on
    * identical inputs; only cross-row float SUMs are order-dependent). */
  val x06 = Q(
    "x06_text_quality",
    Some(
      "SELECT doc_id, n_tokens, stop_hits, " +
        "stop_hits / n_tokens AS stop_ratio, " +
        "least(CAST(1.0 AS DOUBLE), n_tokens / 100.0) * (0.2 + stop_hits / n_tokens) AS quality_score " +
        "FROM (SELECT doc_id, " +
        "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens, " +
        s"CAST(${sparkWordCount("the")} AS DOUBLE) AS stop_hits FROM documents)"
    )
  ) { t =>
    t.documents
      .select(
        col("doc_id"),
        graft.functions.Text.tokenCount("text").as("n_tokens"),
        graft.functions.Text.wordCount("text", "the").cast("double").as("stop_hits")
      )
      .select(
        col("doc_id"), col("n_tokens"), col("stop_hits"),
        (col("stop_hits") / col("n_tokens")).as("stop_ratio"),
        graft.functions.Text.qualityScore(col("n_tokens"), col("stop_hits"))
          .as("quality_score")
      )
  }

  /** Marker words for the language-ID heuristic, highest-priority first
    * (the fixed tie-break order en > es > de > fr > zh). Shared by x07
    * (per-doc predictions) and x134 (confusion-matrix audit). */
  private val langMarkers =
    Seq("en" -> "the", "es" -> "el", "de" -> "der", "fr" -> "le", "zh" -> "ha")

  /** Oracle-side SELECT producing (doc_id, lang, lang_pred). */
  private def langIdSql: String = {
    val counts = langMarkers
      .map { case (l, w) => s"CAST(${duckWordCount(w)} AS DOUBLE) AS c_$l" }
      .mkString(", ")
    "SELECT doc_id, lang, CASE " +
      "WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_zh THEN 'en' " +
      "WHEN c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es' " +
      "WHEN c_de >= c_fr AND c_de >= c_zh THEN 'de' " +
      "WHEN c_fr >= c_zh THEN 'fr' ELSE 'zh' END AS lang_pred " +
      s"FROM (SELECT doc_id, lang, $counts FROM documents)"
  }

  /** Engine-side twin of [[langIdSql]]: (doc_id, lang, lang_pred). */
  private def langIdFrame(t: Tables): DataFrame = {
    val withCounts = langMarkers.foldLeft(
      t.documents.select(col("doc_id"), col("lang"), col("text"))
    ) { case (df, (l, w)) =>
      df.withColumn(s"c_$l", graft.functions.Text.wordCount("text", w).cast("double"))
    }
    withCounts.select(
      col("doc_id"), col("lang"),
      when(col("c_en") >= col("c_es") && col("c_en") >= col("c_de") &&
        col("c_en") >= col("c_fr") && col("c_en") >= col("c_zh"), "en")
        .when(col("c_es") >= col("c_de") && col("c_es") >= col("c_fr") &&
          col("c_es") >= col("c_zh"), "es")
        .when(col("c_de") >= col("c_fr") && col("c_de") >= col("c_zh"), "de")
        .when(col("c_fr") >= col("c_zh"), "fr")
        .otherwise("zh").as("lang_pred")
    )
  }

  /** Language ID: marker-word frequency heuristic with a fixed tie-break
    * order (en > es > de > fr > zh). */
  val x07 = Q("x07_lang_id", Some(langIdSql))(langIdFrame)

  /** Document fingerprinting: MD5 content hash (identical hex in both
    * engines) + the portable polynomial hash as a 62-bit integer id. */
  val x08 = Q(
    "x08_doc_fingerprint",
    Some(
      "SELECT doc_id, md5(text) AS content_md5, " +
        "substr(md5(text), 1, 16) AS fp16, " +
        s"CAST(${duckPolyHash("text")} AS BIGINT) AS poly_fp FROM documents"
    )
  ) { t =>
    t.documents.select(
      col("doc_id"),
      graft.functions.Text.md5Fingerprint("text").as("content_md5"),
      substring(graft.functions.Text.md5Fingerprint("text"), 1, 16).as("fp16"),
      graft.functions.Text.polyFingerprint("text").as("poly_fp")
    )
  }

  // ---- similarity search ----------------------------------------------

  private val duckNorms: String =
    "norms AS (SELECT vec_id, embedding, " +
      s"sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings)"

  /** Exact ANN baseline: brute-force cosine top-5 for a query subset.
    * Deterministic (sequential-fold dot products, unique tiebreak). At
    * scale the query side stays small/broadcast; the corpus side scans. */
  val x09 = Q(
    "x09_ann_bruteforce_topk",
    Some(
      s"WITH $duckNorms, " +
        "sims AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        s"${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine " +
        "FROM norms a JOIN norms b ON a.vec_id < 10 AND a.vec_id <> b.vec_id) " +
        "SELECT query_id, neighbor_id, cosine FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cosine DESC, neighbor_id) AS rn FROM sims) WHERE rn <= 5"
    )
  ) { t =>
    Dedup.annTopK(t.embeddings, "vec_id", "embedding", col("query_id") < 10, k = 5)
  }

  /** Hyperplane-LSH bucketing (8 deterministic arithmetic hyperplanes →
    * 8-bit bucket): the scale path — candidate generation becomes an
    * equi-join on bucket instead of an all-pairs comparison. */
  private def duckLshDot(j: Int): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(0, 64), " +
      s"i -> CAST(embedding[i + 1] AS DOUBLE) * " +
      s"(CAST((($j * 64 + i) * 2654435761) % 2147483647 AS DOUBLE) / 2147483647.0 - 0.5))), " +
      "(a, x) -> a + x)"

  val x10 = Q(
    "x10_ann_lsh_buckets",
    Some {
      val bits = (0 until 8).map { j =>
        s"(CASE WHEN ${duckLshDot(j)} >= 0 THEN ${1 << j} ELSE 0 END)"
      }.mkString(" + ")
      s"SELECT vec_id, label, CAST($bits AS BIGINT) AS bucket FROM embeddings"
    }
  ) { t =>
    Dedup.lshBuckets(t.embeddings, "vec_id", "embedding")
      .select("vec_id", "label", "bucket")
  }

  /** Embedding near-dup pairs: exact cosine over ALL pairs above a
    * threshold — the correctness baseline for x10's bucketed candidate
    * generation (at 100 TB you join on bucket first; here the oracle
    * verifies the exact form). */
  val x11 = Q(
    "x11_embedding_neardup",
    Some(
      s"WITH $duckNorms " +
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        s"${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine " +
        "FROM norms a JOIN norms b ON a.vec_id < b.vec_id " +
        s"WHERE ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4"
    )
  ) { t =>
    embNearDupExact(t)
  }

  /** Bucketed embedding near-dup — the composed 100 TB path (banded-LSH
    * candidates → exact cosine on candidates only), oracle-checked: the
    * oracle evaluates the same arithmetic hyperplanes, so both engines
    * produce the identical candidate set and then bit-identical
    * sequential-fold cosines. x11 (all-pairs) is the recall baseline;
    * DedupLibrarySpec pins this query's recall against it. */
  val x34 = Q(
    "x34_embedding_neardup_bucketed",
    Some {
      val bandKeys = (0 until 4).map { k =>
        val bits = (0 until 4).map { p =>
          s"(CASE WHEN ${duckLshDot(k * 4 + p)} >= 0 THEN ${1 << p} ELSE 0 END)"
        }.mkString(" + ")
        s"SELECT vec_id, $k AS band, CAST($bits AS BIGINT) AS band_key FROM embeddings"
      }.mkString(" UNION ALL ")
      s"WITH $duckNorms, " +
        s"keys AS ($bandKeys), " +
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b " +
        "FROM keys a JOIN keys b ON a.band = b.band AND a.band_key = b.band_key " +
        "AND a.vec_id < b.vec_id) " +
        "SELECT vec_a, vec_b, " +
        s"${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine " +
        "FROM cand JOIN norms a ON vec_a = a.vec_id JOIN norms b ON vec_b = b.vec_id " +
        s"WHERE ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4"
    }
  ) { t =>
    Dedup.embeddingNearDupsBucketedFromCandidates(
      t.embeddings, "vec_id", "embedding", threshold = 0.4, embBandCands(t))
  }

  /** MinHash band-join candidate pairs + exact Jaccard verification —
    * completes the x03 signatures into the full LSH dedup pipeline:
    * candidates are an equi-join on any equal band, and only candidates
    * pay the exact-verification cost. Oracle computes the same portable
    * signature arithmetic; recall vs the exact inverted-index join at the
    * same threshold is pinned in DedupLibrarySpec. */
  val x35 = Q(
    "x35_minhash_band_pairs",
    Some {
      val mins = mhA.indices.map { j =>
        s"CAST(MIN((sh_h * ${mhA(j)} + ${mhB(j)}) % $P) AS BIGINT) AS mh$j"
      }.mkString(", ")
      val bandKeys = (0 until 4).map { k =>
        s"SELECT doc_id, $k AS band, " +
          s"CAST((mh${2 * k} * 1000003 + mh${2 * k + 1}) % $P AS BIGINT) AS key FROM sigs"
      }.mkString(" UNION ALL ")
      s"WITH $duckShingleCtes, " +
        s"hashed AS (SELECT doc_id, ${duckPolyHash("sh")} AS sh_h FROM shingles), " +
        s"sigs AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id), " +
        s"keys AS ($bandKeys), " +
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key " +
        "AND a.doc_id < b.doc_id), " +
        "counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY doc_id), " +
        "com AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS common " +
        "FROM cand c JOIN shingles sa ON sa.doc_id = c.doc_a " +
        "JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh " +
        "GROUP BY c.doc_a, c.doc_b) " +
        "SELECT doc_a, doc_b, common, " +
        "CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard " +
        "FROM com JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id " +
        "WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5"
    }
  ) { t =>
    // the verified-pair projection of the banding family's shared audit
    // frame ([[mhBandAudit]]): identical candidate set and common/jaccard
    // arithmetic; a 0-common candidate can never reach jaccard 0.5
    mhBandAudit(t).filter(col("jaccard") >= 0.5)
      .select("doc_a", "doc_b", "common", "jaccard")
  }

  /** Context-window packing stats — the concatenate-and-chunk batching
    * step of a pretraining pipeline: documents are concatenated per
    * source shard in doc_id order and sliced into fixed 2048-token
    * windows; each document is attributed to the window its first token
    * lands in, and per-(shard, window) stats (documents begun, tokens
    * contributed) are what a batch planner needs to size shards. The
    * running sum is PARTITIONED by source — every shard packs
    * independently, so no global sort exists at any scale; doc_id is the
    * total-order tiebreak within a shard. */
  val x37 = Q(
    "x37_sequence_packing",
    Some(
      "WITH toks AS (SELECT source, doc_id, " +
        "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "cum AS (SELECT source, doc_id, n_tokens, " +
        "SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum_tokens FROM toks) " +
        "SELECT source, CAST(FLOOR((cum_tokens - n_tokens) / 2048.0) AS BIGINT) AS window_id, " +
        s"$sqlCount AS docs_begun, CAST(SUM(n_tokens) AS BIGINT) AS tokens " +
        "FROM cum GROUP BY source, window_id"
    )
  ) { t =>
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    t.documents
      .select(col("source"), col("doc_id"),
        graft.functions.Text.tokenCount("text").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .withColumn("window_id",
        floor((col("cum_tokens") - col("n_tokens")) / lit(2048.0)).cast("long"))
      .groupBy(col("source"), col("window_id"))
      .agg(count(lit(1)).as("docs_begun"), sum(col("n_tokens")).as("tokens"))
  }

  /** IVF probe search, oracle-checked end to end: deterministic centroids
    * (first 16 vectors), nearest-centroid cell assignment, queries routed
    * to their 2 nearest cells, exact cosine scoring only within probed
    * cells, top-5 per query. Work ∝ corpus/k × nprobe instead of the full
    * corpus — the search half of the IVF scale path (IvfSpec pins recall
    * vs x09's exact top-k; this query pins cross-engine exactness of the
    * index+probe mechanics). */
  val x39 = Q(
    "x39_ivf_probe_search",
    Some {
      def cos(a: String, an: String, b: String, bn: String) =
        s"${duckDot(a, b)} / ($an * $bn)"
      s"WITH $duckNorms, " +
        "cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn " +
        "FROM norms WHERE vec_id < 16), " +
        "assigned AS (SELECT vec_id, embedding, nrm, cell FROM (" +
        "SELECT n.vec_id, n.embedding, n.nrm, c.cent_id AS cell, " +
        s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
        s"${cos("n.embedding", "n.nrm", "c.ce", "c.cn")} DESC, c.cent_id) AS rn " +
        "FROM norms n CROSS JOIN cents c) WHERE rn = 1), " +
        "probed AS (SELECT query_id, qe, qn, cell FROM (" +
        "SELECT q.vec_id AS query_id, q.embedding AS qe, q.nrm AS qn, c.cent_id AS cell, " +
        s"row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        s"${cos("q.embedding", "q.nrm", "c.ce", "c.cn")} DESC, c.cent_id) AS rn " +
        "FROM norms q CROSS JOIN cents c WHERE q.vec_id < 10) WHERE rn <= 2) " +
        "SELECT query_id, neighbor_id, cosine FROM (" +
        "SELECT p.query_id, a.vec_id AS neighbor_id, " +
        s"${cos("p.qe", "p.qn", "a.embedding", "a.nrm")} AS cosine, " +
        s"row_number() OVER (PARTITION BY p.query_id ORDER BY " +
        s"${cos("p.qe", "p.qn", "a.embedding", "a.nrm")} DESC, a.vec_id) AS rn " +
        "FROM probed p JOIN assigned a ON p.cell = a.cell AND p.query_id <> a.vec_id" +
        ") WHERE rn <= 5"
    }
  ) { t =>
    Dedup.ivfSearch(t.embeddings, "vec_id", "embedding",
      col("query_id") < 10, k = 16, nprobe = 2, topK = 5,
      flatIndex = Some(ivfFlatIndex(t, 16)))
  }

  /** x39's IVF probe search after ONE Lloyd refinement round (centroids
    * recomputed as per-cell means before the final assignment): on
    * clustered (non-uniform) embedding distributions the refined
    * centroids track the density modes, which is what makes probe recall
    * robust where first-k seeds would under-cover. Oracle-checked end to
    * end: the cell mean runs on 1e-6-FLOOR-QUANTIZED components (⌊v·10⁶⌋
    * exact long sums + one fixed-order double divide — see
    * Dedup.ivfIndex), so the refined centroids are bit-identical on any
    * engine and partitioning and the DuckDB twin below replays the whole
    * assign → quantized mean → reassign → probe pipeline hash-exactly.
    * IvfSpec pins the refinement contract (assignment still total,
    * exhaustive probe still exact, refined recall vs seeds). */
  val x53 = Q(
    "x53_ivf_lloyd_probe",
    Some {
      def cos(a: String, an: String, b: String, bn: String) =
        s"${duckDot(a, b)} / ($an * $bn)"
      s"WITH $duckNorms, " +
        "cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn " +
        "FROM norms WHERE vec_id < 16), " +
        "l0 AS (SELECT vec_id, embedding, cell FROM (" +
        "SELECT n.vec_id, n.embedding, c.cent_id AS cell, " +
        s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
        s"${cos("n.embedding", "n.nrm", "c.ce", "c.cn")} DESC, c.cent_id) AS rn " +
        "FROM norms n CROSS JOIN cents c) WHERE rn = 1), " +
        "ldim AS (SELECT cell, i, " +
        "CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS q " +
        "FROM l0 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) p), " +
        "lmean AS (SELECT cell, i, CAST(SUM(q) AS DOUBLE) / " +
        "(CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mv FROM ldim GROUP BY cell, i), " +
        "rcents AS (SELECT cent_id, ce, " +
        s"sqrt(${duckDot("ce", "ce")}) AS cn FROM (" +
        "SELECT cell AS cent_id, list(CAST(mv AS FLOAT) ORDER BY i) AS ce " +
        "FROM lmean GROUP BY cell)), " +
        "assigned AS (SELECT vec_id, embedding, nrm, cell FROM (" +
        "SELECT n.vec_id, n.embedding, n.nrm, c.cent_id AS cell, " +
        s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
        s"${cos("n.embedding", "n.nrm", "c.ce", "c.cn")} DESC, c.cent_id) AS rn " +
        "FROM norms n CROSS JOIN rcents c) WHERE rn = 1), " +
        "probed AS (SELECT query_id, qe, qn, cell FROM (" +
        "SELECT q.vec_id AS query_id, q.embedding AS qe, q.nrm AS qn, c.cent_id AS cell, " +
        s"row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        s"${cos("q.embedding", "q.nrm", "c.ce", "c.cn")} DESC, c.cent_id) AS rn " +
        "FROM norms q CROSS JOIN rcents c WHERE q.vec_id < 10) WHERE rn <= 2) " +
        "SELECT query_id, neighbor_id, cosine FROM (" +
        "SELECT p.query_id, a.vec_id AS neighbor_id, " +
        s"${cos("p.qe", "p.qn", "a.embedding", "a.nrm")} AS cosine, " +
        s"row_number() OVER (PARTITION BY p.query_id ORDER BY " +
        s"${cos("p.qe", "p.qn", "a.embedding", "a.nrm")} DESC, a.vec_id) AS rn " +
        "FROM probed p JOIN assigned a ON p.cell = a.cell AND p.query_id <> a.vec_id" +
        ") WHERE rn <= 5"
    }
  ) { t =>
    Dedup.ivfSearch(t.embeddings, "vec_id", "embedding",
      col("query_id") < 10, k = 16, nprobe = 2, topK = 5, lloydIters = 1)
  }

  /** Directional containment near-dup pairs — |S(inner) ∩ S(outer)| /
    * |S(inner)| over distinct 3-word shingles: flags documents that are
    * near-SUBSETS of another (quoted snippets, truncated copies,
    * aggregate pages), which symmetric Jaccard (x02) misses whenever the
    * outer doc is much longer. Same inverted-index self-join shape as
    * x02 — never all-pairs — and both directions are emitted because the
    * measure is asymmetric. */
  val x54 = Q(
    "x54_containment_pairs",
    Some(
      s"WITH $duckShingleCtes, " +
        "counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY doc_id), " +
        "prs AS (SELECT a.doc_id AS doc_inner, b.doc_id AS doc_outer, " +
        s"$sqlCount AS common FROM shingles a JOIN shingles b " +
        "ON a.sh = b.sh AND a.doc_id <> b.doc_id GROUP BY 1, 2) " +
        "SELECT doc_inner, doc_outer, common, " +
        "CAST(common AS DOUBLE) / ca.n AS containment " +
        "FROM prs JOIN counts ca ON doc_inner = ca.doc_id " +
        "WHERE CAST(common AS DOUBLE) / ca.n >= 0.6"
    )
  ) { t =>
    Dedup.containmentPairs(t.documents, "doc_id", "text", threshold = 0.6)
  }

  /** Per-document n-gram novelty vs the earlier corpus (doc_id order
    * standing in for ingest order): the fraction of a doc's distinct
    * 8-word-gram hashes whose FIRST corpus occurrence is this doc — the
    * "how much new text does this crawl snapshot actually add" signal
    * that decides whether a source is worth re-ingesting. One groupBy on
    * the 8-byte gram hash (min doc_id per gram), one keyed join back,
    * one per-doc aggregate — no self-join, shuffle keys never carry gram
    * text. Docs shorter than 8 words carry no grams and drop out (both
    * engines agree). */
  val x55 = Q(
    "x55_ngram_novelty",
    Some(
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        s"g AS (SELECT DISTINCT doc_id, ${duckPolyHash("gm")} AS h FROM (" +
        "SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), " +
        "i -> array_to_string(w[i:i+7], ' '))) AS gm FROM w) t), " +
        "f AS (SELECT h, MIN(doc_id) AS first_doc FROM g GROUP BY h) " +
        s"SELECT g.doc_id, $sqlCount AS n_grams, " +
        "CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel, " +
        "CAST(SUM(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) " +
        "AS novelty FROM g JOIN f USING (h) GROUP BY g.doc_id"
    )
  ) { t => Corpus.ngramNovelty(t.documents, "doc_id", "text") }

  /** Priority-aware canonical selection inside near-dup clusters: real
    * pipelines don't keep an arbitrary min-id copy — they keep the copy
    * from the most trusted SOURCE (Wikipedia over CommonCrawl), id only
    * as tiebreak. Clusters come from the same guarded
    * connectedComponents as x33 (threshold 0.5); the keeper per cluster
    * is row_number()=1 ordered by (source asc, doc_id asc) — a window
    * partitioned by cluster root, so partitions are cluster-sized, never
    * global. Domain = clustered docs only (singletons trivially keep
    * themselves). */
  val x56 = Q(
    "x56_priority_canonical",
    Some(
      s"WITH RECURSIVE $duckShingleCtes, " +
        "counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY doc_id), " +
        "prs AS (SELECT doc_a, doc_b FROM " +
        "(SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common " +
        "FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
        "GROUP BY a.doc_id, b.doc_id) p " +
        "JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id " +
        "WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5), " +
        "edges AS (SELECT doc_a AS u, doc_b AS v FROM prs " +
        "UNION SELECT doc_b, doc_a FROM prs), " +
        "reach(u, v) AS (SELECT u, v FROM edges " +
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
        "cl AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_root FROM reach GROUP BY u), " +
        "j AS (SELECT cl.doc_id, cl.cluster_root, d.source FROM cl " +
        "JOIN documents d ON cl.doc_id = d.doc_id), " +
        "r AS (SELECT doc_id, cluster_root, " +
        "ROW_NUMBER() OVER (PARTITION BY cluster_root ORDER BY source ASC, doc_id ASC) AS rn FROM j) " +
        "SELECT j.doc_id, j.cluster_root, j.source, c.doc_id AS canonical_id, " +
        "(j.doc_id = c.doc_id) AS is_kept FROM j " +
        "JOIN (SELECT cluster_root, doc_id FROM r WHERE rn = 1) c USING (cluster_root)"
    )
  ) { t =>
    val pairs = nearDupPairs(t)
    val labels = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .select(col("node").as("doc_id"), col("cluster_root"))
    Dedup.canonicalByPriority(
      labels, t.documents.select(col("doc_id"), col("source")), "doc_id",
      Seq(col("source").asc, col("doc_id").asc))
      .select("doc_id", "cluster_root", "source", "canonical_id", "is_kept")
  }

  /** Int8 embedding quantization report — per-vector symmetric absmax
    * quantization (scale = max|x| / 127, q = clamp(floor(x/scale + .5)))
    * with saturation count and max reconstruction error: the storage
    * decision every 100 TB embedding corpus makes (4 bytes → 1 byte)
    * needs exactly this error audit first. Pure per-row projection —
    * ZERO shuffles at any scale. Every fold is either order-insensitive
    * (max) or element-order sequential, and all arithmetic is IEEE
    * double ops on identical operands, so DuckDB reproduces it bit-for-
    * bit. */
  val x57 = Q(
    "x57_embedding_quantize",
    Some(
      "WITH m AS (SELECT vec_id, embedding, " +
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))), " +
        "(a, b) -> greatest(a, b)) AS max_abs FROM embeddings), " +
        "s AS (SELECT vec_id, embedding, max_abs, " +
        "CASE WHEN max_abs = 0 THEN CAST(1 AS DOUBLE) ELSE max_abs / 127.0 END AS scale FROM m) " +
        "SELECT vec_id, max_abs, scale, " +
        "CAST(len(list_filter(embedding, x -> " +
        "abs(least(CAST(127 AS DOUBLE), greatest(CAST(-127 AS DOUBLE), " +
        "floor(CAST(x AS DOUBLE) / scale + 0.5)))) = 127.0)) AS BIGINT) AS n_sat, " +
        "list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(embedding, x -> " +
        "abs(CAST(x AS DOUBLE) - least(CAST(127 AS DOUBLE), greatest(CAST(-127 AS DOUBLE), " +
        "floor(CAST(x AS DOUBLE) / scale + 0.5))) * scale))), " +
        "(a, b) -> greatest(a, b)) AS max_err FROM s"
    )
  ) { t =>
    t.embeddings
      .select(col("vec_id"), col("embedding"),
        expr("aggregate(embedding, CAST(0 AS DOUBLE), " +
          "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))").as("max_abs"))
      .withColumn("scale",
        when(col("max_abs") === 0d, lit(1d)).otherwise(col("max_abs") / 127d))
      .select(col("vec_id"), col("max_abs"), col("scale"),
        expr("CAST(size(filter(embedding, x -> " +
          "abs(least(CAST(127 AS DOUBLE), greatest(CAST(-127 AS DOUBLE), " +
          "floor(CAST(x AS DOUBLE) / scale + 0.5)))) = 127.0D)) AS BIGINT)").as("n_sat"),
        expr("aggregate(embedding, CAST(0 AS DOUBLE), (acc, x) -> " +
          "greatest(acc, abs(CAST(x AS DOUBLE) - least(CAST(127 AS DOUBLE), " +
          "greatest(CAST(-127 AS DOUBLE), floor(CAST(x AS DOUBLE) / scale + 0.5))) * scale)))")
          .as("max_err"))
  }

  /** Per-label centroid coherence profile (x58) — "are these semantic
    * labels actually coherent clusters": per-dimension LOWER-MEDIAN
    * centroid (a rank statistic — every component is a real data value,
    * so the result is bit-reproducible at any parallelism, unlike a
    * float mean), then per label the member count, worst (min) and
    * lower-median cosine-to-centroid. Shuffles: one (label, dim)
    * explode for the medians, a labels-sized broadcast back, one
    * label-partitioned window — no all-pairs anywhere. */
  val x58 = Q(
    "x58_label_centroid_cosine",
    Some(
      "WITH ex AS (SELECT label, vec_id AS vid, i - 1 AS dim, embedding[i] AS v " +
        "FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) t), " +
        "rk AS (SELECT label, dim, v, vid, " +
        "ROW_NUMBER() OVER (PARTITION BY label, dim ORDER BY v, vid) AS rn, " +
        "COUNT(*) OVER (PARTITION BY label, dim) AS n FROM ex), " +
        "med AS (SELECT label, dim, v FROM rk WHERE rn = CAST(floor((n + 1) / 2) AS BIGINT)), " +
        "cent AS (SELECT label, list(v ORDER BY dim) AS centroid FROM med GROUP BY label), " +
        "sc AS (SELECT e.label, e.vec_id AS vid, " +
        s"${duckDot("e.embedding", "c.centroid")} / " +
        s"(sqrt(${duckDot("e.embedding", "e.embedding")}) * " +
        s"sqrt(${duckDot("c.centroid", "c.centroid")})) AS cos_centroid " +
        "FROM embeddings e JOIN cent c ON e.label = c.label), " +
        "r2 AS (SELECT label, vid, cos_centroid, " +
        "ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos_centroid, vid) AS rn, " +
        "COUNT(*) OVER (PARTITION BY label) AS n_vecs, " +
        "MIN(cos_centroid) OVER (PARTITION BY label) AS min_cos FROM sc) " +
        "SELECT label, n_vecs, min_cos, cos_centroid AS median_cos FROM r2 " +
        "WHERE rn = CAST(floor((n_vecs + 1) / 2) AS BIGINT)"
    )
  ) { t =>
    Dedup.labelCentroidProfile(t.embeddings, "vec_id", "embedding", "label")
  }

  /** Semantic (embedding-space) clusters via mutual-kNN + connected
    * components (x59) — near-dup clustering where similarity is cosine
    * instead of n-gram overlap: an edge exists only when BOTH endpoints
    * rank each other in their cosine top-3 (mutuality kills hub
    * absorption), then the guarded min-label propagation of x33 labels
    * each clustered vector with its min reachable id. Exact top-k here
    * is the oracle baseline; the 100 TB path swaps in IVF/LSH candidate
    * generation for the same mutuality + clustering tail. Domain =
    * clustered vectors (singletons keep themselves trivially). */
  val x59 = Q(
    "x59_semantic_clusters",
    Some(
      s"WITH RECURSIVE $duckNorms, " +
        "sims AS (SELECT a.vec_id AS qa, b.vec_id AS qb, " +
        s"${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine " +
        "FROM norms a JOIN norms b ON a.vec_id <> b.vec_id), " +
        "tk AS (SELECT qa, qb FROM (SELECT qa, qb, " +
        "ROW_NUMBER() OVER (PARTITION BY qa ORDER BY cosine DESC, qb) AS rn " +
        "FROM sims) s WHERE rn <= 3), " +
        "mut AS (SELECT t.qa AS u, t.qb AS v FROM tk t " +
        "JOIN tk r ON t.qa = r.qb AND t.qb = r.qa WHERE t.qa < t.qb), " +
        "edges AS (SELECT u, v FROM mut UNION SELECT v, u FROM mut), " +
        "reach(u, v) AS (SELECT u, v FROM edges " +
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
        "cl AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_root FROM reach GROUP BY u) " +
        "SELECT vec_id, cluster_root, " +
        "CAST(COUNT(*) OVER (PARTITION BY cluster_root) AS BIGINT) AS cluster_size FROM cl"
    )
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    // top-3 lists = the rank-3 prefix of the session's exact top-5
    // registry under the same (cosine desc, neighbor asc) order — the
    // n² similarity pass is paid once per session, not per query
    val top3 = Ranks.topKPerGroup(exactTopK5(t), Seq("query_id"),
      Seq(("cosine", false), ("neighbor_id", true)), 3)
      .select("query_id", "neighbor_id")
    val edges = Dedup.mutualEdgesFromTopK(top3)
    // mutual-NN chains run long (each hop is someone's nearest neighbor),
    // so the diameter routinely exceeds the near-dup default of 20; rounds
    // past convergence cost nothing (the loop exits as soon as labels are
    // stable, on a coalesced graph each round is a handful of tasks)
    val cc = Dedup.connectedComponents(edges, "u", "v", maxIter = 256)
    val out = cc
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_root"))))
      .select(col("node").as("vec_id"), col("cluster_root"), col("cluster_size"))
    out
  }

  /** Temperature-0.5 source mixture schedule (x60) — √count weights and
    * per-doc sampling boosts per source: the multi-domain rebalancing
    * step between curation and batch assembly. The Σ√n total is a
    * sequential fold over the domain-sized source list (deterministic at
    * any parallelism), never a partition-order double sum. */
  val x60 = Q(
    "x60_mixture_temperature",
    Some(
      "WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "sqrt(CAST(COUNT(*) AS DOUBLE)) AS w_raw FROM documents GROUP BY source), " +
        "t AS (SELECT list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
        "list(w_raw ORDER BY source)), (a, b) -> a + b) AS total_w, " +
        "CAST(SUM(n_docs) AS BIGINT) AS total_docs FROM c) " +
        "SELECT source, n_docs, w_raw / total_w AS weight, " +
        "w_raw / total_w * CAST(total_docs AS DOUBLE) / CAST(n_docs AS DOUBLE) AS boost " +
        "FROM c CROSS JOIN t"
    )
  ) { t => Corpus.temperatureMixture(t.documents, "source") }

  /** MinHash estimator calibration audit (x61) — every banded candidate
    * pair with its signature-estimated Jaccard (agreeing components / 8)
    * beside the exact shingle Jaccard and the absolute error: the
    * readout that says whether this signature budget can skip exact
    * verification at scale. Pure-collision candidates (no shared
    * shingle) surface with exact Jaccard 0 — the estimator's worst case
    * is the point of the audit. */
  val x61 = Q(
    "x61_minhash_estimate_audit",
    Some {
      val mins = mhA.indices.map { j =>
        s"CAST(MIN((sh_h * ${mhA(j)} + ${mhB(j)}) % $P) AS BIGINT) AS mh$j"
      }.mkString(", ")
      val bandKeys = (0 until 4).map { k =>
        s"SELECT doc_id, $k AS band, " +
          s"CAST((mh${2 * k} * 1000003 + mh${2 * k + 1}) % $P AS BIGINT) AS key FROM sigs"
      }.mkString(" UNION ALL ")
      val agree = mhA.indices
        .map(j => s"(CASE WHEN sa.mh$j = sb.mh$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"WITH $duckShingleCtes, " +
        s"hashed AS (SELECT doc_id, ${duckPolyHash("sh")} AS sh_h FROM shingles), " +
        s"sigs AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id), " +
        s"keys AS ($bandKeys), " +
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key " +
        "AND a.doc_id < b.doc_id), " +
        "counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY doc_id), " +
        "com AS (SELECT c.doc_a, c.doc_b, CAST(COUNT(*) AS BIGINT) AS common " +
        "FROM cand c JOIN shingles sa ON sa.doc_id = c.doc_a " +
        "JOIN shingles sb ON sb.doc_id = c.doc_b AND sb.sh = sa.sh " +
        "GROUP BY c.doc_a, c.doc_b) " +
        s"SELECT c.doc_a, c.doc_b, CAST($agree AS BIGINT) AS n_agree, " +
        s"CAST($agree AS DOUBLE) / 8 AS est_jaccard, " +
        "COALESCE(com.common, 0) AS common, " +
        "CAST(COALESCE(com.common, 0) AS DOUBLE) / " +
        "(ca.n + cb.n - COALESCE(com.common, 0)) AS jaccard, " +
        s"abs(CAST($agree AS DOUBLE) / 8 - CAST(COALESCE(com.common, 0) AS DOUBLE) / " +
        "(ca.n + cb.n - COALESCE(com.common, 0))) AS abs_err " +
        "FROM cand c " +
        "JOIN counts ca ON c.doc_a = ca.doc_id " +
        "JOIN counts cb ON c.doc_b = cb.doc_id " +
        "JOIN sigs sa ON c.doc_a = sa.doc_id " +
        "JOIN sigs sb ON c.doc_b = sb.doc_id " +
        "LEFT JOIN com ON c.doc_a = com.doc_a AND c.doc_b = com.doc_b"
    }
  ) { t =>
    mhBandAudit(t)
  }

  /** Benchmark decontamination — the eval-overlap gate every training
    * corpus runs before release (filter documents sharing long n-grams
    * with a held-out benchmark): a deterministic ~1% of docs stands in
    * for the benchmark (`doc_id % 97 = 0`), both sides reduce to DISTINCT
    * per-doc 8-word-gram hashes (the shuffle carries 8-byte keys, never
    * gram text), and each training doc reports its gram count, hits
    * against the benchmark set, hit fraction, and a contaminated flag.
    * At 100 TB the benchmark set stays eval-sized → broadcast the hash
    * set; corpus side is one explode + one per-doc aggregate, no
    * self-join. Docs shorter than 8 words carry no n-gram evidence and
    * drop out (both engines agree). */
  val x40 = Q(
    "x40_benchmark_decontamination",
    Some {
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        s"g AS (SELECT DISTINCT doc_id, ${duckPolyHash("gm")} AS h FROM (" +
        "SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), " +
        "i -> array_to_string(w[i:i+7], ' '))) AS gm FROM w) t), " +
        "bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0), " +
        "train AS (SELECT doc_id, h FROM g WHERE doc_id % 97 <> 0) " +
        "SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, " +
        "CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits, " +
        "CAST(SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS hit_frac, " +
        "SUM(CASE WHEN b.h IS NOT NULL THEN 1 ELSE 0 END) > 0 AS contaminated " +
        "FROM train t LEFT JOIN bench b ON t.h = b.h GROUP BY t.doc_id"
    }
  ) { t =>
    val grams = Corpus.gramHashes(t.documents, "doc_id", "text")
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .select(col("h")).distinct().withColumn("hit", lit(1))
    grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("h"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"), countIf(col("hit").isNotNull).as("n_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_grams")).as("hit_frac"),
        (col("n_hits") > 0).as("contaminated"))
  }

  /** Tokenizer-vocabulary coverage — build the top-K word vocabulary
    * (count desc, word asc tiebreak — fully deterministic) and report
    * each document's token count, out-of-vocabulary token count, and OOV
    * rate: the coverage check run before committing to a tokenizer vocab.
    * K=16 here because the synthetic corpus has only 31 distinct words;
    * the plan is K-invariant. At scale: word frequency is one map-side-
    * combined shuffle, the vocab is top-K bounded (TakeOrdered — never a
    * global sort), and the per-doc pass joins against the broadcast
    * vocab — corpus is touched exactly twice, no self-join. */
  val x41 = Q(
    "x41_vocab_oov_rate",
    Some {
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), " +
        "vocab AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM tok GROUP BY w " +
        "ORDER BY c DESC, w LIMIT 16)) " +
        "SELECT t.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov, " +
        "CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_rate " +
        "FROM tok t LEFT JOIN vocab v ON t.w = v.w GROUP BY t.doc_id"
    }
  ) { t =>
    val tok = t.documents
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val vocab = tok.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(16)
      .select(col("w")).withColumn("in_vocab", lit(1))
    tok.join(broadcast(vocab), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"), countIf(col("in_vocab").isNull).as("n_oov"))
      .select(col("doc_id"), col("n_tokens"), col("n_oov"),
        (col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
  }

  /** Temperature-scaled mixture resampling — reshape the per-language
    * corpus mix toward count^α (α = 0.5: upsample tail languages, the
    * standard multilingual-mixing move): per-language accept probability
    * sqrt(n_min / n_lang) keeps the rarest language whole and thins the
    * head toward √-proportional shares; the accept draw is the explicit
    * LCG on doc_id, so the sample is identical on any cluster layout.
    * Distinct from x27 (fixed-size per-stratum top-k): this is
    * rate-based, sized by the observed distribution. The draw is TWO
    * Lehmer steps on seed doc_id+1 — one step is still linear below the
    * modulus (small ids all land near 0 and nothing gets rejected), and
    * seed 0 is the Lehmer fixpoint. Cross-engine exactness: n_min/n is
    * one exact int→double division, sqrt is IEEE-correctly-rounded in
    * both engines, and the LCG compare is integer-exact. Plan: tiny
    * per-category frame (aggregate → broadcast scalar n_min → broadcast
    * join), corpus touched once, no sort. */
  val x42 = Q(
    "x42_mixture_resample",
    Some {
      "WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang), " +
        "m AS (SELECT MIN(n) AS nmin FROM c), " +
        "a AS (SELECT lang, sqrt(CAST(nmin AS DOUBLE) / n) AS accept_prob FROM c, m) " +
        "SELECT d.doc_id, d.lang, a.accept_prob FROM documents d " +
        "JOIN a ON d.lang = a.lang " +
        "WHERE CAST((((d.doc_id + 1) * 48271) % 2147483647 * 48271) % 2147483647 AS DOUBLE) " +
        "/ 2147483647 < a.accept_prob"
    }
  ) { t =>
    val counts = t.documents.groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val nmin = counts.agg(min(col("n")).as("nmin"))
    val accept = counts.crossJoin(broadcast(nmin))
      .select(col("lang"), sqrt(col("nmin").cast("double") / col("n")).as("accept_prob"))
    val draw = (((col("doc_id") + 1) * 48271) % 2147483647L * 48271) % 2147483647L
    t.documents
      .join(broadcast(accept), Seq("lang"))
      .filter(draw.cast("double") / 2147483647L < col("accept_prob"))
      .select(col("doc_id"), col("lang"), col("accept_prob"))
  }

  /** Content-hash train/val/test split — the standard deterministic
    * 98/1/1 assignment, keyed on the CONTENT hash rather than doc_id so
    * byte-identical documents land in the same split whatever their ids
    * or crawl batch (the property that prevents train/test leakage
    * through duplicates; CurationSpec pins it synthetically). Pure
    * map-side: no shuffle, no state, reproducible at any parallelism. */
  val x43 = Q(
    "x43_content_hash_split",
    Some {
      s"SELECT doc_id, bucket, CASE WHEN bucket < 98 THEN 'train' " +
        "WHEN bucket < 99 THEN 'val' ELSE 'test' END AS split_name " +
        s"FROM (SELECT doc_id, ${duckPolyHash("text")} % 100 AS bucket FROM documents) t"
    }
  ) { t =>
    t.documents
      .select(col("doc_id"), expr("poly_hash(text) % 100").as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 98, "train")
          .when(col("bucket") < 99, "val")
          .otherwise("test").as("split_name"))
  }

  /** Incremental-batch dedup — dedups a NEW crawl batch (`doc_id % 10 =
    * 7` stands in for the incoming batch) against the EXISTING corpus:
    * per new doc, `exact_dup` on verbatim content match, `near_dup` on
    * MinHash-band candidates verified at ≥0.5 shingle Jaccard against
    * existing docs only, else `unique`. The scale shape is the point:
    * the new batch broadcasts, the corpus never self-joins (see
    * [[Dedup.incrementalDedup]]). */
  val x44 = Q(
    "x44_incremental_dedup",
    Some {
      val mins = mhA.indices.map { j =>
        s"CAST(MIN((sh_h * ${mhA(j)} + ${mhB(j)}) % $P) AS BIGINT) AS mh$j"
      }.mkString(", ")
      val bandKeys = (0 until 4).map { k =>
        s"SELECT doc_id, $k AS band, " +
          s"CAST((mh${2 * k} * 1000003 + mh${2 * k + 1}) % $P AS BIGINT) AS key FROM sigs"
      }.mkString(" UNION ALL ")
      s"WITH $duckShingleCtes, " +
        s"hashed AS (SELECT doc_id, ${duckPolyHash("sh")} AS sh_h FROM shingles), " +
        s"sigs AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id), " +
        s"keys AS ($bandKeys), " +
        "newk AS (SELECT doc_id AS new_id, band, key FROM keys WHERE doc_id % 10 = 7), " +
        "extk AS (SELECT doc_id AS ext_id, band, key FROM keys WHERE doc_id % 10 <> 7), " +
        "cand AS (SELECT DISTINCT new_id, ext_id FROM newk JOIN extk USING (band, key)), " +
        "counts AS (SELECT doc_id, COUNT(*) AS n FROM shingles GROUP BY doc_id), " +
        "com AS (SELECT c.new_id, c.ext_id, COUNT(*) AS common FROM cand c " +
        "JOIN shingles sa ON sa.doc_id = c.new_id " +
        "JOIN shingles sb ON sb.doc_id = c.ext_id AND sb.sh = sa.sh " +
        "GROUP BY c.new_id, c.ext_id), " +
        "near AS (SELECT new_id, CAST(COUNT(*) AS BIGINT) AS n_near FROM com " +
        "JOIN counts ca ON new_id = ca.doc_id JOIN counts cb ON ext_id = cb.doc_id " +
        "WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5 GROUP BY new_id), " +
        "ex AS (SELECT DISTINCT n.doc_id FROM documents n " +
        "JOIN documents e ON n.text = e.text AND e.doc_id % 10 <> 7 WHERE n.doc_id % 10 = 7) " +
        "SELECT d.doc_id, (ex.doc_id IS NOT NULL) AS is_exact_dup, " +
        "COALESCE(near.n_near, 0) AS n_near, " +
        "CASE WHEN ex.doc_id IS NOT NULL THEN 'exact_dup' " +
        "WHEN COALESCE(near.n_near, 0) > 0 THEN 'near_dup' ELSE 'unique' END AS verdict " +
        "FROM documents d LEFT JOIN ex ON d.doc_id = ex.doc_id " +
        "LEFT JOIN near ON d.doc_id = near.new_id WHERE d.doc_id % 10 = 7"
    }
  ) { t =>
    // near side served from the banding family's shared audit registry
    // ([[mhBandAudit]]): x44's banded candidates are exactly the audit's
    // collision pairs restricted to one-new/one-existing endpoints, and
    // the audit's jaccard is the identical COALESCE(common,0) double
    // division, so the >= 0.5 verification filter selects the same
    // pairs. Only the exact-content check (one text-keyed semi-join)
    // and the verdict assembly run per pass.
    val docs = t.documents
    val isNewA = col("doc_a") % 10 === 7
    val isNewB = col("doc_b") % 10 === 7
    val near = mhBandAudit(t)
      .filter((isNewA =!= isNewB) && col("jaccard") >= 0.5)
      .select(when(isNewA, col("doc_a")).otherwise(col("doc_b")).as("new_id"))
      .groupBy(col("new_id")).agg(count(lit(1)).as("n_near"))
    val newIds = docs.filter(col("doc_id") % 10 === 7).select(col("doc_id"))
    val extTexts = docs.filter(col("doc_id") % 10 =!= 7)
      .select(col("text")).distinct()
    val exactHits = docs.join(broadcast(newIds), "doc_id")
      .join(extTexts, Seq("text"), "left_semi")
      .select(col("doc_id").as("__exact_id"))
    newIds
      .join(broadcast(exactHits), col("doc_id") === col("__exact_id"), "left")
      .join(broadcast(near), col("doc_id") === col("new_id"), "left")
      .select(
        col("doc_id"),
        col("__exact_id").isNotNull.as("is_exact_dup"),
        coalesce(col("n_near"), lit(0L)).as("n_near"),
        when(col("__exact_id").isNotNull, "exact_dup")
          .when(coalesce(col("n_near"), lit(0L)) > 0, "near_dup")
          .otherwise("unique").as("verdict"))
  }

  /** Percentile-based length-outlier filter — drop documents whose token
    * count falls outside the corpus's [p5, p95] band (the distribution-
    * relative cousin of Gopher's absolute length rules). Exactness rides
    * on x22's result: interpolated percentiles over INTEGER token counts
    * are one exact-int interpolation, bit-identical to DuckDB's
    * quantile_cont. The bounds are a broadcast 1-row aggregate; the
    * corpus is touched twice (count pass + filter pass), never sorted. */
  val x45 = Q(
    "x45_length_outlier_filter",
    Some {
      "WITH n AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "b AS (SELECT quantile_cont(n_tokens, 0.05) AS lo, " +
        "quantile_cont(n_tokens, 0.95) AS hi FROM n) " +
        "SELECT doc_id, n_tokens, lo, hi, " +
        "(n_tokens >= lo AND n_tokens <= hi) AS keep FROM n, b"
    }
  ) { t =>
    val n = t.documents
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val bounds = n.agg(
      percentile(col("n_tokens"), lit(0.05)).as("lo"),
      percentile(col("n_tokens"), lit(0.95)).as("hi"))
    n.crossJoin(broadcast(bounds))
      .select(col("doc_id"), col("n_tokens"), col("lo"), col("hi"),
        (col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi")).as("keep"))
  }

  /** Collocation extraction — top bigrams by LIFT (observed co-occurrence
    * over independence): lift = n_ab·N / (n_a·n_b), the log-free PMI
    * (identical ranking under any monotone transform — same trick as
    * x26's rational IDF, so the statistic is bit-exact cross-engine:
    * both factors are exact 64-bit products, one correctly-rounded
    * double division). Min support n_ab ≥ 5; top-20 with a lexicographic
    * tiebreak. Unigram counts are vocabulary-sized → broadcast; the
    * result is TakeOrdered-bounded, never a global sort. */
  val x46 = Q(
    "x46_collocation_lift",
    Some {
      "WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bgs AS (SELECT unnest(list_transform(range(1, len(w)), " +
        "i -> w[i] || ' ' || w[i+1])) AS bg FROM wl), " +
        "words AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
        "uni AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM words GROUP BY word), " +
        "nw AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM words), " +
        "ab AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS n_ab FROM bgs GROUP BY bg) " +
        "SELECT bg, n_ab, CAST(n_ab * nn AS DOUBLE) / (ua.n * ub.n) AS lift " +
        "FROM ab JOIN uni ua ON split_part(bg, ' ', 1) = ua.word " +
        "JOIN uni ub ON split_part(bg, ' ', 2) = ub.word CROSS JOIN nw " +
        "WHERE n_ab >= 5 ORDER BY lift DESC, bg LIMIT 20"
    }
  ) { t =>
    val words = t.documents.select(explode(split(col("text"), " ")).as("word"))
    val uni = words.groupBy(col("word")).agg(count(lit(1)).as("n"))
    val nw = words.agg(count(lit(1)).as("nn"))
    val ab = t.documents
      .select(split(col("text"), " ").as("ws"))
      // size(ws) < 2 would make sequence(1, 0) descend to index 0 and
      // crash element_at — guard like x40/x47 (DuckDB's end-exclusive
      // range(1, len(w)) is already safe, so only the Spark side needs it)
      .select(explode(expr(
        "CASE WHEN size(ws) >= 2 THEN transform(sequence(1, size(ws) - 1), " +
          "i -> element_at(ws, i) || ' ' || element_at(ws, i + 1)) " +
          "ELSE array() END")).as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 5)
    ab
      .join(broadcast(uni.select(col("word").as("w1"), col("n").as("na"))),
        expr("split_part(bg, ' ', 1)") === col("w1"))
      .join(broadcast(uni.select(col("word").as("w2"), col("n").as("nb"))),
        expr("split_part(bg, ' ', 2)") === col("w2"))
      .crossJoin(broadcast(nw))
      .select(col("bg"), col("n_ab"),
        ((col("n_ab") * col("nn")).cast("double") / (col("na") * col("nb"))).as("lift"))
      .orderBy(col("lift").desc, col("bg").asc)
      .limit(20)
  }

  /** End-to-end curated-corpus assembly — the flagship composition: the
    * full release gate a training corpus passes, as ONE declarative
    * plan. A document survives iff it (1) is the canonical copy of its
    * content (exact-dedup keeper = min doc_id per text), (2) sits inside
    * the [p5, p95] token-length band, (3) shares no 8-gram with the
    * held-out benchmark slice (and is not itself benchmark), and the
    * survivors get their content-hash train/val/test split. Composes the
    * x40/x43/x45/x01 fragments — each stage keeps its scale shape
    * (broadcast bounds, broadcast benchmark hash set, one corpus
    * aggregate per signal); Catalyst fuses the stages over shared scans
    * rather than running four pipelines. */
  val x47 = Q(
    "x47_curated_corpus",
    Some {
      "WITH n AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "b AS (SELECT quantile_cont(n_tokens, 0.05) AS lo, " +
        "quantile_cont(n_tokens, 0.95) AS hi FROM n), " +
        "keep_len AS (SELECT doc_id FROM n, b WHERE n_tokens >= lo AND n_tokens <= hi), " +
        "w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        s"g AS (SELECT DISTINCT doc_id, ${duckPolyHash("gm")} AS h FROM (" +
        "SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), " +
        "i -> array_to_string(w[i:i+7], ' '))) AS gm FROM w) t), " +
        "bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0), " +
        "contaminated AS (SELECT DISTINCT doc_id FROM g JOIN bench USING (h) " +
        "WHERE doc_id % 97 <> 0), " +
        "keeper AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text) " +
        "SELECT d.doc_id, CASE WHEN bu < 98 THEN 'train' WHEN bu < 99 THEN 'val' " +
        "ELSE 'test' END AS split_name " +
        s"FROM (SELECT doc_id, ${duckPolyHash("text")} % 100 AS bu FROM documents) d " +
        "JOIN keeper k ON d.doc_id = k.doc_id " +
        "JOIN keep_len kl ON d.doc_id = kl.doc_id " +
        "LEFT JOIN contaminated c ON d.doc_id = c.doc_id " +
        "WHERE c.doc_id IS NULL AND d.doc_id % 97 <> 0"
    }
  ) { t =>
    val docs = t.documents
    val n = docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val bounds = n.agg(
      percentile(col("n_tokens"), lit(0.05)).as("lo"),
      percentile(col("n_tokens"), lit(0.95)).as("hi"))
    val keepLen = n.crossJoin(broadcast(bounds))
      .filter(col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi"))
      .select("doc_id")
    val grams = docs
      .select(col("doc_id"), explode(expr("span_hashes(text, 8)")).as("h"))
      .distinct()
    val bench = grams.filter(col("doc_id") % 97 === 0).select("h").distinct()
    val contaminated = grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("h"), "left_semi")
      .select("doc_id").distinct()
    val keeper = docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs
      .select(col("doc_id"), (expr("poly_hash(text)") % 100).as("bu"))
      .filter(col("doc_id") % 97 =!= 0)
      .join(keeper, Seq("doc_id"), "left_semi")
      .join(keepLen, Seq("doc_id"), "left_semi")
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"),
        when(col("bu") < 98, "train").when(col("bu") < 99, "val")
          .otherwise("test").as("split_name"))
  }

  /** Blocked edit-distance fuzzy dedup — the character-level near-dup
    * detector that catches what shingle Jaccard misses (small in-place
    * edits): documents block on their first two words PLUS a geometric
    * length band (see below), pairs inside a block score relative
    * Levenshtein distance, and pairs within 0.3 of the longer length
    * surface. `levenshtein` is an integer in both engines; the relative
    * distance is one exact int division. Three lossless prunes keep the
    * candidate work bounded (the oracle computes the naive first-two-
    * words form — same survivors):
    *  - LENGTH-BAND BLOCKING: a passing pair needs min ≥ 0.7·max, i.e.
    *    the log-ratio of lengths is ≤ ln(1/0.7), so with geometric
    *    bands ⌊ln(nc)/ln(1/0.7)⌋ the endpoints differ by ≤ 1 band —
    *    one side explodes to its 3 neighbor bands and the join key
    *    becomes (first2words, band). The round-8 sf1 scaling run
    *    measured the words-only key at 451 s / exponent ~2 (the block
    *    count is VOCABULARY-bounded, so blocks grow linearly with the
    *    corpus and pairs quadratically); the length band re-bounds
    *    block size by length density and is the difference between
    *    Σ block² over vocab² blocks and over vocab²×bands blocks.
    *  - a length filter (|len_a − len_b| alone already exceeds the
    *    distance bound → the pair can never pass, since lev ≥ the gap),
    *  - Spark's banded `levenshtein(a, b, k)` with k one above the
    *    bound, which computes only the O(n·k) diagonal band and
    *    returns −1 for pairs that can't pass. */
  val x51 = Q(
    "x51_fuzzy_dedup_levenshtein",
    Some {
      "WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents), " +
        "b AS (SELECT doc_id, text, array_to_string(w[1:2], ' ') AS blk, " +
        "len(text) AS nc FROM d) " +
        "SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, " +
        "CAST(levenshtein(a.text, b2.text) AS BIGINT) AS lev, " +
        "CAST(levenshtein(a.text, b2.text) AS DOUBLE) / greatest(a.nc, b2.nc) AS rel_dist " +
        "FROM b a JOIN b b2 ON a.blk = b2.blk AND a.doc_id < b2.doc_id " +
        "WHERE CAST(levenshtein(a.text, b2.text) AS DOUBLE) / greatest(a.nc, b2.nc) <= 0.3"
    }
  ) { t =>
    // the geometric length band + blocking + banded-Levenshtein pass
    // lives in the [[fuzzyPairs]] registry (built once per session);
    // x51 is its uncapped projection
    fuzzyPairs(t).select("doc_a", "doc_b", "lev", "rel_dist")
  }

  /** Leakage-safe train/val/test split — the capstone the dedup pack
    * exists for: content-hash splitting (x43) keeps only EXACT dups
    * together, so near-dup pairs can straddle train and test and leak.
    * Here every document takes the split of its near-dup CLUSTER: pairs
    * at Jaccard ≥ 0.5 → connected components → each member keys the
    * 98/1/1 hash rule on its cluster ROOT id (isolated docs on their own
    * id). The oracle composes x33's recursive-CTE closure with x43's
    * portable hash rule over the root ids — both engines converge to
    * min-reachable-id roots and hash the same digit strings. */
  val x52 = Q(
    "x52_leakage_safe_split",
    Some {
      s"WITH RECURSIVE $duckShingleCtes, " +
        "counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY doc_id), " +
        "prs AS (SELECT doc_a, doc_b FROM " +
        "(SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common " +
        "FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
        "GROUP BY a.doc_id, b.doc_id) p " +
        "JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id " +
        "WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5), " +
        "edges AS (SELECT doc_a AS u, doc_b AS v FROM prs " +
        "UNION SELECT doc_b, doc_a FROM prs), " +
        "reach(u, v) AS (SELECT u, v FROM edges " +
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
        "roots AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS root FROM reach GROUP BY u), " +
        "keyed AS (SELECT d.doc_id, COALESCE(r.root, d.doc_id) AS split_key " +
        "FROM documents d LEFT JOIN roots r ON d.doc_id = r.doc_id) " +
        "SELECT doc_id, split_key, CASE WHEN b < 98 THEN 'train' " +
        "WHEN b < 99 THEN 'val' ELSE 'test' END AS split_name FROM " +
        s"(SELECT doc_id, split_key, ${duckPolyHash("CAST(split_key AS VARCHAR)")} % 100 AS b " +
        "FROM keyed) t"
    }
  ) { t =>
    // the registered pair frame IS the registry entry (threshold 0.5),
    // so the split serves from the session-lifetime pair build like
    // the rest of the near-dup family; Dedup.leakageSafeSplit keeps
    // the self-contained form for external callers
    Dedup.leakageSafeSplitFromPairs(t.documents, "doc_id", nearDupPairs(t))
  }

  /** Chunk-level duplication coverage — the duplicated-substring signal
    * of web-corpus curation (what fraction of a document is made of
    * 16-word chunks that occur elsewhere in the corpus): documents are
    * sliced into fixed 16-word chunks (HOF slice — no shuffle until the
    * aggregate), chunks are counted corpus-wide BY PORTABLE HASH (the
    * shuffle carries an 8-byte key, never chunk text), and each document
    * reports its chunk count, duplicated-chunk count, and duplicated
    * fraction. Thresholding dup_frac is the standard drop rule. */
  val x38 = Q(
    "x38_chunk_dedup_stats",
    Some(
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "ch AS (SELECT doc_id, unnest(list_transform(" +
        "range(0, CAST(ceil(len(w) / 16.0) AS INT)), " +
        "i -> array_to_string(w[i * 16 + 1 : i * 16 + 16], ' '))) AS chunk FROM w), " +
        s"h AS (SELECT doc_id, ${duckPolyHash("chunk")} AS h FROM ch), " +
        "cnt AS (SELECT h, COUNT(*) AS n FROM h GROUP BY h), " +
        "per_doc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks, " +
        "CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks " +
        "FROM h JOIN cnt USING (h) GROUP BY doc_id) " +
        "SELECT doc_id, n_chunks, n_dup_chunks, " +
        "CAST(n_dup_chunks AS DOUBLE) / n_chunks AS dup_frac FROM per_doc"
    )
  ) { t =>
    val chunks = t.documents
      .select(col("doc_id"), expr(
        "posexplode(transform(sequence(0, CAST(ceil(size(split(text, ' ')) / 16.0) AS INT) - 1), " +
          "i -> array_join(slice(split(text, ' '), i * 16 + 1, 16), ' ')))"
      ).as(Seq("pos", "chunk")))
      .select(col("doc_id"), expr("poly_hash(chunk)").as("h"))
    val counts = chunks.groupBy(col("h")).agg(count(lit(1)).as("n"))
    chunks
      .join(counts, "h")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        countIf(col("n") > 1).as("n_dup_chunks")
      )
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        (col("n_dup_chunks").cast("double") / col("n_chunks")).as("dup_frac"))
  }

  /** Quality gate with drop-reason codes (x65) — the decision layer real
    * curation pipelines put on top of raw signals: each document gets
    * explicit boolean reasons (too_short / too_long / repetitive /
    * non-target-language), a reasons BITMASK for compact storage, and
    * the final keep verdict. Reason codes are what make corpus filters
    * auditable — "how many docs died, and why" is one groupBy on
    * `reasons`. Composes the existing signal operators (x24 repetition,
    * x07 language heuristic); one word-explode aggregate + per-row
    * marker arithmetic, no self-joins. */
  val x65 = Q(
    "x65_quality_gate",
    Some {
      val markers = Seq("en" -> "the", "es" -> "el", "de" -> "der", "fr" -> "le", "zh" -> "ha")
      val counts = markers
        .map { case (l, w) => s"CAST(${duckWordCount(w)} AS DOUBLE) AS c_$l" }
        .mkString(", ")
      "WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "ws AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct_words FROM words GROUP BY doc_id), " +
        "lng AS (SELECT doc_id, CASE " +
        "WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_zh THEN 'en' " +
        "WHEN c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es' " +
        "WHEN c_de >= c_fr AND c_de >= c_zh THEN 'de' " +
        "WHEN c_fr >= c_zh THEN 'fr' ELSE 'zh' END AS lang_pred " +
        s"FROM (SELECT doc_id, $counts FROM documents) c), " +
        "f AS (SELECT ws.doc_id, n_words, " +
        "(n_words < 40) AS too_short, (n_words > 400) AS too_long, " +
        "(CAST(n_words - n_distinct_words AS DOUBLE) / n_words > 0.8) AS repetitive, " +
        "(lang_pred <> 'en') AS non_en FROM ws JOIN lng ON ws.doc_id = lng.doc_id) " +
        "SELECT doc_id, n_words, too_short, too_long, repetitive, non_en, " +
        "CAST((CASE WHEN too_short THEN 1 ELSE 0 END) + (CASE WHEN too_long THEN 2 ELSE 0 END) + " +
        "(CASE WHEN repetitive THEN 4 ELSE 0 END) + (CASE WHEN non_en THEN 8 ELSE 0 END) AS BIGINT) AS reasons, " +
        "(NOT (too_short OR too_long OR repetitive OR non_en)) AS kept FROM f"
    }
  ) { t =>
    qualityGateReg(t)
  }

  /** Semantic leakage-safe split (x64) — x52's embedding sibling:
    * paraphrased or re-templated copies share embeddings, not n-grams,
    * so the split key is the COSINE near-dup cluster root (IVF-cell
    * candidates via [[Dedup.embeddingNearDupsIvf]] → exact cosine ≥ 0.4
    * → guarded connected components); singletons key on their own id,
    * and the same portable 98/1/1 hash rule assigns splits — a semantic
    * family can never straddle train/test. Candidate generation
    * deliberately matches x143, NOT the fixed-plane LSH band join:
    * split assignment is a correctness-critical output, and the round-8
    * sf1 run measured the fixed-plane shape at exponent ~1.9 (bucket
    * size ∝ n at any fixed plane count) while the cell count k stays an
    * explicit linear-work knob — set by the [[ivfAutoK]] policy since
    * round 10, because the within-cell self-join here is exactly the
    * n·(n/k) shape the k-law was measured on. The oracle replays the
    * deterministic seed-centroid cells (the x143 tactic) at the same
    * policy k into x52's recursive-CTE closure + portable-hash
    * split. */
  val x64 = Q(
    "x64_semantic_safe_split",
    Some {
      def cos(a: String, an: String, b: String, bn: String) =
        s"${duckDot(a, b)} / ($an * $bn)"
      s"WITH RECURSIVE $duckNorms, $duckAutoKCte, " +
        "cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn " +
        "FROM norms WHERE vec_id < (SELECT k FROM kk)), " +
        "assigned AS (SELECT vec_id, embedding, nrm, cell FROM (" +
        "SELECT n.vec_id, n.embedding, n.nrm, c.cent_id AS cell, " +
        s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
        s"${cos("n.embedding", "n.nrm", "c.ce", "c.cn")} DESC, c.cent_id) AS rn " +
        "FROM norms n CROSS JOIN cents c) WHERE rn = 1), " +
        "prs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b " +
        "FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
        s"WHERE ${cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")} >= 0.4), " +
        "edges AS (SELECT vec_a AS u, vec_b AS v FROM prs " +
        "UNION SELECT vec_b, vec_a FROM prs), " +
        "reach(u, v) AS (SELECT u, v FROM edges " +
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
        "roots AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS root FROM reach GROUP BY u), " +
        "keyed AS (SELECT e.vec_id, COALESCE(r.root, e.vec_id) AS split_key " +
        "FROM embeddings e LEFT JOIN roots r ON e.vec_id = r.vec_id) " +
        "SELECT vec_id, split_key, CASE WHEN b < 98 THEN 'train' " +
        "WHEN b < 99 THEN 'val' ELSE 'test' END AS split_name FROM " +
        s"(SELECT vec_id, split_key, ${duckPolyHash("CAST(split_key AS VARCHAR)")} % 100 AS b " +
        "FROM keyed) t"
    }
  ) { t =>
    Dedup.semanticSafeSplit(t.embeddings, "vec_id", "embedding",
      threshold = 0.4, k = ivfAutoK(t))
  }

  /** kNN label vote (x63) — semi-supervised auto-labeling over the
    * similarity stack: every 10th vector plays "unlabeled query", its 5
    * cosine-nearest neighbors vote with their labels, majority wins
    * (count desc, label asc tiebreak — deterministic), and the vote is
    * scored against the held-out true label. The per-query top-k runs
    * through the bounded top-k prune (annTopK), the vote is one
    * query-keyed aggregate + one rank over ≤ k rows per query; at scale
    * the exact top-k swaps for IVF/LSH candidates exactly as in x59. */
  val x63 = Q(
    "x63_knn_label_vote",
    Some(
      s"WITH $duckNorms, " +
        "sims AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        s"${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine " +
        "FROM norms a JOIN norms b ON a.vec_id <> b.vec_id WHERE a.vec_id % 10 = 0), " +
        "tk AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn " +
        "FROM sims) s WHERE rn <= 5), " +
        "votes AS (SELECT t.query_id, e.label AS cand, CAST(COUNT(*) AS BIGINT) AS n_votes " +
        "FROM tk t JOIN embeddings e ON t.neighbor_id = e.vec_id " +
        "GROUP BY t.query_id, e.label), " +
        "win AS (SELECT query_id, cand, n_votes, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n_votes DESC, cand ASC) AS rn " +
        "FROM votes) " +
        "SELECT w.query_id, q.label AS true_label, w.cand AS pred_label, " +
        "w.n_votes, (w.cand = q.label) AS correct " +
        "FROM win w JOIN embeddings q ON w.query_id = q.vec_id WHERE w.rn = 1"
    )
  ) { t =>
    import org.apache.spark.sql.expressions.Window
    val topk = Dedup.annTopK(t.embeddings, "vec_id", "embedding",
      col("query_id") % 10 === 0, k = 5)
    val labels = t.embeddings.select(col("vec_id"), col("label"))
    val votes = topk
      .join(labels.select(col("vec_id").as("neighbor_id"), col("label").as("cand")),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("cand"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("cand").asc)
    votes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(labels.select(col("vec_id").as("query_id"), col("label").as("true_label")),
        Seq("query_id"))
      .select(col("query_id"), col("true_label"), col("cand").as("pred_label"),
        col("n_votes"), (col("cand") === col("true_label")).as("correct"))
  }

  /** Chunk-dedup rewrite (x62) — the APPLY step x38 only measures: every
    * 16-word chunk survives exactly once corpus-wide (first occurrence by
    * (doc_id, position); later repeats inside the same document drop
    * too), and each document is rebuilt from its kept chunks. Chunk
    * identity shuffles as an 8-byte hash; first-occurrence is two keyed
    * aggregates (min doc, then min position within that doc), never a
    * corpus-wide window; the rebuild sorts only each document's own
    * chunk list. */
  val x62 = Q(
    "x62_chunk_dedup_rewrite",
    Some(
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "ch AS (SELECT doc_id, unnest(list_transform(" +
        "range(0, CAST(ceil(len(w) / 16.0) AS INT)), " +
        "i -> {'pos': i, 'chunk': array_to_string(w[i * 16 + 1 : i * 16 + 16], ' ')})) AS s FROM w), " +
        "c AS (SELECT doc_id, CAST(s.pos AS INT) AS pos, s.chunk AS chunk FROM ch), " +
        s"hh AS (SELECT doc_id, pos, chunk, ${duckPolyHash("chunk")} AS h FROM c), " +
        "f1 AS (SELECT h, MIN(doc_id) AS fd FROM hh GROUP BY h), " +
        "f2 AS (SELECT hh.h, f1.fd, MIN(hh.pos) AS fi FROM hh " +
        "JOIN f1 ON hh.h = f1.h AND hh.doc_id = f1.fd GROUP BY hh.h, f1.fd), " +
        "m AS (SELECT hh.doc_id, hh.pos, hh.chunk, " +
        "(hh.doc_id = f2.fd AND hh.pos = f2.fi) AS kept FROM hh JOIN f2 ON hh.h = f2.h) " +
        s"SELECT doc_id, $sqlCount AS n_chunks, " +
        "CAST(SUM(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "COALESCE(string_agg(chunk, ' ' ORDER BY pos) FILTER (WHERE kept), '') AS text_kept " +
        "FROM m GROUP BY doc_id"
    )
  ) { t =>
    Corpus.chunkDedupRewrite(t.documents, "doc_id", "text")
  }

  // ---- multimodal plumbing --------------------------------------------

  /** Multimodal byte-column plumbing: content → binary column → deterministic
    * metadata "decode" (the real decode is a stub per the environment — the
    * Spark-side schema/partitioning/batching is what's exercised; see
    * graft.operators.Multimodal for the typed mapPartitions form). */
  val x12 = Q(
    "x12_multimodal_features",
    Some(
      "SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, " +
        "CAST(octet_length(encode(text)) % 640 AS BIGINT) AS fake_width, " +
        "CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS fake_height, " +
        "CAST(octet_length(encode(text)) % 16 + 1 AS BIGINT) AS fake_frames " +
        "FROM documents"
    )
  ) { t =>
    val bytes = length(encode(col("text"), "utf-8")).cast("long")
    t.documents.select(
      col("doc_id"),
      bytes.as("n_bytes"),
      (bytes % 640).as("fake_width"),
      ((bytes * 7) % 480).as("fake_height"),
      (bytes % 16 + 1).as("fake_frames")
    )
  }

  // ---- event streams (batch analogs; streaming twin in graft.streaming) --

  /** Sessionization: 30-minute-gap sessions per user via lag + running
    * sum — the batch twin of the streaming flatMapGroupsWithState form. */
  val x13 = Q(
    "x13_sessionize",
    Some(
      "WITH ev AS (SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events), " +
        "flags AS (SELECT user_id, event_id, tus, " +
        "CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL " +
        "OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_s FROM ev), " +
        "sess AS (SELECT *, SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS sid FROM flags) " +
        "SELECT user_id, CAST(sid AS BIGINT) AS session_id, " +
        s"$sqlCount AS n_events, " +
        "CAST(MIN(tus) AS BIGINT) AS start_us, CAST(MAX(tus) AS BIGINT) AS end_us, " +
        "CAST(MAX(tus) - MIN(tus) AS BIGINT) AS duration_us " +
        "FROM sess GROUP BY user_id, sid"
    )
  ) { t =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    val ev = t.events.select(
      col("user_id"), col("event_id"), unix_micros(col("ts")).as("tus"))
    val flags = ev.withColumn(
      "new_s",
      when(lag(col("tus"), 1).over(w).isNull ||
        col("tus") - lag(col("tus"), 1).over(w) > 1800000000L, 1).otherwise(0)
    )
    flags
      .withColumn("sid", sum(col("new_s")).over(w))
      .groupBy(col("user_id"), col("sid").cast("long").as("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("tus")).as("start_us"),
        max(col("tus")).as("end_us"),
        (max(col("tus")) - min(col("tus"))).as("duration_us")
      )
  }

  /** Tumbling 1-hour windowed aggregation (batch twin of the Structured
    * Streaming watermark + window query). */
  val x14 = Q(
    "x14_event_windows",
    Some(
      "SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS window_start, event_type, " +
        s"$sqlCount AS n_events, ${sqlSum("value")} AS sum_value, " +
        s"${sqlAvg("value")} AS avg_value " +
        "FROM events GROUP BY date_trunc('hour', CAST(ts AS TIMESTAMP)), event_type"
    )
  ) { t =>
    val aggs = count(lit(1)).as("n_events") +:
      limbAggs("v", unscaledLong(col("value"), 4))
    t.events
      .groupBy(
        date_trunc("hour", col("ts")).as("window_start"),
        col("event_type")
      )
      .agg(aggs.head, aggs.tail: _*)
      .select(col("window_start"), col("event_type"), col("n_events"),
        limbSumDouble("v").as("sum_value"),
        limbAvg("v", col("n_events")).as("avg_value"))
  }

  // ---- corpus curation (Corpus library) --------------------------------

  /** Gopher-style repetition quality signals: duplicate-word fraction and
    * top-bigram fraction per document — the filters a pretraining corpus
    * applies to drop degenerate repetitive text. */
  val x24 = Q(
    "x24_repetition_signals",
    Some(
      "WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "ws AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct_words FROM words GROUP BY doc_id), " +
        "wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), " +
        "i -> w[i] || ' ' || w[i+1])) AS bg FROM wl), " +
        "bgc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bgs GROUP BY doc_id, bg), " +
        "bstat AS (SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_bigram_count, " +
        "CAST(SUM(c) AS BIGINT) AS n_bigrams FROM bgc GROUP BY doc_id) " +
        "SELECT ws.doc_id, n_words, n_distinct_words, " +
        "CAST(n_words - n_distinct_words AS DOUBLE) / n_words AS dup_word_fraction, " +
        "CAST(top_bigram_count AS DOUBLE) / n_bigrams AS top_bigram_fraction " +
        "FROM ws JOIN bstat ON ws.doc_id = bstat.doc_id"
    )
  ) { t => Corpus.repetitionSignals(t.documents, "doc_id", "text") }

  /** Corpus-wide top-20 bigrams (count desc, bigram asc) — vocabulary /
    * boilerplate analysis; Spark runs it as per-partition heaps
    * (TakeOrderedAndProject), never a full sort. */
  val x25 = Q(
    "x25_top_bigrams",
    Some(
      "WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), " +
        "i -> w[i] || ' ' || w[i+1])) AS bg FROM wl) " +
        "SELECT bg, CAST(COUNT(*) AS BIGINT) AS n FROM bgs GROUP BY bg " +
        "ORDER BY n DESC, bg ASC LIMIT 20"
    )
  ) { t => Corpus.topBigrams(t.documents, "doc_id", "text", 20) }

  /** Top TF-IDF term per document. IDF stays the rational N/df (no ln):
    * bit-exact cross-engine, identical ranking under any monotone
    * transform. */
  val x26 = Q(
    "x26_tfidf_top_term",
    Some(
      "WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "tf AS (SELECT doc_id, word AS term, CAST(COUNT(*) AS BIGINT) AS tf " +
        "FROM words GROUP BY doc_id, word), " +
        "wl AS (SELECT doc_id, term, tf, SUM(tf) OVER (PARTITION BY doc_id) AS doc_len FROM tf), " +
        "dfreq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term), " +
        "nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents), " +
        "scored AS (SELECT wl.doc_id, wl.term, wl.tf, " +
        "(CAST(tf AS DOUBLE) / doc_len) * (CAST(n_docs AS DOUBLE) / df) AS tfidf " +
        "FROM wl JOIN dfreq ON wl.term = dfreq.term CROSS JOIN nd), " +
        "ranked AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id " +
        "ORDER BY tfidf DESC, term ASC) AS rn FROM scored) " +
        "SELECT doc_id, term, tf, tfidf FROM ranked WHERE rn = 1"
    )
  ) { t => Corpus.tfidfTopTerms(t.documents, "doc_id", "text") }

  /** Deterministic stratified sample: 5 orders per priority stratum via
    * an arithmetic LCG of the key — reproducible at any parallelism. */
  val x27 = Q(
    "x27_stratified_sample",
    Some(
      "WITH ranked AS (SELECT o_orderpriority, o_orderkey, " +
        "ROW_NUMBER() OVER (PARTITION BY o_orderpriority " +
        "ORDER BY (o_orderkey * 48271) % 2147483647, o_orderkey) AS rn FROM orders) " +
        "SELECT o_orderpriority, o_orderkey FROM ranked WHERE rn <= 5"
    )
  ) { t =>
    Corpus.stratifiedSample(t.orders, col("o_orderpriority"), col("o_orderkey"), 5)
      .select("o_orderpriority", "o_orderkey")
  }

  /** Stopword removal (broadcast left-anti join ≡ NOT IN for a non-null
    * list) + per-document re-count. */
  val x28 = Q(
    "x28_stopword_filter",
    Some(
      "WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, " +
        "CAST(COUNT(DISTINCT word) AS BIGINT) AS n_distinct_kept " +
        "FROM words WHERE word NOT IN ('the', 'a', 'data', 'row', 'join') " +
        "GROUP BY doc_id"
    )
  ) { t =>
    Corpus.stopwordFilter(t.documents, "doc_id", "text",
      Seq("the", "a", "data", "row", "join"))
  }

  /** Snapshot diff / CDC audit (x67) — what an incremental recrawl
    * changed: the next snapshot is derived deterministically from the
    * corpus (docs with `doc_id % 13 = 0` dropped, `% 7 = 0` rewritten
    * with a marker, `% 17 = 0` re-added under shifted ids), and
    * [[Corpus.snapshotDiff]] classifies every id as added / removed /
    * changed / unchanged by comparing 8-byte content hashes in one
    * full-outer join — text never shuffles. Downstream curation
    * re-processes exactly the added ∪ changed slice. */
  val x67 = Q(
    "x67_snapshot_diff",
    Some {
      "WITH b0 AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text " +
        "FROM documents WHERE doc_id % 13 <> 0), " +
        "bn AS (SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0), " +
        s"a AS (SELECT doc_id, ${duckPolyHash("text")} AS h_old FROM documents), " +
        s"b AS (SELECT doc_id, ${duckPolyHash("text")} AS h_new FROM " +
        "(SELECT * FROM b0 UNION ALL SELECT * FROM bn) u) " +
        "SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id, " +
        "CASE WHEN a.doc_id IS NULL THEN 'added' " +
        "WHEN b.doc_id IS NULL THEN 'removed' " +
        "WHEN h_old <> h_new THEN 'changed' ELSE 'unchanged' END AS status " +
        "FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id"
    }
  ) { t =>
    val next = t.documents
      .filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionAll(
        t.documents.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text")))
    Corpus.snapshotDiff(t.documents, next, "doc_id", "text")
  }

  /** Token-budget corpus selection (x68) — "fill the run with the best
    * 20 k tokens": documents ranked by distinct-word ratio (the x06
    * quality signal), kept while the global running token total stays
    * within budget. The oracle is the naive global-window form; the
    * engine runs [[Corpus.tokenBudgetSelect]]'s band-histogram
    * decomposition, whose corpus-sized shuffles are all band-partitioned
    * (no global sort) — CorpusSpec pins the two forms equal. */
  val x68 = Q(
    "x68_token_budget_select",
    Some {
      "WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "ws AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "COUNT(DISTINCT word) AS nd FROM words GROUP BY doc_id), " +
        "scored AS (SELECT doc_id, CAST(nd AS DOUBLE) / n_tokens AS score, n_tokens FROM ws), " +
        "c AS (SELECT doc_id, score, n_tokens, CAST(SUM(n_tokens) OVER " +
        "(ORDER BY score DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS cum_tokens FROM scored) " +
        "SELECT doc_id, score, n_tokens, cum_tokens FROM c WHERE cum_tokens <= 20000"
    }
  ) { t =>
    val scored = docWordStats(t)
      .select(col("doc_id"),
        (col("nd").cast("double") / col("n_tokens")).as("score"), col("n_tokens"))
    Corpus.tokenBudgetSelect(scored, "doc_id", "score", "n_tokens", 20000L)
  }

  /** BM25 top-k retrieval (x69) — lexical search over the corpus for the
    * fixed query {spark, join, data}, k = 50: candidate mining and
    * eval-retrieval for training pipelines. Rational idf (no log — see
    * [[Corpus.bm25TopK]]), fixed-order per-term sum, TakeOrdered top-k.
    * The oracle replicates the exact IEEE expression order. */
  val x69 = Q(
    "x69_bm25_topk",
    Some {
      "WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "lens AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM words GROUP BY doc_id), " +
        "tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM words " +
        "WHERE word IN ('spark', 'join', 'data') GROUP BY doc_id, word), " +
        "dfreq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word), " +
        "totals AS (SELECT CAST(SUM(len) AS BIGINT) AS total_len, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs FROM lens), " +
        "scored AS (SELECT tf.doc_id, tf.word, " +
        "((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * " +
        "((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * " +
        "(CAST(len AS DOUBLE) / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) AS score_t " +
        "FROM tf JOIN dfreq USING (word) JOIN lens USING (doc_id) CROSS JOIN totals), " +
        "perterm AS (SELECT doc_id, " +
        "COALESCE(MAX(CASE WHEN word = 'spark' THEN score_t END), 0.0) AS s_0, " +
        "COALESCE(MAX(CASE WHEN word = 'join' THEN score_t END), 0.0) AS s_1, " +
        "COALESCE(MAX(CASE WHEN word = 'data' THEN score_t END), 0.0) AS s_2 " +
        "FROM scored GROUP BY doc_id) " +
        "SELECT doc_id, ((s_0 + s_1) + s_2) AS score FROM perterm " +
        "ORDER BY score DESC, doc_id LIMIT 50"
    }
  ) { t =>
    Corpus.bm25TopK(t.documents, "doc_id", "text", Seq("spark", "join", "data"), 50)
  }

  /** Per-source grouped length bands (x70) — x45's per-domain form:
    * every source has its own length norms (code vs chat vs crawl), so
    * the [p5, p95] outlier band is computed PER SOURCE and each document
    * is kept relative to its own domain's distribution — a global band
    * over-drops whole domains whose lengths sit in another domain's
    * tail. Exactness rides x22/x45's integer interpolation; the band
    * frame is source-cardinality-sized and broadcasts back. */
  val x70 = Q(
    "x70_grouped_length_bands",
    Some {
      "WITH n AS (SELECT doc_id, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
        "b AS (SELECT source, quantile_cont(n_tokens, 0.05) AS lo, " +
        "quantile_cont(n_tokens, 0.95) AS hi FROM n GROUP BY source) " +
        "SELECT doc_id, n.source, n_tokens, lo, hi, " +
        "(n_tokens >= lo AND n_tokens <= hi) AS keep FROM n JOIN b ON n.source = b.source"
    }
  ) { t =>
    val n = t.documents.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val bands = n.groupBy(col("source")).agg(
      percentile(col("n_tokens"), lit(0.05)).as("lo"),
      percentile(col("n_tokens"), lit(0.95)).as("hi"))
    n.join(broadcast(bands), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("lo"), col("hi"),
        (col("n_tokens") >= col("lo") && col("n_tokens") <= col("hi")).as("keep"))
  }

  /** Embedding dimension health audit (x71) — per-dimension min / max /
    * range over the whole corpus: the pre-flight check before
    * quantization (x57 needs per-dim dynamic range), whitening, or index
    * build — a dead dimension (range ≈ 0) or one outlier dimension
    * dominating the scale breaks both. Comparison-only aggregates (no
    * float summation), so exact on any engine; one posexplode +
    * (dim)-keyed aggregate, shuffling 64 rows per partition. */
  val x71 = Q(
    "x71_embedding_dim_audit",
    Some {
      "SELECT CAST(i AS BIGINT) AS dim, " +
        "CAST(MIN(CAST(embedding[i] AS DOUBLE)) AS DOUBLE) AS v_min, " +
        "CAST(MAX(CAST(embedding[i] AS DOUBLE)) AS DOUBLE) AS v_max, " +
        "CAST(MAX(CAST(embedding[i] AS DOUBLE)) AS DOUBLE) - " +
        "CAST(MIN(CAST(embedding[i] AS DOUBLE)) AS DOUBLE) AS v_range, " +
        "CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM embeddings CROSS JOIN range(1, 65) t(i) GROUP BY i"
    }
  ) { t =>
    t.embeddings
      .select(posexplode(col("embedding")).as(Seq("d0", "v")))
      .select((col("d0") + 1).cast("long").as("dim"), col("v").cast("double").as("v"))
      .groupBy(col("dim"))
      .agg(min(col("v")).as("v_min"), max(col("v")).as("v_max"),
        (max(col("v")) - min(col("v"))).as("v_range"),
        count(lit(1)).as("n"))
  }

  /** Source token-coverage curve (x72) — the mixture-design view: rank
    * sources by token volume and report each rank's cumulative token
    * share, i.e. "the top k sources cover X% of the corpus". Drives
    * sampling-temperature and domain-cap decisions (x42/x60 pick the
    * weights; this shows the concentration they must correct). The
    * window runs over the SOURCE histogram (domain-cardinality-sized,
    * thousands at web scale), never the corpus — one token-count shuffle
    * by source, then a tiny-frame ordered window. */
  val x72 = Q(
    "x72_source_token_coverage",
    Some {
      "WITH s AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) " +
        "AS n_tokens FROM documents GROUP BY source), " +
        "t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS total FROM s) " +
        "SELECT source, n_tokens, CAST(ROW_NUMBER() OVER w AS BIGINT) AS rank, " +
        "CAST(SUM(n_tokens) OVER w AS BIGINT) AS cum_tokens, " +
        "CAST(CAST(SUM(n_tokens) OVER w AS BIGINT) AS DOUBLE) / CAST(total AS DOUBLE) AS cum_share " +
        "FROM s CROSS JOIN t " +
        "WINDOW w AS (ORDER BY n_tokens DESC, source ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
    }
  ) { t =>
    val s = t.documents.groupBy(col("source"))
      .agg(sum(size(split(col("text"), " ")).cast("long")).as("n_tokens"))
    val total = s.agg(sum(col("n_tokens")).as("total"))
    val w = Window.orderBy(col("n_tokens").desc, col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    s.crossJoin(broadcast(total))
      .select(col("source"), col("n_tokens"),
        row_number().over(w).cast("long").as("rank"),
        sum(col("n_tokens")).over(w).as("cum_tokens"),
        (sum(col("n_tokens")).over(w).cast("double") / col("total").cast("double"))
          .as("cum_share"))
  }

  /** Vocabulary Zipf audit (x73) — the count-of-counts view: for each
    * occurrence count k, how many distinct words occur exactly k times,
    * and what share of the vocabulary that is. The hapax row (k = 1) is
    * the classic crawl-noise signal (typo-heavy corpora have a fat hapax
    * head); the tail shape is the Zipf sanity check before vocab/BPE
    * training. Two shuffles — corpus-sized on word, then a
    * frequency-histogram-sized one — and the vocab total broadcasts
    * back, so the plan holds at any corpus size. */
  val x73 = Q(
    "x73_vocab_zipf_audit",
    Some {
      "WITH words AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents), " +
        "f AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n_occurrences FROM words GROUP BY word), " +
        "v AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size FROM f) " +
        "SELECT n_occurrences, CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST(COUNT(*) AS DOUBLE) / CAST(vocab_size AS DOUBLE) AS vocab_share " +
        "FROM f CROSS JOIN v GROUP BY n_occurrences, vocab_size"
    }
  ) { t =>
    val freq = t.documents
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word"))
      .agg(count(lit(1)).as("n_occurrences"))
    val vocab = freq.agg(count(lit(1)).as("vocab_size"))
    freq.groupBy(col("n_occurrences"))
      .agg(count(lit(1)).as("n_words"))
      .crossJoin(broadcast(vocab))
      .select(col("n_occurrences"), col("n_words"),
        (col("n_words").cast("double") / col("vocab_size").cast("double"))
          .as("vocab_share"))
  }

  /** Cross-source duplicate leakage audit (x74) — which source pairs
    * mirror each other: exact-duplicate texts that appear under two
    * different sources, counted per unordered source pair. This is the
    * routing view for dedup policy (mirror domains get collapsed at
    * ingest rather than paid for in the pairwise stage). The self-join
    * runs on the 128-bit content hash, never the text — the shuffle
    * carries (hash, source), and the per-source distinct caps each
    * hash's row count at the source cardinality, so worst-case fan-out
    * is |sources|² per duplicated text, not corpus-sized. */
  val x74 = Q(
    "x74_cross_source_dup_leakage",
    Some {
      "WITH ds AS (SELECT DISTINCT md5(text) AS h, source FROM documents) " +
        "SELECT a.source AS source_a, b.source AS source_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_shared_texts " +
        "FROM ds a JOIN ds b ON a.h = b.h AND a.source < b.source " +
        "GROUP BY 1, 2"
    }
  ) { t =>
    val ds = t.documents
      .select(md5(col("text")).as("h"), col("source"))
      .distinct()
    ds.as("a")
      .join(ds.as("b"),
        col("a.h") === col("b.h") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
      .agg(count(lit(1)).as("n_shared_texts"))
  }

  /** Event-type transition matrix (x75) — per-user Markov view of the
    * event stream: count (prev → next) type transitions and each row's
    * conditional probability. Drives bot/anomaly heuristics (improbable
    * transition chains) and synthetic-session generators. The lag window
    * is partitioned by user — no global ordering anywhere — and the
    * transition frame is |types|², so stage two is driver-trivial at any
    * event volume. Ties on ts break by event_id for a deterministic
    * sequence in both engines. */
  val x75 = Q(
    "x75_event_transition_matrix",
    Some {
      "WITH o AS (SELECT user_id, event_type, LAG(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY CAST(ts AS TIMESTAMP), event_id) AS prev_type FROM events), " +
        "c AS (SELECT prev_type, event_type AS next_type, CAST(COUNT(*) AS BIGINT) AS n_trans " +
        "FROM o WHERE prev_type IS NOT NULL GROUP BY 1, 2) " +
        "SELECT prev_type, next_type, n_trans, " +
        "CAST(n_trans AS DOUBLE) / CAST(SUM(n_trans) OVER (PARTITION BY prev_type) AS DOUBLE) AS p_trans " +
        "FROM c"
    }
  ) { t =>
    val seq = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val counts = t.events
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .withColumn("prev_type", lag(col("event_type"), 1).over(seq))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("next_type"))
      .agg(count(lit(1)).as("n_trans"))
    counts.select(col("prev_type"), col("next_type"), col("n_trans"),
      (col("n_trans").cast("double") /
        sum(col("n_trans")).over(Window.partitionBy(col("prev_type"))).cast("double"))
        .as("p_trans"))
  }

  /** Retention cohort matrix (x76) — users grouped by first-seen day,
    * counted on each later active day offset: the standard activation /
    * retention triangle. Both stages key on (user, day) or smaller; the
    * cohort frame is user-cardinality-sized and joins back on user_id
    * (AQE picks broadcast when it fits), and the output is
    * |days|² — presentation-sized regardless of event volume. */
  val x76 = Q(
    "x76_retention_cohorts",
    Some {
      "WITH d AS (SELECT DISTINCT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day FROM events), " +
        "f AS (SELECT user_id, MIN(day) AS cohort_day FROM d GROUP BY 1) " +
        "SELECT cohort_day, CAST(day - cohort_day AS BIGINT) AS day_offset, " +
        "CAST(COUNT(*) AS BIGINT) AS n_users " +
        "FROM d JOIN f USING (user_id) GROUP BY 1, 2"
    }
  ) { t =>
    val active = t.events
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .distinct()
    val cohorts = active.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    active.join(cohorts, Seq("user_id"))
      // DATE round-trips as midnight TIMESTAMP through the oracle's
      // pandas fetch, so emit the timestamp form on both sides (x14 does
      // the same for its hour buckets).
      .groupBy(col("cohort_day").cast("timestamp").as("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** Typed property extraction from semi-structured events (x77) — the
    * ubiquitous "JSON column → typed metric" ETL step (the reference's
    * whole bronze layer is this shape: raw API JSON → typed stats,
    * `dags/spurs_historic_games.py:152-200`). `get_json_object` is
    * codegen'd path extraction — no UDF, no schema inference pass — and
    * the aggregate is one map-side-combined shuffle on event_type. */
  val x77 = Q(
    "x77_props_json_stats",
    Some {
      "SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events, " +
        "CAST(MIN(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_min, " +
        "CAST(MAX(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_max, " +
        "CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum " +
        "FROM events GROUP BY event_type"
    }
  ) { t =>
    t.events
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), min(col("k")).as("k_min"),
        max(col("k")).as("k_max"), sum(col("k")).as("k_sum"))
  }

  /** Embedding norm-band profile (x78) — the companion to x71's
    * per-dimension audit: per-VECTOR L2 norms, banded into quarter-unit
    * buckets. Un-normalized embeddings (norm spread ≫ 1) silently turn
    * cosine pipelines (x11/x34/x59) into dot-product pipelines; this is
    * the one-scan check. Norms ride the codegen sequential-fold dot
    * ([[graft.functions.VectorExpressions]]), so both engines band
    * bit-identical doubles; output is |bands|-sized. */
  val x78 = Q(
    "x78_embedding_norm_bands",
    Some {
      s"WITH n AS (SELECT vec_id, sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings) " +
        "SELECT CAST(FLOOR(nrm * 4) AS BIGINT) AS band, CAST(COUNT(*) AS BIGINT) AS n_vecs, " +
        "MIN(nrm) AS nrm_min, MAX(nrm) AS nrm_max " +
        "FROM n GROUP BY 1"
    }
  ) { t =>
    t.embeddings
      .select(sqrt(graft.functions.VectorExpressions
        .vecDot("embedding", "embedding")).as("nrm"))
      .groupBy(floor(col("nrm") * 4).cast("long").as("band"))
      .agg(count(lit(1)).as("n_vecs"),
        min(col("nrm")).as("nrm_min"), max(col("nrm")).as("nrm_max"))
  }

  /** Deterministic per-source document cap (x79) — the crawl-curation
    * "domain cap": each source keeps only its k = 10 best documents by
    * quality score (distinct-word ratio, doc_id tiebreak). Runs through
    * [[Ranks.topKPerGroup]], so the shuffle carries at most
    * k × |sources-per-partition| rows instead of the whole corpus — the
    * same bounded-top-k plan the NBA leaderboards use, applied to
    * corpus policy. Oracle is the plain row_number window form, which
    * topKPerGroup's contract guarantees it equals. */
  val x79 = Q(
    "x79_source_cap",
    Some {
      "WITH words AS (SELECT doc_id, source, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "ws AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "COUNT(DISTINCT word) AS nd FROM words GROUP BY 1, 2), " +
        "scored AS (SELECT doc_id, source, CAST(nd AS DOUBLE) / n_tokens AS score FROM ws), " +
        "r AS (SELECT doc_id, source, score, ROW_NUMBER() OVER " +
        "(PARTITION BY source ORDER BY score DESC, doc_id) AS rn FROM scored) " +
        "SELECT doc_id, source, score FROM r WHERE rn <= 10"
    }
  ) { t =>
    // per-doc word stats from the session registry; source rides back in
    // via one keyed join (each doc has exactly one source, so the
    // grouped values are identical to the per-(doc, source) aggregate)
    val scored = t.documents.select(col("doc_id"), col("source"))
      .join(docWordStats(t), "doc_id")
      .select(col("doc_id"), col("source"),
        (col("nd").cast("double") / col("n_tokens")).as("score"))
    Ranks.topKPerGroup(scored, Seq("source"), Seq(("score", false), ("doc_id", true)), 10)
  }

  /** Eval-side contamination report (x80) — x40 inverted: x40 flags
    * TRAIN documents to drop; this reports, per BENCHMARK document, how
    * much of it leaked (distinct 8-grams found in train, distinct train
    * docs carrying them, leaked fraction) — the table an eval curator
    * reads to decide which benchmark items are burned. The bench gram
    * frame is eval-sized and broadcasts into the single train-side join;
    * zero-leak bench docs survive via the left join from bench totals. */
  val x80 = Q(
    "x80_contamination_report",
    Some {
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        s"g AS (SELECT DISTINCT doc_id, ${duckPolyHash("gm")} AS h FROM (" +
        "SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), " +
        "i -> array_to_string(w[i:i+7], ' '))) AS gm FROM w) t), " +
        "bench AS (SELECT doc_id AS bench_id, h FROM g WHERE doc_id % 97 = 0), " +
        "train AS (SELECT doc_id AS train_id, h FROM g WHERE doc_id % 97 <> 0), " +
        "tot AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS n_bench_grams FROM bench GROUP BY 1), " +
        "hits AS (SELECT b.bench_id, CAST(COUNT(DISTINCT b.h) AS BIGINT) AS n_leaked_grams, " +
        "CAST(COUNT(DISTINCT t.train_id) AS BIGINT) AS n_train_docs " +
        "FROM bench b JOIN train t ON b.h = t.h GROUP BY 1) " +
        "SELECT bench_id, n_bench_grams, " +
        "COALESCE(n_leaked_grams, 0) AS n_leaked_grams, " +
        "COALESCE(n_train_docs, 0) AS n_train_docs, " +
        "CAST(COALESCE(n_leaked_grams, 0) AS DOUBLE) / CAST(n_bench_grams AS DOUBLE) AS leak_frac " +
        "FROM tot LEFT JOIN hits USING (bench_id)"
    }
  ) { t =>
    val grams = Corpus.gramHashes(t.documents, "doc_id", "text")
    val bench = grams.filter(col("doc_id") % 97 === 0)
      .withColumnRenamed("doc_id", "bench_id")
    val train = grams.filter(col("doc_id") % 97 =!= 0)
      .withColumnRenamed("doc_id", "train_id")
    val totals = bench.groupBy(col("bench_id")).agg(count(lit(1)).as("n_bench_grams"))
    val hits = train.join(broadcast(bench), Seq("h"))
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("h")).as("n_leaked_grams"),
        countDistinct(col("train_id")).as("n_train_docs"))
    totals.join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"), col("n_bench_grams"),
        coalesce(col("n_leaked_grams"), lit(0L)).as("n_leaked_grams"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        (coalesce(col("n_leaked_grams"), lit(0L)).cast("double") /
          col("n_bench_grams").cast("double")).as("leak_frac"))
  }

  /** CDC merge / upsert (x81) — the APPLY step for x67's diff: fold a
    * change batch (updates keyed by id, inserts under new ids, tombstone
    * deletes) into the standing corpus in ONE full-outer join on doc_id.
    * Text never moves except for touched rows' new versions; the change
    * batch is recrawl-sized, so at 100 TB AQE broadcasts it and the
    * corpus is never shuffled. `origin` labels each surviving row
    * (carried / updated / inserted) for downstream incremental curation
    * (x44 / x62 re-process only the non-carried slice). Synthetic batch:
    * `% 7` updated, `% 17` inserted under shifted ids, `% 19` deleted. */
  val x81 = Q(
    "x81_merge_upsert",
    Some {
      "WITH upd AS (SELECT doc_id, text || ' v2' AS text FROM documents WHERE doc_id % 7 = 0), " +
        "ins AS (SELECT doc_id + 10000000 AS doc_id, text FROM documents WHERE doc_id % 17 = 0), " +
        "del AS (SELECT doc_id FROM documents WHERE doc_id % 19 = 0), " +
        "chg AS (SELECT * FROM upd UNION ALL SELECT * FROM ins) " +
        "SELECT COALESCE(c.doc_id, d.doc_id) AS doc_id, " +
        "COALESCE(c.text, d.text) AS text, " +
        "CASE WHEN d.doc_id IS NULL THEN 'inserted' " +
        "WHEN c.doc_id IS NULL THEN 'carried' ELSE 'updated' END AS origin " +
        "FROM documents d FULL OUTER JOIN chg c ON d.doc_id = c.doc_id " +
        "WHERE COALESCE(c.doc_id, d.doc_id) NOT IN (SELECT doc_id FROM del)"
    }
  ) { t =>
    val changes = t.documents.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"), concat(col("text"), lit(" v2")).as("text"))
      .unionAll(t.documents.filter(col("doc_id") % 17 === 0)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"), col("text")))
    val tombstones = t.documents.filter(col("doc_id") % 19 === 0).select(col("doc_id"))
    t.documents.select(col("doc_id"), col("text")).as("d")
      .join(changes.as("c"), col("d.doc_id") === col("c.doc_id"), "full_outer")
      .select(
        coalesce(col("c.doc_id"), col("d.doc_id")).as("doc_id"),
        coalesce(col("c.text"), col("d.text")).as("text"),
        when(col("d.doc_id").isNull, lit("inserted"))
          .when(col("c.doc_id").isNull, lit("carried"))
          .otherwise(lit("updated")).as("origin"))
      .join(tombstones, Seq("doc_id"), "left_anti")
  }

  /** Sliding-window RAG chunker (x82) — overlapping 32-word windows at
    * stride 16 (docs shorter than one window emit themselves whole): the
    * standard retrieval-index / context-prep segmentation, where overlap
    * preserves cross-boundary answers that disjoint chunks (x38/x62)
    * lose. Pure per-row generate — zero shuffles; chunk identity ships
    * as the portable 8-byte poly hash so downstream chunk-level dedup
    * and indexing never move chunk text. */
  val x82 = Q(
    "x82_rag_chunking",
    Some {
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
        "s AS (SELECT doc_id, ws, unnest(CASE WHEN len(ws) >= 32 " +
        "THEN range(1, len(ws) - 30, 16) ELSE [1] END) AS st FROM w), " +
        "c AS (SELECT doc_id, CAST((st - 1) // 16 AS BIGINT) AS chunk_idx, " +
        "array_to_string(ws[st:st+31], ' ') AS chunk FROM s) " +
        s"SELECT doc_id, chunk_idx, CAST(len(string_split(chunk, ' ')) AS BIGINT) AS n_tokens, " +
        s"${duckPolyHash("chunk")} AS h FROM c"
    }
  ) { t =>
    t.documents
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"),
        explode(when(size(col("ws")) >= 32,
          sequence(lit(1), size(col("ws")) - 31, lit(16)))
          .otherwise(array(lit(1)))).as("st"))
      .select(col("doc_id"),
        expr("CAST((st - 1) div 16 AS BIGINT)").as("chunk_idx"),
        array_join(slice(col("ws"), col("st"), lit(32)), " ").as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(split(col("chunk"), " ")).cast("long").as("n_tokens"),
        expr("poly_hash(chunk)").as("h"))
  }

  /** Full release pipeline (x83) — the widest composition in the
    * library, extending x47's gate with the round-7 policy operators: a
    * document ships iff it (1) is its content's canonical copy (x01),
    * (2) passes the quality gate (x65, reasons = 0), (3) sits inside its
    * OWN SOURCE's [p5, p95] token band (x70), (4) is neither benchmark
    * nor contaminated by one (x40), and (5) survives its source's top-10
    * quality cap (x79, via the bounded top-k prune); survivors get the
    * content-hash split (x43). One declarative plan: Catalyst shares the
    * word-explode aggregate between gate and score, every small frame
    * (bands, benchmark grams) broadcasts, and the only corpus-sized
    * shuffles are the signal aggregates each stage already paid alone. */
  val x83 = Q(
    "x83_release_pipeline",
    Some {
      val markers = Seq("en" -> "the", "es" -> "el", "de" -> "der", "fr" -> "le", "zh" -> "ha")
      val counts = markers
        .map { case (l, w) => s"CAST(${duckWordCount(w)} AS DOUBLE) AS c_$l" }
        .mkString(", ")
      "WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "ws AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST(COUNT(DISTINCT word) AS BIGINT) AS nd FROM words GROUP BY doc_id), " +
        "lng AS (SELECT doc_id, CASE " +
        "WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_zh THEN 'en' " +
        "WHEN c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es' " +
        "WHEN c_de >= c_fr AND c_de >= c_zh THEN 'de' " +
        "WHEN c_fr >= c_zh THEN 'fr' ELSE 'zh' END AS lang_pred " +
        s"FROM (SELECT doc_id, $counts FROM documents) c), " +
        "kept AS (SELECT ws.doc_id FROM ws JOIN lng ON ws.doc_id = lng.doc_id " +
        "WHERE NOT ((n_words < 40) OR (n_words > 400) OR " +
        "(CAST(n_words - nd AS DOUBLE) / n_words > 0.8) OR (lang_pred <> 'en'))), " +
        "keeper AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY text), " +
        "bands AS (SELECT source, quantile_cont(n_words, 0.05) AS lo, " +
        "quantile_cont(n_words, 0.95) AS hi FROM documents d " +
        "JOIN ws ON d.doc_id = ws.doc_id GROUP BY source), " +
        "w8 AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        s"g AS (SELECT DISTINCT doc_id, ${duckPolyHash("gm")} AS h FROM (" +
        "SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), " +
        "i -> array_to_string(w[i:i+7], ' '))) AS gm FROM w8) t), " +
        "bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0), " +
        "contaminated AS (SELECT DISTINCT doc_id FROM g JOIN bench USING (h) " +
        "WHERE doc_id % 97 <> 0), " +
        "pool AS (SELECT d.doc_id, d.source, ws.n_words, " +
        "CAST(ws.nd AS DOUBLE) / ws.n_words AS score, " +
        s"${duckPolyHash("d.text")} % 100 AS bu FROM documents d " +
        "JOIN ws ON d.doc_id = ws.doc_id " +
        "JOIN kept kp ON d.doc_id = kp.doc_id " +
        "JOIN keeper k ON d.doc_id = k.doc_id " +
        "JOIN bands b ON d.source = b.source " +
        "LEFT JOIN contaminated c ON d.doc_id = c.doc_id " +
        "WHERE ws.n_words >= b.lo AND ws.n_words <= b.hi " +
        "AND d.doc_id % 97 <> 0 AND c.doc_id IS NULL), " +
        "capped AS (SELECT *, ROW_NUMBER() OVER " +
        "(PARTITION BY source ORDER BY score DESC, doc_id) AS rn FROM pool) " +
        "SELECT doc_id, source, n_words, score, " +
        "CASE WHEN bu < 98 THEN 'train' WHEN bu < 99 THEN 'val' ELSE 'test' END AS split_name " +
        "FROM capped WHERE rn <= 10"
    }
  ) { t =>
    val docs = t.documents
    val ws = docWordStats(t)
      .select(col("doc_id"), col("n_tokens").as("n_words"), col("nd"))
    val gateKept = qualityGateReg(t)
      .filter(col("kept")).select("doc_id")
    val keeper = docs.groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val bands = docs.select(col("doc_id"), col("source"))
      .join(ws.select(col("doc_id"), col("n_words")), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(percentile(col("n_words"), lit(0.05)).as("lo"),
        percentile(col("n_words"), lit(0.95)).as("hi"))
    val grams = Corpus.gramHashes(docs, "doc_id", "text")
    val bench = grams.filter(col("doc_id") % 97 === 0).select("h").distinct()
    val contaminated = grams.filter(col("doc_id") % 97 =!= 0)
      .join(broadcast(bench), Seq("h"), "left_semi")
      .select("doc_id").distinct()
    val pool = docs
      .select(col("doc_id"), col("source"), (expr("poly_hash(text)") % 100).as("bu"))
      .filter(col("doc_id") % 97 =!= 0)
      .join(ws, Seq("doc_id"))
      .join(gateKept, Seq("doc_id"), "left_semi")
      .join(keeper, Seq("doc_id"), "left_semi")
      .join(broadcast(bands), Seq("source"))
      .filter(col("n_words") >= col("lo") && col("n_words") <= col("hi"))
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"), col("n_words"),
        (col("nd").cast("double") / col("n_words")).as("score"), col("bu"))
    Ranks.topKPerGroup(pool, Seq("source"), Seq(("score", false), ("doc_id", true)), 10)
      .select(col("doc_id"), col("source"), col("n_words"), col("score"),
        when(col("bu") < 98, "train").when(col("bu") < 99, "val")
          .otherwise("test").as("split_name"))
  }

  // ---- round-7 additions: simhash blocking, surprisal, boilerplate,
  // ---- hubness, cluster histogram --------------------------------------

  /** SimHash hamming-band near-dup pairs: 4-bit band blocking over the
    * 16-bit signature (pigeonhole recall 1.0 at hamming ≤ 3), exact
    * bit_count verify — [[Dedup.simhashHammingPairs]]' oracle gate. The
    * candidate join is an equi-join on (band, nibble); no all-pairs. */
  val x85 = Q(
    "x85_simhash_hamming_pairs",
    Some(
      s"WITH $duckSimhashCtes, " +
        "bnd AS (SELECT doc_id, simhash16, b, (simhash16 >> (4*b)) & 15 AS nib " +
        "FROM sims CROSS JOIN (SELECT unnest(range(0, 4)) AS b)), " +
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, c.doc_id AS doc_b, " +
        "a.simhash16 AS ha, c.simhash16 AS hb " +
        "FROM bnd a JOIN bnd c ON a.b = c.b AND a.nib = c.nib AND a.doc_id < c.doc_id) " +
        "SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming " +
        "FROM cand WHERE bit_count(xor(ha, hb)) <= 3"
    )
  ) { t =>
    Dedup.simhashHammingPairs(t.documents, "doc_id", "text", maxHamming = 3)
  }

  /** Unigram-surprisal quality scoring ([[Corpus.unigramSurprisal]]) —
    * the perplexity-proxy filter: mean self-information of a doc's
    * tokens under the corpus unigram distribution. `ln` inputs are
    * identical doubles in both engines and per-token values are rounded
    * to 4 decimals before the exact decimal sum (see the scaladoc). */
  val x86 = Q(
    "x86_unigram_surprisal",
    Some(
      "WITH uwords AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "uni AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM uwords GROUP BY word), " +
        "nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM uwords), " +
        "tok AS (SELECT doc_id, CAST(round(ln(CAST(nn AS DOUBLE) / n), 4) AS DECIMAL(9,4)) AS s " +
        "FROM uwords JOIN uni USING (word) CROSS JOIN nt) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(s) AS DOUBLE) / COUNT(*) AS mean_surprisal FROM tok GROUP BY doc_id"
    )
  ) { t => Corpus.unigramSurprisal(t.documents, "doc_id", "text") }

  /** Boilerplate-shingle profile ([[Corpus.boilerplateProfile]]): the
    * fraction of each doc's distinct 3-gram shingles occurring in > 2
    * documents corpus-wide; `is_template` = boilerplate majority. */
  val x87 = Q(
    "x87_boilerplate_profile",
    Some(
      s"WITH $duckShingleCtes, " +
        "dfq AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS sdf FROM shingles GROUP BY sh) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_shingles, " +
        s"${sqlCountIf("sdf > 2")} AS n_boiler, " +
        "CAST(SUM(CASE WHEN sdf > 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS boiler_ratio, " +
        "(SUM(CASE WHEN sdf > 2 THEN 1 ELSE 0 END) * 2 > COUNT(*)) AS is_template " +
        "FROM shingles JOIN dfq USING (sh) GROUP BY doc_id"
    )
  ) { t => Corpus.boilerplateProfile(t.documents, "doc_id", "text", maxDocFreq = 2) }

  /** ANN hubness audit: in-degree distribution of the exact cosine
    * top-5 neighbor graph — hub vectors (huge in-degree) distort
    * kNN-based clustering and label voting, and the 0-in-degree count
    * sizes the anti-hub tail. Composition: [[Dedup.annTopK]] over every
    * vector, one count shuffle on neighbor id, left join back so
    * never-cited vectors keep degree 0, then the tiny histogram agg. */
  val x89 = Q(
    "x89_ann_hubness",
    Some(
      s"WITH $duckNorms, " +
        "asims AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        s"${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine " +
        "FROM norms a JOIN norms b ON a.vec_id <> b.vec_id), " +
        "topk AS (SELECT query_id, neighbor_id FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rn " +
        "FROM asims) WHERE rn <= 5), " +
        "deg AS (SELECT neighbor_id, CAST(COUNT(*) AS BIGINT) AS cnt FROM topk GROUP BY neighbor_id), " +
        "ind AS (SELECT e.vec_id, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS in_degree " +
        "FROM embeddings e LEFT JOIN deg d ON e.vec_id = d.neighbor_id) " +
        "SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM ind GROUP BY in_degree"
    )
  ) { t =>
    val topk = exactTopK5(t)
    val deg = topk.groupBy(col("neighbor_id")).agg(count(lit(1)).as("cnt"))
    t.embeddings.select(col("vec_id"))
      .join(deg, col("vec_id") === col("neighbor_id"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("in_degree"))
      .groupBy(col("in_degree"))
      .agg(count(lit(1)).as("n_vectors"))
  }

  /** Near-dup cluster size histogram — the corpus-health readout over
    * x33's clusters (how much of the corpus sits in how-big duplicate
    * families; a fat tail here is what makes dedup worth its cost).
    * Composition: pairs → [[Dedup.connectedComponents]] → two tiny
    * aggregations; the histogram frame is cluster-count sized. */
  val x90 = Q(
    "x90_cluster_size_histogram",
    Some(
      s"WITH RECURSIVE $duckClusterCtes, " +
        "cl AS (SELECT cluster_root, CAST(COUNT(*) AS BIGINT) AS cluster_size FROM lab GROUP BY cluster_root) " +
        "SELECT cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters, " +
        "CAST(SUM(cluster_size) AS BIGINT) AS n_docs FROM cl GROUP BY cluster_size"
    )
  ) { t =>
    val pairs = nearDupPairs(t)
    Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .groupBy(col("cluster_root")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"), sum(col("cluster_size")).as("n_docs"))
  }

  /** Split leakage audit — the measurable case FOR x52: count near-dup
    * pairs whose endpoints land in different splits under (a) the naive
    * content-hash split (x43's rule, which only keeps EXACT duplicates
    * together) and (b) the cluster-aware split. The cluster row must
    * read 0 by construction (a family shares its root's hash); the
    * content-hash row is the leakage a naive splitter silently ships.
    * The audit runs at 80/10/10 (a common eval-heavy configuration, and
    * one where pair endpoints cross splits ~34% of the time by chance,
    * so the naive count is visibly nonzero at every SF; at 98/1/1 a
    * small pair list can read 0-vs-0 by luck). The expensive shingle
    * join runs ONCE: the pair frame is materialized and shared by the
    * cluster split ([[Dedup.leakageSafeSplitFromPairs]]) and both audit
    * joins. */
  val x91 = Q(
    "x91_split_leakage_audit",
    Some {
      val naiveB = s"${duckPolyHash("text")} % 100"
      val clusterB = s"${duckPolyHash("CAST(split_key AS VARCHAR)")} % 100"
      s"WITH RECURSIVE $duckClusterCtes, " +
        "keyed AS (SELECT d.doc_id, COALESCE(l.cluster_root, d.doc_id) AS split_key " +
        "FROM documents d LEFT JOIN lab l ON d.doc_id = l.doc_id), " +
        "csplit AS (SELECT doc_id, CASE WHEN b < 80 THEN 'train' " +
        "WHEN b < 90 THEN 'val' ELSE 'test' END AS split_name FROM " +
        s"(SELECT doc_id, $clusterB AS b FROM keyed) t), " +
        "nsplit AS (SELECT doc_id, CASE WHEN b < 80 THEN 'train' " +
        "WHEN b < 90 THEN 'val' ELSE 'test' END AS split_name FROM " +
        s"(SELECT doc_id, $naiveB AS b FROM documents) t) " +
        "SELECT 'content_hash' AS split_method, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "COALESCE(CAST(SUM(CASE WHEN a.split_name <> b.split_name THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_cross_pairs " +
        "FROM prs JOIN nsplit a ON prs.doc_a = a.doc_id JOIN nsplit b ON prs.doc_b = b.doc_id " +
        "UNION ALL " +
        "SELECT 'cluster' AS split_method, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "COALESCE(CAST(SUM(CASE WHEN a.split_name <> b.split_name THEN 1 ELSE 0 END) AS BIGINT), 0) AS n_cross_pairs " +
        "FROM prs JOIN csplit a ON prs.doc_a = a.doc_id JOIN csplit b ON prs.doc_b = b.doc_id"
    }
  ) { t =>
    val pairs = nearDupPairs(t).select("doc_a", "doc_b")
    val naive = t.documents.select(col("doc_id"),
      when(expr("poly_hash(text) % 100") < 80, "train")
        .when(expr("poly_hash(text) % 100") < 90, "val")
        .otherwise("test").as("split_name"))
    val clustered = Dedup.leakageSafeSplitFromPairs(t.documents, "doc_id", pairs,
        trainCut = 80, valCut = 90)
      .select(col("doc_id"), col("split_name"))
    def audit(split: DataFrame, label: String): DataFrame =
      pairs
        .join(split.select(col("doc_id").as("doc_a"), col("split_name").as("sa")), Seq("doc_a"))
        .join(split.select(col("doc_id").as("doc_b"), col("split_name").as("sb")), Seq("doc_b"))
        .agg(count(lit(1)).as("n_pairs"),
          coalesce(countIf(col("sa") =!= col("sb")), lit(0L)).as("n_cross_pairs"))
        .select(lit(label).as("split_method"), col("n_pairs"), col("n_cross_pairs"))
    audit(naive, "content_hash").unionAll(audit(clustered, "cluster"))
  }

  /** Per-source curation scorecard ([[Corpus.sourceScorecard]]): doc
    * counts, exact-dup share, mean tokens, token-weighted mean unigram
    * surprisal — the mixture-decision table, one row per source. */
  val x92 = Q(
    "x92_source_scorecard",
    Some(
      "WITH uwords AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "uni AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM uwords GROUP BY word), " +
        "nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM uwords), " +
        "tok AS (SELECT source, CAST(round(ln(CAST(nn AS DOUBLE) / n), 4) AS DECIMAL(9,4)) AS s " +
        "FROM uwords JOIN uni USING (word) CROSS JOIN nt), " +
        "persrc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(s) AS ssum " +
        "FROM tok GROUP BY source), " +
        "dup AS (SELECT text, COUNT(*) AS c FROM documents GROUP BY text), " +
        "docs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        s"${sqlCountIf("c > 1")} AS n_dup_docs " +
        "FROM documents JOIN dup USING (text) GROUP BY source) " +
        "SELECT source, n_docs, n_dup_docs, " +
        "CAST(n_dup_docs AS DOUBLE) / n_docs AS dup_doc_ratio, " +
        "CAST(n_tokens AS DOUBLE) / n_docs AS avg_tokens, " +
        "CAST(ssum AS DOUBLE) / n_tokens AS mean_surprisal " +
        "FROM docs JOIN persrc USING (source)"
    )
  ) { t => Corpus.sourceScorecard(t.documents, "doc_id", "text", "source") }

  /** Hard-negative mining ([[Dedup.hardNegatives]]): per anchor, the
    * top-3 highest-cosine vectors with a DIFFERENT label — contrastive
    * training's informative negatives. Anchors broadcast; one corpus
    * scan; rank bounded via the top-k prune. */
  val x93 = Q(
    "x93_hard_negatives",
    Some(
      "WITH lnorms AS (SELECT vec_id, label, embedding, " +
        s"sqrt(${duckDot("embedding", "embedding")}) AS nrm FROM embeddings), " +
        "lsims AS (SELECT a.vec_id AS query_id, a.label AS anchor_label, " +
        "b.vec_id AS neighbor_id, b.label AS neighbor_label, " +
        s"${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine " +
        "FROM lnorms a JOIN lnorms b ON a.vec_id < 10 AND a.vec_id <> b.vec_id " +
        "AND a.label <> b.label) " +
        "SELECT query_id, anchor_label, neighbor_id, neighbor_label, cosine FROM " +
        "(SELECT *, row_number() OVER (PARTITION BY query_id " +
        "ORDER BY cosine DESC, neighbor_id) AS rn FROM lsims) WHERE rn <= 3"
    )
  ) { t =>
    Dedup.hardNegatives(t.embeddings, "vec_id", "embedding", "label",
      col("vec_id") < 10, k = 3)
  }

  /** Dataset card: the one-row release summary a corpus ships with —
    * document / source / token counts, vocabulary size and hapax share,
    * exact-duplicate share, language mix, and the content-hash split
    * proportions. Every number is an exact count (ratios are one IEEE
    * division); the whole card is two corpus scans (words + documents)
    * reduced to one row. */
  val x94 = Q(
    "x94_dataset_card",
    Some(
      "WITH cwords AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "uni AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM cwords GROUP BY word), " +
        "vocab AS (SELECT CAST(COUNT(*) AS BIGINT) AS vocab_size, " +
        s"${sqlCountIf("n = 1")} AS n_hapax, " +
        "CAST(SUM(n) AS BIGINT) AS n_tokens FROM uni), " +
        "dupd AS (SELECT text, COUNT(*) AS c FROM documents GROUP BY text), " +
        "docs AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources, " +
        "CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs, " +
        s"${sqlCountIf("c > 1")} AS n_dup_docs, " +
        s"${sqlCountIf(s"${duckPolyHash("text")} % 100 < 98")} AS n_train, " +
        s"${sqlCountIf(s"${duckPolyHash("text")} % 100 = 98")} AS n_val " +
        "FROM documents JOIN dupd USING (text)) " +
        "SELECT n_docs, n_sources, n_langs, n_tokens, vocab_size, n_hapax, " +
        "CAST(n_hapax AS DOUBLE) / vocab_size AS hapax_share, " +
        "n_dup_docs, CAST(n_dup_docs AS DOUBLE) / n_docs AS dup_share, " +
        "CAST(n_tokens AS DOUBLE) / n_docs AS avg_doc_tokens, " +
        "n_train, n_val, n_docs - n_train - n_val AS n_test " +
        "FROM docs CROSS JOIN vocab"
    )
  ) { t =>
    val uni = t.documents
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("n"))
    val vocab = uni.agg(
      count(lit(1)).as("vocab_size"),
      countIf(col("n") === 1).as("n_hapax"),
      sum(col("n")).as("n_tokens"))
    val dupd = t.documents.groupBy(col("text")).agg(count(lit(1)).as("c"))
    val bucket = expr("poly_hash(text) % 100")
    val docs = t.documents.join(dupd, "text").agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      countDistinct(col("lang")).as("n_langs"),
      countIf(col("c") > 1).as("n_dup_docs"),
      countIf(bucket < 98).as("n_train"),
      countIf(bucket === 98).as("n_val"))
    docs.crossJoin(vocab).select(
      col("n_docs"), col("n_sources"), col("n_langs"), col("n_tokens"),
      col("vocab_size"), col("n_hapax"),
      (col("n_hapax").cast("double") / col("vocab_size")).as("hapax_share"),
      col("n_dup_docs"),
      (col("n_dup_docs").cast("double") / col("n_docs")).as("dup_share"),
      (col("n_tokens").cast("double") / col("n_docs")).as("avg_doc_tokens"),
      col("n_train"), col("n_val"),
      (col("n_docs") - col("n_train") - col("n_val")).as("n_test"))
  }

  /** Incremental scorecard maintenance — the O(changeset) alternative to
    * rescanning the corpus: the standing corpus (`doc_id % 10 != 7`) and
    * an incoming batch (`doc_id % 10 = 7`) are reduced to per-source
    * PARTIAL rows separately ([[Corpus.lmPartialScorecard]], scored
    * against the STANDING corpus's unigram LM with count-1 smoothing for
    * unseen words) and merged by [[Corpus.scorecardFromPartials]]. The
    * oracle computes the same fixed-LM scorecard over everything in one
    * pass — passing the hash gate proves the partial merge is EXACTLY
    * the full recompute, which is what lets the same machinery maintain
    * corpus statistics under streaming ingest (ScorecardStream) and CDC
    * batches (x81) without ever rescanning standing text. */
  val x95 = Q(
    "x95_incremental_scorecard",
    Some(
      "WITH oldw AS (SELECT unnest(string_split(text, ' ')) AS word FROM documents WHERE doc_id % 10 <> 7), " +
        "lm AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM oldw GROUP BY word), " +
        "lnn AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM lm), " +
        "allw AS (SELECT source, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "tok AS (SELECT source, CAST(round(ln(CAST(nn AS DOUBLE) / COALESCE(n, 1)), 4) AS DECIMAL(9,4)) AS s " +
        "FROM allw LEFT JOIN lm USING (word) CROSS JOIN lnn), " +
        "persrc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens, SUM(s) AS ssum FROM tok GROUP BY source), " +
        "docs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents GROUP BY source) " +
        "SELECT source, n_docs, n_tokens, " +
        "CAST(ssum AS DOUBLE) / n_tokens AS mean_surprisal " +
        "FROM docs JOIN persrc USING (source)"
    )
  ) { t =>
    val standing = t.documents.filter(col("doc_id") % 10 =!= 7)
    val incoming = t.documents.filter(col("doc_id") % 10 === 7)
    val lm = Corpus.unigramLm(standing, "text")
    Corpus.scorecardFromPartials(
      Corpus.lmPartialScorecard(standing, lm, "text", "source")
        .unionAll(Corpus.lmPartialScorecard(incoming, lm, "text", "source")))
  }

  /** Media inventory — the housekeeping layer of a multimodal lake:
    * group the packed binary assets ([[Multimodal.packMedia]]'s schema)
    * by frame-count band and report asset counts and byte totals. The
    * point: inventory/metadata queries over a binary-column table are
    * plain Catalyst (octet arithmetic, exact counts) — `mapPartitions`
    * is reserved for the codec itself (x12). */
  val x96 = Q(
    "x96_media_inventory",
    Some(
      "WITH media AS (SELECT doc_id, octet_length(encode(text)) AS n_bytes, " +
        "octet_length(encode(text)) % 16 + 1 AS n_frames FROM documents) " +
        s"SELECT n_frames, $sqlCount AS n_assets, " +
        "CAST(SUM(n_bytes) AS BIGINT) AS total_bytes, " +
        "CAST(SUM(n_bytes) AS DOUBLE) / COUNT(*) AS avg_bytes, " +
        "CAST(MAX(n_bytes) AS BIGINT) AS max_bytes " +
        "FROM media GROUP BY n_frames"
    )
  ) { t =>
    val nb = length(encode(col("text"), "utf-8")).cast("long")
    t.documents
      .select(col("doc_id"), nb.as("n_bytes"), (nb % 16 + 1).as("n_frames"))
      .groupBy(col("n_frames"))
      .agg(count(lit(1)).as("n_assets"),
        sum(col("n_bytes")).as("total_bytes"),
        (sum(col("n_bytes")).cast("double") / count(lit(1))).as("avg_bytes"),
        max(col("n_bytes")).as("max_bytes"))
  }

  /** Banding recall calibration ([[Dedup.bandingRecallCurve]]): per
    * 0.1-Jaccard bucket, the fraction of TRUE near-dup pairs the 4-band
    * MinHash blocking surfaces — the measured form of 1−(1−s²)⁴, and
    * the pre-flight that decides whether banded candidates can skip
    * exact verification at a given dedup threshold. */
  val x97 = Q(
    "x97_banding_recall_curve",
    Some {
      val mins = mhA.indices.map { j =>
        s"CAST(MIN((sh_h * ${mhA(j)} + ${mhB(j)}) % $P) AS BIGINT) AS mh$j"
      }.mkString(", ")
      val bandKeys = (0 until 4).map { k =>
        s"SELECT doc_id, $k AS band, " +
          s"CAST((mh${2 * k} * 1000003 + mh${2 * k + 1}) % $P AS BIGINT) AS key FROM sigs"
      }.mkString(" UNION ALL ")
      s"WITH $duckShingleCtes, " +
        "counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY doc_id), " +
        "tp AS (SELECT doc_a, doc_b, CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard FROM " +
        "(SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common " +
        "FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
        "GROUP BY a.doc_id, b.doc_id) p " +
        "JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id " +
        "WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.05), " +
        s"hashed AS (SELECT doc_id, ${duckPolyHash("sh")} AS sh_h FROM shingles), " +
        s"sigs AS (SELECT doc_id, $mins FROM hashed GROUP BY doc_id), " +
        s"keys AS ($bandKeys), " +
        "cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b " +
        "FROM keys a JOIN keys b ON a.band = b.band AND a.key = b.key " +
        "AND a.doc_id < b.doc_id), " +
        "scored AS (SELECT CAST(FLOOR(t.jaccard * 10) AS BIGINT) AS bucket, " +
        "CASE WHEN c.doc_a IS NULL THEN 0 ELSE 1 END AS hit " +
        "FROM tp t LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b) " +
        s"SELECT bucket, $sqlCount AS n_true, " +
        "CAST(SUM(hit) AS BIGINT) AS n_hit, " +
        "CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS recall " +
        "FROM scored GROUP BY bucket"
    }
  ) { t =>
    // both sides come from the session registries: true pairs at the
    // 0.05 floor from [[ngramPairsLoose]], banded candidates from
    // [[mhBandAudit]] — the curve is one pair-sized join + tiny agg
    Dedup.bandingRecallCurveFromFrames(ngramPairsLoose(t), mhBandAudit(t))
  }

  /** Truncation-waste curve ([[Corpus.truncationWaste]]): per candidate
    * max sequence length, docs cut and fraction of corpus tokens lost —
    * the context-length pre-flight before a full tokenization run. */
  val x98 = Q(
    "x98_truncation_waste",
    Some(
      "WITH ws AS (SELECT length(text) - length(replace(text, ' ', '')) + 1 " +
        "AS n_tokens FROM documents), " +
        "ls AS (SELECT CAST(UNNEST([16, 32, 64, 128]) AS BIGINT) AS max_len) " +
        s"SELECT max_len, $sqlCount AS n_docs, " +
        "CAST(SUM(CASE WHEN n_tokens > max_len THEN 1 ELSE 0 END) AS BIGINT) AS n_truncated, " +
        "CAST(SUM(LEAST(n_tokens, max_len)) AS BIGINT) AS tokens_kept, " +
        "CAST(SUM(GREATEST(n_tokens - max_len, 0)) AS BIGINT) AS tokens_lost, " +
        "CAST(SUM(GREATEST(n_tokens - max_len, 0)) AS DOUBLE) / " +
        "(SUM(LEAST(n_tokens, max_len)) + SUM(GREATEST(n_tokens - max_len, 0))) " +
        "AS waste_frac " +
        "FROM ws CROSS JOIN ls GROUP BY max_len"
    )
  ) { t =>
    Corpus.truncationWaste(t.documents, "text", Seq(16, 32, 64, 128))
  }

  /** Dedup-threshold sensitivity ([[Dedup.thresholdSensitivity]]): pair
    * and droppable-doc counts at each candidate Jaccard threshold, zero
    * rows included — how sharply corpus size reacts to the knob. */
  val x99 = Q(
    "x99_threshold_sensitivity",
    Some(
      s"WITH $duckShingleCtes, " +
        "counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY doc_id), " +
        "pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common " +
        "FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
        "GROUP BY a.doc_id, b.doc_id), " +
        "jp AS (SELECT doc_a, doc_b, " +
        "CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard " +
        "FROM pairs JOIN counts ca ON doc_a = ca.doc_id " +
        "JOIN counts cb ON doc_b = cb.doc_id " +
        "WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.05), " +
        "ts AS (SELECT UNNEST([0.05, 0.1, 0.2, 0.3, 0.5]) AS threshold), " +
        "agg AS (SELECT threshold, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_dup_docs " +
        "FROM jp JOIN ts ON jaccard >= threshold GROUP BY threshold) " +
        "SELECT t.threshold, COALESCE(a.n_pairs, 0) AS n_pairs, " +
        "COALESCE(a.n_dup_docs, 0) AS n_dup_docs " +
        "FROM ts t LEFT JOIN agg a ON t.threshold = a.threshold"
    )
  ) { t =>
    // thresholds.min == the registry frame's 0.05 floor, so the sweep
    // reads the session's loose pair frame instead of rebuilding the
    // inverted index per pass
    Dedup.thresholdSensitivityFromPairs(
      ngramPairsLoose(t), Seq(0.05, 0.1, 0.2, 0.3, 0.5))
  }

  /** PII scan + redaction scorecard ([[Corpus.piiScan]]): the fixture
    * text carries no PII, so the query first injects deterministic
    * email/phone strings keyed off doc_id (the [[x05]]-style synthetic
    * discipline), then scans and redacts, reporting per-source match
    * counts and redacted char deltas. One map-only regex pass + one
    * small groupBy — the shape a 100 TB scrub job takes. */
  val x100 = Q(
    "x100_pii_scan",
    Some(
      "WITH aug AS (SELECT doc_id, source, text || " +
        "CASE WHEN doc_id % 3 = 0 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END || " +
        "CASE WHEN doc_id % 5 = 0 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END " +
        "AS text FROM documents), " +
        "scanned AS (SELECT source, " +
        "len(regexp_extract_all(text, '[a-z0-9]+@[a-z]+\\.[a-z]+')) AS email_count, " +
        "len(regexp_extract_all(text, '\\d{3}-\\d{4}')) AS phone_count, " +
        "length(text) - length(regexp_replace(regexp_replace(text, " +
        "'[a-z0-9]+@[a-z]+\\.[a-z]+', '<EMAIL>', 'g'), " +
        "'\\d{3}-\\d{4}', '<PHONE>', 'g')) AS delta FROM aug) " +
        s"SELECT source, $sqlCount AS n_docs, " +
        "CAST(SUM(CASE WHEN email_count + phone_count > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii, " +
        "CAST(SUM(email_count) AS BIGINT) AS n_emails, " +
        "CAST(SUM(phone_count) AS BIGINT) AS n_phones, " +
        "CAST(SUM(delta) AS BIGINT) AS chars_redacted " +
        "FROM scanned GROUP BY source"
    )
  ) { t =>
    val aug = t.documents.select(col("doc_id"), col("source"),
      concat(col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))).as("text"))
    Corpus.piiScan(aug, "text",
        Seq("email" -> "[a-z0-9]+@[a-z]+\\.[a-z]+", "phone" -> "\\d{3}-\\d{4}"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("email_count") + col("phone_count") > 0, 1L).otherwise(0L))
          .as("n_docs_with_pii"),
        sum(col("email_count")).as("n_emails"),
        sum(col("phone_count")).as("n_phones"),
        sum(length(col("text")) - length(col("text_redacted")))
          .as("chars_redacted"))
  }

  /** Per-source quantile curation gate ([[Corpus.sourceQuantileGate]]):
    * each source prunes against its OWN median length — the per-domain
    * thresholding discipline for mixed crawls. Summarized per source:
    * cutoff, docs kept, tokens kept. */
  val x101 = Q(
    "x101_source_quantile_gate",
    Some(
      "WITH toks AS (SELECT doc_id, source, " +
        "length(text) - length(replace(text, ' ', '')) + 1 AS n_tokens FROM documents), " +
        "cuts AS (SELECT source, quantile_cont(n_tokens, 0.5) AS cutoff " +
        "FROM toks GROUP BY source) " +
        s"SELECT t.source, MIN(cutoff) AS cutoff, $sqlCount AS n_docs, " +
        "CAST(SUM(CASE WHEN CAST(n_tokens AS DOUBLE) >= cutoff THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(SUM(CASE WHEN CAST(n_tokens AS DOUBLE) >= cutoff THEN n_tokens ELSE 0 END) AS BIGINT) AS tokens_kept " +
        "FROM toks t JOIN cuts c ON t.source = c.source GROUP BY t.source"
    )
  ) { t =>
    Corpus.sourceQuantileGate(t.documents, "doc_id", "text", "source", q = 0.5)
      .groupBy(col("source"))
      .agg(min(col("cutoff")).as("cutoff"),
        count(lit(1)).as("n_docs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("kept"), col("n_tokens")).otherwise(0L)).as("tokens_kept"))
  }

  /** Embedding-LSH recall calibration
    * ([[Dedup.embeddingBandingRecallCurve]]): measured recall of the
    * bucketed x34 scale path against the exact x11 inventory per cosine
    * bucket — the embedding twin of x97's shingle curve. */
  val x102 = Q(
    "x102_embedding_recall_curve",
    Some {
      val bandKeys = (0 until 4).map { k =>
        val bits = (0 until 4).map { p =>
          s"(CASE WHEN ${duckLshDot(k * 4 + p)} >= 0 THEN ${1 << p} ELSE 0 END)"
        }.mkString(" + ")
        s"SELECT vec_id, $k AS band, CAST($bits AS BIGINT) AS band_key FROM embeddings"
      }.mkString(" UNION ALL ")
      s"WITH $duckNorms, " +
        s"keys AS ($bandKeys), " +
        "cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b " +
        "FROM keys a JOIN keys b ON a.band = b.band AND a.band_key = b.band_key " +
        "AND a.vec_id < b.vec_id), " +
        "exact AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        s"${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine " +
        "FROM norms a JOIN norms b ON a.vec_id < b.vec_id " +
        s"WHERE ${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= 0.4) " +
        "SELECT CAST(floor(cosine * 10) AS BIGINT) AS bucket, " +
        s"$sqlCount AS n_true, " +
        "CAST(SUM(CASE WHEN c.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, " +
        "CAST(SUM(CASE WHEN c.vec_a IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS recall " +
        "FROM exact e LEFT JOIN cand c ON e.vec_a = c.vec_a AND e.vec_b = c.vec_b " +
        "GROUP BY bucket"
    }
  ) { t =>
    // both sides from the session registries: the exact 0.4 inventory
    // and the banded candidate set — the curve is one pair-sized join
    Dedup.embeddingBandingRecallCurveFromFrames(
      embNearDupExact(t), embBandCands(t))
  }

  /** Bigram-conditional surprisal ([[Corpus.bigramSurprisal]]): the
    * order-2 LM quality proxy — sees word order where x86's unigram
    * model sees only frequency. */
  val x103 = Q(
    "x103_bigram_surprisal",
    Some(
      "WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "bgs AS (SELECT doc_id, unnest(list_transform(range(1, len(w)), " +
        "i -> w[i] || ' ' || w[i+1])) AS bg FROM wl), " +
        "c2 AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c2 FROM bgs GROUP BY bg), " +
        "c1 AS (SELECT string_split(bg, ' ')[1] AS w1, CAST(COUNT(*) AS BIGINT) AS c1 " +
        "FROM bgs GROUP BY 1), " +
        "tok AS (SELECT doc_id, CAST(round(ln(CAST(c1 AS DOUBLE) / c2), 4) AS DECIMAL(9,4)) AS s " +
        "FROM bgs JOIN c2 USING (bg) JOIN c1 ON string_split(bg, ' ')[1] = c1.w1) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams, " +
        "CAST(SUM(s) AS DOUBLE) / COUNT(*) AS mean_surprisal FROM tok GROUP BY doc_id"
    )
  ) { t => Corpus.bigramSurprisal(t.documents, "doc_id", "text") }

  /** Cluster-cohesion audit ([[Dedup.clusterCohesion]]): per near-dup
    * cluster, observed-pair coverage and weakest/mean similarity — the
    * chaining (over-merge) guard run before a keep-one-per-cluster
    * rewrite. */
  val x104 = Q(
    "x104_cluster_cohesion",
    Some(
      s"WITH RECURSIVE $duckShingleCtes, " +
        "counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY doc_id), " +
        "jp AS (SELECT doc_a, doc_b, CAST(common AS DOUBLE) / (ca.n + cb.n - common) AS jaccard FROM " +
        "(SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common " +
        "FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
        "GROUP BY a.doc_id, b.doc_id) p " +
        "JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id " +
        "WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5), " +
        "edges AS (SELECT doc_a AS u, doc_b AS v FROM jp " +
        "UNION SELECT doc_b, doc_a FROM jp), " +
        "reach(u, v) AS (SELECT u, v FROM edges " +
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
        "lab AS (SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster_root FROM reach GROUP BY u), " +
        "cl AS (SELECT cluster_root, CAST(COUNT(*) AS BIGINT) AS n_docs FROM lab GROUP BY cluster_root), " +
        "pj AS (SELECT l.cluster_root, CAST(round(jaccard, 4) AS DECIMAL(9,4)) AS j " +
        "FROM jp JOIN lab l ON jp.doc_a = l.doc_id), " +
        "coh AS (SELECT cluster_root, CAST(COUNT(*) AS BIGINT) AS n_pairs, " +
        "CAST(MIN(j) AS DOUBLE) AS min_jaccard, CAST(SUM(j) AS DOUBLE) / COUNT(*) AS mean_jaccard " +
        "FROM pj GROUP BY cluster_root) " +
        "SELECT cl.cluster_root, cl.n_docs, coh.n_pairs, coh.min_jaccard, coh.mean_jaccard, " +
        "CAST(coh.n_pairs AS DOUBLE) / (cl.n_docs * (cl.n_docs - 1) / 2) AS pair_coverage " +
        "FROM cl JOIN coh USING (cluster_root)"
    )
  ) { t =>
    Dedup.clusterCohesion(nearDupPairs(t), "doc_a", "doc_b", "jaccard")
  }

  /** Held-out surprisal ([[Corpus.lmDocSurprisal]]): unigram LM trained
    * ONLY on the train split of the content-hash split (x43's rule),
    * scoring each held-out (val/test) document — leakage-free per-doc
    * perplexity, the eval-side twin of x86's self-corpus surprisal. */
  val x105 = Q(
    "x105_heldout_surprisal",
    Some(
      s"WITH b AS (SELECT doc_id, text, ${duckPolyHash("text")} % 100 AS bucket FROM documents), " +
        "twords AS (SELECT unnest(string_split(text, ' ')) AS word FROM b WHERE bucket < 98), " +
        "lm AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS n FROM twords GROUP BY word), " +
        "nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS nn FROM twords), " +
        "tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM b WHERE bucket >= 98), " +
        "sc AS (SELECT doc_id, CAST(round(ln(CAST(nn AS DOUBLE) / COALESCE(n, 1)), 4) AS DECIMAL(9,4)) AS s " +
        "FROM tok LEFT JOIN lm USING (word) CROSS JOIN nt) " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(s) AS DOUBLE) / COUNT(*) AS mean_surprisal FROM sc GROUP BY doc_id"
    )
  ) { t =>
    val bucketed = t.documents.withColumn("bucket", expr("poly_hash(text) % 100"))
    val lm = Corpus.unigramLm(bucketed.filter(col("bucket") < 98), "text")
    Corpus.lmDocSurprisal(
      bucketed.filter(col("bucket") >= 98), lm, "doc_id", "text")
  }

  /** Shard manifest ([[Corpus.shardManifest]]): 16-way id-hash shard
    * assignment with per-shard counts, token totals, id ranges, and the
    * order-independent XOR content checksum — the release-equality
    * witness for a sharded dataset write. */
  val x106 = Q(
    "x106_shard_manifest",
    Some(
      s"SELECT ${duckPolyHash("CAST(doc_id AS VARCHAR)")} % 16 AS shard, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS n_tokens, " +
        "CAST(MIN(doc_id) AS BIGINT) AS min_id, CAST(MAX(doc_id) AS BIGINT) AS max_id, " +
        s"bit_xor(${duckPolyHash("text")}) AS checksum " +
        "FROM documents GROUP BY 1"
    )
  ) { t => Corpus.shardManifest(t.documents, "doc_id", "text", 16) }

  /** Dedup-clean eval sample ([[Corpus.cleanEvalSample]]): 5 docs per
    * source drawn only from documents in no near-dup pair — the
    * benchmark-set builder that bakes leakage hygiene into sampling. */
  val x107 = Q(
    "x107_clean_eval_sample",
    Some(
      s"WITH $duckShingleCtes, " +
        "counts AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM shingles GROUP BY doc_id), " +
        "prs AS (SELECT doc_a, doc_b FROM " +
        "(SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(COUNT(*) AS BIGINT) AS common " +
        "FROM shingles a JOIN shingles b ON a.sh = b.sh AND a.doc_id < b.doc_id " +
        "GROUP BY a.doc_id, b.doc_id) p " +
        "JOIN counts ca ON doc_a = ca.doc_id JOIN counts cb ON doc_b = cb.doc_id " +
        "WHERE CAST(common AS DOUBLE) / (ca.n + cb.n - common) >= 0.5), " +
        "dup AS (SELECT doc_a AS doc_id FROM prs UNION SELECT doc_b FROM prs), " +
        "clean AS (SELECT doc_id, source FROM documents " +
        "WHERE doc_id NOT IN (SELECT doc_id FROM dup)), " +
        "ranked AS (SELECT doc_id, source, ROW_NUMBER() OVER (PARTITION BY source " +
        "ORDER BY (doc_id * 48271) % 2147483647, doc_id) AS rn FROM clean) " +
        "SELECT doc_id, source FROM ranked WHERE rn <= 5"
    )
  ) { t =>
    val pairs = nearDupPairs(t)
    Corpus.cleanEvalSample(
        t.documents, pairs, "doc_a", "doc_b", "doc_id", "source", k = 5)
      .select(col("doc_id"), col("source"))
  }

  /** Mixture drift ([[Corpus.mixtureDrift]]): per-source token shares
    * raw vs after the x65 quality gate, with the KL(kept‖raw)
    * contribution — which domains did curation silently over- or
    * under-prune. */
  val x108 = Q(
    "x108_mixture_drift",
    Some {
      val markers = Seq("en" -> "the", "es" -> "el", "de" -> "der", "fr" -> "le", "zh" -> "ha")
      val counts = markers
        .map { case (l, w) => s"CAST(${duckWordCount(w)} AS DOUBLE) AS c_$l" }
        .mkString(", ")
      val tok = "length(text) - length(replace(text, ' ', '')) + 1"
      "WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "ws AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST(COUNT(DISTINCT word) AS BIGINT) AS nd FROM words GROUP BY doc_id), " +
        "lng AS (SELECT doc_id, CASE " +
        "WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_zh THEN 'en' " +
        "WHEN c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es' " +
        "WHEN c_de >= c_fr AND c_de >= c_zh THEN 'de' " +
        "WHEN c_fr >= c_zh THEN 'fr' ELSE 'zh' END AS lang_pred " +
        s"FROM (SELECT doc_id, $counts FROM documents) c), " +
        "kept AS (SELECT ws.doc_id FROM ws JOIN lng ON ws.doc_id = lng.doc_id " +
        "WHERE NOT ((n_words < 40) OR (n_words > 400) OR " +
        "(CAST(n_words - nd AS DOUBLE) / n_words > 0.8) OR (lang_pred <> 'en'))), " +
        s"ta AS (SELECT source, CAST(SUM($tok) AS BIGINT) AS tokens_a " +
        "FROM documents GROUP BY source), " +
        s"tb AS (SELECT source, CAST(SUM($tok) AS BIGINT) AS tokens_b " +
        "FROM documents d JOIN kept k ON d.doc_id = k.doc_id GROUP BY source), " +
        "tota AS (SELECT CAST(SUM(tokens_a) AS BIGINT) AS t FROM ta), " +
        "totb AS (SELECT CAST(SUM(tokens_b) AS BIGINT) AS t FROM tb), " +
        "j AS (SELECT ta.source, tokens_a, COALESCE(tokens_b, 0) AS tokens_b, " +
        "CAST(tokens_a AS DOUBLE) / tota.t AS share_a, " +
        "CAST(COALESCE(tokens_b, 0) AS DOUBLE) / totb.t AS share_b " +
        "FROM ta LEFT JOIN tb ON ta.source = tb.source CROSS JOIN tota CROSS JOIN totb) " +
        "SELECT source, tokens_a, tokens_b, share_a, share_b, " +
        "CASE WHEN tokens_b = 0 THEN 0.0 ELSE share_b * " +
        "CAST(CAST(round(ln(share_b / share_a), 4) AS DECIMAL(9,4)) AS DOUBLE) END AS kl_term " +
        "FROM j"
    }
  ) { t =>
    val kept = t.documents.join(
      qualityGateReg(t).filter(col("kept")).select(col("doc_id")), "doc_id")
    Corpus.mixtureDrift(t.documents, kept, "source", "text")
  }

  /** Tokenizer fertility ([[Corpus.tokenizerFertility]]): per-source
    * whitespace vs BPE-ish regex token counts, fertility ratio, and
    * chars per regex token — the pre-tokenization density audit. */
  val x109 = Q(
    "x109_tokenizer_fertility",
    Some(
      "SELECT source, " +
        "CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS ws_tokens, " +
        "CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS BIGINT) AS regex_tokens, " +
        "CAST(SUM(length(text)) AS BIGINT) AS n_chars, " +
        "CAST(SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS DOUBLE) " +
        "/ SUM(length(text) - length(replace(text, ' ', '')) + 1) AS fertility, " +
        "CAST(SUM(length(text)) AS DOUBLE) " +
        "/ SUM(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]'))) AS chars_per_token " +
        "FROM documents GROUP BY source"
    )
  ) { t => Corpus.tokenizerFertility(t.documents, "source", "text") }

  /** Label entropy ([[Corpus.labelEntropy]]): per-source language
    * composition entropy — the "is this domain monolingual?" audit. */
  val x110 = Q(
    "x110_lang_entropy",
    Some(
      "WITH c AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM documents GROUP BY source, lang), " +
        "n AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM c GROUP BY source), " +
        "t AS (SELECT c.source, CAST(round((CAST(c AS DOUBLE) / n) * " +
        "ln(CAST(c AS DOUBLE) / n), 4) AS DECIMAL(9,4)) AS term " +
        "FROM c JOIN n ON c.source = n.source) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_labels, " +
        "CAST(-SUM(term) AS DOUBLE) AS entropy FROM t GROUP BY source"
    )
  ) { t => Corpus.labelEntropy(t.documents, "source", "lang") }

  /** Histogram-sketch quantiles ([[Corpus.histogramSketch]] +
    * [[Corpus.histQuantiles]]): p50/p90/p99 token-count estimates off a
    * width-16 mergeable histogram — the one-scan, sort-free alternative
    * to x22's exact percentiles at 100 TB (merge-invariance pinned in
    * CorpusSpec). */
  val x111 = Q(
    "x111_hist_quantiles",
    Some(
      "WITH v AS (SELECT CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS t " +
        "FROM documents), " +
        "h AS (SELECT CAST(floor(t / 16) AS BIGINT) AS bin, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM v GROUP BY bin), " +
        "c AS (SELECT bin, n, CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cum, " +
        "(SELECT CAST(SUM(n) AS BIGINT) FROM h) AS total FROM h), " +
        "qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.5), (0.9), (0.99)) AS t(q)), " +
        "sel AS (SELECT qs.q, c.bin, c.n, c.cum, " +
        "CAST(ceil(qs.q * c.total) AS BIGINT) AS target, " +
        "ROW_NUMBER() OVER (PARTITION BY qs.q ORDER BY c.bin) AS rn " +
        "FROM qs CROSS JOIN c WHERE c.cum >= ceil(qs.q * c.total)) " +
        "SELECT q, bin * 16 + CAST(CAST(round(CAST(target - (cum - n) AS DOUBLE) / n * 16, 4) " +
        "AS DECIMAL(14,4)) AS DOUBLE) AS estimate FROM sel WHERE rn = 1"
    )
  ) { t =>
    val sketch = Corpus.histogramSketch(
      t.documents, graft.functions.Text.tokenCount("text").cast("long"), 16L)
    Corpus.histQuantiles(sketch, Seq(0.5, 0.9, 0.99), 16L)
  }

  /** Hybrid retrieval fusion ([[Corpus.rrfFuse]]): BM25 lexical top-50
    * (x69's fixed query) and exact-cosine vector top-50 for query
    * vector 0 fused by reciprocal-rank fusion (k0 = 60) — the standard
    * two-tower retrieval merge for RAG candidate mining. Both rank
    * windows run over 50-row top-k frames (tiny), and the fused score
    * is a fixed-order sum of exact integer reciprocals — no float
    * hazards anywhere. */
  val x112 = Q(
    "x112_hybrid_rrf",
    Some {
      "WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "lens AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS len FROM words GROUP BY doc_id), " +
        "tf AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS tf FROM words " +
        "WHERE word IN ('spark', 'join', 'data') GROUP BY doc_id, word), " +
        "dfreq AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY word), " +
        "totals AS (SELECT CAST(SUM(len) AS BIGINT) AS total_len, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs FROM lens), " +
        "scored AS (SELECT tf.doc_id, tf.word, " +
        "((CAST(n_docs - df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5)) * " +
        "((CAST(tf AS DOUBLE) * 2.2) / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * " +
        "(CAST(len AS DOUBLE) / (CAST(total_len AS DOUBLE) / CAST(n_docs AS DOUBLE)))))) AS score_t " +
        "FROM tf JOIN dfreq USING (word) JOIN lens USING (doc_id) CROSS JOIN totals), " +
        "perterm AS (SELECT doc_id, " +
        "COALESCE(MAX(CASE WHEN word = 'spark' THEN score_t END), 0.0) AS s_0, " +
        "COALESCE(MAX(CASE WHEN word = 'join' THEN score_t END), 0.0) AS s_1, " +
        "COALESCE(MAX(CASE WHEN word = 'data' THEN score_t END), 0.0) AS s_2 " +
        "FROM scored GROUP BY doc_id), " +
        "lex AS (SELECT doc_id, ((s_0 + s_1) + s_2) AS score FROM perterm " +
        "ORDER BY score DESC, doc_id LIMIT 50), " +
        "lexr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER " +
        "(ORDER BY score DESC, doc_id) AS BIGINT) AS r_lex FROM lex), " +
        s"$duckNorms, " +
        "sims AS (SELECT b.vec_id AS doc_id, " +
        s"${duckDot("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cosine " +
        "FROM norms a JOIN norms b ON a.vec_id = 0 AND b.vec_id <> 0), " +
        "vtop AS (SELECT doc_id, cosine FROM sims ORDER BY cosine DESC, doc_id LIMIT 50), " +
        "vecr AS (SELECT doc_id, CAST(ROW_NUMBER() OVER " +
        "(ORDER BY cosine DESC, doc_id) AS BIGINT) AS r_vec FROM vtop) " +
        "SELECT COALESCE(lexr.doc_id, vecr.doc_id) AS doc_id, " +
        "lexr.r_lex AS rank_0, vecr.r_vec AS rank_1, " +
        "COALESCE(1.0 / (60 + lexr.r_lex), 0.0) + " +
        "COALESCE(1.0 / (60 + vecr.r_vec), 0.0) AS rrf_score " +
        "FROM lexr FULL OUTER JOIN vecr ON lexr.doc_id = vecr.doc_id"
    }
  ) { t =>
    val wLex = Window.orderBy(col("score").desc, col("doc_id"))
    val lex = Corpus.bm25TopK(t.documents, "doc_id", "text",
        Seq("spark", "join", "data"), 50)
      .select(col("doc_id"), row_number().over(wLex).as("r_lex"))
    val wVec = Window.orderBy(col("cosine").desc, col("neighbor_id"))
    val vec = Dedup.annTopK(t.embeddings, "vec_id", "embedding",
        col("query_id") === 0, k = 50)
      .select(col("neighbor_id").as("doc_id"), row_number().over(wVec).as("r_vec"))
    Corpus.rrfFuse("doc_id", 60, (lex, "r_lex"), (vec, "r_vec"))
  }

  /** Weighted sampling without replacement ([[Corpus.weightedSample]]):
    * 100 docs drawn ∝ the x68 distinct-ratio quality score via the
    * Efraimidis–Spirakis key — quality-biased corpus subsampling with
    * zero `rand()` (the F6 arithmetic-LCG discipline, reproducible on
    * any cluster size). */
  val x113 = Q(
    "x113_weighted_sample",
    Some {
      "WITH words AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "ws AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "CAST(COUNT(DISTINCT word) AS BIGINT) AS nd FROM words GROUP BY doc_id), " +
        "s AS (SELECT doc_id, CAST(nd AS DOUBLE) / n_tokens AS weight FROM ws), " +
        "k AS (SELECT doc_id, weight, " +
        "CAST(CAST(round(ln(CAST(((doc_id + 1) * 2654435761) % 2147483647 + 1 AS DOUBLE) " +
        "/ 2147483648.0), 4) AS DECIMAL(9,4)) AS DOUBLE) / weight AS es_key FROM s) " +
        "SELECT doc_id, weight, es_key FROM k ORDER BY es_key DESC, doc_id LIMIT 100"
    }
  ) { t =>
    val scored = docWordStats(t)
      .select(col("doc_id"),
        (col("nd").cast("double") / col("n_tokens")).as("w"))
    Corpus.weightedSample(scored, "doc_id", col("w"), 100)
  }

  /** Sketch-based per-source length gate ([[Corpus.groupedHistQuantiles]]):
    * the 100 TB twin of x101's exact quantile gate — per-source [p10,
    * p90] token-count bands estimated off a width-8 grouped histogram
    * sketch instead of an exact within-group percentile sort. The
    * corpus is scanned once (map-side-combined bin counts), the band
    * table is |sources| × 2 rows and broadcasts back; the trade is a
    * ±8-token error bound on the cutoffs, which a curation gate
    * tolerates by design. */
  val x114 = Q(
    "x114_sketch_quantile_gate",
    Some {
      "WITH n AS (SELECT doc_id, source, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents), " +
        "h AS (SELECT source, CAST(floor(n_tokens / 8) AS BIGINT) AS bin, " +
        "CAST(COUNT(*) AS BIGINT) AS n FROM n GROUP BY source, bin), " +
        "t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS total FROM h GROUP BY source), " +
        "c AS (SELECT h.source, bin, n, CAST(SUM(n) OVER " +
        "(PARTITION BY h.source ORDER BY bin) AS BIGINT) AS cum, total " +
        "FROM h JOIN t ON h.source = t.source), " +
        "qs AS (SELECT CAST(q AS DOUBLE) AS q FROM (VALUES (0.1), (0.9)) v(q)), " +
        "sel AS (SELECT qs.q, c.source, bin, n, cum, " +
        "CAST(ceil(qs.q * c.total) AS BIGINT) AS target, " +
        "ROW_NUMBER() OVER (PARTITION BY qs.q, c.source ORDER BY c.bin) AS rn " +
        "FROM qs CROSS JOIN c WHERE c.cum >= ceil(qs.q * c.total)), " +
        "est AS (SELECT q, source, bin * 8 + " +
        "CAST(CAST(round(CAST(target - (cum - n) AS DOUBLE) / n * 8, 4) " +
        "AS DECIMAL(14,4)) AS DOUBLE) AS estimate FROM sel WHERE rn = 1), " +
        "b AS (SELECT source, MAX(CASE WHEN q = 0.1 THEN estimate END) AS lo, " +
        "MAX(CASE WHEN q = 0.9 THEN estimate END) AS hi FROM est GROUP BY source) " +
        "SELECT doc_id, n.source, n_tokens, lo, hi, " +
        "(CAST(n_tokens AS DOUBLE) >= lo AND CAST(n_tokens AS DOUBLE) <= hi) AS keep " +
        "FROM n JOIN b ON n.source = b.source"
    }
  ) { t =>
    val n = t.documents.select(col("doc_id"), col("source"),
      size(split(col("text"), " ")).cast("long").as("n_tokens"))
    val sketch = n
      .select(col("source"), floor(col("n_tokens") / lit(8L)).as("bin"))
      .groupBy(col("source"), col("bin")).agg(count(lit(1)).as("n"))
    val bands = Corpus.groupedHistQuantiles(sketch, Seq("source"), Seq(0.1, 0.9), 8L)
      .groupBy(col("source"))
      .agg(max(when(col("q") === 0.1, col("estimate"))).as("lo"),
        max(when(col("q") === 0.9, col("estimate"))).as("hi"))
    n.join(broadcast(bands), Seq("source"))
      .select(col("doc_id"), col("source"), col("n_tokens"), col("lo"), col("hi"),
        (col("n_tokens").cast("double") >= col("lo") &&
          col("n_tokens").cast("double") <= col("hi")).as("keep"))
  }

  /** Inter-arrival histogram per event type: each user's consecutive
    * event gaps (µs), attributed to the later event's type, folded into
    * 1-minute [[Corpus.histogramSketch]] bins — the cadence profile
    * that sizes session-gap thresholds (x13's 30 min) and watermark
    * delays from data instead of folklore. One shuffle by user for the
    * lag, then a map-side-combined (type, bin) count; the sketch is
    * mergeable across days/releases by construction. */
  val x115 = Q(
    "x115_interarrival_histogram",
    Some(
      "WITH ev AS (SELECT user_id, event_id, event_type, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events), " +
        "d AS (SELECT event_type, tus - lag(tus) OVER " +
        "(PARTITION BY user_id ORDER BY tus, event_id) AS delta_us FROM ev) " +
        "SELECT event_type, CAST(floor(delta_us / 60000000) AS BIGINT) AS bin, " +
        s"$sqlCount AS n FROM d WHERE delta_us IS NOT NULL GROUP BY event_type, bin"
    )
  ) { t =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    t.events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("delta_us", col("tus") - lag(col("tus"), 1).over(w))
      .filter(col("delta_us").isNotNull)
      .select(col("event_type"), floor(col("delta_us") / lit(60000000L)).as("bin"))
      .groupBy(col("event_type"), col("bin")).agg(count(lit(1)).as("n"))
  }

  /** Cross-source LM cross-entropy matrix
    * ([[Corpus.crossSourceCrossEntropy]]): mean surprisal of every
    * source's tokens under every source's smoothed unigram LM — the
    * |sources|² domain-similarity matrix mixture design reads before
    * weighting or merging domains. */
  val x116 = Q(
    "x116_cross_entropy_matrix",
    Some(
      "WITH cw AS (SELECT source AS src, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "cnt AS (SELECT src, word, CAST(COUNT(*) AS BIGINT) AS c FROM cw GROUP BY src, word), " +
        "na AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS n_a FROM cw GROUP BY src), " +
        "vocab AS (SELECT DISTINCT word FROM cw), " +
        "v AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab), " +
        "m AS (SELECT g.word, g.src AS src_model, " +
        "CAST(round(ln(CAST(n_a + v AS DOUBLE) / CAST(COALESCE(c, 0) + 1 AS DOUBLE)), 4) " +
        "AS DECIMAL(9,4)) AS lnp " +
        "FROM (SELECT word, src FROM vocab CROSS JOIN (SELECT DISTINCT src FROM cnt) s) g " +
        "LEFT JOIN cnt ON g.src = cnt.src AND g.word = cnt.word " +
        "JOIN na ON g.src = na.src CROSS JOIN v) " +
        "SELECT d.src AS src_data, m.src_model, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(lnp) AS DOUBLE) / CAST(COUNT(*) AS BIGINT) AS cross_entropy " +
        "FROM cw d JOIN m ON d.word = m.word GROUP BY d.src, m.src_model"
    )
  ) { t =>
    Corpus.crossSourceCrossEntropy(t.documents, "doc_id", "text", "source")
  }

  /** Quasi-identifier k-anonymity audit: group documents by the
    * (source, lang, 50-token length band) quasi-identifier tuple and
    * flag every document whose group has fewer than k = 5 members — the
    * re-identification audit a release runs AFTER x100's direct-PII
    * scrub (small quasi-identifier groups can leak identity even with
    * direct identifiers removed). One map-side-combined group count +
    * a broadcast join back; integer-only, exact on any partitioning. */
  val x117 = Q(
    "x117_k_anonymity",
    Some(
      "WITH n AS (SELECT doc_id, source, lang, " +
        "CAST(floor(len(string_split(text, ' ')) / 50) AS BIGINT) AS band FROM documents), " +
        "g AS (SELECT source, lang, band, CAST(COUNT(*) AS BIGINT) AS group_n " +
        "FROM n GROUP BY source, lang, band) " +
        "SELECT doc_id, n.source, n.lang, n.band, group_n, group_n < 5 AS at_risk " +
        "FROM n JOIN g ON n.source = g.source AND n.lang = g.lang AND n.band = g.band"
    )
  ) { t =>
    val n = t.documents.select(col("doc_id"), col("source"), col("lang"),
      floor(size(split(col("text"), " ")) / lit(50)).as("band"))
    val g = n.groupBy(col("source"), col("lang"), col("band"))
      .agg(count(lit(1)).as("group_n"))
    n.join(broadcast(g), Seq("source", "lang", "band"))
      .select(col("doc_id"), col("source"), col("lang"), col("band"),
        col("group_n"), (col("group_n") < 5).as("at_risk"))
  }

  /** Per-source recrawl churn ([[Corpus.snapshotChurnBySource]]):
    * x67's synthetic next snapshot rolled up to the per-source
    * added/removed/changed rates — the "which domains are unstable
    * between crawls" readout that decides recrawl cadence and
    * incremental-dedup budget per domain. */
  val x118 = Q(
    "x118_churn_by_source",
    Some {
      "WITH b0 AS (SELECT doc_id, source, CASE WHEN doc_id % 7 = 0 THEN text || ' v2' ELSE text END AS text " +
        "FROM documents WHERE doc_id % 13 <> 0), " +
        "bn AS (SELECT doc_id + 10000000 AS doc_id, source, text FROM documents WHERE doc_id % 17 = 0), " +
        s"a AS (SELECT doc_id, source, ${duckPolyHash("text")} AS h_old FROM documents), " +
        s"b AS (SELECT doc_id, source, ${duckPolyHash("text")} AS h_new FROM " +
        "(SELECT * FROM b0 UNION ALL SELECT * FROM bn) u), " +
        "st AS (SELECT COALESCE(a.source, b.source) AS source, " +
        "CASE WHEN a.doc_id IS NULL THEN 'added' " +
        "WHEN b.doc_id IS NULL THEN 'removed' " +
        "WHEN h_old <> h_new THEN 'changed' ELSE 'unchanged' END AS status " +
        "FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id) " +
        "SELECT source, " +
        s"${sqlCountIf("status = 'added'")} AS n_added, " +
        s"${sqlCountIf("status = 'removed'")} AS n_removed, " +
        s"${sqlCountIf("status = 'changed'")} AS n_changed, " +
        s"${sqlCountIf("status = 'unchanged'")} AS n_unchanged, " +
        "CAST(" + sqlCountIf("status IN ('added', 'removed', 'changed')") +
        " AS DOUBLE) / " + sqlCountIf("status IN ('removed', 'changed', 'unchanged')") +
        " AS churn_rate FROM st GROUP BY source"
    }
  ) { t =>
    val next = t.documents
      .filter(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), col("source"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")).as("text"))
      .unionAll(
        t.documents.filter(col("doc_id") % 17 === 0)
          .select((col("doc_id") + lit(10000000L)).as("doc_id"),
            col("source"), col("text")))
    Corpus.snapshotChurnBySource(t.documents, next, "doc_id", "text", "source")
  }

  /** Near-dup benchmark decontamination ([[Dedup.crossNearDup]]): train
    * docs whose 3-gram Jaccard against any benchmark doc (the x40
    * `doc_id % 97` eval set) reaches 0.5, with the best-matching bench
    * doc — catches paraphrased eval leakage that exact-gram
    * decontamination (x40/x80) misses. Bench side broadcasts; the
    * corpus never self-joins. */
  val x119 = Q(
    "x119_neardup_decontamination",
    Some {
      "WITH words AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "sh AS (SELECT DISTINCT doc_id, unnest(list_transform(range(1, len(w) - 1), " +
        "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])) AS sh FROM words), " +
        "shT AS (SELECT doc_id AS train_id, sh FROM sh WHERE doc_id % 97 <> 0), " +
        "shB AS (SELECT doc_id AS bench_id, sh FROM sh WHERE doc_id % 97 = 0), " +
        "cT AS (SELECT train_id, CAST(COUNT(*) AS BIGINT) AS na FROM shT GROUP BY train_id), " +
        "cB AS (SELECT bench_id, CAST(COUNT(*) AS BIGINT) AS nb FROM shB GROUP BY bench_id), " +
        "p AS (SELECT train_id, bench_id, CAST(COUNT(*) AS BIGINT) AS common " +
        "FROM shT JOIN shB USING (sh) GROUP BY train_id, bench_id), " +
        "j AS (SELECT train_id, bench_id, common, " +
        "CAST(common AS DOUBLE) / (na + nb - common) AS jaccard " +
        "FROM p JOIN cT USING (train_id) JOIN cB USING (bench_id) " +
        "WHERE CAST(common AS DOUBLE) / (na + nb - common) >= 0.5) " +
        "SELECT train_id, bench_id, common, jaccard FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY train_id " +
        "ORDER BY jaccard DESC, bench_id) AS rn FROM j) WHERE rn = 1"
    }
  ) { t =>
    Dedup.crossNearDup(
      t.documents.filter(col("doc_id") % 97 =!= 0),
      t.documents.filter(col("doc_id") % 97 === 0),
      "doc_id", "text", threshold = 0.5)
  }

  /** Calendar forward-fill: each user's daily metric series with gaps
    * filled by the last observed value — the imputation step before any
    * per-day aggregate that must not treat "no event" as zero. Daily
    * value = the day's LAST event (ts, event_id ordered); the per-user
    * calendar comes from `sequence(min_day, max_day)` (bounded by the
    * user's own span, never a global calendar join); the fill is
    * `last(value, ignoreNulls)` over the per-user day window. No float
    * arithmetic anywhere — values are carried, not computed — so the
    * result is exact on any engine. */
  val x120 = Q(
    "x120_forward_fill",
    Some(
      "WITH ev AS (SELECT user_id, event_id, value, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) AS tus, " +
        "CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day FROM events), " +
        "d AS (SELECT user_id, day, value FROM " +
        "(SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, day " +
        "ORDER BY tus DESC, event_id DESC) AS rn FROM ev) WHERE rn = 1), " +
        "span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM d GROUP BY user_id), " +
        "cal AS (SELECT user_id, unnest(generate_series(d0, d1)) AS day FROM span), " +
        "j AS (SELECT cal.user_id, cal.day, d.value FROM cal " +
        "LEFT JOIN d ON cal.user_id = d.user_id AND cal.day = d.day) " +
        "SELECT user_id, day, last_value(value IGNORE NULLS) OVER " +
        "(PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS value_filled, value IS NOT NULL AS was_observed FROM j"
    )
  ) { t =>
    val ev = t.events
      .select(col("user_id"), col("event_id"), col("value"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("day", floor(col("tus") / lit(86400000000L)))
    val wD = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("tus").desc, col("event_id").desc)
    val daily = ev.withColumn("rn", row_number().over(wD)).filter(col("rn") === 1)
      .select(col("user_id"), col("day"), col("value"))
    val cal = daily.groupBy(col("user_id"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val wF = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cal.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        last(col("value"), ignoreNulls = true).over(wF).as("value_filled"),
        col("value").isNotNull.as("was_observed"))
  }

  /** MAD robust outlier scores per event type: median absolute
    * deviation replaces x84's mean/std — one wild event can't drag the
    * center (breakdown point 50% vs 0%), which is what anomaly gating
    * on heavy-tailed event streams needs. Both medians ride the x22
    * exact-interpolation discipline (`percentile` ≡ `quantile_cont`);
    * the robust z is comparison-free arithmetic on carried doubles
    * with a guarded zero-MAD branch. Two grouped percentile passes +
    * one broadcast stats join; values never self-join. */
  val x121 = Q(
    "x121_mad_outliers",
    Some(
      "WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med " +
        "FROM events GROUP BY event_type), " +
        "dev AS (SELECT e.event_id, e.event_type, e.value, m.med, " +
        "abs(e.value - m.med) AS dev FROM events e JOIN med m ON e.event_type = m.event_type), " +
        "mad AS (SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY event_type) " +
        "SELECT d.event_id, d.event_type, d.value, d.med, mad.mad, " +
        "CASE WHEN mad.mad = 0 THEN 0.0 ELSE (d.value - d.med) / mad.mad END AS robust_z " +
        "FROM dev d JOIN mad ON d.event_type = mad.event_type"
    )
  ) { t =>
    val med = t.events.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.5)).as("med"))
    val dev = t.events.join(broadcast(med), "event_type")
      .select(col("event_id"), col("event_type"), col("value"), col("med"),
        abs(col("value") - col("med")).as("dev"))
    val mad = dev.groupBy(col("event_type"))
      .agg(percentile(col("dev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .select(col("event_id"), col("event_type"), col("value"), col("med"), col("mad"),
        when(col("mad") === 0, lit(0.0))
          .otherwise((col("value") - col("med")) / col("mad")).as("robust_z"))
  }

  /** Trailing-7-day active users per day: each (user, active day) fans
    * out to the 7 report days whose window covers it, duplicates
    * collapse map-side, and an exact distinct count lands per day —
    * the bounded-fanout rolling-distinct formulation (fanout = window
    * length, never a per-day corpus rescan and never a sliding
    * collect_set). Report days clip to the observed day range. */
  val x122 = Q(
    "x122_rolling_wau",
    Some(
      "WITH ud AS (SELECT DISTINCT user_id, " +
        "CAST(floor(epoch_us(CAST(ts AS TIMESTAMP)) / 86400000000) AS BIGINT) AS day FROM events), " +
        "mx AS (SELECT MAX(day) AS dmax FROM ud), " +
        "fan AS (SELECT DISTINCT user_id, day + i AS report_day " +
        "FROM ud CROSS JOIN (SELECT unnest(generate_series(0, 6)) AS i) s " +
        "CROSS JOIN mx WHERE day + i <= dmax) " +
        "SELECT report_day, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS wau " +
        "FROM fan GROUP BY report_day"
    )
  ) { t =>
    val ud = t.events
      .select(col("user_id"),
        floor(unix_micros(col("ts")) / lit(86400000000L)).as("day"))
      .distinct()
    val dmax = ud.agg(max(col("day")).as("dmax"))
    ud.select(col("user_id"), explode(sequence(lit(0L), lit(6L))).as("i"), col("day"))
      .crossJoin(broadcast(dmax))
      .select(col("user_id"), (col("day") + col("i")).as("report_day"), col("dmax"))
      .filter(col("report_day") <= col("dmax"))
      .groupBy(col("report_day"))
      .agg(countDistinct(col("user_id")).as("wau"))
  }

  /** Canonicalization dedup: lowercase, strip non-alphanumerics,
    * collapse whitespace, then group by the canonical-form hash —
    * catches the case/punctuation/spacing variants exact dedup (x01)
    * misses and near-dup scoring wastes candidates on. Per-doc output:
    * the canonical group's min-id representative, the group size, and
    * whether this doc IS the representative. The canonical text never
    * shuffles — only its 8-byte poly_hash does (the x01/x67
    * discipline); regex normalization is a map-only projection. */
  val x123 = Q(
    "x123_canonical_dedup",
    Some {
      val canon = "trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))"
      s"WITH c AS (SELECT doc_id, ${duckPolyHash(canon)} AS canon_hash FROM documents), " +
        "g AS (SELECT canon_hash, CAST(MIN(doc_id) AS BIGINT) AS canonical_id, " +
        "CAST(COUNT(*) AS BIGINT) AS n_variants FROM c GROUP BY canon_hash) " +
        "SELECT doc_id, c.canon_hash, canonical_id, n_variants, " +
        "doc_id = canonical_id AS is_canonical " +
        "FROM c JOIN g ON c.canon_hash = g.canon_hash"
    }
  ) { t =>
    val canon = trim(regexp_replace(regexp_replace(lower(col("text")),
      lit("[^a-z0-9 ]"), lit(" ")), lit(" +"), lit(" ")))
    val h = t.documents
      .withColumn("__c", canon)
      .select(col("doc_id"), expr("poly_hash(__c)").as("canon_hash"))
    val g = h.groupBy(col("canon_hash"))
      .agg(min(col("doc_id")).as("canonical_id"), count(lit(1)).as("n_variants"))
    h.join(g, "canon_hash")
      .select(col("doc_id"), col("canon_hash"), col("canonical_id"),
        col("n_variants"), (col("doc_id") === col("canonical_id")).as("is_canonical"))
  }

  /** The word-frequency head x124 fits on: top `zipfTopK` words by
    * (count desc, word) via ORDER BY + LIMIT — Catalyst plans it as
    * TakeOrderedAndProject (per-partition bounded top-K, merged on the
    * driver), so capping the vocabulary never sorts it globally.
    * Exposed for PlanSpec's TakeOrdered pin (the x41 discipline). */
  private[graft] val zipfTopK = 1000
  private[graft] def zipfCappedVocab(t: Tables): DataFrame =
    t.documents
      .select(explode(split(col("text"), " ")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w"))
      .limit(zipfTopK)

  /** Zipf slope fit: exact least squares over (ln rank, ln count) of
    * the top-1000 words of the frequency table — the one-number
    * power-law audit behind x73's count-of-counts curve (natural text ≈
    * −1; templated or deduped-to-death corpora drift off). The cap IS
    * the operator's scale story: the vocabulary head comes from a
    * TakeOrderedAndProject (never a global sort — [[zipfCappedVocab]]),
    * is checkpointed once (≤1000 rows), and ranks within it come from a
    * broadcast self-join pair count (≤K² comparisons on a K-bounded
    * frame — no window at all). Both lns are 4-dp-rounded to exact
    * decimal, the five regression sums are exact decimal products/adds,
    * and the slope/intercept combine those exact terms in a fixed-order
    * double expression — deterministic on any engine and partitioning. */
  val x124 = Q(
    "x124_zipf_slope",
    Some(
      "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), " +
        "vc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY w), " +
        "cap AS (SELECT w, c FROM vc ORDER BY c DESC, w LIMIT 1000), " +
        "r AS (SELECT c, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, w) AS BIGINT) AS rnk FROM cap), " +
        "xy AS (SELECT CAST(round(ln(CAST(rnk AS DOUBLE)), 4) AS DECIMAL(9,4)) AS x, " +
        "CAST(round(ln(CAST(c AS DOUBLE)), 4) AS DECIMAL(9,4)) AS y FROM r), " +
        "s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx, SUM(y) AS sy, " +
        "SUM(x * y) AS sxy, SUM(x * x) AS sxx FROM xy) " +
        "SELECT n AS n_vocab, " +
        "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope, " +
        "(CAST(sy AS DOUBLE) - ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / " +
        "(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / " +
        "CAST(n AS DOUBLE) AS intercept FROM s"
    )
  ) { t =>
    // checkpoint-for-the-call: the capped head is built once (one
    // TakeOrdered over the vocab), the rank self-join reads the ≤1000
    // checkpointed rows twice instead of re-running the scan
    val capped = zipfCappedVocab(t).transform(graft.plans.Pin.pin)
    val rhs = capped.select(col("c").as("c2"), col("w").as("w2"))
    val r = capped
      .join(broadcast(rhs),
        col("c2") > col("c") || (col("c2") === col("c") && col("w2") < col("w")),
        "left")
      .groupBy(col("w"), col("c"))
      .agg((count(col("w2")) + lit(1L)).as("rnk"))
    val xy = r.select(
      round(log(col("rnk").cast("double")), 4).cast("decimal(9,4)").as("x"),
      round(log(col("c").cast("double")), 4).cast("decimal(9,4)").as("y"))
    val s = xy.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val nD = col("n").cast("double")
    val (sx, sy, sxy, sxx) = (col("sx").cast("double"), col("sy").cast("double"),
      col("sxy").cast("double"), col("sxx").cast("double"))
    val slope = (nD * sxy - sx * sy) / (nD * sxx - sx * sx)
    s.select(col("n").as("n_vocab"), slope.as("slope"),
      ((sy - slope * sx) / nD).as("intercept"))
  }

  /** Source vocabulary overlap: Jaccard similarity of the distinct-word
    * sets for every source pair — the set-coverage complement to x116's
    * distribution similarity (two domains can share vocabulary yet
    * weight it differently; x116 sees the weights, this sees the
    * support). One distinct (source, word) table, one word-keyed
    * self-join (per-word fanout ≤ |sources|²), integer counts, one
    * final IEEE division. */
  val x125 = Q(
    "x125_source_vocab_overlap",
    Some(
      "WITH sv AS (SELECT DISTINCT source, word FROM " +
        "(SELECT source, unnest(string_split(text, ' ')) AS word FROM documents) t), " +
        "vc AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS nv FROM sv GROUP BY source), " +
        "p AS (SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS common " +
        "FROM sv a JOIN sv b ON a.word = b.word AND a.source < b.source " +
        "GROUP BY a.source, b.source) " +
        "SELECT src_a, src_b, na.nv AS n_a, nb.nv AS n_b, common, " +
        "CAST(common AS DOUBLE) / (na.nv + nb.nv - common) AS jaccard " +
        "FROM p JOIN vc na ON src_a = na.source JOIN vc nb ON src_b = nb.source"
    )
  ) { t =>
    val sv = t.documents
      .select(col("source"), explode(split(col("text"), " ")).as("word"))
      .distinct()
    val vc = sv.groupBy(col("source")).agg(count(lit(1)).as("nv"))
    val a = sv.select(col("source").as("src_a"), col("word"))
    val b = sv.select(col("source").as("src_b"), col("word"))
    a.join(b, a("word") === b("word") && col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b")).agg(count(lit(1)).as("common"))
      .join(broadcast(vc.select(col("source").as("src_a"), col("nv").as("n_a"))), "src_a")
      .join(broadcast(vc.select(col("source").as("src_b"), col("nv").as("n_b"))), "src_b")
      .select(col("src_a"), col("src_b"), col("n_a"), col("n_b"), col("common"),
        (col("common").cast("double") / (col("n_a") + col("n_b") - col("common")))
          .as("jaccard"))
  }

  /** Session-level association rules over event types: for every
    * unordered type pair, co-occurrence support within x13's 30-minute
    * sessions plus lift and both conditional confidences — "users who
    * do A in a session also do B" with the independence baseline made
    * explicit. All counts are session-distinct integers; lift and
    * confidence are single divisions of exact integer products. The
    * session pass reuses the x13 user-keyed window; the pair join runs
    * on the session×type table (≤ |types| rows per session). */
  val x126 = Q(
    "x126_session_association",
    Some(
      "WITH ev AS (SELECT user_id, event_id, event_type, " +
        "epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events), " +
        "flags AS (SELECT user_id, event_id, event_type, tus, " +
        "CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) IS NULL " +
        "OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus, event_id) > 1800000000 " +
        "THEN 1 ELSE 0 END AS new_s FROM ev), " +
        "sess AS (SELECT user_id, event_type, " +
        "SUM(new_s) OVER (PARTITION BY user_id ORDER BY tus, event_id) AS sid FROM flags), " +
        "st AS (SELECT DISTINCT user_id, sid, event_type FROM sess), " +
        "n AS (SELECT CAST(COUNT(DISTINCT (user_id, sid)) AS BIGINT) AS n_sessions FROM st), " +
        "supp AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS s FROM st GROUP BY event_type), " +
        "p AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "CAST(COUNT(*) AS BIGINT) AS n_ab " +
        "FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid " +
        "AND a.event_type < b.event_type GROUP BY a.event_type, b.event_type) " +
        "SELECT type_a, type_b, sa.s AS n_a, sb.s AS n_b, n_ab, " +
        "CAST(n_sessions * n_ab AS DOUBLE) / CAST(sa.s * sb.s AS DOUBLE) AS lift, " +
        "CAST(n_ab AS DOUBLE) / sa.s AS conf_a_to_b, " +
        "CAST(n_ab AS DOUBLE) / sb.s AS conf_b_to_a " +
        "FROM p JOIN supp sa ON type_a = sa.event_type " +
        "JOIN supp sb ON type_b = sb.event_type CROSS JOIN n"
    )
  ) { t =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("tus"), col("event_id"))
    val flags = t.events
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("tus"))
      .withColumn("new_s",
        when(lag(col("tus"), 1).over(w).isNull ||
          col("tus") - lag(col("tus"), 1).over(w) > 1800000000L, 1).otherwise(0))
    val st = flags
      .withColumn("sid", sum(col("new_s")).over(w))
      .select(col("user_id"), col("sid"), col("event_type"))
      .distinct()
    val n = st.select(col("user_id"), col("sid")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val supp = st.groupBy(col("event_type")).agg(count(lit(1)).as("s"))
    val a = st.select(col("user_id"), col("sid"), col("event_type").as("type_a"))
    val b = st.select(col("user_id").as("ub"), col("sid").as("sb"),
      col("event_type").as("type_b"))
    a.join(b, col("user_id") === col("ub") && col("sid") === col("sb") &&
        col("type_a") < col("type_b"))
      .groupBy(col("type_a"), col("type_b")).agg(count(lit(1)).as("n_ab"))
      .join(broadcast(supp.select(col("event_type").as("type_a"), col("s").as("n_a"))), "type_a")
      .join(broadcast(supp.select(col("event_type").as("type_b"), col("s").as("n_b"))), "type_b")
      .crossJoin(broadcast(n))
      .select(col("type_a"), col("type_b"), col("n_a"), col("n_b"), col("n_ab"),
        ((col("n_sessions") * col("n_ab")).cast("double") /
          (col("n_a") * col("n_b")).cast("double")).as("lift"),
        (col("n_ab").cast("double") / col("n_a")).as("conf_a_to_b"),
        (col("n_ab").cast("double") / col("n_b")).as("conf_b_to_a"))
  }

  /** Shard skew audit: the x106 manifest reduced to the one-row
    * balance readout a release gate checks — per-shard doc/token
    * min/max and the max/min imbalance ratios. A skewed shard layout
    * is a straggler generator at 100 TB; this is the number that says
    * re-hash before shipping. Integer comparisons over the
    * |shards|-row manifest + two final divisions. */
  val x127 = Q(
    "x127_shard_skew",
    Some(
      s"WITH m AS (SELECT ${duckPolyHash("CAST(doc_id AS VARCHAR)")} % 16 AS shard, " +
        "CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS n_tokens " +
        "FROM documents GROUP BY 1) " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_shards, " +
        "CAST(MIN(n_docs) AS BIGINT) AS min_docs, CAST(MAX(n_docs) AS BIGINT) AS max_docs, " +
        "CAST(MIN(n_tokens) AS BIGINT) AS min_tokens, CAST(MAX(n_tokens) AS BIGINT) AS max_tokens, " +
        "CAST(MAX(n_docs) AS DOUBLE) / MIN(n_docs) AS doc_skew, " +
        "CAST(MAX(n_tokens) AS DOUBLE) / MIN(n_tokens) AS token_skew FROM m"
    )
  ) { t =>
    Corpus.shardManifest(t.documents, "doc_id", "text", 16)
      .agg(count(lit(1)).as("n_shards"),
        min(col("n_docs")).as("min_docs"), max(col("n_docs")).as("max_docs"),
        min(col("n_tokens")).as("min_tokens"), max(col("n_tokens")).as("max_tokens"))
      .select(col("n_shards"), col("min_docs"), col("max_docs"),
        col("min_tokens"), col("max_tokens"),
        (col("max_docs").cast("double") / col("min_docs")).as("doc_skew"),
        (col("max_tokens").cast("double") / col("min_tokens")).as("token_skew"))
  }

  /** Activity concentration deciles: users bucketed by event volume into
    * decile bands (count desc), each band's user count, event mass, and
    * share of all events — the "top 10% of users generate X% of the
    * firehose" readout that sizes per-user state budgets and salting
    * choices. Band of a user with count c = ⌊gt(c)·10 / N⌋ + 1 where
    * gt(c) = #users with a strictly larger count — NTILE at count
    * granularity (tied users share a band; a band that a giant tie
    * group swallows simply reports empty), all in exact integer
    * arithmetic. gt comes from [[Ranks.suffixSumDistinct]] over the
    * count-of-counts frame (bounded value domain), so NOTHING here
    * sorts users globally: one map-side-combined count shuffle, one
    * distinct-value CDF with partitioned windows + a broadcast bucket
    * grid, one broadcast scalar. Shares are single IEEE divisions. */
  val x128 = Q(
    "x128_activity_deciles",
    Some(
      "WITH uc AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS c FROM events GROUP BY user_id), " +
        "cc AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS mu FROM uc GROUP BY c), " +
        "t AS (SELECT CAST(SUM(mu) AS BIGINT) AS n_total, CAST(SUM(c * mu) AS BIGINT) AS ev_total FROM cc), " +
        "d AS (SELECT c, mu, COALESCE(CAST(SUM(mu) OVER " +
        "(ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS gt FROM cc) " +
        "SELECT CAST((gt * 10) // n_total + 1 AS BIGINT) AS decile, " +
        "CAST(SUM(mu) AS BIGINT) AS n_users, CAST(SUM(c * mu) AS BIGINT) AS n_events, " +
        "CAST(SUM(c * mu) AS DOUBLE) / CAST(ev_total AS DOUBLE) AS share " +
        "FROM d CROSS JOIN t GROUP BY 1, ev_total"
    )
  ) { t =>
    val uc = t.events.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
    // one events scan: the count-of-counts grid feeds both the totals
    // and the CDF helper
    val cc = uc.groupBy(col("c")).agg(count(lit(1)).as("mu"))
      .transform(graft.plans.Pin.pin)
    val tot = cc.agg(sum(col("mu")).as("n_total"),
      sum(col("c") * col("mu")).as("ev_total"))
    Ranks.suffixSumDistinct(cc, "c", "mu", floor(col("c") / lit(1024L)), "gt")
      .crossJoin(broadcast(tot))
      .select(expr("(gt * 10) div n_total + 1").cast("long").as("decile"),
        col("mu"), (col("c") * col("mu")).as("ev"), col("ev_total"))
      .groupBy(col("decile"))
      .agg(sum(col("mu")).as("n_users"), sum(col("ev")).as("n_events"),
        (sum(col("ev")).cast("double") /
          first(col("ev_total")).cast("double")).as("share"))
  }

  /** Data-quality profile: per (table, column) null / NaN / empty /
    * distinct statistics over the heterogeneous tables a pipeline
    * actually ingests — the profiling pass that runs BEFORE any schema
    * contract is trusted. One aggregate per table (each a single
    * map-side-combined scan), unioned into the profile frame; every
    * metric is an exact integer count. */
  val x129 = Q(
    "x129_data_profile",
    Some(
      "SELECT 'documents' AS tbl, 'text' AS col, CAST(COUNT(*) AS BIGINT) AS n, " +
        s"${sqlCountIf("text IS NULL")} AS n_null, " +
        s"${sqlCountIf("text = ''")} AS n_empty, " +
        "CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct FROM documents " +
        "UNION ALL SELECT 'documents', 'lang', CAST(COUNT(*) AS BIGINT), " +
        s"${sqlCountIf("lang IS NULL")}, ${sqlCountIf("lang = ''")}, " +
        "CAST(COUNT(DISTINCT lang) AS BIGINT) FROM documents " +
        "UNION ALL SELECT 'events', 'event_type', CAST(COUNT(*) AS BIGINT), " +
        s"${sqlCountIf("event_type IS NULL")}, ${sqlCountIf("event_type = ''")}, " +
        "CAST(COUNT(DISTINCT event_type) AS BIGINT) FROM events " +
        "UNION ALL SELECT 'events', 'value', CAST(COUNT(*) AS BIGINT), " +
        s"${sqlCountIf("value IS NULL")}, ${sqlCountIf("isnan(value)")}, " +
        "CAST(COUNT(DISTINCT value) AS BIGINT) FROM events " +
        "UNION ALL SELECT 'orders', 'o_custkey', CAST(COUNT(*) AS BIGINT), " +
        s"${sqlCountIf("o_custkey IS NULL")}, CAST(0 AS BIGINT), " +
        "CAST(COUNT(DISTINCT o_custkey) AS BIGINT) FROM orders"
    )
  ) { t =>
    def prof(df: DataFrame, tbl: String, c: String,
        empty: org.apache.spark.sql.Column): DataFrame =
      df.agg(count(lit(1)).as("n"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_null"),
          sum(when(empty, 1L).otherwise(0L)).as("n_empty"),
          countDistinct(col(c)).as("n_distinct"))
        .select(lit(tbl).as("tbl"), lit(c).as("col"),
          col("n"), col("n_null"), col("n_empty"), col("n_distinct"))
    prof(t.documents, "documents", "text", col("text") === "")
      .unionAll(prof(t.documents, "documents", "lang", col("lang") === ""))
      .unionAll(prof(t.events, "events", "event_type", col("event_type") === ""))
      .unionAll(prof(t.events, "events", "value", isnan(col("value"))))
      .unionAll(prof(t.orders, "orders", "o_custkey", lit(false)))
  }

  /** Referential-integrity audit over the star schema: orphan counts
    * for every foreign-key edge (lineitem→orders/part/supplier,
    * orders→customer, customer/supplier→nation, nation→region) — the
    * dbt `relationships` test generalized to one queryable report.
    * Each edge is a left-anti join against the (small, broadcast)
    * parent key set; counts are exact integers; a healthy warehouse
    * returns all zeros, and the row that doesn't names the edge. */
  val x130 = Q(
    "x130_fk_audit",
    Some(
      "SELECT 'lineitem.l_orderkey->orders' AS edge, CAST(COUNT(*) AS BIGINT) AS n_orphans " +
        "FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey) " +
        "UNION ALL SELECT 'lineitem.l_partkey->part', CAST(COUNT(*) AS BIGINT) " +
        "FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey) " +
        "UNION ALL SELECT 'lineitem.l_suppkey->supplier', CAST(COUNT(*) AS BIGINT) " +
        "FROM lineitem l WHERE NOT EXISTS (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey) " +
        "UNION ALL SELECT 'orders.o_custkey->customer', CAST(COUNT(*) AS BIGINT) " +
        "FROM orders o WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey) " +
        "UNION ALL SELECT 'customer.c_nationkey->nation', CAST(COUNT(*) AS BIGINT) " +
        "FROM customer c WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey) " +
        "UNION ALL SELECT 'supplier.s_nationkey->nation', CAST(COUNT(*) AS BIGINT) " +
        "FROM supplier s WHERE NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = s.s_nationkey) " +
        "UNION ALL SELECT 'nation.n_regionkey->region', CAST(COUNT(*) AS BIGINT) " +
        "FROM nation n WHERE NOT EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey)"
    )
  ) { t =>
    def orphans(child: DataFrame, fk: String, parent: DataFrame, pk: String,
        edge: String): DataFrame =
      child.join(parent.select(col(pk)), child(fk) === parent(pk), "left_anti")
        .agg(count(lit(1)).as("n_orphans"))
        .select(lit(edge).as("edge"), col("n_orphans"))
    orphans(t.lineitem, "l_orderkey", t.orders, "o_orderkey", "lineitem.l_orderkey->orders")
      .unionAll(orphans(t.lineitem, "l_partkey", t.part, "p_partkey", "lineitem.l_partkey->part"))
      .unionAll(orphans(t.lineitem, "l_suppkey", t.supplier, "s_suppkey", "lineitem.l_suppkey->supplier"))
      .unionAll(orphans(t.orders, "o_custkey", t.customer, "c_custkey", "orders.o_custkey->customer"))
      .unionAll(orphans(t.customer, "c_nationkey", t.nation, "n_nationkey", "customer.c_nationkey->nation"))
      .unionAll(orphans(t.supplier, "s_nationkey", t.nation, "n_nationkey", "supplier.s_nationkey->nation"))
      .unionAll(orphans(t.nation, "n_regionkey", t.region, "r_regionkey", "nation.n_regionkey->region"))
  }

  /** Temporal train/test split with an embargo gap — the time-series
    * analog of x43/x52's leakage control: the test set is everything
    * after the global 80th-percentile event time, and a 7-day embargo
    * zone immediately before the cutoff is DROPPED so that near-boundary
    * leakage (labels computed from windows that straddle the split) is
    * structurally impossible. The cutoff is an exact order statistic —
    * smallest timestamp whose cumulative event count reaches
    * floor(0.8·n) — computed from the per-timestamp count table, so the
    * running sum scans |distinct ts| rows, not |events|. That frame is
    * unpartitioned here (exact global quantile needs a total order); at
    * 100 TB swap in the two-pass histogram-bracket form x111 uses, or
    * range-partition by day and carry partial sums. Split counts are one
    * map-side-combined conditional aggregate against the broadcast
    * one-row cutoff. */
  val x131 = Q(
    "x131_temporal_embargo_split",
    Some(
      "WITH ev AS (SELECT event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events), " +
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ev), " +
        "c AS (SELECT tus, CAST(COUNT(*) AS BIGINT) AS cnt FROM ev GROUP BY tus), " +
        "cum AS (SELECT tus, SUM(cnt) OVER (ORDER BY tus) AS cum FROM c), " +
        "cut AS (SELECT MIN(tus) AS cutoff FROM cum CROSS JOIN n " +
        "WHERE cum >= CAST(FLOOR(n * 0.8) AS BIGINT)) " +
        "SELECT event_type, " +
        s"${sqlCountIf("tus <= cutoff - 604800000000")} AS n_train, " +
        s"${sqlCountIf("tus > cutoff - 604800000000 AND tus <= cutoff")} AS n_embargo, " +
        s"${sqlCountIf("tus > cutoff")} AS n_test " +
        "FROM ev CROSS JOIN cut GROUP BY event_type"
    )
  ) { t =>
    val gapUs = 604800000000L // 7 days
    val ev = t.events.select(col("event_type"), unix_micros(col("ts")).as("tus"))
    val n = ev.agg(count(lit(1)).as("n"))
    val cum = ev.groupBy(col("tus")).agg(count(lit(1)).as("cnt"))
      .select(col("tus"), sum(col("cnt")).over(Window.orderBy(col("tus"))).as("cum"))
    val cutoff = cum.crossJoin(broadcast(n))
      .where(col("cum") >= floor(col("n") * 0.8).cast("long"))
      .agg(min(col("tus")).as("cutoff"))
    ev.crossJoin(broadcast(cutoff))
      .groupBy(col("event_type"))
      .agg(
        countIf(col("tus") <= col("cutoff") - gapUs).as("n_train"),
        countIf(col("tus") > col("cutoff") - gapUs && col("tus") <= col("cutoff"))
          .as("n_embargo"),
        countIf(col("tus") > col("cutoff")).as("n_test"))
  }

  /** Pareto frontier (skyline) per brand over (retail price ↓ better,
    * size ↑ better): the preference-query operator — "no strictly
    * cheaper-or-equal part is at least as large, with one strict". The
    * naive form is an O(n²) dominance self-join; this is the one-pass
    * window form: collapse to per-(brand, price) max size, then a part
    * is on the frontier iff its size equals that max AND the max beats
    * every max at a strictly lower price (ROWS UNBOUNDED..1 PRECEDING
    * over the distinct-price frame, where "preceding row" ≡ "strictly
    * cheaper" exactly because prices are grouped). Windows partition by
    * brand, so the sort is per-brand — no global single-partition stage
    * at any scale. */
  val x132 = Q(
    "x132_pareto_frontier",
    Some(
      "WITH pb AS (SELECT p_brand, p_retailprice AS price, " +
        "CAST(p_size AS BIGINT) AS sz, CAST(p_partkey AS BIGINT) AS p_partkey FROM part), " +
        "g AS (SELECT p_brand, price, MAX(sz) AS msz FROM pb GROUP BY p_brand, price), " +
        "w AS (SELECT p_brand, price, msz, MAX(msz) OVER (PARTITION BY p_brand " +
        "ORDER BY price ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prevmax FROM g), " +
        "f AS (SELECT p_brand, price, msz FROM w WHERE prevmax IS NULL OR msz > prevmax) " +
        "SELECT pb.p_brand, pb.p_partkey, pb.price, pb.sz AS p_size " +
        "FROM pb JOIN f ON pb.p_brand = f.p_brand AND pb.price = f.price AND pb.sz = f.msz"
    )
  ) { t =>
    val pb = t.part.select(
      col("p_brand"), col("p_retailprice").as("price"),
      col("p_size").cast("long").as("sz"), col("p_partkey").cast("long").as("p_partkey"))
    val g = pb.groupBy(col("p_brand"), col("price")).agg(max(col("sz")).as("msz"))
    val w = Window.partitionBy(col("p_brand")).orderBy(col("price"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val f = g.withColumn("prevmax", max(col("msz")).over(w))
      .where(col("prevmax").isNull || col("msz") > col("prevmax"))
      .select(col("p_brand").as("fb"), col("price").as("fp"), col("msz"))
    pb.join(f, pb("p_brand") === col("fb") && pb("price") === col("fp") &&
        pb("sz") === col("msz"))
      .select(pb("p_brand"), col("p_partkey"), col("price"), col("sz").as("p_size"))
  }

  /** RFM customer segmentation: recency (latest order date), frequency
    * (order count), monetary (dollar-quantized exact decimal spend) per
    * customer, each scored into terciles at VALUE granularity — tercile
    * of value v = ⌊gt(v)·3 / N⌋ + 1 with gt(v) = #customers strictly
    * better on that dimension — then rolled up to segment cells with
    * customer counts and exact total spend. Each dimension's CDF runs
    * on its distinct-value frame (dates / order counts / whole-dollar
    * spend — all bounded domains, none customer-cardinality) through
    * [[Ranks.suffixSumDistinct]], so no window ever needs a total order
    * over customers; the three value→tercile maps broadcast back onto
    * the customer frame. Monetary is floored to whole dollars before
    * ranking — the quantization that keeps its value domain bounded at
    * any corpus scale (coarsen the grain to keep the map broadcastable
    * if the spend range ever outgrows it). */
  val x133 = Q(
    "x133_rfm_segments",
    Some(
      "WITH cust AS (SELECT o_custkey, MAX(o_orderdate) AS last_dt, " +
        "CAST(COUNT(*) AS BIGINT) AS freq, " +
        "SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS mon FROM orders GROUP BY o_custkey), " +
        "cq AS (SELECT o_custkey, last_dt, freq, mon, CAST(floor(mon) AS BIGINT) AS mq FROM cust), " +
        "t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cust), " +
        "rv AS (SELECT last_dt, CAST(COUNT(*) AS BIGINT) AS cnt FROM cq GROUP BY last_dt), " +
        "rmap AS (SELECT last_dt, CAST((COALESCE(CAST(SUM(cnt) OVER " +
        "(ORDER BY last_dt DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) * 3) // n + 1 AS BIGINT) AS r " +
        "FROM rv CROSS JOIN t), " +
        "fv AS (SELECT freq, CAST(COUNT(*) AS BIGINT) AS cnt FROM cq GROUP BY freq), " +
        "fmap AS (SELECT freq, CAST((COALESCE(CAST(SUM(cnt) OVER " +
        "(ORDER BY freq DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) * 3) // n + 1 AS BIGINT) AS f " +
        "FROM fv CROSS JOIN t), " +
        "mv AS (SELECT mq, CAST(COUNT(*) AS BIGINT) AS cnt FROM cq GROUP BY mq), " +
        "mmap AS (SELECT mq, CAST((COALESCE(CAST(SUM(cnt) OVER " +
        "(ORDER BY mq DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) * 3) // n + 1 AS BIGINT) AS m " +
        "FROM mv CROSS JOIN t) " +
        "SELECT r, f, m, CAST(COUNT(*) AS BIGINT) AS n_customers, " +
        "CAST(round(SUM(c.mon), 4) AS DOUBLE) AS total_monetary " +
        "FROM cq c JOIN rmap USING (last_dt) JOIN fmap USING (freq) JOIN mmap USING (mq) " +
        "GROUP BY r, f, m"
    )
  ) { t =>
    // checkpoint-for-the-call: four consumers (three tercile maps + the
    // final join) would otherwise each re-aggregate orders from scratch
    val cust = t.orders.groupBy(col("o_custkey")).agg(
      max(col("o_orderdate")).as("last_dt"),
      count(lit(1)).as("freq"),
      sum(col("o_totalprice").cast(Dec)).as("mon"))
      .withColumn("mq", floor(col("mon")).cast("long"))
      .transform(graft.plans.Pin.pin)
    val tot = cust.agg(count(lit(1)).as("n"))
    def tercileMap(valueCol: String, bucket: org.apache.spark.sql.Column,
        out: String): DataFrame =
      Ranks.suffixSumDistinct(
          cust.groupBy(col(valueCol)).agg(count(lit(1)).as("cnt")),
          valueCol, "cnt", bucket, "gt")
        .crossJoin(broadcast(tot))
        .select(col(valueCol),
          expr("(gt * 3) div n + 1").cast("long").as(out))
    val rmap = tercileMap("last_dt",
      floor(datediff(col("last_dt"), lit("1970-01-01").cast("date")) / lit(64)), "r")
    val fmap = tercileMap("freq", floor(col("freq") / lit(16L)), "f")
    val mmap = tercileMap("mq", floor(col("mq") / lit(1024L)), "m")
    cust
      .join(broadcast(rmap), "last_dt")
      .join(broadcast(fmap), "freq")
      .join(broadcast(mmap), "mq")
      .groupBy(col("r"), col("f"), col("m"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("mon")), 4).cast("double").as("total_monetary"))
  }

  /** Language-ID confusion audit: x07's heuristic scored against the
    * labeled `lang` column as a full confusion matrix with per-true-lang
    * recall and per-predicted-lang precision — the calibration readout
    * that says whether the cheap classifier is safe to gate a corpus on
    * (x97's recall-curve discipline applied to the text side). The
    * marker-count scan is the only heavy stage; the matrix is
    * |langs|² rows, so the two share-windows are trivial at any scale.
    * Fractions are single divisions of exact integer counts. */
  val x134 = Q(
    "x134_langid_confusion",
    Some(
      s"WITH pred AS ($langIdSql), " +
        "m AS (SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n " +
        "FROM pred GROUP BY lang, lang_pred) " +
        "SELECT lang, lang_pred, n, " +
        "CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang) AS recall_frac, " +
        "CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY lang_pred) AS precision_frac " +
        "FROM m"
    )
  ) { t =>
    val m = langIdFrame(t)
      .groupBy(col("lang"), col("lang_pred")).agg(count(lit(1)).as("n"))
    m.select(col("lang"), col("lang_pred"), col("n"),
      (col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("lang")))).as("recall_frac"),
      (col("n").cast("double") /
        sum(col("n")).over(Window.partitionBy(col("lang_pred")))).as("precision_frac"))
  }

  /** Cross-source score calibration via rank normalization: each doc's
    * length score (n_chars) is mapped to its global percent-rank
    * cnt_lt/(N−1), then summarized per source — a source whose mean
    * normalized score sits far from 0.5 is length-shifted vs the pool,
    * which is what breaks naive global quality thresholds (x101's
    * motivation, made quantitative). The CDF is computed on the
    * DISTINCT-VALUE count table (bounded domain — document lengths),
    * so the one ordered window is over a tiny frame and the per-doc
    * join broadcasts it; per-source means are exact integer sums with
    * ONE final division (no float accumulation ordering anywhere). */
  val x135 = Q(
    "x135_quantile_normalize",
    Some(
      "WITH d AS (SELECT source, n_chars FROM documents), " +
        "n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d), " +
        "c AS (SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY n_chars), " +
        "cum AS (SELECT n_chars, SUM(cnt) OVER (ORDER BY n_chars) - cnt AS cnt_lt FROM c), " +
        "j AS (SELECT d.source, cum.cnt_lt FROM d JOIN cum ON d.n_chars = cum.n_chars) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(cnt_lt) AS DOUBLE) / (COUNT(*) * (n - 1)) AS mean_pr, " +
        "CAST(MIN(cnt_lt) AS DOUBLE) / (n - 1) AS min_pr, " +
        "CAST(MAX(cnt_lt) AS DOUBLE) / (n - 1) AS max_pr " +
        "FROM j CROSS JOIN n GROUP BY source, n"
    )
  ) { t =>
    val d = t.documents.select(col("source"), col("n_chars"))
    val n = d.agg(count(lit(1)).as("n"))
    val cum = d.groupBy(col("n_chars")).agg(count(lit(1)).as("cnt"))
      .select(col("n_chars"),
        (sum(col("cnt")).over(Window.orderBy(col("n_chars"))) - col("cnt")).as("cnt_lt"))
    d.join(broadcast(cum), "n_chars")
      .crossJoin(broadcast(n))
      .groupBy(col("source"), col("n"))
      .agg(count(lit(1)).as("n_docs"), sum(col("cnt_lt")).as("sum_lt"),
        min(col("cnt_lt")).as("min_lt"), max(col("cnt_lt")).as("max_lt"))
      .select(col("source"), col("n_docs"),
        (col("sum_lt").cast("double") / (col("n_docs") * (col("n") - 1))).as("mean_pr"),
        (col("min_lt").cast("double") / (col("n") - 1)).as("min_pr"),
        (col("max_lt").cast("double") / (col("n") - 1)).as("max_pr"))
  }

  /** The co-purchase EDGE REGISTRY — built once per (session, SF dir),
    * pinned, and served to the whole graph family (x136 degree, x152
    * PageRank, x156 label propagation, x157 weighted PageRank, x165
    * triangles): one row per unordered part pair (pa < pb) with
    * w = number of distinct orders containing both. Pair generation is
    * a self-join WITHIN order — work is Σ c(k,2) over per-order item
    * counts, which TPC-H bounds at 7 lines per order, never
    * corpus×corpus (the same bounded-block discipline as x02's
    * inverted index; on skewed real baskets cap per-block size like
    * maxDocFreq). Every consumer is a projection of this frame:
    * distinct pairs = all rows, support-≥2 pairs = filter on w,
    * weighted edges = the frame itself — so the suite's single most
    * expensive graph intermediate (two wide aggregates over the
    * lineitem self-join) is paid ONCE per session instead of once per
    * query (round-16 verdict item 2; the 100-TB-real shape is an edge
    * table built once, the frozen-index discipline the serving streams
    * already follow). Each query's DuckDB oracle keeps re-deriving the
    * same CTE text — semantics and hashes unchanged. */
  private[graft] def coPurchasePairs(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "copurchase_pairs_w") {
      val op = t.lineitem.select(col("l_orderkey"), col("l_partkey")).distinct()
      val b = op.select(col("l_orderkey").as("ok"), col("l_partkey").as("pb"))
      op.join(b, col("l_orderkey") === col("ok") && col("l_partkey") < col("pb"))
        .groupBy(col("l_partkey").as("pa"), col("pb"))
        .agg(count(lit(1)).as("w"))
    }

  /** Support-≥2 co-purchase pairs — the min-support edge cut x156/x165
    * share (co-purchased in ≥ 2 distinct orders), registered as its own
    * pinned projection of [[coPurchasePairs]] so the filter runs once
    * per session, not once per query invocation. Tiny at any SF
    * relative to the raw pairs (sf0.1: 1.196M → 3.6k). */
  private[graft] def coPurchasePairsMin2(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "copurchase_pairs_min2") {
      coPurchasePairs(t).filter(col("w") >= 2).select(col("pa"), col("pb"))
    }

  /** The customer↔part BIPARTITE edge registry (x162's HITS graph):
    * one orders⋈lineitem join, DISTINCT-combined, built once per
    * session. Distinct frame, so the half-step SUMs read the same rows
    * the per-query build produced. */
  private[graft] def coPurchaseBipartite(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "copurchase_bipartite_cp") {
      t.orders.select(col("o_orderkey"), col("o_custkey"))
        .join(t.lineitem.select(col("l_orderkey"), col("l_partkey")),
          col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .distinct()
    }

  /** The LOOSE n-gram-Jaccard PAIR REGISTRY — `Dedup.ngramJaccardPairs`
    * at the library-wide calibration floor 0.05, built once per
    * (session, SF dir). `ngramJaccardPairs` applies its threshold only
    * as a final filter over (common, na, nb), so every tighter-threshold
    * pair frame is EXACTLY a `jaccard >= t` filter of this one — which
    * is why ONE inverted-index build (the dedup family's most expensive
    * intermediate) now serves the whole true-pair family: x02 (the 0.05
    * report itself), x97's true-pair side, x99's threshold sweep, and
    * [[nearDupPairs]] (the 0.5 edge list behind x33/x52/x56/x90/x91/
    * x104/x107). The frame is the near-dup EDGE LIST at the loosest
    * audited threshold — still tiny relative to the corpus whenever
    * dedup is worth running (sub-corpus-bounded per the [[Registries]]
    * rule; measured in SCALE.md "Registry memory accounting"). Same
    * oracle-unchanged contract as [[coPurchasePairs]].
    * Columns: (doc_a, doc_b, common, jaccard). */
  private[graft] def ngramPairsLoose(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "ngram_pairs_str_t0.05_n3") {
      Dedup.ngramJaccardPairs(t.documents, "doc_id", "text", threshold = 0.05)
    }

  /** The near-dup PAIR REGISTRY at the library-wide dedup threshold 0.5
    * — since round 19 a `jaccard >= 0.5` FILTER of [[ngramPairsLoose]]
    * (bit-identical rows: the threshold was always a final filter over
    * the same computed column), so the session pays ONE inverted-index
    * build for both the 0.05 and 0.5 families instead of two. Kept as
    * its own (tiny) registry entry so the filter runs once and every
    * x33-family consumer keeps reading materialized rows.
    * Columns: (doc_a, doc_b, common, jaccard). */
  private[graft] def nearDupPairs(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "neardup_pairs_ngram_t0.5") {
      ngramPairsLoose(t).filter(col("jaccard") >= 0.5)
    }

  /** The MinHash BAND-CANDIDATE AUDIT REGISTRY — every 4-band/2-row
    * banded candidate pair with its signature-agreement estimate and
    * exact shingle Jaccard ([[Dedup.minhashEstimateAudit]]), built once
    * per (session, SF dir). This is the banding family's shared
    * intermediate: x61 reads it whole (the calibration audit), x35 is
    * its `jaccard >= 0.5` verified-pair projection (same arithmetic —
    * [[Dedup.minhashCandidatePairs]] computes common/jaccard with the
    * identical expressions, and a 0-common candidate can never pass the
    * threshold), and x97's banding-recall curve left-joins its
    * (doc_a, doc_b) side as the hit set. Candidate-pair-sized (band
    * collisions only, never all-pairs) — sub-corpus-bounded like every
    * registry row. */
  private[graft] def mhBandAudit(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "mh_band_audit_b4r2") {
      Dedup.minhashEstimateAudit(t.documents, "doc_id", "text")
    }

  /** The TWO-LEVEL IVF INDEX REGISTRY at the [[ivfAutoK]]/[[ivfAutoKc]]
    * policy — the serving layout behind the ENTIRE registered IVF-backed
    * family: the list queries (x137/x138/x144/x183), the quantizer
    * compositions (x153/x158 IVFADC, x163 IVF+SQ8, x172 IVF+BQ) and the
    * two-level SemDeDup (x179) all route corpus and queries through the
    * IDENTICAL (fineParent, activeCoarse, assigned) frames
    * ([[Dedup.ivfIndexTwoLevel]]), and each previously re-derived the
    * n·(kc + k/kc)-cosine corpus assignment per pass. Building the index
    * ONCE per (session, SF dir) and serving every consumer is exactly
    * what the streaming serve twins (IvfPqServeStream & co.) already do
    * with their frozen indexes — this is the batch half. Packed as one
    * tagged frame (role f/c/a) so the single build yields all three
    * views; vectors are re-tagged `known_not_null_elements` at the read
    * boundary (the registry stores contract-non-null embeddings — same
    * convention as the stream-ingest tags, PlanSweepSpec enforces the
    * kernels stay branch-free). Pinned bytes: the assignment is one row
    * per corpus vector (embedding + norm + cell) — the IVF list layout
    * a serving deployment pins by design; accounted in SCALE.md. */
  private[graft] def ivf2AutoIndex(t: Tables):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val k = ivfAutoK(t)
    val kc = ivfAutoKc(t)
    val packed = Registries.frame(t.spark, t.dir, s"ivf2_index_k${k}_kc$kc") {
      val (fp, ac, asg) =
        Dedup.ivfIndexTwoLevel(t.embeddings, "vec_id", "embedding", k, kc)
      fp.select(lit("f").as("role"), col("cent_id").as("id"),
          col("ce").as("vec"), col("cn").as("nrm"), col("parent").as("ref"))
        .unionByName(ac.select(lit("c").as("role"), col("co_id").as("id"),
          col("coe").as("vec"), col("con").as("nrm"),
          lit(null).cast("long").as("ref")))
        .unionByName(asg.select(lit("a").as("role"), col("vec_id").as("id"),
          col("embedding").as("vec"), col("nrm"), col("cell").as("ref")))
    }
    def vecTagged = expr("known_not_null_elements(vec)")
    val fp = packed.filter(col("role") === "f")
      .select(col("id").as("cent_id"), vecTagged.as("ce"),
        col("nrm").as("cn"), col("ref").as("parent"))
    val ac = packed.filter(col("role") === "c")
      .select(col("id").as("co_id"), vecTagged.as("coe"), col("nrm").as("con"))
    val asg = packed.filter(col("role") === "a")
      .select(col("id").as("vec_id"), vecTagged.as("embedding"),
        col("nrm"), col("ref").as("cell"))
    (fp, ac, asg)
  }

  /** The IVF LIST REGISTRY — the two-level nprobe=2 top-5 neighbor
    * lists over EVERY query ([[Dedup.ivfSearchTwoLevel]] against the
    * [[ivf2AutoIndex]] registry), built once per (session, SF dir).
    * Every registered nprobe=2 list consumer is a restriction of this
    * frame: the candidate set per query is fixed by the routing (nprobe
    * cells), independent of topK, and the per-query ranking is the
    * total order (cosine desc, neighbor_id asc) — so topK ≤ 5 lists are
    * its rank-prefix and a query predicate is a row filter. Serves x138
    * (top-5, all), x144 (top-5, query subset), x137/x183 (top-3 via
    * [[ivfMutualCcAuto]]), x189 (top-1). n·5 rows — list-sized, the
    * serving layout an ANN deployment materializes by design. */
  private[graft] def ivf2ListsTop5(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "ivf2_lists_all_np2_top5") {
      Dedup.ivfSearchTwoLevel(t.embeddings, "vec_id", "embedding",
        lit(true), k = ivfAutoK(t), kc = ivfAutoKc(t), nprobe = 2,
        topK = 5, index2 = Some(ivf2AutoIndex(t)))
    }

  /** Registered-query dispatcher mirroring [[Dedup.ivfSearchRouted]]:
    * at the default two-level depth, nprobe=2/topK≤5 lists are served
    * from the [[ivf2ListsTop5]] registry (rank-prefix + query-predicate
    * restriction — identical rows to a direct search, see the registry
    * scaladoc); other shapes search against the [[ivf2AutoIndex]]
    * registry; `spark.graft.ivf.levels = 3` keeps the three-level
    * opt-in path byte-identical to before. */
  private def ivfListsAuto(t: Tables, queryPred: org.apache.spark.sql.Column,
      nprobe: Int, topK: Int): org.apache.spark.sql.DataFrame =
    t.spark.conf.getOption("spark.graft.ivf.levels").getOrElse("2") match {
      case "2" if nprobe == 2 && topK <= 5 =>
        val lists = ivf2ListsTop5(t).filter(queryPred)
        if (topK == 5) lists
        else Ranks.topKPerGroup(lists, Seq("query_id"),
          Seq(("cosine", false), ("neighbor_id", true)), topK)
          .select("query_id", "neighbor_id", "cosine")
      case "2" =>
        Dedup.ivfSearchTwoLevel(t.embeddings, "vec_id", "embedding",
          queryPred, k = ivfAutoK(t), kc = ivfAutoKc(t), nprobe = nprobe,
          topK = topK, index2 = Some(ivf2AutoIndex(t)))
      case _ =>
        Dedup.ivfSearchRouted(t.embeddings, "vec_id", "embedding",
          queryPred, k = ivfAutoK(t), kc = ivfAutoKc(t), nprobe = nprobe,
          topK = topK)
    }

  /** The IVF MUTUAL-kNN CLUSTER REGISTRY — connected components of the
    * mutual top-3 graph over [[ivf2ListsTop5]]'s rank-3 prefix, built
    * once per (session, SF dir): x137 (cluster listing) and x183
    * (semantic cap) run the IDENTICAL lists → mutual edges → guarded CC
    * chain and differ only in their tails. Cluster-membership-sized
    * (clustered vectors only). The three-level opt-in rebuilds from the
    * routed lists instead (labels differ by contract at level 3, so
    * they must not share the level-2 registry). */
  private[graft] def ivfMutualCcAuto(t: Tables): org.apache.spark.sql.DataFrame =
    t.spark.conf.getOption("spark.graft.ivf.levels").getOrElse("2") match {
      case "2" =>
        Registries.frame(t.spark, t.dir, "ivf2_mutual_cc_np2_k3") {
          val top3 = Ranks.topKPerGroup(ivf2ListsTop5(t), Seq("query_id"),
            Seq(("cosine", false), ("neighbor_id", true)), 3)
            .select("query_id", "neighbor_id")
          val edges = Dedup.mutualEdgesFromTopK(top3)
          // edges is lazy since r19 (mutualEdgesFromTopK no longer pins);
          // CC pins its own input, so there is nothing to release here —
          // and a release() would walk THROUGH the lazy plan into the
          // upstream registry's checkpoint blocks and unpersist them
          Dedup.connectedComponents(edges, "u", "v", maxIter = 256)
        }
      case _ =>
        val lists = ivfListsAuto(t, lit(true), nprobe = 2, topK = 3)
        val edges = Dedup.mutualEdgesFromTopK(lists)
        Dedup.connectedComponents(edges, "u", "v", maxIter = 256)
    }

  /** The TRAINED PQ CODEBOOK REGISTRY — [[Dedup.pqCodebookLloyd]] (one
    * per-subspace Lloyd round) fit once per (session, SF dir); x155
    * (the code table) and x158 (IVFADC under the trained book) both
    * train the identical book. ks-row frame; centroids re-tagged
    * non-null-element at the read boundary for the branch-free
    * kernels. */
  private[graft] def pqBookLloyd1(t: Tables): org.apache.spark.sql.DataFrame = {
    Registries.frame(t.spark, t.dir, "pq_book_lloyd1_m8ks16") {
      Dedup.pqCodebookLloyd(t.embeddings, "vec_id", "embedding", iters = 1)
    }.select(col("cent_id"), expr("known_not_null_elements(ce)").as("ce"))
  }

  /** The TRAINED PQ CODE REGISTRY — the corpus encoded against
    * [[pqBookLloyd1]], built once per (session, SF dir): x155 IS this
    * table; x158 scans it as the ADC code side. n·m rows of small
    * integers — the packed-codes memory story (x154) made a session
    * frame. */
  private[graft] def pqCodesLloyd1(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "pq_codes_lloyd1_m8ks16") {
      Dedup.pqEncode(t.embeddings, "vec_id", "embedding", pqBookLloyd1(t))
    }

  /** The SEED PQ CODE REGISTRY — the corpus encoded against the
    * deterministic seed codebook ([[Dedup.pqCodebook]] ks=16, m=8):
    * the code table every seed-book PQ query re-derived per pass with
    * its own n·m·ks cross-join argmin — x149 (ADC), x150 (recall audit,
    * ADC side), x151 (rerank shortlist), x153 (IVFADC code side), x154
    * (packed form). n·m rows of small integers. */
  private[graft] def pqCodesSeed(t: Tables): org.apache.spark.sql.DataFrame = {
    Registries.frame(t.spark, t.dir, "pq_codes_seed_m8ks16") {
      Dedup.pqEncode(t.embeddings, "vec_id", "embedding",
        Dedup.pqCodebook(t.embeddings, "vec_id", "embedding"))
    }
  }

  /** The FLAT IVF INDEX REGISTRY at cell count `k` — seed centroids +
    * the flat nearest-centroid corpus assignment
    * ([[Dedup.ivfIndex]], lloydIters = 0), packed as one tagged frame
    * per (session, SF dir, k): the k=16 oracle-contract index serves
    * x39 (probe search), x141 (label purity) and x143 (cell-blocked
    * near-dup); the auto-k index serves x146 and x178 (SemDeDup).
    * Vectors re-tagged non-null-element at the read boundary, same as
    * [[ivf2AutoIndex]]. */
  private[graft] def ivfFlatIndex(t: Tables, k: Int):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val packed = Registries.frame(t.spark, t.dir, s"ivf_flat_index_k$k") {
      val (cents, asg) =
        Dedup.ivfIndex(t.embeddings, "vec_id", "embedding", k, 0)
      cents.select(lit("c").as("role"), col("cent_id").as("id"),
          col("ce").as("vec"), col("cn").as("nrm"),
          lit(null).cast("long").as("ref"))
        .unionByName(asg.select(lit("a").as("role"), col("vec_id").as("id"),
          col("embedding").as("vec"), col("nrm"), col("cell").as("ref")))
    }
    def vecTagged = expr("known_not_null_elements(vec)")
    val cents = packed.filter(col("role") === "c")
      .select(col("id").as("cent_id"), vecTagged.as("ce"), col("nrm").as("cn"))
    val asg = packed.filter(col("role") === "a")
      .select(col("id").as("vec_id"), vecTagged.as("embedding"),
        col("nrm"), col("ref").as("cell"))
    (cents, asg)
  }

  /** The SQ8 BOUNDS registry — the 64-row per-dimension min/max frame
    * ([[Dedup.sqBounds]], the SQ8 "train" step) every SQ consumer
    * re-aggregated per pass. */
  private[graft] def sq8Bounds(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "sq8_bounds") {
      Dedup.sqBounds(t.embeddings, "vec_id", "embedding")
    }

  /** The SQ8 CODE registry — the corpus encoded against [[sq8Bounds]]
    * ([[Dedup.sqEncode]]): x159 IS this table; x160/x161/x163/x164 scan
    * it as the decode side. n·d rows of 1-byte-range ints — the
    * physical SQ8 serving registry. */
  private[graft] def sq8Codes(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "sq8_codes") {
      Dedup.sqEncode(t.embeddings, "vec_id", "embedding", sq8Bounds(t))
    }

  /** The BQ THRESHOLD registry — the 64-row per-dimension sum/count
    * frame ([[Dedup.bqThresholds]]). */
  private[graft] def bqThr(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "bq_thresholds") {
      Dedup.bqThresholds(t.embeddings, "vec_id", "embedding")
    }

  /** The BQ CODE registry — 1-bit codes packed 32 dims/word
    * ([[Dedup.bqEncode]] against [[bqThr]]): x168 IS this table;
    * x169/x170/x172 scan it as the Hamming side. n·2 rows. */
  private[graft] def bqCodes(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "bq_codes") {
      Dedup.bqEncode(t.embeddings, "vec_id", "embedding", bqThr(t))
    }

  /** The SEED RVQ INDEX REGISTRY — [[Dedup.rvqIndex]] at the seed rung
    * (lloydIters = 0), packed codes + ks² recon table in one tagged
    * frame: x184 (the code table) and x185 (the ADC serving tier) both
    * derived the identical two-stage quantization per pass. n code rows
    * + 256 recon rows. */
  private[graft] def rvqSeedIndex(t: Tables):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    val packed = Registries.frame(t.spark, t.dir, "rvq_seed_index_ks16") {
      val (codes, recon) = Dedup.rvqIndex(t.embeddings, "vec_id", "embedding")
      codes.select(lit("c").as("role"), col("vec_id").as("id"),
          col("code1"), col("code2"), col("err2"),
          lit(null).cast("array<bigint>").as("rv"))
        .unionByName(recon.select(lit("r").as("role"),
          lit(null).cast("long").as("id"), col("code1"), col("code2"),
          lit(null).cast("long").as("err2"), col("rv")))
    }
    val codes = packed.filter(col("role") === "c")
      .select(col("id").as("vec_id"), col("code1"), col("code2"), col("err2"))
    val recon = packed.filter(col("role") === "r")
      .select(col("code1"), col("code2"),
        // reconstructions are never null by construction — re-tag at
        // the read boundary for the branch-free sqdist kernel
        expr("known_not_null_elements(rv)").as("rv"))
    (codes, recon)
  }

  /** The co-purchase DEGREE registry — `count(*)` per pk over the
    * symmetric edge expansion, built once per (session, SF dir): x136
    * (degree histogram) and x152 (PageRank's out-degree divisor) both
    * re-aggregated the 2·pairs-row edge frame per pass. Node-sized. */
  private[graft] def coPurchaseDeg(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "copurchase_deg") {
      // built straight from the pair registry (r20): the old build read
      // the und serving layout, forcing that 2·pairs-row pin to stand
      // even for consumers (x136) that only need the node-sized counts
      val pairs = coPurchasePairs(t)
      pairs.select(col("pa").as("pk"))
        .unionAll(pairs.select(col("pb").as("pk")))
        .groupBy(col("pk")).agg(count(lit(1)).as("degree"))
    }

  /** The co-purchase WEIGHTED out-degree registry (x157's divisor) —
    * same shape as [[coPurchaseDeg]] over the weighted expansion. */
  private[graft] def coPurchaseWdeg(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "copurchase_wdeg") {
      val pairs = coPurchasePairs(t)
      pairs.select(col("pa").as("pk"), col("w"))
        .unionAll(pairs.select(col("pb").as("pk"), col("w")))
        .groupBy(col("pk")).agg(sum(col("w")).as("wsum"))
    }

  /** Size-derived partition count for a standing serving layout
    * (guide §2.2 / the scale-adaptive-partitioning rule): a pinned
    * frame keeps its layout VERBATIM — no exchange downstream means
    * AQE can never coalesce it — so partitioning it `shuffle.partitions`
    * ways hands every consumer stage 32 near-empty tasks whose
    * straggler exposure dominates the stage (measured on x152's
    * iteration stages: same stage 0.4 s to 4.3 s run-to-run at 32×75k
    * rows). Target ~16 MiB of fixed-width rows per partition, uncapped
    * above the core count so a 100-TB edge frame still fans out. */
  private def sizedPartitions(rows: Long, bytesPerRow: Long): Int = {
    val target = 16L * 1024 * 1024
    math.max(1L, math.min(1L << 20, rows * bytesPerRow / target + 1)).toInt
  }

  /** Session-memoized co-purchase pair count (sizes the serving
    * layouts' partitioning at build time). */
  private def coPurchasePairCount(t: Tables): Long =
    Registries.scalar(t.spark, t.dir, "count_copurchase_pairs")(
      coPurchasePairs(t).count())

  /** x152's r20 serving layout: the symmetric edge expansion WITH the
    * contributor's out-degree attached — (pk, other, degree(pk)) —
    * hash-partitioned AND sorted on the iteration join key `pk`, pinned
    * via [[Registries.framePartitioned]] so the layout SURVIVES into
    * the scan node (the r19 `repartition(other)`+pin layout recorded
    * `UnknownPartitioning` and re-exchanged the full edge frame every
    * iteration — plans/r20/x152_before.txt). Each PageRank iteration is
    * then one zero-exchange-on-the-edge-side join against the
    * node-sized rank frame plus one map-side-combined aggregate: the
    * edge frame never crosses the network after the build, at any
    * scale (guide §2.4). Attaching `degree` here folds the old
    * per-iteration ranks⋈deg pre-join into the standing layout — the
    * divisor is a property of the graph, not of the iteration. */
  private[graft] def coPurchaseUndDegByPk(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.framePartitioned(t.spark, t.dir, "copurchase_und_deg_by_pk") {
      val pairs = coPurchasePairs(t)
      val und = pairs.select(col("pa").as("pk"), col("pb").as("other"))
        .unionAll(pairs.select(col("pb").as("pk"), col("pa").as("other")))
      und.join(coPurchaseDeg(t), "pk")
        .repartition(sizedPartitions(2 * coPurchasePairCount(t), 32), col("pk"))
        .sortWithinPartitions(col("pk"))
    }

  /** x157's r20 serving layout — [[coPurchaseUndDegByPk]] with the edge
    * weight and the contributor's out-weight sum: (pk, other, w,
    * wsum(pk)), partitioned+sorted on `pk`. */
  private[graft] def coPurchaseUndWdegByPk(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.framePartitioned(t.spark, t.dir, "copurchase_und_wdeg_by_pk") {
      val pairs = coPurchasePairs(t)
      val und = pairs.select(col("pa").as("pk"), col("pb").as("other"), col("w"))
        .unionAll(pairs.select(col("pb").as("pk"), col("pa").as("other"), col("w")))
      und.join(coPurchaseWdeg(t), "pk")
        .repartition(sizedPartitions(2 * coPurchasePairCount(t), 40), col("pk"))
        .sortWithinPartitions(col("pk"))
    }

  /** The QUALITY GATE registry — [[Corpus.qualityGate]]'s per-document
    * verdict frame, built once per (session, SF dir): x65 (the gate
    * report), x92 (scorecard keep-side), x108 (mixture drift) and x182
    * (release pipeline stage 2) all ran the identical
    * word-explode + marker arithmetic per pass. Corpus-row-sized
    * booleans. */
  private[graft] def qualityGateReg(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "quality_gate_x65") {
      Corpus.qualityGate(t.documents, "doc_id", "text")
    }

  /** The BLOCKLIST GATE registry — [[Corpus.blocklistGate]] over the
    * static [[blockPhrases]] list, shared by x180 and x182's stage 1. */
  private[graft] def blocklistGateReg(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "blocklist_gate_static") {
      Corpus.blocklistGate(t.documents, "doc_id", "text", blockPhrases)
    }

  /** The PER-DOCUMENT WORD-STAT registry — (doc_id, n_tokens, nd):
    * exploded token count + distinct-word count, the (type-token /
    * distinct-ratio) base frame that x68, x79, x92, x113, x182 and x183
    * each re-derived with their own word explode per pass. Two longs
    * per document. */
  private[graft] def docWordStats(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "doc_word_stats") {
      t.documents
        .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_tokens"), countDistinct(col("word")).as("nd"))
    }

  /** The EXACT COSINE NEAR-DUP PAIR REGISTRY at the library-wide
    * embedding threshold 0.4 ([[Dedup.embeddingNearDups]]) — the
    * all-pairs oracle-baseline frame, built once per (session, SF dir)
    * and shared by x11 (the inventory itself) and x102's true-pair
    * side. Pair-sized output; the n² scoring pass that produces it is
    * the one cost this registry stops paying per consumer. */
  private[graft] def embNearDupExact(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "emb_neardup_exact_t0.4") {
      Dedup.embeddingNearDups(t.embeddings, "vec_id", "embedding", threshold = 0.4)
    }

  /** The BANDED-LSH CANDIDATE REGISTRY (4 bands × 4 planes,
    * [[Dedup.lshBandCandidates]]) — distinct hyperplane-band collision
    * pairs, built once per (session, SF dir): x34 rescores it exactly
    * (precision-1.0 rescoring), x102 left-joins it as the hit set.
    * Candidate-pair-sized, never all-pairs. */
  private[graft] def embBandCands(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "emb_lsh_cands_b4p4") {
      Dedup.lshBandCandidates(t.embeddings, "vec_id", "embedding")
    }

  /** The EXACT kNN LIST REGISTRY — brute-force cosine top-5 lists over
    * every vector ([[Dedup.annTopK]], the exact ANN baseline), built
    * once per (session, SF dir). The n² similarity pass is the single
    * most expensive embedding intermediate; its n·5-row list frame
    * serves x89 (hubness in-degree) directly and x59 (mutual-k=3
    * clustering) via a rank-3 prefix — top-3 under the same
    * (cosine desc, neighbor asc) order is exactly the first 3 rows of
    * each top-5 list. */
  private[graft] def exactTopK5(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "exact_ann_topk5") {
      Dedup.annTopK(t.embeddings, "vec_id", "embedding", lit(true), k = 5)
    }

  /** The FUZZY (edit-distance) PAIR REGISTRY — x51's blocked banded-
    * Levenshtein pair frame with each endpoint's (first2words,
    * length-band) BLOCK SIZE carried, built once per (session, SF dir).
    * One blocking + banded-Levenshtein pass serves both registered
    * fuzzy queries: x51 projects the pair columns; x142 (the hot-block-
    * capped scale path) is EXACTLY the `both block sizes <= cap` filter
    * — the cap drops whole blocks before pairing, so a pair survives
    * iff both endpoints' own blocks are within cap, which is what the
    * carried sizes decide per pair (same survivors, same lev/rel_dist
    * arithmetic). Edge-list-sized output (round-18 verdict item 2).
    * Columns: (doc_a, doc_b, lev, rel_dist, bna, bnb) where bna/bnb are
    * the endpoints' own block sizes. */
  private[graft] def fuzzyPairs(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "fuzzy_pairs_blk2_band_t0.3") {
      val bandOf = lengthBandCol(length(col("text")))
      val blocked = t.documents.select(
        col("doc_id"), col("text"),
        array_join(slice(split(col("text"), " "), 1, 2), " ").as("blk"),
        length(col("text")).as("nc"),
        bandOf.as("bd"))
      val sz = blocked.groupBy(col("blk"), col("bd")).agg(count(lit(1)).as("bn"))
      val withSz = blocked.join(sz, Seq("blk", "bd"))
      val a = withSz.select(col("doc_id").as("doc_a"), col("text").as("ta"),
        col("blk"), col("nc").as("na"), col("bd"), col("bn").as("bna"))
      val b = withSz.select(col("doc_id").as("doc_b"), col("text").as("tb"),
        col("blk"), col("nc").as("nb"), col("bn").as("bnb"),
        explode(array(col("bd") - 1, col("bd"), col("bd") + 1)).as("bd"))
      a.join(b, Seq("blk", "bd"))
        .filter(col("doc_a") < col("doc_b"))
        // lossless: lev >= |na - nb|, so this pair could never pass the
        // rel_dist filter (same double division as the final predicate)
        .filter(abs(col("na") - col("nb")).cast("double")
          / greatest(col("na"), col("nb")) <= 0.3)
        // banded edit distance: k = floor(0.3 * mx) + 1 upper-bounds
        // every passing distance, so survivors get their exact value
        .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
          col("bna"), col("bnb"),
          expr("levenshtein(ta, tb, CAST(0.3 * greatest(na, nb) AS INT) + 1)")
            .cast("long").as("lev"))
        .filter(col("lev") >= 0)
        .select(col("doc_a"), col("doc_b"), col("lev"),
          (col("lev").cast("double") / greatest(col("na"), col("nb"))).as("rel_dist"),
          col("bna"), col("bnb"))
        .filter(col("rel_dist") <= 0.3)
    }

  /** Co-purchase graph degree distribution: parts are linked when they
    * appear in the same order; the output histogram (degree → part
    * count, degree 0 included via the dimension left join) is the
    * connectivity readout behind basket recommenders and graph-sampling
    * budgets. Edges come from [[coPurchasePairs]] (built once per
    * session); symmetric expansion, then two map-side-combined
    * counts. */
  val x136 = Q(
    "x136_copurchase_degree",
    Some(
      "WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "pairs AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb FROM op a " +
        "JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "und AS (SELECT pa AS pk, pb AS other FROM pairs " +
        "UNION ALL SELECT pb, pa FROM pairs), " +
        "deg AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY pk), " +
        "alld AS (SELECT CAST(COALESCE(deg.degree, 0) AS BIGINT) AS degree " +
        "FROM part p LEFT JOIN deg ON p.p_partkey = deg.pk) " +
        "SELECT degree, CAST(COUNT(*) AS BIGINT) AS n_parts FROM alld GROUP BY degree"
    )
  ) { t =>
    // degree per pk served from the session registry (x152 shares it)
    val deg = coPurchaseDeg(t)
    t.part.join(deg, t.part("p_partkey") === deg("pk"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_parts"))
  }

  /** The registered IVF cell-count policy, k = max(16, ⌊√n⌋) — the
    * x146 form, now the DEFAULT for every IVF-backed registered query
    * (x137/x138/x144/x153): SCALE.md's measured k-law ("IVF k-scaling law", round
    * 9) shows fixed k=16 paying 6× in candidate work at sf1 with
    * exponent > 1.2, while k ∝ √n holds per-cell size ∝ √n and probe
    * work ∝ n^1.5/k = n. The corpus count is one cheap driver-side
    * action; ⌊√n⌋ is cross-engine-safe (IEEE sqrt is correctly
    * rounded; a non-square's true root sits ~10⁶ ulps from an
    * integer at these scales). */
  /** Session-memoized base-table row counts ([[Registries.scalar]]) —
    * the k-policy and the PageRank teleport derive plan CONSTANTS from
    * these, and re-running a count() action per invocation was one
    * whole scheduler-floor job per query (two for the IVF queries:
    * ivfAutoKc(t) re-derived ivfAutoK(t)). Same session-snapshot
    * contract as every pinned registry frame. */
  private[graft] def embCount(t: Tables): Long =
    Registries.scalar(t.spark, t.dir, "count_embeddings")(t.embeddings.count())

  private[graft] def partCount(t: Tables): Long =
    Registries.scalar(t.spark, t.dir, "count_part")(t.part.count())

  private def ivfAutoK(t: Tables): Int =
    math.max(16, math.sqrt(embCount(t).toDouble).toInt)

  /** Coarse-level cell count for two-level routing: kc = max(4, ⌊√k⌋)
    * minimizes the n·(kc + k/kc) assignment term at kc ∝ √k (SCALE.md
    * "k-law re-measured"). Derived from [[ivfAutoK]]'s k, replayed by
    * the oracle from the same count. */
  private def ivfAutoKc(t: Tables): Int =
    math.max(4, math.sqrt(ivfAutoK(t).toDouble).toInt)

  /** Oracle twin of [[ivfAutoK]] — a scalar CTE both engines derive
    * from the same count, so the cell-count policy itself is replayed,
    * never hard-coded into the SQL text. */
  // def, not val: referenced by x64 ABOVE this point in the object
  // body — a val would still be null during that earlier initializer
  private def duckAutoKCte: String =
    "kk AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS k " +
      "FROM embeddings)"

  /** DuckDB CTE chain replaying `Dedup.ivfSearchTwoLevel` (deterministic
    * seed centroids both levels, no Lloyd) over ALL queries at the
    * [[ivfAutoK]]/[[ivfAutoKc]] policy — shared by the IVF-backed twins
    * x137/x138/x144 and the IVFADC routing in x153/x158. Since round 10
    * the routing is TWO-LEVEL (coarse→fine) on both the corpus and the
    * query side: the three-point scaling curve measured flat
    * assignment's n·k term super-linear in the 10→30× segment, exactly
    * the Θ(n^1.5) the k-law names, while two-level routing held
    * exp ~0.5. Yields `iassigned`, `iprobed`, and
    * `ivflists(query_id, neighbor_id, cosine)`. Prefix with `WITH`
    * (or `WITH RECURSIVE`) at the call site. */
  private def duckIvfListCtes(nprobe: Int, topK: Int): String = {
    def cos(a: String, an: String, b: String, bn: String) =
      s"${duckDot(a, b)} / ($an * $bn)"
    s"$duckNorms, $duckAutoKCte, " +
      "kc2 AS (SELECT GREATEST(4, CAST(FLOOR(SQRT(CAST(k AS DOUBLE))) AS BIGINT)) AS kc FROM kk), " +
      s"ifcents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn " +
      s"FROM norms WHERE vec_id < (SELECT k FROM kk)), " +
      s"iccents AS (SELECT vec_id AS co_id, embedding AS coe, nrm AS con " +
      s"FROM norms WHERE vec_id < (SELECT kc FROM kc2)), " +
      "ifparent AS (SELECT cent_id, ce, cn, co_id AS parent FROM (" +
      "SELECT f.cent_id, f.ce, f.cn, c.co_id, " +
      s"row_number() OVER (PARTITION BY f.cent_id ORDER BY " +
      s"${cos("f.ce", "f.cn", "c.coe", "c.con")} DESC, c.co_id) AS rn " +
      "FROM ifcents f CROSS JOIN iccents c) WHERE rn = 1), " +
      "iacoarse AS (SELECT co_id, coe, con FROM iccents " +
      "WHERE co_id IN (SELECT DISTINCT parent FROM ifparent)), " +
      "ivcoarse AS (SELECT vec_id, embedding, nrm, parent FROM (" +
      "SELECT n.vec_id, n.embedding, n.nrm, c.co_id AS parent, " +
      s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
      s"${cos("n.embedding", "n.nrm", "c.coe", "c.con")} DESC, c.co_id) AS rn " +
      "FROM norms n CROSS JOIN iacoarse c) WHERE rn = 1), " +
      "iassigned AS (SELECT vec_id, embedding, nrm, cell FROM (" +
      "SELECT v.vec_id, v.embedding, v.nrm, f.cent_id AS cell, " +
      s"row_number() OVER (PARTITION BY v.vec_id ORDER BY " +
      s"${cos("v.embedding", "v.nrm", "f.ce", "f.cn")} DESC, f.cent_id) AS rn " +
      "FROM ivcoarse v JOIN ifparent f ON v.parent = f.parent) WHERE rn = 1), " +
      "iprobed AS (SELECT query_id, qe, qn, cell FROM (" +
      "SELECT v.vec_id AS query_id, v.embedding AS qe, v.nrm AS qn, " +
      "f.cent_id AS cell, " +
      s"row_number() OVER (PARTITION BY v.vec_id ORDER BY " +
      s"${cos("v.embedding", "v.nrm", "f.ce", "f.cn")} DESC, f.cent_id) AS rn " +
      "FROM ivcoarse v JOIN ifparent f ON v.parent = f.parent) WHERE rn <= " + nprobe + "), " +
      "ivflists AS (SELECT query_id, neighbor_id, cosine FROM (" +
      "SELECT p.query_id, a.vec_id AS neighbor_id, " +
      s"${cos("p.qe", "p.qn", "a.embedding", "a.nrm")} AS cosine, " +
      s"row_number() OVER (PARTITION BY p.query_id ORDER BY " +
      s"${cos("p.qe", "p.qn", "a.embedding", "a.nrm")} DESC, a.vec_id) AS rn " +
      "FROM iprobed p JOIN iassigned a ON p.cell = a.cell " +
      s"AND p.query_id <> a.vec_id) WHERE rn <= $topK)"
  }

  /** x59's semantic clustering on the IVF scale path: candidate top-3
    * lists come from [[Dedup.ivfSearch]] at the [[ivfAutoK]] policy
    * cell count (per-query work ∝ corpus/k × nprobe = √n·nprobe at
    * k = ⌊√n⌋ instead of the full corpus — the 100 TB answer SCALE.md
    * promises for kNN clustering; fixed k=16 measured 6× dearer at sf1
    * in SCALE.md's round-9 "IVF k-scaling law" table), then the SAME mutuality + guarded
    * connected-components tail as the exact baseline
    * ([[Dedup.mutualEdgesFromTopK]] makes the tail literally shared
    * code). Fully deterministic (seed centroids, id tiebreaks), so the
    * whole pipeline carries a hash oracle; DedupLibrarySpec pins edge
    * recall vs the exact x59 graph. */
  val x137 = Q(
    "x137_semantic_clusters_ivf",
    Some(
      s"WITH RECURSIVE ${duckIvfListCtes(nprobe = 2, topK = 3)}, " +
        "tk AS (SELECT query_id AS qa, neighbor_id AS qb FROM ivflists), " +
        "mut AS (SELECT t.qa AS u, t.qb AS v FROM tk t " +
        "JOIN tk r ON t.qa = r.qb AND t.qb = r.qa WHERE t.qa < t.qb), " +
        "edges AS (SELECT u, v FROM mut UNION SELECT v, u FROM mut), " +
        "reach(u, v) AS (SELECT u, v FROM edges " +
        "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
        "cl AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS cluster_root FROM reach GROUP BY u) " +
        "SELECT vec_id, cluster_root, " +
        "CAST(COUNT(*) OVER (PARTITION BY cluster_root) AS BIGINT) AS cluster_size FROM cl"
    )
  ) { t =>
    // lists → mutual edges → guarded CC served from the shared
    // [[ivfMutualCcAuto]] registry (x183 runs the identical chain)
    ivfMutualCcAuto(t)
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_root"))))
      .select(col("node").as("vec_id"), col("cluster_root"), col("cluster_size"))
  }

  /** x89's hubness audit on the IVF scale path: the in-degree
    * distribution of the [[Dedup.ivfSearch]] top-5 graph instead of the
    * exact all-pairs one — same count shuffle + dimension left join +
    * histogram tail, with candidate generation ∝ corpus/k × nprobe at
    * the [[ivfAutoK]] policy k (linear total work at k = ⌊√n⌋).
    * Hubs this audit exists to catch are precisely the vectors an IVF
    * list still over-cites, so the approximate graph preserves the
    * fat-tail signal (DedupLibrarySpec pins list recall and that the
    * degree mass matches the list count exactly). */
  val x138 = Q(
    "x138_ann_hubness_ivf",
    Some(
      s"WITH ${duckIvfListCtes(nprobe = 2, topK = 5)}, " +
        "deg AS (SELECT neighbor_id, CAST(COUNT(*) AS BIGINT) AS cnt " +
        "FROM ivflists GROUP BY neighbor_id), " +
        "ind AS (SELECT e.vec_id, CAST(COALESCE(d.cnt, 0) AS BIGINT) AS in_degree " +
        "FROM embeddings e LEFT JOIN deg d ON e.vec_id = d.neighbor_id) " +
        "SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_vectors FROM ind GROUP BY in_degree"
    )
  ) { t =>
    val lists = ivfListsAuto(t, lit(true), nprobe = 2, topK = 5)
    val deg = lists.groupBy(col("neighbor_id")).agg(count(lit(1)).as("cnt"))
    t.embeddings.select(col("vec_id"))
      .join(deg, col("vec_id") === col("neighbor_id"), "left")
      .select(coalesce(col("cnt"), lit(0L)).as("in_degree"))
      .groupBy(col("in_degree"))
      .agg(count(lit(1)).as("n_vectors"))
  }

  /** Segment-level dedup with removal accounting (the CCNet/RefinedWeb
    * "line dedup" pass adapted to the corpus's flat word streams):
    * every doc is cut into NON-overlapping 8-word segments, one global
    * first-writer-wins pass keeps each distinct segment's earliest
    * occurrence (min (doc_id, position) — encoded as one bigint so the
    * winner is a single MIN aggregate), and the per-source report says
    * how many tokens survive — the sub-document dedup that catches
    * templated headers/footers exact doc-dedup (x01) and overlapping
    * n-gram novelty (x55) both miss. Scale shape: segments shuffle as
    * 8-byte poly hashes (never segment text), one hash-keyed MIN + one
    * keyed join back, one source-keyed aggregate; segment position is
    * bounded (< 2^20) so the winner encoding never overflows for any
    * doc_id below 2^43. */
  val x139 = Q(
    "x139_segment_dedup",
    Some(
      "WITH words AS (SELECT doc_id, source, string_split(text, ' ') AS w FROM documents), " +
        "occ0 AS (SELECT doc_id, source, w, " +
        "unnest(range(0, (len(w) + 7) // 8)) AS s FROM words), " +
        s"occ AS (SELECT doc_id, source, s, doc_id * 1048576 + s AS k, " +
        s"${duckPolyHash("array_to_string(w[s*8+1 : s*8+8], ' ')")} AS h, " +
        "LEAST(8, len(w) - s * 8) AS n_toks FROM occ0), " +
        "win AS (SELECT h, MIN(k) AS kmin FROM occ GROUP BY h) " +
        "SELECT source, CAST(COUNT(*) AS BIGINT) AS n_segments, " +
        s"${sqlCountIf("k = kmin")} AS n_kept, " +
        "CAST(SUM(n_toks) AS BIGINT) AS tokens_before, " +
        "CAST(SUM(CASE WHEN k = kmin THEN n_toks ELSE 0 END) AS BIGINT) AS tokens_after, " +
        "CAST(SUM(CASE WHEN k = kmin THEN n_toks ELSE 0 END) AS DOUBLE) / SUM(n_toks) AS keep_ratio " +
        "FROM occ JOIN win USING (h) GROUP BY source"
    )
  ) { t =>
    val words = split(col("text"), " ")
    val occ = t.documents
      .select(col("doc_id"), col("source"), words.as("w"))
      .select(col("doc_id"), col("source"), col("w"),
        explode(sequence(lit(0),
          floor((size(col("w")) - 1) / 8).cast("int"))).as("s"))
      .select(col("doc_id"), col("source"), col("s"),
        (col("doc_id") * lit(1048576L) + col("s")).as("k"),
        expr("poly_hash(array_join(slice(w, s*8+1, 8), ' '))").as("h"),
        least(lit(8), size(col("w")) - col("s") * 8).cast("long").as("n_toks"))
    val win = occ.groupBy(col("h")).agg(min(col("k")).as("kmin"))
    occ.join(win, "h")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_segments"),
        countIf(col("k") === col("kmin")).as("n_kept"),
        sum(col("n_toks")).as("tokens_before"),
        sum(when(col("k") === col("kmin"), col("n_toks")).otherwise(0L))
          .as("tokens_after"),
        (sum(when(col("k") === col("kmin"), col("n_toks")).otherwise(0L))
          .cast("double") / sum(col("n_toks"))).as("keep_ratio"))
  }

  /** Length-curriculum schedule: docs staged shortest-first into 10
    * token-count bands (stage = ⌊lt·10/N⌋+1 from the strictly-smaller
    * CDF — the ascending mirror of x128's decile arithmetic, same
    * [[Ranks.suffixSumDistinct]] machinery over the token-count
    * distinct-value frame, so nothing sorts docs globally), with each
    * stage's doc count, token mass, and cumulative token share — the
    * schedule a curriculum loader consumes directly. The cumulative walk
    * is a broadcast ≤10×10 stage self-join, not a window. */
  val x140 = Q(
    "x140_curriculum_stages",
    Some(
      "WITH tc AS (SELECT doc_id, CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_toks FROM documents), " +
        "cc AS (SELECT n_toks, CAST(COUNT(*) AS BIGINT) AS mu FROM tc GROUP BY n_toks), " +
        "t AS (SELECT CAST(SUM(mu) AS BIGINT) AS n_total, CAST(SUM(n_toks * mu) AS BIGINT) AS tok_total FROM cc), " +
        "d AS (SELECT n_toks, mu, COALESCE(CAST(SUM(mu) OVER " +
        "(ORDER BY n_toks ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS lt FROM cc), " +
        "st AS (SELECT CAST((lt * 10) // n_total + 1 AS BIGINT) AS stage, " +
        "CAST(SUM(mu) AS BIGINT) AS n_docs, CAST(SUM(n_toks * mu) AS BIGINT) AS stage_tokens " +
        "FROM d CROSS JOIN t GROUP BY 1) " +
        "SELECT a.stage, a.n_docs, a.stage_tokens, " +
        "CAST(SUM(b.stage_tokens) AS DOUBLE) / CAST(tok_total AS DOUBLE) AS cum_token_share " +
        "FROM st a JOIN st b ON b.stage <= a.stage CROSS JOIN t " +
        "GROUP BY a.stage, a.n_docs, a.stage_tokens, tok_total"
    )
  ) { t =>
    val tc = t.documents
      .select(graft.functions.Text.tokenCount("text").as("n_toks"))
    // one documents scan: the token-count grid feeds totals + CDF
    val cc = tc.groupBy(col("n_toks")).agg(count(lit(1)).as("mu"))
      .transform(graft.plans.Pin.pin)
    val tot = cc.agg(sum(col("mu")).as("n_total"),
      sum(col("n_toks") * col("mu")).as("tok_total"))
    // strictly-greater CDF from the helper; strictly-smaller = N - gt - mu
    val st = Ranks.suffixSumDistinct(cc, "n_toks", "mu",
        floor(col("n_toks") / lit(64L)), "gt")
      .crossJoin(broadcast(tot))
      .select(expr("((n_total - gt - mu) * 10) div n_total + 1")
          .cast("long").as("stage"),
        col("mu"), (col("n_toks") * col("mu")).as("toks"), col("tok_total"))
      .groupBy(col("stage"))
      .agg(sum(col("mu")).as("n_docs"), sum(col("toks")).as("stage_tokens"),
        first(col("tok_total")).as("tok_total"))
    val rhs = st.select(col("stage").as("stage2"),
      col("stage_tokens").as("stage_tokens2"))
    st.join(broadcast(rhs), col("stage2") <= col("stage"))
      .groupBy(col("stage"), col("n_docs"), col("stage_tokens"), col("tok_total"))
      .agg(sum(col("stage_tokens2")).as("cum_tokens"))
      .select(col("stage"), col("n_docs"), col("stage_tokens"),
        (col("cum_tokens").cast("double") / col("tok_total").cast("double"))
          .as("cum_token_share"))
  }

  /** IVF cell label purity — the clustering-quality audit over x39's
    * deterministic cell assignment: per cell, the member count, majority
    * label (count desc, label asc tiebreak), and purity fraction. Low
    * purity cells are where probe-search recall and kNN label votes
    * (x63) degrade, so this is the pre-flight that says whether the
    * coarse quantizer respects the label structure. Cost: the one
    * assignment scan + a (cell, label) aggregate; the per-cell argmax
    * runs on the ≤ k×|labels| count frame. */
  val x141 = Q(
    "x141_cell_label_purity",
    Some {
      def cos(a: String, an: String, b: String, bn: String) =
        s"${duckDot(a, b)} / ($an * $bn)"
      s"WITH $duckNorms, " +
        "cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn " +
        "FROM norms WHERE vec_id < 16), " +
        "assigned AS (SELECT vec_id, cell FROM (" +
        "SELECT n.vec_id, c.cent_id AS cell, " +
        s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
        s"${cos("n.embedding", "n.nrm", "c.ce", "c.cn")} DESC, c.cent_id) AS rn " +
        "FROM norms n CROSS JOIN cents c) WHERE rn = 1), " +
        "lab AS (SELECT a.cell, e.label, CAST(COUNT(*) AS BIGINT) AS cnt " +
        "FROM assigned a JOIN embeddings e ON a.vec_id = e.vec_id " +
        "GROUP BY a.cell, e.label), " +
        "tot AS (SELECT cell, CAST(SUM(cnt) AS BIGINT) AS n_vecs FROM lab GROUP BY cell), " +
        "top AS (SELECT cell, label, cnt FROM (SELECT *, " +
        "row_number() OVER (PARTITION BY cell ORDER BY cnt DESC, label) AS rn " +
        "FROM lab) WHERE rn = 1) " +
        "SELECT t.cell, t.n_vecs, CAST(p.label AS BIGINT) AS majority_label, " +
        "p.cnt AS n_majority, CAST(p.cnt AS DOUBLE) / t.n_vecs AS purity " +
        "FROM tot t JOIN top p USING (cell)"
    }
  ) { t =>
    val assigned = ivfFlatIndex(t, 16)._2
      .select(col("vec_id"), col("cell"))
    val lab = assigned
      .join(t.embeddings.select(col("vec_id"), col("label")), "vec_id")
      .groupBy(col("cell"), col("label")).agg(count(lit(1)).as("cnt"))
    val tot = lab.groupBy(col("cell")).agg(sum(col("cnt")).as("n_vecs"))
    val top = lab
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cell"))
          .orderBy(col("cnt").desc, col("label"))))
      .filter(col("rn") === 1)
    tot.join(top, "cell")
      .select(col("cell"), col("n_vecs"),
        col("label").cast("long").as("majority_label"),
        col("cnt").as("n_majority"),
        (col("cnt").cast("double") / col("n_vecs")).as("purity"))
  }

  /** x51's fuzzy dedup with a HOT-BLOCK CAP — the registered scale path
    * for edit-distance near-dup on corpora whose blocking key
    * degenerates. The round-8 sf1 scaling run measured x51 at exponent
    * ~2.2: its block count is vocabulary-bounded, so on a
    * fixed-vocabulary corpus blocks grow linearly with the corpus and
    * the banded-Levenshtein pair work quadratically. The standard
    * record-linkage answer is to refuse degenerate blocks: (first-two-
    * words, length-band) blocks with more than `cap` members are
    * dropped whole (the cap is part of the operator's contract and of
    * the oracle — deterministic, auditable via the emitted block sizes
    * in x127-style manifests; on organic corpora with open vocabularies
    * blocks are small and the cap never fires, making this ≡ x51).
    * Within-cap work is bounded at |blocks| × cap² pairs at ANY corpus
    * size. Same output schema and prune chain as x51. */
  val x142 = Q(
    "x142_fuzzy_dedup_capped",
    Some {
      "WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS w FROM documents), " +
        "b AS (SELECT doc_id, text, array_to_string(w[1:2], ' ') AS blk, " +
        s"${duckLengthBand("len(text)")} AS bd, " +
        "len(text) AS nc FROM d), " +
        "sz AS (SELECT blk, bd, CAST(COUNT(*) AS BIGINT) AS n FROM b GROUP BY blk, bd), " +
        "ok AS (SELECT b.* FROM b JOIN sz USING (blk, bd) WHERE sz.n <= 32) " +
        "SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, " +
        "CAST(levenshtein(a.text, b2.text) AS BIGINT) AS lev, " +
        "CAST(levenshtein(a.text, b2.text) AS DOUBLE) / greatest(a.nc, b2.nc) AS rel_dist " +
        "FROM ok a JOIN ok b2 ON a.blk = b2.blk AND abs(a.bd - b2.bd) <= 1 " +
        "AND a.doc_id < b2.doc_id " +
        "WHERE CAST(levenshtein(a.text, b2.text) AS DOUBLE) / greatest(a.nc, b2.nc) <= 0.3"
    }
  ) { t =>
    // the hot-block cap drops whole (blk, band) blocks BEFORE pairing,
    // so a pair survives iff both endpoints' own blocks are within cap
    // — exactly the carried block sizes in the [[fuzzyPairs]] registry
    // (same blocking, same lev/rel_dist arithmetic, same survivors)
    fuzzyPairs(t).filter(col("bna") <= 32 && col("bnb") <= 32)
      .select("doc_a", "doc_b", "lev", "rel_dist")
  }

  /** Embedding near-dup on the IVF scale path
    * ([[Dedup.embeddingNearDupsIvf]]): candidates only within coarse-
    * quantizer cells, exact cosine rescoring — completes the embedding
    * family's scale story alongside x137/x138. The round-8 sf1 run
    * measured both the exact x11 AND the fixed-parameter LSH x34 at
    * exponent ~1.9 (LSH bucket size grows ∝ n at any fixed plane
    * count); cell count k is the explicit knob that keeps candidate
    * work linear (k ∝ corpus/target_cell — here the x39-contract k=16).
    * Deterministic end to end → full hash oracle; recall vs the
    * all-pairs x11 pinned in DedupLibrarySpec. */
  val x143 = Q(
    "x143_embedding_neardup_ivf",
    Some {
      def cos(a: String, an: String, b: String, bn: String) =
        s"${duckDot(a, b)} / ($an * $bn)"
      s"WITH $duckNorms, " +
        "cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn " +
        "FROM norms WHERE vec_id < 16), " +
        "assigned AS (SELECT vec_id, embedding, nrm, cell FROM (" +
        "SELECT n.vec_id, n.embedding, n.nrm, c.cent_id AS cell, " +
        s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
        s"${cos("n.embedding", "n.nrm", "c.ce", "c.cn")} DESC, c.cent_id) AS rn " +
        "FROM norms n CROSS JOIN cents c) WHERE rn = 1) " +
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        s"${cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")} AS cosine " +
        "FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
        s"WHERE ${cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")} >= 0.4"
    }
  ) { t =>
    Dedup.embeddingNearDupsIvf(t.embeddings, "vec_id", "embedding",
      threshold = 0.4, k = 16, assignedIn = Some(ivfFlatIndex(t, 16)._2))
  }

  /** x63's kNN label vote fed by [[Dedup.ivfSearch]] lists instead of
    * the exact all-pairs top-k — the drop-in-lists proof for the vote
    * tail (the same demonstration x137/x138 make for the clustering and
    * hubness tails): candidate generation ∝ corpus/k × nprobe at the
    * [[ivfAutoK]] policy cell count, identical
    * vote/argmax logic downstream, deterministic end to end → full hash
    * oracle. At 100 TB this composition IS the labeling pipeline: lists
    * from the IVF index, votes as one (query, label) count shuffle,
    * winner by query-partitioned argmax. */
  val x144 = Q(
    "x144_knn_label_vote_ivf",
    Some(
      s"WITH ${duckIvfListCtes(nprobe = 2, topK = 5)}, " +
        "tk AS (SELECT query_id, neighbor_id FROM ivflists WHERE query_id % 10 = 0), " +
        "votes AS (SELECT t.query_id, e.label AS cand, CAST(COUNT(*) AS BIGINT) AS n_votes " +
        "FROM tk t JOIN embeddings e ON t.neighbor_id = e.vec_id " +
        "GROUP BY t.query_id, e.label), " +
        "win AS (SELECT query_id, cand, n_votes, " +
        "ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY n_votes DESC, cand ASC) AS rn " +
        "FROM votes) " +
        "SELECT w.query_id, q.label AS true_label, w.cand AS pred_label, " +
        "w.n_votes, (w.cand = q.label) AS correct " +
        "FROM win w JOIN embeddings q ON w.query_id = q.vec_id WHERE w.rn = 1"
    )
  ) { t =>
    val topk = ivfListsAuto(t, col("query_id") % 10 === 0,
      nprobe = 2, topK = 5)
    val labels = t.embeddings.select(col("vec_id"), col("label"))
    val votes = topk
      .join(labels.select(col("vec_id").as("neighbor_id"), col("label").as("cand")),
        Seq("neighbor_id"))
      .groupBy(col("query_id"), col("cand"))
      .agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_votes").desc, col("cand").asc)
    votes
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(labels.select(col("vec_id").as("query_id"), col("label").as("true_label")),
        Seq("query_id"))
      .select(col("query_id"), col("true_label"), col("cand").as("pred_label"),
        col("n_votes"), (col("cand") === col("true_label")).as("correct"))
  }

  /** x40's benchmark-decontamination gate behind a [[PortableBloom]] filter —
    * the membership path for when the benchmark gram set itself outgrows
    * a raw broadcast (multi-benchmark suites reach 10⁹ grams ≈ 8 GB of
    * raw hashes; the filter is a FIXED-size bit array). Zero false
    * negatives by construction — every truly contaminated doc that x40
    * flags is flagged here (BloomSpec pins the superset relation) — and
    * the false-positive side is deterministic integer arithmetic, so
    * both engines flag the IDENTICAL doc set and the full report stays
    * hash-green. At 100 TB: filter build is one explode + a ≤1041-key
    * bit_or shuffle on the eval-sized side; the corpus pays one explode
    * + one broadcast probe join + one per-doc aggregate — same scan
    * count as x40, with the broadcast payload corpus-size-INVARIANT. */
  val x145 = Q(
    "x145_bloom_decontamination",
    Some {
      "WITH w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        s"g AS (SELECT DISTINCT doc_id, ${duckPolyHash("gm")} AS h FROM (" +
        "SELECT doc_id, unnest(list_transform(range(1, len(w) - 6), " +
        "i -> array_to_string(w[i:i+7], ' '))) AS gm FROM w) t), " +
        "bench AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0), " +
        "train AS (SELECT doc_id, h FROM g WHERE doc_id % 97 <> 0), " +
        s"${PortableBloom.duckCtes()} " +
        "SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams, " +
        "CAST(SUM(hit) AS BIGINT) AS n_bloom_hits, " +
        "CAST(SUM(hit) AS DOUBLE) / COUNT(*) AS bloom_hit_frac, " +
        "SUM(hit) > 0 AS bloom_contaminated " +
        "FROM th GROUP BY doc_id"
    }
  ) { t =>
    val grams = Corpus.gramHashes(t.documents, "doc_id", "text")
    val bench = grams.filter(col("doc_id") % 97 === 0).select(col("h")).distinct()
    val bloom = PortableBloom.build(bench, "h")
    val train = grams.filter(col("doc_id") % 97 =!= 0)
    PortableBloom.hits(train, Seq("doc_id", "h"), "h", bloom)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(col("bloom_hit")).cast("long").as("n_bloom_hits"))
      .select(col("doc_id"), col("n_grams"), col("n_bloom_hits"),
        (col("n_bloom_hits").cast("double") / col("n_grams")).as("bloom_hit_frac"),
        (col("n_bloom_hits") > 0).as("bloom_contaminated"))
  }

  /** x143 with the cell count chosen by the measured k-scaling law
    * instead of a constant: k = max(16, ⌊√n⌋). SCALE.md's IVF analysis
    * says cell size grows ∝ n/k, so fixed-k probe work creeps
    * super-linear as the corpus grows; k ∝ √n holds EXPECTED CELL SIZE
    * ∝ √n and total candidate work ∝ n·√n/k = n — this query is that
    * policy shipped as a default rather than left as a tuning note. The
    * corpus count is one cheap driver-side action; ⌊√n⌋ is safe as a
    * cross-engine key because IEEE sqrt is correctly rounded (unlike ln
    * — see lengthBandThresholds) and a non-square integer's true root
    * is ≥ 1/(2√n) away from an integer, ~10⁶ ulps at these scales. */
  val x146 = Q(
    "x146_embedding_neardup_ivf_auto",
    Some {
      def cos(a: String, an: String, b: String, bn: String) =
        s"${duckDot(a, b)} / ($an * $bn)"
      s"WITH $duckNorms, " +
        "kk AS (SELECT GREATEST(16, CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT)) AS k " +
        "FROM embeddings), " +
        "cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn " +
        "FROM norms WHERE vec_id < (SELECT k FROM kk)), " +
        "assigned AS (SELECT vec_id, embedding, nrm, cell FROM (" +
        "SELECT n.vec_id, n.embedding, n.nrm, c.cent_id AS cell, " +
        s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
        s"${cos("n.embedding", "n.nrm", "c.ce", "c.cn")} DESC, c.cent_id) AS rn " +
        "FROM norms n CROSS JOIN cents c) WHERE rn = 1) " +
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        s"${cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")} AS cosine " +
        "FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
        s"WHERE ${cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")} >= 0.4"
    }
  ) { t =>
    Dedup.embeddingNearDupsIvf(t.embeddings, "vec_id", "embedding",
      threshold = 0.4, k = ivfAutoK(t),
      assignedIn = Some(ivfFlatIndex(t, ivfAutoK(t))._2))
  }

  /** x143 with multi-assignment (nassign=2): every vector is blocked
    * into its TWO nearest cells, so a near-dup pair is candidate
    * whenever any of the 2×2 cell combinations coincide. SCALE.md
    * "IVF k-scaling law" measured the trade at sf0.1: pair recall 0.20 → 0.53 at k=16
    * (0.15 → 0.35 at k=50) for ≤4× candidate work — the standard
    * recall lever when the corpus's near-dup pairs straddle cell
    * boundaries (borderline-threshold pairs on near-uniform vectors are
    * the coarse quantizer's worst case). Still fully deterministic:
    * the oracle replays the same assignment with `rn <= 2` and a final
    * DISTINCT (a pair sharing both cells scores the identical cosine
    * floats twice). */
  val x147 = Q(
    "x147_embedding_neardup_ivf_ma",
    Some {
      def cos(a: String, an: String, b: String, bn: String) =
        s"${duckDot(a, b)} / ($an * $bn)"
      s"WITH $duckNorms, " +
        "cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn " +
        "FROM norms WHERE vec_id < 16), " +
        "assigned AS (SELECT vec_id, embedding, nrm, cell FROM (" +
        "SELECT n.vec_id, n.embedding, n.nrm, c.cent_id AS cell, " +
        s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
        s"${cos("n.embedding", "n.nrm", "c.ce", "c.cn")} DESC, c.cent_id) AS rn " +
        "FROM norms n CROSS JOIN cents c) WHERE rn <= 2) " +
        "SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        s"${cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")} AS cosine " +
        "FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
        s"WHERE ${cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")} >= 0.4"
    }
  ) { t =>
    Dedup.embeddingNearDupsIvf(t.embeddings, "vec_id", "embedding",
      threshold = 0.4, k = 16, nassign = 2)
  }

  /** x143's candidate generation behind the TWO-LEVEL router
    * ([[Dedup.ivfAssignTwoLevel]]): coarse→fine centroid routing cuts
    * the flat n·k assignment term — the binding cost at SCALE.md's
    * measured k ∝ √n optimum — to n·(kc + k/kc). k=64/kc=8 here (the
    * shape that fits every driver SF); the measured cost/recall
    * vs flat assignment is in SCALE.md's round-9 "IVF k-scaling law" table. Routing is
    * deterministic at both levels (seed centroids, id tiebreaks), so
    * the oracle replays the full coarse→fine route and the output is
    * hash-green. */
  val x148 = Q(
    "x148_embedding_neardup_ivf2",
    Some {
      def cos(a: String, an: String, b: String, bn: String) =
        s"${duckDot(a, b)} / ($an * $bn)"
      s"WITH $duckNorms, " +
        "fcents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn " +
        "FROM norms WHERE vec_id < 64), " +
        "ccents AS (SELECT vec_id AS co_id, embedding AS coe, nrm AS con " +
        "FROM norms WHERE vec_id < 8), " +
        "fparent AS (SELECT cent_id, ce, cn, co_id AS parent FROM (" +
        "SELECT f.cent_id, f.ce, f.cn, c.co_id, " +
        s"row_number() OVER (PARTITION BY f.cent_id ORDER BY " +
        s"${cos("f.ce", "f.cn", "c.coe", "c.con")} DESC, c.co_id) AS rn " +
        "FROM fcents f CROSS JOIN ccents c) WHERE rn = 1), " +
        "acoarse AS (SELECT co_id, coe, con FROM ccents " +
        "WHERE co_id IN (SELECT DISTINCT parent FROM fparent)), " +
        "vcoarse AS (SELECT vec_id, embedding, nrm, co_id AS parent FROM (" +
        "SELECT n.vec_id, n.embedding, n.nrm, c.co_id, " +
        s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
        s"${cos("n.embedding", "n.nrm", "c.coe", "c.con")} DESC, c.co_id) AS rn " +
        "FROM norms n CROSS JOIN acoarse c) WHERE rn = 1), " +
        "assigned AS (SELECT vec_id, embedding, nrm, cell FROM (" +
        "SELECT v.vec_id, v.embedding, v.nrm, f.cent_id AS cell, " +
        s"row_number() OVER (PARTITION BY v.vec_id ORDER BY " +
        s"${cos("v.embedding", "v.nrm", "f.ce", "f.cn")} DESC, f.cent_id) AS rn " +
        "FROM vcoarse v JOIN fparent f ON v.parent = f.parent) WHERE rn = 1) " +
        "SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, " +
        s"${cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")} AS cosine " +
        "FROM assigned a JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
        s"WHERE ${cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")} >= 0.4"
    }
  ) { t =>
    Dedup.embeddingNearDupsIvfTwoLevel(t.embeddings, "vec_id", "embedding",
      threshold = 0.4, k = 64, kc = 8)
  }

  /** Shared product-quantization CTEs (oracle side), replicating
    * [[Dedup.pqCodes]]/[[Dedup.pqSearch]] exactly: ⌊v·10⁶⌋ exact-long
    * quantization (the x53 trick), codebooks = subvectors of vec_id <
    * 16 (the deterministic IVF seeding convention), per-subspace argmin
    * with ties to the smaller cent_id, ADC = Σ over the 8 subspaces of
    * the query's precomputed table entry at the vector's code. Every
    * intermediate is an exact int64, so the hash oracle is green. */
  private val duckPqCtes: String =
    "pqq AS (SELECT vec_id, list_transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q FROM embeddings), " +
      "pqd AS (SELECT vec_id, i, q[i] AS v, CAST((i - 1) // 8 AS BIGINT) AS sub " +
      "FROM pqq CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dd), " +
      "pqc AS (SELECT vec_id AS cent_id, i, v AS cv, sub FROM pqd WHERE vec_id < 16), " +
      "pqsd AS (SELECT d.vec_id, c.cent_id, d.sub, " +
      "CAST(SUM((d.v - c.cv) * (d.v - c.cv)) AS BIGINT) AS d " +
      "FROM pqd d JOIN pqc c ON d.i = c.i GROUP BY 1, 2, 3), " +
      "pqcodes AS (SELECT vec_id, sub, cent_id AS code FROM (" +
      "SELECT vec_id, sub, cent_id, " +
      "row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cent_id) AS rn " +
      "FROM pqsd) t WHERE rn = 1), " +
      "pqtab AS (SELECT vec_id AS query_id, sub, cent_id, d FROM pqsd WHERE vec_id < 10), " +
      "pqadc AS (SELECT t.query_id, c.vec_id AS neighbor_id, " +
      "CAST(SUM(t.d) AS BIGINT) AS adc_dist " +
      "FROM pqcodes c JOIN pqtab t ON c.sub = t.sub AND c.code = t.cent_id " +
      "WHERE c.vec_id <> t.query_id GROUP BY 1, 2), " +
      "pqtop AS (SELECT query_id, neighbor_id, adc_dist FROM (" +
      "SELECT query_id, neighbor_id, adc_dist, " +
      "row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn " +
      "FROM pqadc) t WHERE rn <= 5)"

  /** Product-quantization ADC top-5: the corpus lives as 8 codebook
    * ids per vector (32 bits at ks=16 — 64× under the 256 B raw
    * vector), queries score it through broadcast distance tables
    * without ever touching corpus vectors. THE memory answer for ANN
    * at 100 TB: the search structure of a corpus whose raw embeddings
    * are 100 TB fits in ~1.5 TB of cluster RAM as codes. Distances
    * are exact int64 under ⌊v·10⁶⌋ quantization, so the ranking — and
    * the DuckDB oracle — is bit-deterministic; recall vs the exact
    * metric is x150's audit. */
  val x149 = Q(
    "x149_pq_adc_topk",
    Some(s"WITH $duckPqCtes SELECT query_id, neighbor_id, adc_dist FROM pqtop")
  ) { t =>
    Dedup.pqSearch(t.embeddings, "vec_id", "embedding",
      col("vec_id") < 10, topK = 5, codesIn = Some(pqCodesSeed(t)))
  }

  /** PQ recall audit: per query, how many of ADC's top-5 (x149) are in
    * the TRUE top-5 under the exact quantized L2 metric ADC
    * approximates. The honest-evidence twin every approximate
    * structure here carries (x102 for MinHash, x137/x138 for IVF) —
    * exact side is a full broadcast scan with the IDENTICAL
    * `pq_subdist` arithmetic, so the measured gap is purely the
    * codebook approximation. */
  val x150 = Q(
    "x150_pq_recall",
    Some {
      s"WITH $duckPqCtes, " +
        "pqed AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        "CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS qd " +
        "FROM pqd a JOIN pqd b ON a.i = b.i AND b.vec_id <> a.vec_id " +
        "WHERE a.vec_id < 10 GROUP BY 1, 2), " +
        "pqex AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY qd, neighbor_id) AS rn " +
        "FROM pqed) t WHERE rn <= 5) " +
        "SELECT a.query_id, CAST(COUNT(e.neighbor_id) AS BIGINT) AS n_match, " +
        "CAST(COUNT(e.neighbor_id) AS DOUBLE) / 5.0 AS recall " +
        "FROM pqtop a LEFT JOIN pqex e " +
        "ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id " +
        "GROUP BY 1"
    }
  ) { t =>
    val adc5 = Dedup.pqSearch(t.embeddings, "vec_id", "embedding",
      col("vec_id") < 10, topK = 5, codesIn = Some(pqCodesSeed(t)))
    val ex5 = Dedup.pqQuantizedExactTopK(t.embeddings, "vec_id", "embedding",
      col("vec_id") < 10, topK = 5)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    adc5.join(ex5, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(count(col("hit")).as("n_match"))
      .select(col("query_id"), col("n_match"),
        (col("n_match").cast("double") / 5.0).as("recall"))
  }

  /** PQ + exact re-rank top-5 — the production ANN pipeline (ADC
    * shortlist over compressed codes, exact scoring of ONLY the
    * shortlist's full vectors). Final recall = the shortlist's capture
    * rate: 0.72 at shortlist=50 here vs x149's 0.16 ADC-only — the
    * measured case for why deployments re-rank. The expensive tier
    * (full vectors) is read O(queries·shortlist), never O(corpus). */
  val x151 = Q(
    "x151_pq_rerank",
    Some {
      s"WITH $duckPqCtes, " +
        "pqsl AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn " +
        "FROM pqadc) t WHERE rn <= 50), " +
        "pqrd AS (SELECT s.query_id, s.neighbor_id, " +
        "CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS qdist " +
        "FROM pqsl s JOIN pqd a ON a.vec_id = s.query_id " +
        "JOIN pqd b ON b.vec_id = s.neighbor_id AND b.i = a.i GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, qdist FROM (" +
        "SELECT query_id, neighbor_id, qdist, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY qdist, neighbor_id) AS rn " +
        "FROM pqrd) t WHERE rn <= 5"
    }
  ) { t =>
    Dedup.pqSearchRerank(t.embeddings, "vec_id", "embedding",
      col("vec_id") < 10, topK = 5, shortlist = 50,
      codesIn = Some(pqCodesSeed(t)))
  }

  /** Graph importance scoring — fixed-point PageRank (3 iterations,
    * d=0.85) over the x136 co-purchase graph, the "domain authority"
    * signal a curation pipeline uses to weight sources. ALL arithmetic
    * is scaled integer (mass S=10¹²; every division is integer `div`,
    * every sum a long), so iteration results are bit-reproducible under
    * ANY partitioning and across engines — float PageRank would sum
    * neighbor contributions in nondeterministic order. Dangling nodes
    * (degree 0) keep teleport-only rank and redistribute nothing — a
    * defined variant, implemented identically on both sides.
    *
    * Scale shape: the edge frame is Σ c(k,2) within-order pairs (x136's
    * bound, never corpus×corpus) and each iteration is one keyed join +
    * one keyed aggregate over it — the textbook distributed PageRank
    * step. Iterations are a fixed constant (3); the edge/degree frames
    * are localCheckpointed once so the three passes rescan materialized
    * rows instead of re-deriving pairs, and the edge frame is
    * pre-partitioned on the join key (`other`) BEFORE the checkpoint so
    * every iteration's contribution join reuses one distribution
    * instead of re-shuffling the edges (measured 4.5 → 3.3 s at sf0.1;
    * at broadcast-sized node counts AQE broadcasts the rank frame and
    * skips the edge shuffle entirely — the pre-partition is the layout
    * that matters once N outgrows the broadcast threshold). */
  val x152 = Q(
    "x152_copurchase_pagerank",
    Some {
      val S = "1000000000000"
      val tele = s"(15 * ($S // (SELECT n FROM nn))) // 100"
      def iter(prev: String, cur: String) =
        s"c$cur AS (SELECT r.pk, r.rank // d.degree AS c FROM r$prev r " +
          "JOIN deg d ON r.pk = d.pk), " +
          s"i$cur AS (SELECT u.pk, SUM(c.c) AS inflow FROM und u " +
          s"JOIN c$cur c ON u.other = c.pk GROUP BY u.pk), " +
          s"r$cur AS (SELECT p.p_partkey AS pk, CAST($tele + " +
          "(85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS rank " +
          s"FROM part p LEFT JOIN i$cur i ON p.p_partkey = i.pk)"
      "WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "pairs AS (SELECT DISTINCT a.l_partkey AS pa, b.l_partkey AS pb FROM op a " +
        "JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey), " +
        "und AS (SELECT pa AS pk, pb AS other FROM pairs " +
        "UNION ALL SELECT pb, pa FROM pairs), " +
        "deg AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS degree FROM und GROUP BY pk), " +
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM part), " +
        s"r0 AS (SELECT p_partkey AS pk, CAST($S // (SELECT n FROM nn) AS BIGINT) " +
        "AS rank FROM part), " +
        s"${iter("0", "1")}, ${iter("1", "2")}, ${iter("2", "3")} " +
        "SELECT pk, rank FROM r3 ORDER BY rank DESC, pk LIMIT 20"
    }
  ) { t =>
    // r20 restructure (guide §2.4 + §1.2 step 1, measured 17 jobs ≈
    // pure scheduler floor at sf0.1): the iteration loop now runs over
    // the EDGE DOMAIN only, against the standing partitioned layout
    // [[coPurchaseUndDegByPk]] —
    //  * the edge frame never re-exchanges (its hash layout survives
    //    the pin), each iteration shuffles only node-sized rank rows;
    //  * the divisor rides the registry, folding the old per-iteration
    //    ranks⋈deg pre-join away;
    //  * the old per-iteration `parts LEFT JOIN inflow` re-attach is
    //    algebraically dead inside the loop: only nodes WITH edges
    //    ever contribute (the contrib join was inner on deg), and in a
    //    symmetric edge set every edge-domain node receives an inflow
    //    row, so rank(isolated) is the constant tele after round 1 —
    //    re-attached ONCE at the end via coalesce(rank, tele);
    //  * iteration 1's join is unrolled to a pure aggregate (rank ≡ r0
    //    is a literal);
    //  * n = |part| is the session-memoized [[partCount]] scalar.
    // Values are bit-identical: same integer expressions in the same
    // order, same inflow sums (longs, order-independent).
    val S = 1000000000000L
    val und = coPurchaseUndDegByPk(t)
    val n = partCount(t)
    val r0 = S / n
    val tele = (15L * r0) / 100L
    def step(inflow: org.apache.spark.sql.Column) =
      (lit(tele) + expr(s"85 * inflow div 100")).as("rank")
    var ranks = und.groupBy(col("other"))
      .agg(sum(expr(s"${r0}L div degree")).as("inflow"))
      .select(col("other").as("pk"), step(col("inflow")))
    for (_ <- 2 to 3) {
      val inflow = und.join(ranks, "pk")
        .groupBy(col("other")).agg(sum(expr("rank div degree")).as("inflow"))
      ranks = inflow.select(col("other").as("pk"), step(col("inflow")))
    }
    t.part.select(col("p_partkey").as("pk"))
      .join(ranks, Seq("pk"), "left")
      .select(col("pk"), coalesce(col("rank"), lit(tele)).as("rank"))
      .orderBy(col("rank").desc, col("pk")).limit(20)
  }

  /** IVFADC — the composed billion-scale ANN pipeline
    * ([[Dedup.ivfPqSearch]]): IVF cosine routing ([[ivfAutoK]] policy
    * cells, nprobe=4)
    * × PQ ADC over the probed cells' codes × exact quantized re-rank of
    * the 50-deep shortlist. The two halves are the verified x53 and
    * x149/x151 machinery; the oracle composes their CTE families
    * verbatim — iassigned/iprobed route cells, pqcodes/pqtab score
    * them, all in exact arithmetic, so the full pipeline stays
    * hash-green. Probe work per query is (n/k)·nprobe CODE rows (both
    * the memory and the scan term cut at once — SCALE.md "Product
    * quantization"); recall compounds routing × quantization and is
    * the documented near-uniform worst case here (PqSpec measures it
    * against the same exact baseline as x151). */
  val x153 = Q(
    "x153_ivfpq_topk",
    Some {
      s"WITH ${duckIvfListCtes(nprobe = 4, topK = 5)}, $duckPqCtes, " +
        "ipadc AS (SELECT p.query_id, c.vec_id AS neighbor_id, " +
        "CAST(SUM(t.d) AS BIGINT) AS adc_dist " +
        "FROM pqcodes c JOIN iassigned a ON c.vec_id = a.vec_id " +
        "JOIN iprobed p ON a.cell = p.cell " +
        "JOIN pqtab t ON t.query_id = p.query_id AND t.sub = c.sub " +
        "AND t.cent_id = c.code " +
        "WHERE c.vec_id <> p.query_id GROUP BY 1, 2), " +
        "ipsl AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn " +
        "FROM ipadc) t WHERE rn <= 50), " +
        "iprd AS (SELECT s.query_id, s.neighbor_id, " +
        "CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS qdist " +
        "FROM ipsl s JOIN pqd a ON a.vec_id = s.query_id " +
        "JOIN pqd b ON b.vec_id = s.neighbor_id AND b.i = a.i GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, qdist FROM (" +
        "SELECT query_id, neighbor_id, qdist, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY qdist, neighbor_id) AS rn " +
        "FROM iprd) t WHERE rn <= 5"
    }
  ) { t =>
    Dedup.ivfPqSearch(t.embeddings, "vec_id", "embedding",
      col("vec_id") < 10, k = ivfAutoK(t), nprobe = 4, topK = 5,
      shortlist = 50, kc = Some(ivfAutoKc(t)),
      index2 = Some(ivf2AutoIndex(t)), codesIn = Some(pqCodesSeed(t)))
  }

  /** Packed PQ codes — the physical registry row behind the PQ memory
    * claim: one BIGINT per vector carrying all 8 codebook ids (4 bits
    * each). 8 bytes/vector vs 256 B raw embeddings; the ADC structures
    * x149/x153 scan are THIS column unpacked with shift+mask. Pure
    * integer packing, hash-exact cross-engine. */
  val x154 = Q(
    "x154_pq_packed_codes",
    Some(
      s"WITH $duckPqCtes " +
        "SELECT vec_id, CAST(SUM(code << (CAST(sub AS INT) * 4)) AS BIGINT) " +
        "AS packed_code FROM pqcodes GROUP BY vec_id"
    )
  ) { t =>
    // packed form of the session's seed code registry (same rows
    // pqCodesPacked derives — one shift+mask aggregate per pass)
    pqCodesSeed(t)
      .groupBy(col("vec_id"))
      .agg(sum(expr("shiftleft(code, CAST(sub AS INT) * 4)")).as("packed_code"))
  }

  /** PQ codes under a TRAINED codebook ([[Dedup.pqCodebookLloyd]], one
    * per-subspace Lloyd round): entry c's subspace s becomes the
    * quantized mean of the subvectors that chose it, then the corpus is
    * re-encoded — the codebook fit every production PQ index performs
    * (Jégou et al. 2011 train subquantizers by k-means; the seed book
    * x149-x154 use is the deterministic *initialization*). Training is
    * the x53 Lloyd contract applied per subspace — exact-long means,
    * one float cast — so the refined book and the re-encode are
    * bit-reproducible and the full train→encode pipeline carries a
    * hash oracle; empty (code, subspace) cells keep their seed entry
    * (both engines coalesce). SCALE.md "Trained PQ codebooks" rows quantify
    * the recall this buys on clustered corpora (GenSf `--clustered`),
    * where the seed book is provably mis-centered. */
  /** Trained-codebook CTEs (oracle side), replicating
    * [[Dedup.pqCodebookLloyd]] (one iteration) exactly on top of
    * `duckPqCtes`: per-(code, dim) exact-long means over the seed
    * assignment, float-cast then requantized (the same
    * long→double→float→⌊·10⁶⌋ round-trip the Spark side performs),
    * seed-coalesced empty cells, then the re-encode distances `tsd`
    * and trained codes `tcodes`. Shared by x155 and x158. */
  private val duckTrainedPqCtes: String =
    "tmean AS (SELECT c.code, d.i, CAST(SUM(d.v) AS DOUBLE) / " +
      "(CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mv " +
      "FROM pqd d JOIN pqcodes c ON d.vec_id = c.vec_id AND d.sub = c.sub " +
      "GROUP BY 1, 2), " +
      "tbook AS (SELECT g.cent_id, g.i, g.sub, " +
      "COALESCE(CAST(floor(CAST(CAST(t.mv AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT), " +
      "g.cv) AS tv " +
      "FROM pqc g LEFT JOIN tmean t ON g.cent_id = t.code AND g.i = t.i), " +
      "tsd AS (SELECT d.vec_id, b.cent_id, d.sub, " +
      "CAST(SUM((d.v - b.tv) * (d.v - b.tv)) AS BIGINT) AS d " +
      "FROM pqd d JOIN tbook b ON d.i = b.i GROUP BY 1, 2, 3), " +
      "tcodes AS (SELECT vec_id, sub, cent_id AS code FROM (" +
      "SELECT vec_id, sub, cent_id, " +
      "row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cent_id) AS rn " +
      "FROM tsd) t WHERE rn = 1)"

  val x155 = Q(
    "x155_pq_trained_codes",
    Some(
      s"WITH $duckPqCtes, $duckTrainedPqCtes " +
        "SELECT vec_id, sub, code FROM tcodes"
    )
  ) { t =>
    pqCodesLloyd1(t)
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))
  }

  /** Label propagation over the co-purchase graph — x152's iterative
    * fixed-point template generalized from PageRank to community
    * detection (Raghavan et al. 2007, synchronous variant): every part
    * starts in its own community (label = own key), and each of 3
    * rounds relabels a part to the most frequent label among its
    * co-purchase neighbors (ties → smallest label, so the fixed point
    * is deterministic and the oracle replays it exactly). Output is the
    * community-size histogram — the clustering readout behind
    * curriculum bucketing and topic-balanced sampling of a linked
    * corpus. Edges carry a MIN-SUPPORT threshold (co-purchased in ≥ 2
    * distinct orders — the association-rule support cut): on random
    * baskets single co-occurrences are the quadratic noise floor, and
    * pruning them both exposes genuine structure (sf0.1: 1.196M raw
    * edges → 3.6k strong ones, 18.9k communities instead of total
    * collapse) and shrinks the iterated frame by 300× before any
    * propagation runs — at 100 TB the support filter is what keeps the
    * per-round join proportional to SIGNAL, not to pair noise.
    *
    * Scale shape — the x152 discipline verbatim: the edge frame is
    * built once (bounded per-order self-join, ≤C(7,2) pairs/order),
    * pre-partitioned on the probe key and localCheckpointed so each
    * round reuses the shuffle instead of replaying the lineage; one
    * round = one keyed join + one (pk, lbl) count (map-side combined) +
    * one per-pk argmax as `min(struct(-cnt, lbl))` — an AGGREGATE, not
    * a window: it combines map-side and never materializes a per-key
    * sort, unlike the oracle's row_number replay. Labels are keys
    * (integers), so every step is exact and engine-portable — the same
    * reason x152 runs integer fixed-point instead of float ranks. */
  val x156 = Q(
    "x156_label_propagation",
    Some {
      def iter(prev: String, cur: String) =
        s"n$cur AS (SELECT u.pk, l.lbl, CAST(COUNT(*) AS BIGINT) AS cnt " +
          s"FROM und u JOIN l$prev l ON u.other = l.pk GROUP BY u.pk, l.lbl), " +
          s"w$cur AS (SELECT pk, lbl FROM (SELECT pk, lbl, " +
          "row_number() OVER (PARTITION BY pk ORDER BY cnt DESC, lbl ASC) AS rn " +
          s"FROM n$cur) t WHERE rn = 1), " +
          s"l$cur AS (SELECT p.p_partkey AS pk, COALESCE(w.lbl, p.p_partkey) AS lbl " +
          s"FROM part p LEFT JOIN w$cur w ON p.p_partkey = w.pk)"
      "WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM op a " +
        "JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING COUNT(*) >= 2), " +
        "und AS (SELECT pa AS pk, pb AS other FROM pairs " +
        "UNION ALL SELECT pb, pa FROM pairs), " +
        "l0 AS (SELECT p_partkey AS pk, p_partkey AS lbl FROM part), " +
        s"${iter("0", "1")}, ${iter("1", "2")}, ${iter("2", "3")} " +
        "SELECT lbl AS community, CAST(COUNT(*) AS BIGINT) AS n_parts " +
        "FROM l3 GROUP BY lbl"
    }
  ) { t =>
    // r20 restructure (the x152 move on the min-support graph): the
    // loop runs over the EDGE DOMAIN only — neighbors are always
    // edge-domain nodes, every edge-domain node has ≥1 neighbor (und is
    // symmetric) so its relabel row always exists, and isolated parts
    // keep their own key forever — re-attached ONCE at the end via
    // coalesce. The old per-call repartition+pin of the (tiny,
    // support-pruned) expansion is gone: its base is already the pinned
    // [[coPurchasePairsMin2]] registry and the expansion is a
    // zero-shuffle union of two projections, so the extra checkpoint
    // bought nothing (the r19 batch-8 criterion). Round 1's join is
    // unrolled: with lbl₀(v) = v, the neighbor-label frame IS the edge
    // list itself (cnt ≡ 1 per (pk, other) row — pairs are distinct).
    val pairs = coPurchasePairsMin2(t)
    val und = pairs.select(col("pa").as("pk"), col("pb").as("other"))
      .unionAll(pairs.select(col("pb").as("pk"), col("pa").as("other")))
    def argmax(nb: org.apache.spark.sql.DataFrame) = nb.groupBy(col("pk"))
      .agg(min(struct((-col("cnt")).as("nc"), col("lbl").as("l"))).as("w"))
      .select(col("pk"), col("w.l").as("lbl"))
    var labels = argmax(und.select(col("pk"), col("other").as("lbl"), lit(1L).as("cnt")))
    for (_ <- 2 to 3) {
      val nb = und
        .join(labels.select(col("pk").as("other"), col("lbl")), "other")
        .groupBy(col("pk"), col("lbl")).agg(count(lit(1)).as("cnt"))
      labels = argmax(nb)
    }
    t.part.select(col("p_partkey").as("pk"))
      .join(labels, Seq("pk"), "left")
      .select(coalesce(col("lbl"), col("pk")).as("lbl"))
      .groupBy(col("lbl")).agg(count(lit(1)).as("n_parts"))
      .select(col("lbl").as("community"), col("n_parts"))
  }

  /** WEIGHTED PageRank — x152 with edge mass proportional to
    * co-purchase support (number of distinct orders containing both
    * parts) instead of uniform 1/degree: the authority signal when
    * link strength matters (repeat co-citation ≫ one shared basket —
    * the weighting every production citation/source-authority graph
    * uses). Same fixed-point integer template, third instantiation
    * (x152 uniform rank flow, x156 label votes, here weighted flow):
    * contribution of v to u = rank(v)·w(v,u) div W(v) with W(v) the
    * out-weight sum — exact longs throughout (rank ≤ S=10¹², support
    * ≤ order count, product ≪ 2⁶³), floor losses deterministic and
    * identical cross-engine, so 3 iterations later the top-20 is
    * hash-exact. Scale shape identical to x152: bounded within-order
    * pair generation, edge+weight frame pre-partitioned on the probe
    * key and localCheckpointed once, per-iteration one keyed join +
    * one keyed aggregate. */
  val x157 = Q(
    "x157_weighted_pagerank",
    Some {
      val S = "1000000000000"
      val tele = s"(15 * ($S // (SELECT n FROM nn))) // 100"
      def iter(prev: String, cur: String) =
        s"c$cur AS (SELECT u.other, (r.rank * u.w) // d.wsum AS c FROM und u " +
          s"JOIN r$prev r ON u.pk = r.pk JOIN wd d ON u.pk = d.pk), " +
          s"i$cur AS (SELECT other AS pk, SUM(c) AS inflow FROM c$cur GROUP BY other), " +
          s"r$cur AS (SELECT p.p_partkey AS pk, CAST($tele + " +
          "(85 * COALESCE(i.inflow, 0)) // 100 AS BIGINT) AS rank " +
          s"FROM part p LEFT JOIN i$cur i ON p.p_partkey = i.pk)"
      "WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, " +
        "CAST(COUNT(*) AS BIGINT) AS w FROM op a " +
        "JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2), " +
        "und AS (SELECT pa AS pk, pb AS other, w FROM pairs " +
        "UNION ALL SELECT pb, pa, w FROM pairs), " +
        "wd AS (SELECT pk, CAST(SUM(w) AS BIGINT) AS wsum FROM und GROUP BY pk), " +
        "nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM part), " +
        s"r0 AS (SELECT p_partkey AS pk, CAST($S // (SELECT n FROM nn) AS BIGINT) " +
        "AS rank FROM part), " +
        s"${iter("0", "1")}, ${iter("1", "2")}, ${iter("2", "3")} " +
        "SELECT pk, rank FROM r3 ORDER BY rank DESC, pk LIMIT 20"
    }
  ) { t =>
    // r20 restructure — the x152 rewrite applied to the weighted flow
    // (see x152's comment for the four moves and the equivalence
    // argument; here the divisor is wsum and the contribution
    // rank·w div wsum, both integer-exact as before).
    val S = 1000000000000L
    val und = coPurchaseUndWdegByPk(t)
    val n = partCount(t)
    val r0 = S / n
    val tele = (15L * r0) / 100L
    def step(inflow: org.apache.spark.sql.Column) =
      (lit(tele) + expr(s"85 * inflow div 100")).as("rank")
    var ranks = und.groupBy(col("other"))
      .agg(sum(expr(s"${r0}L * w div wsum")).as("inflow"))
      .select(col("other").as("pk"), step(col("inflow")))
    for (_ <- 2 to 3) {
      val inflow = und.join(ranks, "pk")
        .groupBy(col("other")).agg(sum(expr("rank * w div wsum")).as("inflow"))
      ranks = inflow.select(col("other").as("pk"), step(col("inflow")))
    }
    t.part.select(col("p_partkey").as("pk"))
      .join(ranks, Seq("pk"), "left")
      .select(col("pk"), coalesce(col("rank"), lit(tele)).as("rank"))
      .orderBy(col("rank").desc, col("pk")).limit(20)
  }

  /** IVFADC with a TRAINED codebook — the full production ANN pipeline
    * composed from verified parts: auto-k IVF routing (x146 policy) ×
    * one-Lloyd-round PQ codebook (x155's `pqCodebookLloyd`) × ADC over
    * the probed cells' TRAINED codes × exact quantized re-rank.
    * This is the deployment configuration `IvfPqServeStream.buildIndex
    * (trainIters = 1)` persists, registered as a batch query so the
    * whole train→route→scan→re-rank composition carries a hash oracle:
    * the DuckDB side composes the IVF list CTEs, the seed-PQ CTEs, and
    * the trained-book CTEs verbatim — every stage exact int64 or
    * replayed float round-trip, so the five-stage pipeline is
    * bit-identical cross-engine. Scale shape is x153's ((n/k)·nprobe
    * CODE rows per query) with x155's one-off linear training cost in
    * front; recall deltas vs the seed book are SCALE.md's measured table
    * ("Trained PQ codebooks", round 10). */
  val x158 = Q(
    "x158_ivfpq_trained_topk",
    Some {
      s"WITH ${duckIvfListCtes(nprobe = 4, topK = 5)}, $duckPqCtes, " +
        s"$duckTrainedPqCtes, " +
        "tqtab AS (SELECT vec_id AS query_id, cent_id, sub, d FROM tsd " +
        "WHERE vec_id < 10), " +
        "tadc AS (SELECT p.query_id, c.vec_id AS neighbor_id, " +
        "CAST(SUM(t.d) AS BIGINT) AS adc_dist " +
        "FROM tcodes c JOIN iassigned a ON c.vec_id = a.vec_id " +
        "JOIN iprobed p ON a.cell = p.cell " +
        "JOIN tqtab t ON t.query_id = p.query_id AND t.sub = c.sub " +
        "AND t.cent_id = c.code " +
        "WHERE c.vec_id <> p.query_id GROUP BY 1, 2), " +
        "tsl AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY adc_dist, neighbor_id) AS rn " +
        "FROM tadc) t WHERE rn <= 50), " +
        "trd AS (SELECT s.query_id, s.neighbor_id, " +
        "CAST(SUM((a.v - b.v) * (a.v - b.v)) AS BIGINT) AS qdist " +
        "FROM tsl s JOIN pqd a ON a.vec_id = s.query_id " +
        "JOIN pqd b ON b.vec_id = s.neighbor_id AND b.i = a.i GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, qdist FROM (" +
        "SELECT query_id, neighbor_id, qdist, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY qdist, neighbor_id) AS rn " +
        "FROM trd) t WHERE rn <= 5"
    }
  ) { t =>
    // trained book AND trained codes from the session registries
    // ([[pqBookLloyd1]]/[[pqCodesLloyd1]] — x155 trains the identical
    // artifact); only query-side ADC tables and the probe scan per pass
    Dedup.ivfPqSearch(t.embeddings, "vec_id", "embedding",
      col("vec_id") < 10, k = ivfAutoK(t), nprobe = 4, topK = 5,
      shortlist = 50, book = Some(pqBookLloyd1(t)), kc = Some(ivfAutoKc(t)),
      index2 = Some(ivf2AutoIndex(t)), codesIn = Some(pqCodesLloyd1(t)))
  }

  // ---- scalar quantization (SQ8) --------------------------------------

  /** Oracle-side SQ8 CTEs shared by x159/x160: per-dim quantized values
    * (`sqq`), per-dim corpus bounds (`sqb`), and the 8-bit codes
    * (`sqc`) — the exact integer replay of [[Dedup.sqBounds]] /
    * [[Dedup.sqEncode]]. `(q−lo)·255 // span` and Spark's `div` agree
    * because both operands are non-negative. */
  private val duckSqCtes: String =
    "sqq AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, " +
      "CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS q " +
      "FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dd), " +
      "sqb AS (SELECT pos, MIN(q) AS lo, MAX(q) AS hi, " +
      "MAX(q) - MIN(q) AS span FROM sqq GROUP BY pos), " +
      "sqc AS (SELECT s.vec_id, s.pos, CASE WHEN b.span = 0 " +
      "THEN CAST(0 AS BIGINT) " +
      "ELSE CAST(((s.q - b.lo) * 255) // b.span AS BIGINT) END AS code " +
      "FROM sqq s JOIN sqb b ON s.pos = b.pos)"

  /** SQ8 scalar-quantization codes — the 8× memory rung of the ANN
    * ladder (1 byte/dim vs the raw float's 4), next to PQ's 64× coarse
    * rung (x149): every dimension quantized onto its own 256-step
    * uniform grid between the corpus min/max of that dimension. The
    * train step is ONE min/max aggregate (no codebook fit), encode is a
    * broadcast join of the 64-row bounds frame against n·d codegen
    * rows, and the error is bounded per-dim at span/255 — which is why
    * SQ8 serves near-exact recall where PQ needs a re-rank stage
    * (SqSpec pins both claims). All arithmetic exact int64 on the
    * ⌊v·10⁶⌋ grid → full hash oracle. */
  val x159 = Q(
    "x159_sq8_codes",
    Some(s"WITH $duckSqCtes SELECT vec_id, pos, code FROM sqc")
  ) { t =>
    sq8Codes(t)
  }

  /** SQ8 asymmetric top-5: exact query values against the decoded
    * corpus codes (`lo + code·span // 255`) — the asymmetric-distance
    * form that never quantizes the query side. Same broadcast-join +
    * summing-hash-agg + bounded-heap shape as PQ's ADC (x149) but over
    * n·d rows instead of n·m: 8× the scan compute for near-exact
    * ranking with no re-rank stage — the measured middle point of the
    * compute/memory/recall triangle (PQ 64×/coarse ← SQ8 8×/near-exact
    * → raw 1×/exact). At 100 TB SQ8 composes with IVF routing exactly
    * as PQ does in x153: route first, decode-scan only the probed
    * cells. */
  val x160 = Q(
    "x160_sq8_topk",
    Some(
      s"WITH $duckSqCtes, " +
        "sqd AS (SELECT c.vec_id, c.pos, " +
        "CAST(b.lo + (c.code * b.span) // 255 AS BIGINT) AS dv " +
        "FROM sqc c JOIN sqb b ON c.pos = b.pos), " +
        "sqt AS (SELECT vec_id AS query_id, pos, q FROM sqq WHERE vec_id < 10), " +
        "sdist AS (SELECT t.query_id, d.vec_id AS neighbor_id, " +
        "CAST(SUM((t.q - d.dv) * (t.q - d.dv)) AS BIGINT) AS sq_dist " +
        "FROM sqd d JOIN sqt t ON d.pos = t.pos " +
        "WHERE d.vec_id <> t.query_id GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, sq_dist FROM (" +
        "SELECT query_id, neighbor_id, sq_dist, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY sq_dist, neighbor_id) AS rn " +
        "FROM sdist) t WHERE rn <= 5"
    )
  ) { t =>
    Dedup.sqSearch(t.embeddings, "vec_id", "embedding",
      col("vec_id") < 10, topK = 5, sqIndex = Some((sq8Codes(t), sq8Bounds(t))))
  }

  /** Hashing-trick linear quality classifier — the fastText-style
    * model-based filter every production pretraining pipeline runs
    * after the heuristic gates (x65's rule bitmask): tokens hash into
    * 4096 weight buckets (`poly_hash(w) % 4096` — the feature-hashing
    * trick, Weinberger et al. 2009), each bucket carries an integer
    * weight, and a document's score is the sum of its token-occurrence
    * weights with `keep = score ≥ 0` as the decision. The weight table
    * here is a deterministic pseudo-model (`(bucket·2654435761) % 2001
    * − 1000` ∈ [−1000, 1000]) so the oracle replays it exactly; a
    * TRAINED model drops in by replacing that expression with a
    * 4096-entry broadcast lookup — same plan, same cost.
    *
    * Scale shape — the reason hashed linear models are THE 100 TB
    * classifier: completely join-free (the weight is computed inline
    * from the hash; even the trained form is a dictionary-sized
    * broadcast), one explode + one map-side-combining per-doc hash-agg,
    * zero shuffles beyond the doc-keyed combine, all codegen. Score
    * stays exact int64 (|score| ≤ 1000·n_tokens), and no division
    * anywhere means no floor-vs-truncation portability edge. */
  val x161 = Q(
    "x161_hashed_quality_classifier",
    Some(
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        s"CAST(SUM(((${duckPolyHash("w")} % 4096) * 2654435761) % 2001 - 1000) " +
        "AS BIGINT) AS score FROM tok GROUP BY doc_id) " +
        "SELECT doc_id, n_tokens, score, (score >= 0) AS keep FROM sc"
    )
  ) { t =>
    Corpus.hashedClassifierScore(t.documents, "doc_id", "text")
  }

  /** HITS hubs-and-authorities (Kleinberg 1999) over the bipartite
    * customer→part purchase graph — the FOURTH instantiation of the
    * integer fixed-point graph template (x152 PageRank, x156 label
    * propagation, x157 weighted PageRank): authority(part) = Σ
    * hub(customer) over in-edges, hub(customer) = Σ authority(part)
    * over out-edges, alternating, each half-step renormalized. The
    * mutual-reinforcement readout PageRank can't give: parts bought by
    * BROAD customers rank above parts bought often by one.
    *
    * Determinism/portability: normalization is an integer downscale by
    * `max(x) div S` (never `x·S div max` — the product would overflow
    * int64 once Σ exceeds ~9·10⁶·S), so every value stays ≤ ~2S=2·10¹²
    * after each half-step and all arithmetic is exact int64 with
    * identical floor semantics in both engines (all values
    * non-negative). Contract: deg_max·2S < 2⁶³ — at 10⁹-node scale
    * drop S a decade per decade of max degree.
    *
    * Scale shape: the distinct edge frame is built once (one
    * orders⋈lineitem join, DISTINCT-combined) and localCheckpointed;
    * each half-step is one keyed join + one map-side-combined SUM —
    * alternating join keys (p, then c), so one shuffle per half-step is
    * irreducible; the scalar max is a 1-row aggregate broadcast
    * (crossJoin of a bounded frame). */
  val x162 = Q(
    "x162_hits_authority",
    Some {
      val S = "1000000000000"
      def nrm(src: String, key: String, v: String) =
        s"$v // GREATEST(CAST(1 AS BIGINT), (SELECT MAX($v) FROM $src) // $S)"
      "WITH ed AS (SELECT DISTINCT o.o_custkey AS c, l.l_partkey AS p " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), " +
        s"a1 AS (SELECT p, CAST(COUNT(*) AS BIGINT) * $S AS a FROM ed GROUP BY p), " +
        s"a1n AS (SELECT p, ${nrm("a1", "p", "a")} AS a FROM a1), " +
        "h1 AS (SELECT e.c, CAST(SUM(n.a) AS BIGINT) AS h FROM ed e " +
        "JOIN a1n n ON e.p = n.p GROUP BY e.c), " +
        s"h1n AS (SELECT c, ${nrm("h1", "c", "h")} AS h FROM h1), " +
        "a2 AS (SELECT e.p, CAST(SUM(n.h) AS BIGINT) AS a FROM ed e " +
        "JOIN h1n n ON e.c = n.c GROUP BY e.p), " +
        s"a2n AS (SELECT p, ${nrm("a2", "p", "a")} AS a FROM a2) " +
        "SELECT p AS part, a AS authority FROM a2n ORDER BY a DESC, p LIMIT 20"
    }
  ) { t =>
    val S = 1000000000000L
    def nrm(df: DataFrame, key: String, v: String): DataFrame = {
      val mx = df.agg(max(col(v)).as("__mx"))
      df.crossJoin(broadcast(mx))
        .select(col(key),
          expr(s"$v div greatest(CAST(1 AS BIGINT), __mx div ${S}L)").as(v))
    }
    // registry keeps the DISTINCT's own output partitioning — both
    // measured pre-partition alternatives lost at sf1 (r16 numbers:
    // repartition(p) before the pin 24 s → 32 s, dual p- and
    // c-partitioned pins 24 s → 38 s; on this bipartite frame the
    // extra 6M-row materialization exchange costs more than the
    // per-half-step exchanges it removes, unlike x152/x157 whose
    // single join key makes the pre-partition free to reuse)
    val ed = coPurchaseBipartite(t)
    val a1 = nrm(ed.groupBy(col("p")).agg((count(lit(1)) * S).as("a")), "p", "a")
    val h1 = nrm(ed.join(a1, "p").groupBy(col("c")).agg(sum(col("a")).as("h")),
      "c", "h")
    val a2 = nrm(ed.join(h1, "c").groupBy(col("p")).agg(sum(col("h")).as("a")),
      "p", "a")
    a2.orderBy(col("a").desc, col("p")).limit(20)
      .select(col("p").as("part"), col("a").as("authority"))
  }

  /** IVF+SQ8 top-5 — the quantization ladder's middle composition,
    * registered alongside IVFADC (x153/x158): two-level auto-k routing
    * (identical frames and policy) into an SQ8 decode-scan of only the
    * probed cells. No re-rank stage — SQ8's per-dim decode error is the
    * only in-cell approximation — so the plan is two stages shorter
    * than IVFADC at 8× (vs 64×) compression: the IVF,SQ8 point FAISS
    * places between IVF,Flat and IVF,PQ. Probe work (n/k)·nprobe·d
    * decoded rows per query; all distances exact int64 → full hash
    * oracle through routing AND scan. */
  val x163 = Q(
    "x163_ivfsq_topk",
    Some {
      s"WITH ${duckIvfListCtes(nprobe = 4, topK = 5)}, $duckSqCtes, " +
        "ssd AS (SELECT c.vec_id, c.pos, " +
        "CAST(b.lo + (c.code * b.span) // 255 AS BIGINT) AS dv " +
        "FROM sqc c JOIN sqb b ON c.pos = b.pos), " +
        "ssqt AS (SELECT vec_id AS query_id, pos, q FROM sqq WHERE vec_id < 10), " +
        "sdist AS (SELECT p.query_id, d.vec_id AS neighbor_id, " +
        "CAST(SUM((t.q - d.dv) * (t.q - d.dv)) AS BIGINT) AS sq_dist " +
        "FROM ssd d JOIN iassigned a ON d.vec_id = a.vec_id " +
        "JOIN iprobed p ON a.cell = p.cell " +
        "JOIN ssqt t ON t.query_id = p.query_id AND t.pos = d.pos " +
        "WHERE d.vec_id <> p.query_id GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, sq_dist FROM (" +
        "SELECT query_id, neighbor_id, sq_dist, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY sq_dist, neighbor_id) AS rn " +
        "FROM sdist) t WHERE rn <= 5"
    }
  ) { t =>
    Dedup.ivfSqSearch(t.embeddings, "vec_id", "embedding",
      col("vec_id") < 10, k = ivfAutoK(t), nprobe = 4, topK = 5,
      kc = ivfAutoKc(t), index2 = Some(ivf2AutoIndex(t)),
      sqIndex = Some((sq8Codes(t), sq8Bounds(t))))
  }

  /** SQ8 shortlist → exact re-rank top-5 — registered in the SAME round
    * whose lab measurement exposed the need: SCALE.md's SQ8 rows ("SQ8
    * on the quantizer recall/time axes") showed flat SQ8 at 0.72 recall where PQ+rerank reached 1.00 on
    * distance-concentrated uniform vectors (SCALE.md), because the
    * rank-5/rank-6 margin falls below the decode rounding there. This
    * query is the named fix: the x160 decode-scan feeding a
    * 50-candidate shortlist into the exact quantized re-rank tail
    * (x151's economics — the vector store is read O(queries·shortlist),
    * never scanned). Recall becomes the shortlist capture rate, which
    * the lab measured above PQ's at equal shortlist on both corpus
    * regimes. */
  val x164 = Q(
    "x164_sq8_rerank_topk",
    Some(
      s"WITH $duckSqCtes, " +
        "rsd AS (SELECT c.vec_id, c.pos, " +
        "CAST(b.lo + (c.code * b.span) // 255 AS BIGINT) AS dv " +
        "FROM sqc c JOIN sqb b ON c.pos = b.pos), " +
        "rsqt AS (SELECT vec_id AS query_id, pos, q FROM sqq WHERE vec_id < 10), " +
        "rdist AS (SELECT t.query_id, d.vec_id AS neighbor_id, " +
        "CAST(SUM((t.q - d.dv) * (t.q - d.dv)) AS BIGINT) AS sq_dist " +
        "FROM rsd d JOIN rsqt t ON d.pos = t.pos " +
        "WHERE d.vec_id <> t.query_id GROUP BY 1, 2), " +
        "rsl AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY sq_dist, neighbor_id) AS rn " +
        "FROM rdist) t WHERE rn <= 50), " +
        "rrd AS (SELECT s.query_id, s.neighbor_id, " +
        "CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS qdist " +
        "FROM rsl s JOIN sqq a ON a.vec_id = s.query_id " +
        "JOIN sqq b ON b.vec_id = s.neighbor_id AND b.pos = a.pos " +
        "GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, qdist FROM (" +
        "SELECT query_id, neighbor_id, qdist, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY qdist, neighbor_id) AS rn " +
        "FROM rrd) t WHERE rn <= 5"
    )
  ) { t =>
    Dedup.sqSearchRerank(t.embeddings, "vec_id", "embedding",
      col("vec_id") < 10, topK = 5, shortlist = 50,
      sqIndex = Some((sq8Codes(t), sq8Bounds(t))))
  }

  /** Triangle count + global wedge census over the support-pruned
    * co-purchase graph — the clustering-structure audit (transitivity =
    * 3·triangles/wedges) behind community quality and graph-sanity
    * checks on any linked corpus. One row: n_edges, n_wedges,
    * n_triangles — all exact integers.
    *
    * Scale shape is the textbook distributed triangle recipe
    * (Chiba–Nishizeki orientation, the Cohen / Suri–Vassilvitskii
    * MapReduce form): orient every edge from its (degree, id)-smaller
    * endpoint to the larger, so each node's out-degree is O(√m) on any
    * graph — the per-node wedge fan-out is then bounded by arboricity,
    * never by the raw degree of a hub. Wedges = one self-join of the
    * oriented edges on their source; closure = one keyed join of the
    * wedge frame against the undirected edge set. Each triangle is
    * counted exactly once (at its orientation-minimal vertex) — no
    * distinct, no window, three keyed joins total. The min-support
    * edge cut (x156's ≥2-orders threshold) does the 100 TB heavy
    * lifting first: it shrinks the quadratic co-occurrence noise floor
    * to signal edges (sf0.1: 1.196M → 3.6k) before any wedge is
    * formed. */
  val x165 = Q(
    "x165_triangle_count",
    Some(
      "WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem), " +
        "pairs AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb FROM op a " +
        "JOIN op b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey " +
        "GROUP BY 1, 2 HAVING COUNT(*) >= 2), " +
        "deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS d FROM (" +
        "SELECT pa AS node FROM pairs UNION ALL SELECT pb FROM pairs) u " +
        "GROUP BY node), " +
        "ore AS (SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND p.pa < p.pb) " +
        "THEN p.pa ELSE p.pb END AS u, " +
        "CASE WHEN da.d < db.d OR (da.d = db.d AND p.pa < p.pb) " +
        "THEN p.pb ELSE p.pa END AS v " +
        "FROM pairs p JOIN deg da ON p.pa = da.node JOIN deg db ON p.pb = db.node), " +
        "wedges AS (SELECT a.u, LEAST(a.v, b.v) AS x, GREATEST(a.v, b.v) AS y " +
        "FROM ore a JOIN ore b ON a.u = b.u AND a.v < b.v), " +
        "tri AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM wedges w " +
        "JOIN pairs p ON w.x = p.pa AND w.y = p.pb) " +
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM pairs) AS n_edges, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM wedges) AS n_wedges, " +
        "(SELECT n FROM tri) AS n_triangles"
    )
  ) { t =>
    val pairs = coPurchasePairsMin2(t)
    val deg = pairs.select(col("pa").as("node"))
      .unionAll(pairs.select(col("pb").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val ore = pairs
      .join(deg.select(col("node").as("pa"), col("d").as("da")), "pa")
      .join(deg.select(col("node").as("pb"), col("d").as("db")), "pb")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("pa") < col("pb")), col("pa"))
          .otherwise(col("pb")).as("u"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("pa") < col("pb")), col("pb"))
          .otherwise(col("pa")).as("v"))
    val o2 = ore.select(col("u"), col("v").as("v2"))
    val wedges = ore.join(o2, Seq("u")).filter(col("v") < col("v2"))
      .select(least(col("v"), col("v2")).as("x"),
        greatest(col("v"), col("v2")).as("y"))
    val nEdges = pairs.agg(count(lit(1)).as("n_edges"))
    val nWedges = wedges.agg(count(lit(1)).as("n_wedges"))
    val nTri = wedges
      .join(pairs, col("x") === col("pa") && col("y") === col("pb"))
      .agg(count(lit(1)).as("n_triangles"))
    nEdges.crossJoin(broadcast(nWedges)).crossJoin(broadcast(nTri))
  }

  /** Classifier calibration by source — the drift audit every deployed
    * quality model needs next to its gate (x161): per source, document
    * and kept-document counts, token volume, and the exact int64 score
    * sum. A source whose keep-rate or mean score moves between
    * snapshots is the first sign the model no longer matches the
    * distribution (or the source changed under it) — and because every
    * column is an exact integer, snapshot-to-snapshot deltas are
    * bit-meaningful, never float noise. Scale shape: the x161 score
    * pass (join-free, map-side-combined per doc), one co-keyed join
    * back to the doc→source map, one GROUP BY source whose output is
    * sources-sized. */
  val x166 = Q(
    "x166_classifier_source_audit",
    Some(
      "WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents), " +
        "sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        s"CAST(SUM(((${duckPolyHash("w")} % 4096) * 2654435761) % 2001 - 1000) " +
        "AS BIGINT) AS score FROM tok GROUP BY doc_id) " +
        "SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(CASE WHEN s.score >= 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept, " +
        "CAST(SUM(s.n_tokens) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(s.score) AS BIGINT) AS score_sum " +
        "FROM sc s JOIN documents d ON s.doc_id = d.doc_id GROUP BY d.source"
    )
  ) { t =>
    Corpus.hashedClassifierScore(t.documents, "doc_id", "text")
      .join(t.documents.select(col("doc_id"), col("source")), "doc_id")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("score") >= 0, 1L).otherwise(0L)).as("n_kept"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("score")).as("score_sum"))
  }

  /** Count-Min sketch heavy-hitter estimation (Cormode–Muthukrishnan
    * 2005): the token stream folds into a FIXED 3×1024-cell sketch —
    * depth-3 salted-hash rows, each cell the occurrence total of tokens
    * landing there — and a word's estimate is the MIN over its three
    * cells, always ≥ the true count (collisions only add). Output: the
    * top-20 true words with true and estimated counts side by side, so
    * the overestimate the width buys at this vocabulary size is itself
    * an oracle-checked fact.
    *
    * Why this is a 100 TB primitive where the exact word-count table
    * (x05's shape) is not: the sketch is a bounded, MERGEABLE summary —
    * per-partition partial cells combine by plain SUM (one map-side-
    * combined hash-agg over 3n narrow rows; 3·1024 cells out regardless
    * of corpus size), so frequency estimation over an unbounded stream
    * costs constant state where the exact table grows with the
    * vocabulary. Salted `poly_hash` rows replay exactly in the oracle;
    * everything is int64. */
  val x167 = Q(
    "x167_countmin_heavyhitters",
    Some {
      def bucket(prefix: String, w: String) =
        s"(${duckPolyHash(s"$prefix || $w")} % 1024)"
      "WITH tok AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents), " +
        "rows3 AS (SELECT unnest(range(0, 3)) AS r), " +
        "cells AS (SELECT r, CAST(CASE r " +
        s"WHEN 0 THEN ${bucket("'0'", "w")} " +
        s"WHEN 1 THEN ${bucket("'1'", "w")} " +
        s"ELSE ${bucket("'2'", "w")} END AS BIGINT) AS bucket, " +
        "CAST(COUNT(*) AS BIGINT) AS total " +
        "FROM tok CROSS JOIN rows3 GROUP BY 1, 2), " +
        "cnt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS true_cnt " +
        "FROM tok GROUP BY w), " +
        "top AS (SELECT w, true_cnt FROM cnt " +
        "ORDER BY true_cnt DESC, w LIMIT 20), " +
        "probes AS (SELECT t.w, t.true_cnt, c.r, CAST(CASE c.r " +
        s"WHEN 0 THEN ${bucket("'0'", "t.w")} " +
        s"WHEN 1 THEN ${bucket("'1'", "t.w")} " +
        s"ELSE ${bucket("'2'", "t.w")} END AS BIGINT) AS bucket " +
        "FROM top t CROSS JOIN rows3 c) " +
        "SELECT p.w AS word, p.true_cnt, " +
        "CAST(MIN(cl.total) AS BIGINT) AS est_cnt " +
        "FROM probes p JOIN cells cl ON p.r = cl.r AND p.bucket = cl.bucket " +
        "GROUP BY 1, 2"
    }
  ) { t =>
    val tok = t.documents
      .select(explode(split(col("text"), " ")).as("w"))
    val cells = Corpus.countMinCells(t.documents, "text")
    val top = tok.groupBy(col("w")).agg(count(lit(1)).as("true_cnt"))
      .orderBy(col("true_cnt").desc, col("w")).limit(20)
    val probes = top
      .select(col("w"), col("true_cnt"),
        explode(sequence(lit(0), lit(2))).as("r"))
      .select(col("w"), col("true_cnt"), col("r").cast("long").as("r"),
        expr("poly_hash(concat(cast(r AS string), w)) % 1024").as("bucket"))
    broadcast(probes).join(cells, Seq("r", "bucket"))
      .groupBy(col("w"), col("true_cnt"))
      .agg(min(col("total")).as("est_cnt"))
      .select(col("w").as("word"), col("true_cnt"), col("est_cnt"))
  }

  // ---- binary quantization (BQ, 1 bit/dim) ----------------------------

  /** Oracle-side BQ CTEs shared by x168/x169/x170: per-dim quantized
    * values (`bqq`), per-dim sum/count thresholds (`bqt`), and the
    * 32-bit-packed sign codes (`bqc`) — the exact integer replay of
    * [[Dedup.bqThresholds]] / [[Dedup.bqEncode]]. The mean comparison
    * is cross-multiplied (`q·cnt > s`) so neither engine divides;
    * shifts stay below bit 32 so `<<`/`bit_count` agree exactly. */
  private val duckBqCtes: String =
    "bqq AS (SELECT vec_id, CAST(i - 1 AS BIGINT) AS pos, " +
      "CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT) AS q " +
      "FROM embeddings CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dd), " +
      "bqt AS (SELECT pos, CAST(SUM(q) AS BIGINT) AS s, " +
      "CAST(COUNT(*) AS BIGINT) AS cnt FROM bqq GROUP BY pos), " +
      "bqc AS (SELECT v.vec_id, v.pos // 32 AS word, " +
      "CAST(SUM((CASE WHEN v.q * t.cnt > t.s THEN CAST(1 AS BIGINT) " +
      "ELSE CAST(0 AS BIGINT) END) << CAST(v.pos % 32 AS INTEGER)) " +
      "AS BIGINT) AS code " +
      "FROM bqq v JOIN bqt t ON v.pos = t.pos GROUP BY 1, 2)"

  /** Binary-quantization codes — the quantizer ladder's coarsest rung
    * (1 bit/dim: 8 bytes/vector = 32× under raw, vs SQ8's 8× and PQ's
    * packed 64×), registered as the physical registry row exactly like
    * x159 (SQ8) and x154 (packed PQ). Sign-of-centered hashing: bit =
    * dimension strictly above its corpus mean, mean compared by
    * cross-multiplication so the whole path is division-free, packed
    * 32 dims per int64 word to keep shift/popcount semantics identical
    * across engines (bit 63 of a single 64-bit word would hit the sign
    * bit). Train step is ONE sum/count aggregate — even cheaper than
    * SQ8's min/max — and encode is the same broadcast-join + shift-sum
    * codegen pass. */
  val x168 = Q(
    "x168_bq_codes",
    Some(s"WITH $duckBqCtes SELECT vec_id, word, code FROM bqc")
  ) { t =>
    bqCodes(t)
  }

  /** Symmetric Hamming top-5 over the binary codes — the web-scale
    * first-pass ANN filter (both sides binarized; distance =
    * Σ popcount(xor) ∈ [0, 64], exact int64 → full hash oracle
    * including the massive-tie id-order, which both engines break
    * identically). The scan is the family's cheapest: n·2 word rows,
    * XOR+POPCNT per row under codegen, vs SQ8's n·64 decoded dims and
    * PQ's n·8 subspace lookups. Resolution is the documented price —
    * 65 distinct distances ⇒ coarse tie bands — and x170 is the
    * registered fix. */
  val x169 = Q(
    "x169_bq_hamming_topk",
    Some(
      s"WITH $duckBqCtes, " +
        "bql AS (SELECT vec_id AS query_id, word, code AS qcode " +
        "FROM bqc WHERE vec_id < 10), " +
        "bhd AS (SELECT q.query_id, c.vec_id AS neighbor_id, " +
        "CAST(SUM(bit_count(xor(c.code, q.qcode))) AS BIGINT) AS hamming " +
        "FROM bqc c JOIN bql q ON c.word = q.word AND c.vec_id <> q.query_id " +
        "GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, hamming FROM (" +
        "SELECT query_id, neighbor_id, hamming, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rn " +
        "FROM bhd) t WHERE rn <= 5"
    )
  ) { t =>
    Dedup.bqSearch(t.embeddings, "vec_id", "embedding",
      col("vec_id") < 10, topK = 5, bqIndex = Some((bqCodes(t), bqThr(t))))
  }

  /** Hamming shortlist → exact re-rank top-5 — binary quantization's
    * deployment form and the third instantiation of the measured
    * shortlist economics (x151 PQ, x164 SQ8): the 8-byte code registry
    * does the O(n) Hamming scan, the full vector store is read only for
    * the 50 shortlisted candidates per query, and the final ranking is
    * the exact quantized L2 metric. Recall = the Hamming shortlist's
    * capture rate (the 65-value resolution bounds it below SQ8/PQ at
    * equal shortlist — QuantLab measures the gap); memory = 8× less
    * resident than SQ8, the trade an operator buys BQ for. */
  val x170 = Q(
    "x170_bq_rerank_topk",
    Some(
      s"WITH $duckBqCtes, " +
        "bql AS (SELECT vec_id AS query_id, word, code AS qcode " +
        "FROM bqc WHERE vec_id < 10), " +
        "bhd AS (SELECT q.query_id, c.vec_id AS neighbor_id, " +
        "CAST(SUM(bit_count(xor(c.code, q.qcode))) AS BIGINT) AS hamming " +
        "FROM bqc c JOIN bql q ON c.word = q.word AND c.vec_id <> q.query_id " +
        "GROUP BY 1, 2), " +
        "bsl AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rn " +
        "FROM bhd) t WHERE rn <= 50), " +
        "brd AS (SELECT s.query_id, s.neighbor_id, " +
        "CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS qdist " +
        "FROM bsl s JOIN bqq a ON a.vec_id = s.query_id " +
        "JOIN bqq b ON b.vec_id = s.neighbor_id AND b.pos = a.pos " +
        "GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, qdist FROM (" +
        "SELECT query_id, neighbor_id, qdist, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY qdist, neighbor_id) AS rn " +
        "FROM brd) t WHERE rn <= 5"
    )
  ) { t =>
    Dedup.bqSearchRerank(t.embeddings, "vec_id", "embedding",
      col("vec_id") < 10, topK = 5, shortlist = 50,
      bqIndex = Some((bqCodes(t), bqThr(t))))
  }

  /** DSIR hashed importance resampling weights ([[Corpus.dsirScore]] —
    * Xie et al. 2023) with `src0` as the target slice: per document,
    * token count, integer log-likelihood-ratio score, and the `score >
    * 0` selection decision. The portable-log problem is solved
    * structurally — ⌊log₂⌋ via a 63-row powers-of-two join, never libm
    * — so the paper's importance weight is hash-green end-to-end.
    * Complements the pipeline's other selectors: x161 scores against a
    * MODEL's weights, x42/x60 resample by SOURCE quota; DSIR scores
    * against a target DISTRIBUTION with no training step at all. */
  val x171 = Q(
    "x171_dsir_importance",
    Some(
      "WITH dtok AS (SELECT doc_id, (source = 'src0') AS tgt, " +
        "unnest(string_split(text, ' ')) AS w FROM documents), " +
        s"dtb AS (SELECT doc_id, tgt, ${duckPolyHash("w")} % 4096 AS b FROM dtok), " +
        "dcnt AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS r, " +
        "CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS t " +
        "FROM dtb GROUP BY b), " +
        "dp2 AS (SELECT CAST(k AS BIGINT) AS k, " +
        "CAST(1 AS BIGINT) << CAST(k AS INTEGER) AS p " +
        "FROM (SELECT unnest(range(0, 63)) AS k)), " +
        "dfr AS (SELECT c.b, MAX(p2.k) AS fr FROM dcnt c " +
        "JOIN dp2 p2 ON p2.p <= c.r + 1 GROUP BY c.b), " +
        "dft AS (SELECT c.b, MAX(p2.k) AS ft FROM dcnt c " +
        "JOIN dp2 p2 ON p2.p <= c.t + 1 GROUP BY c.b), " +
        "dtot AS (SELECT CAST(SUM(r) AS BIGINT) AS tr, " +
        "CAST(SUM(t) AS BIGINT) AS tt FROM dcnt), " +
        "dgr AS (SELECT MAX(k) AS gr FROM dp2, dtot WHERE p <= tr + 1), " +
        "dgt AS (SELECT MAX(k) AS gt FROM dp2, dtot WHERE p <= tt + 1), " +
        "dlw AS (SELECT fr.b, " +
        "((ft.ft - (SELECT gt FROM dgt)) - (fr.fr - (SELECT gr FROM dgr))) AS lw " +
        "FROM dfr fr JOIN dft ft ON fr.b = ft.b), " +
        "dsc AS (SELECT tb.doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens, " +
        "CAST(SUM(lw.lw) AS BIGINT) AS score " +
        "FROM dtb tb JOIN dlw lw ON tb.b = lw.b GROUP BY tb.doc_id) " +
        "SELECT doc_id, n_tokens, score, (score > 0) AS keep FROM dsc"
    )
  ) { t =>
    Corpus.dsirScore(t.documents, "doc_id", "text", col("source") === "src0")
  }

  /** IVF+BQ top-5 ([[Dedup.ivfBqSearch]]) — the composed-tier family's
    * coarsest member next to IVFADC (x153) and IVF+SQ8 (x163): two-level
    * auto-k routing into a Hamming scan of only the probed cells' 1-bit
    * codes, 50-candidate shortlist, exact re-rank. The re-rank is part
    * of BQ's definition (flat Hamming cannot rank inside its 65-value
    * tie bands — the x169 measurement); probe work (n/k)·nprobe·2 word
    * rows per query is the smallest scan of the three tiers at 256×
    * compression. Exact int64 end-to-end → full hash oracle through
    * routing, scan, and re-rank. */
  val x172 = Q(
    "x172_ivfbq_topk",
    Some(
      s"WITH ${duckIvfListCtes(nprobe = 4, topK = 5)}, $duckBqCtes, " +
        "cbq AS (SELECT c.vec_id, c.word, c.code, a.cell " +
        "FROM bqc c JOIN iassigned a ON c.vec_id = a.vec_id), " +
        "qbl AS (SELECT vec_id AS query_id, word, code AS qcode " +
        "FROM bqc WHERE vec_id < 10), " +
        "chd AS (SELECT p.query_id, c.vec_id AS neighbor_id, " +
        "CAST(SUM(bit_count(xor(c.code, q.qcode))) AS BIGINT) AS hamming " +
        "FROM cbq c JOIN iprobed p ON c.cell = p.cell " +
        "JOIN qbl q ON q.query_id = p.query_id AND q.word = c.word " +
        "WHERE c.vec_id <> p.query_id GROUP BY 1, 2), " +
        "csl AS (SELECT query_id, neighbor_id FROM (" +
        "SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rn " +
        "FROM chd) t WHERE rn <= 50), " +
        "crd AS (SELECT s.query_id, s.neighbor_id, " +
        "CAST(SUM((a.q - b.q) * (a.q - b.q)) AS BIGINT) AS qdist " +
        "FROM csl s JOIN bqq a ON a.vec_id = s.query_id " +
        "JOIN bqq b ON b.vec_id = s.neighbor_id AND b.pos = a.pos " +
        "GROUP BY 1, 2) " +
        "SELECT query_id, neighbor_id, qdist FROM (" +
        "SELECT query_id, neighbor_id, qdist, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY qdist, neighbor_id) AS rn " +
        "FROM crd) t WHERE rn <= 5"
    )
  ) { t =>
    Dedup.ivfBqSearch(t.embeddings, "vec_id", "embedding",
      col("vec_id") < 10, k = ivfAutoK(t), nprobe = 4, topK = 5,
      kc = ivfAutoKc(t), shortlist = 50, index2 = Some(ivf2AutoIndex(t)),
      bqIndex = Some((bqCodes(t), bqThr(t))))
  }

  /** Maximal duplicated substring spans ([[Dedup.duplicateSpans]] — the
    * suffix-array dedup family of Lee et al. 2022 made relational):
    * every position where an 8-token window's text recurs corpus-wide
    * seeds a span, and contiguous seed runs merge into maximal per-doc
    * spans — duplicates at ANY offset, where x62's fixed 16-word grid
    * only sees grid-aligned repeats (DedupLibrarySpec pins the strict
    * superset on an off-boundary duplicate). Window identity shuffles
    * as the same 8-byte poly_hash the oracle replays. */
  val x173 = Q(
    "x173_duplicate_spans",
    Some(
      "WITH dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "dg AS (SELECT doc_id, unnest(list_transform(" +
        "range(1, greatest(len(w) - 6, 1)), " +
        "i -> {'pos': i - 1, 'gram': array_to_string(w[i : i + 7], ' ')})) AS s FROM dw), " +
        s"dgr AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, " +
        s"${duckPolyHash("s.gram")} AS h FROM dg), " +
        "ddup AS (SELECT h FROM dgr GROUP BY h HAVING COUNT(*) >= 2), " +
        "dseeds AS (SELECT g.doc_id, g.pos FROM dgr g JOIN ddup d ON g.h = d.h), " +
        "dfl AS (SELECT doc_id, pos, CASE WHEN " +
        "lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) IS NULL OR " +
        "pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 8 " +
        "THEN 1 ELSE 0 END AS ni FROM dseeds), " +
        "disl AS (SELECT doc_id, pos, " +
        "SUM(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM dfl) " +
        "SELECT doc_id, CAST(MIN(pos) AS BIGINT) AS span_start, " +
        "CAST(MAX(pos) + 7 AS BIGINT) AS span_end, " +
        "CAST(MAX(pos) + 7 - MIN(pos) + 1 AS BIGINT) AS span_tokens, " +
        "CAST(COUNT(*) AS BIGINT) AS n_windows " +
        "FROM disl GROUP BY doc_id, island"
    )
  ) { t =>
    Dedup.duplicateSpans(t.documents, "doc_id", "text")
  }

  /** OPQ-rotated trained PQ codes ([[Dedup.opqPermutation]] /
    * [[Dedup.opqRotate]] → [[Dedup.pqCodebookLloyd]] — Ge et al. 2013's
    * eigenvalue-allocation rung above x155's trained book): dimensions
    * ranked by exact integer variance score n·Σq² − (Σq)², dealt
    * snake-wise across the 8 subspaces (a permutation = an axis-aligned
    * orthogonal rotation, distances exactly preserved), then the
    * standard 1-iter Lloyd book fit in the rotated space. Every step is
    * grid-exact, so the full permutation → rotation → training →
    * encoding chain hash-replays in the oracle (HUGEINT variance scores
    * mirror the engine's decimal(38,0)). PqSpec measures what the
    * rotation buys on a variance-skewed clustered corpus. */
  val x174 = Q(
    "x174_opq_trained_codes",
    Some(
      "WITH rawq AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q FROM embeddings), " +
        "rawd AS (SELECT vec_id, i, q[i] AS v FROM rawq " +
        "CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dd), " +
        "ostat AS (SELECT i, CAST(COUNT(*) AS HUGEINT) * " +
        "SUM(CAST(v AS HUGEINT) * CAST(v AS HUGEINT)) - " +
        "SUM(CAST(v AS HUGEINT)) * SUM(CAST(v AS HUGEINT)) AS score " +
        "FROM rawd GROUP BY i), " +
        "orank AS (SELECT i, row_number() OVER (ORDER BY score DESC, i) - 1 AS r " +
        "FROM ostat), " +
        "omap AS (SELECT i, CAST(CASE WHEN (r // 8) % 2 = 0 THEN r % 8 " +
        "ELSE 7 - (r % 8) END * 8 + (r // 8) + 1 AS BIGINT) AS i2 FROM orank), " +
        "pqd AS (SELECT d.vec_id, m.i2 AS i, d.v, " +
        "CAST((m.i2 - 1) // 8 AS BIGINT) AS sub " +
        "FROM rawd d JOIN omap m ON d.i = m.i), " +
        "pqc AS (SELECT vec_id AS cent_id, i, v AS cv, sub FROM pqd WHERE vec_id < 16), " +
        "pqsd AS (SELECT d.vec_id, c.cent_id, d.sub, " +
        "CAST(SUM((d.v - c.cv) * (d.v - c.cv)) AS BIGINT) AS d " +
        "FROM pqd d JOIN pqc c ON d.i = c.i GROUP BY 1, 2, 3), " +
        "pqcodes AS (SELECT vec_id, sub, cent_id AS code FROM (" +
        "SELECT vec_id, sub, cent_id, " +
        "row_number() OVER (PARTITION BY vec_id, sub ORDER BY d, cent_id) AS rn " +
        s"FROM pqsd) t WHERE rn = 1), $duckTrainedPqCtes " +
        "SELECT vec_id, sub, code FROM tcodes"
    )
  ) { t =>
    val perm = Dedup.opqPermutation(t.embeddings, "vec_id", "embedding")
    val rot = Dedup.opqRotate(t.embeddings, "vec_id", "embedding", perm)
    val book = Dedup.pqCodebookLloyd(rot, "vec_id", "embedding", iters = 1)
    Dedup.pqEncode(rot, "vec_id", "embedding", book)
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))
  }

  /** Span-dedup REWRITE ([[Dedup.duplicateSpanRewrite]]) — the apply
    * step over x173's detections, i.e. Lee et al. 2022's actual
    * deduplication: every token covered by a non-canonical duplicated
    * 8-window (canonical = min doc_id·2²⁰+pos, the x62/x139
    * first-writer convention) is removed and documents are rebuilt
    * from the survivors. Unlike x62's rewrite this drops duplicate
    * text at ANY offset, not just grid-aligned chunks; a later-id
    * exact copy rewrites away to the empty string but keeps its
    * accounting row. */
  val x175 = Q(
    "x175_span_dedup_rewrite",
    Some(
      "WITH dw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "dg AS (SELECT doc_id, unnest(list_transform(" +
        "range(1, greatest(len(w) - 6, 1)), " +
        "i -> {'pos': i - 1, 'gram': array_to_string(w[i : i + 7], ' ')})) AS s FROM dw), " +
        s"dgr AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, " +
        s"${duckPolyHash("s.gram")} AS h, " +
        "doc_id * 1048576 + CAST(s.pos AS BIGINT) AS kk FROM dg), " +
        "dwin AS (SELECT h, MIN(kk) AS kmin FROM dgr GROUP BY h " +
        "HAVING COUNT(*) >= 2), " +
        "drm AS (SELECT DISTINCT g.doc_id, g.pos + u.o AS rpos " +
        "FROM dgr g JOIN dwin x ON g.h = x.h AND g.kk <> x.kmin " +
        "CROSS JOIN (SELECT unnest(range(0, 8)) AS o) u), " +
        "dtok AS (SELECT doc_id, unnest(list_transform(range(1, len(w) + 1), " +
        "i -> {'tpos': i - 1, 'tok': w[i]})) AS s FROM dw), " +
        "dt AS (SELECT doc_id, CAST(s.tpos AS BIGINT) AS tpos, s.tok AS tok FROM dtok), " +
        "dkeep AS (SELECT t.doc_id, t.tpos, t.tok FROM dt t " +
        "LEFT JOIN drm r ON t.doc_id = r.doc_id AND t.tpos = r.rpos " +
        "WHERE r.rpos IS NULL), " +
        "dagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept, " +
        "COALESCE(string_agg(tok, ' ' ORDER BY tpos), '') AS text_kept " +
        "FROM dkeep GROUP BY doc_id) " +
        "SELECT w.doc_id, CAST(len(w.w) AS BIGINT) AS n_tokens, " +
        "CAST(len(w.w) - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed, " +
        "COALESCE(a.text_kept, '') AS text_kept " +
        "FROM dw w LEFT JOIN dagg a ON w.doc_id = a.doc_id"
    )
  ) { t =>
    Dedup.duplicateSpanRewrite(t.documents, "doc_id", "text")
  }

  /** CTE chain replaying [[Corpus.bpeTrain]] round by round — base
    * vocab + per-char symbols (s0), then per round r: weighted pair
    * counts (pc_r), the deterministic winner (sel_r: max count, ties to
    * lexicographic (a, b)), the greedy non-overlapping merge rewrite
    * (island/parity windows, identical to [[Corpus.bpeMergeStep]]) into
    * s_r. Terminal CTEs: s$rounds (final symbol table) and one sel_r
    * per round for the merge table. */
  private def duckBpeCtes(rounds: Int): String = {
    def round(p: Int, c: Int): String =
      s"bpc$c AS (SELECT a, b, CAST(SUM(cnt) AS BIGINT) AS pc FROM (" +
        "SELECT sym AS a, lead(sym) OVER (PARTITION BY w ORDER BY pos) AS b, " +
        s"cnt FROM bs$p) WHERE b IS NOT NULL GROUP BY a, b), " +
        s"bsel$c AS MATERIALIZED (SELECT a, b, pc FROM bpc$c ORDER BY pc DESC, a, b LIMIT 1), " +
        s"bm$c AS (SELECT w, cnt, pos, sym, " +
        s"lead(sym) OVER (PARTITION BY w ORDER BY pos) AS nxt FROM bs$p), " +
        s"bf$c AS (SELECT m.w, m.cnt, m.pos, m.sym, " +
        "COALESCE(m.sym = s.a AND m.nxt = s.b, FALSE) AS im " +
        s"FROM bm$c m CROSS JOIN bsel$c s), " +
        s"bg$c AS (SELECT *, SUM(CASE WHEN im THEN 1 ELSE 0 END) " +
        s"OVER (PARTITION BY w ORDER BY pos) AS mseq FROM bf$c), " +
        s"bh$c AS (SELECT *, CASE WHEN im THEN pos - mseq END AS isl FROM bg$c), " +
        s"bi$c AS (SELECT *, CASE WHEN im THEN mseq - MIN(mseq) " +
        s"OVER (PARTITION BY w, isl) END AS ir FROM bh$c), " +
        s"bj$c AS (SELECT *, COALESCE(im AND ir % 2 = 0, FALSE) AS sel FROM bi$c), " +
        s"bk$c AS (SELECT *, COALESCE(lag(sel) " +
        s"OVER (PARTITION BY w ORDER BY pos), FALSE) AS cons FROM bj$c), " +
        s"bs$c AS MATERIALIZED (SELECT w, cnt, " +
        "CAST(row_number() OVER (PARTITION BY w ORDER BY pos) AS BIGINT) AS pos, " +
        s"CASE WHEN sel THEN (SELECT a || b FROM bsel$c) ELSE sym END AS sym " +
        s"FROM bk$c WHERE NOT cons)"
    "bwv AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (" +
      "SELECT unnest(string_split(text, ' ')) AS w FROM documents) GROUP BY w), " +
      "bs0 AS MATERIALIZED (SELECT w, cnt, CAST(i AS BIGINT) AS pos, " +
      "CASE WHEN i <= len(w) THEN substr(w, CAST(i AS INT), 1) " +
      "ELSE '</w>' END AS sym " +
      "FROM (SELECT w, cnt, unnest(range(1, len(w) + 2)) AS i FROM bwv)), " +
      (1 to rounds).map(c => round(c - 1, c)).mkString(", ")
  }

  /** BPE tokenizer training as relational aggregates
    * ([[Corpus.bpeTrain]] — Sennrich et al. 2016's subword tokenizer,
    * the standard pre-training tokenization pipeline step): 8 merge
    * rounds over the corpus word vocabulary, each round one weighted
    * adjacent-pair count, a deterministic argmax (max count, ties
    * lexicographic), and a greedy non-overlapping merge rewrite.
    * Training runs on the VOCAB table, not the corpus — the corpus is
    * scanned once for word frequencies (Heaps' law does the rest).
    * Output: the merge table, the tokenizer's training artifact. All
    * integer counts and string concatenation — hash-exact replay. */
  /** The TRAINED BPE TOKENIZER REGISTRY — one 8-round
    * [[Corpus.bpeTrain]] run per (session, SF dir), stored as a tagged
    * union so the single training pass yields BOTH artifacts a
    * tokenizer release ships: the merge table (kind 'm': round, a, b,
    * pc) and the final symbol table (kind 's': w, cnt, pos, sym).
    * Three registered queries previously re-trained the identical
    * tokenizer per pass (x176 merge table, x177 fertility, x181 vocab)
    * — the 100-TB-real shape is train ONCE, serve the artifact, which
    * is also why this frame is registry-legal: vocab-sized (Heaps' law)
    * plus 8 merge rows, never corpus-sized. */
  private[graft] def bpeArtifact(t: Tables): org.apache.spark.sql.DataFrame =
    Registries.frame(t.spark, t.dir, "bpe_train_r8_artifact") {
      val (merges, syms) = Corpus.bpeTrain(t.documents, "doc_id", "text", 8)
      import t.spark.implicits._
      val mdf = merges
        .map { case (r, a, b, pc) => (r.toLong, a, b, pc) }
        .toDF("round", "a", "b", "pc")
        .select(lit("m").as("kind"), col("round"), col("a"), col("b"),
          col("pc"), lit(null).cast("string").as("w"),
          lit(null).cast("long").as("cnt"), lit(null).cast("long").as("pos"),
          lit(null).cast("string").as("sym"))
      val sdf = syms.select(lit("s").as("kind"),
        lit(null).cast("long").as("round"), lit(null).cast("string").as("a"),
        lit(null).cast("string").as("b"), lit(null).cast("long").as("pc"),
        col("w"), col("cnt"), col("pos"), col("sym"))
      mdf.unionByName(sdf)
    }

  /** The final symbol table served from [[bpeArtifact]]. */
  private def bpeFinalSyms(t: Tables): org.apache.spark.sql.DataFrame =
    bpeArtifact(t).filter(col("kind") === "s")
      .select(col("w"), col("cnt"), col("pos"), col("sym"))

  val x176 = Q(
    "x176_bpe_train",
    Some {
      val rounds = 8
      s"WITH ${duckBpeCtes(rounds)} " +
        (1 to rounds).map(c =>
          s"SELECT CAST($c AS BIGINT) AS merge_round, a AS left_sym, " +
            "b AS right_sym, a || b AS merged, pc AS pair_count " +
            s"FROM bsel$c").mkString(" UNION ALL ")
    }
  ) { t =>
    bpeArtifact(t).filter(col("kind") === "m")
      .select(col("round").as("merge_round"), col("a").as("left_sym"),
        col("b").as("right_sym"), concat(col("a"), col("b")).as("merged"),
        col("pc").as("pair_count"))
  }

  /** Tokenizer fertility under the TRAINED x176 BPE segmentation
    * ([[Corpus.bpeFertility]]): apply the 8 trained merges to the
    * vocabulary, count final symbols per word (a bare unmerged '</w>'
    * marker is not a token), and aggregate per document — n_words,
    * n_bpe_tokens, fertility in integer basis points (tokens·10⁴ div
    * words). The apply side touches the corpus exactly once, joining
    * the word stream against the broadcast vocab-sized
    * tokens-per-word table — x109 measures fertility of a FIXED
    * hypothetical tokenizer; this one measures the tokenizer the
    * corpus itself trains. */
  val x177 = Q(
    "x177_bpe_fertility",
    Some(
      s"WITH ${duckBpeCtes(8)}, " +
        "bwt AS (SELECT w, CAST(COUNT(*) FILTER (WHERE sym <> '</w>') " +
        "AS BIGINT) AS wtok FROM bs8 GROUP BY w), " +
        "bdw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w " +
        "FROM documents) " +
        "SELECT d.doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST(SUM(t.wtok) AS BIGINT) AS n_bpe_tokens, " +
        "CAST((SUM(t.wtok) * 10000) // COUNT(*) AS BIGINT) AS fertility_bp " +
        "FROM bdw d JOIN bwt t ON d.w = t.w GROUP BY d.doc_id"
    )
  ) { t =>
    Corpus.bpeFertility(t.documents, "doc_id", "text", bpeFinalSyms(t))
  }

  /** The trained tokenizer's VOCAB artifact — the symbol inventory
    * after x176's merges, the second file a tokenizer release ships
    * next to the merge table: per final symbol, the number of word
    * TYPES carrying it and its total corpus occurrences (type count ×
    * word frequency). One aggregate over the vocab-sized final symbol
    * table; exact integers. */
  val x181 = Q(
    "x181_bpe_vocab",
    Some(
      s"WITH ${duckBpeCtes(8)} " +
        "SELECT sym, CAST(COUNT(DISTINCT w) AS BIGINT) AS n_types, " +
        "CAST(SUM(cnt) AS BIGINT) AS n_occurrences " +
        "FROM bs8 GROUP BY sym"
    )
  ) { t =>
    bpeFinalSyms(t).groupBy(col("sym"))
      .agg(countDistinct(col("w")).as("n_types"),
        sum(col("cnt")).as("n_occurrences"))
  }

  /** SemDeDup ([[Dedup.semDedup]] — Abbas et al. 2023): semantic
    * dedup by keep-policy over the x143/x64 cosine near-dup clusters.
    * Within each connected component of the ≥ 0.4 cosine graph
    * (IVF-cell candidates at the auto-k policy), keep the member
    * FARTHEST from its cell's density center — similarity measured as
    * exact-integer dot(⌊x·10⁶⌋ member, cell quantized-sum) / nrm, the
    * sum having the same direction as the mean — and emit one row per
    * dropped member with its kept representative. The oracle replays
    * the deterministic seed-centroid assignment, the recursive-CTE
    * closure, and the quantized cell sums end-to-end. */
  /** The SemDeDup tail over any `(vec_id, embedding, nrm, cell)`
    * assignment CTE named `asg`: within-cell cosine ≥ 0.4 pairs →
    * recursive-CTE closure → quantized cell sums → keep-farthest
    * ranking. Shared by the flat (x178) and two-level (x179) oracles. */
  private def duckSemDedupTail(asg: String): String = {
    def cos(a: String, an: String, b: String, bn: String) =
      s"${duckDot(a, b)} / ($an * $bn)"
    s"prs AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b " +
      s"FROM $asg a JOIN $asg b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
      s"WHERE ${cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")} >= 0.4), " +
      "edges AS (SELECT vec_a AS u, vec_b AS v FROM prs " +
      "UNION SELECT vec_b, vec_a FROM prs), " +
      "reach(u, v) AS (SELECT u, v FROM edges " +
      "UNION SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u), " +
      "roots AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS root FROM reach GROUP BY u), " +
      "sq AS (SELECT vec_id, cell, list_transform(embedding, " +
      s"x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q FROM $asg), " +
      "sqd AS (SELECT vec_id, cell, i, q[i] AS v FROM sq " +
      "CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dd), " +
      "scsum AS (SELECT cell, i, CAST(SUM(v) AS BIGINT) AS sv " +
      "FROM sqd GROUP BY cell, i), " +
      "sido AS (SELECT d.vec_id, CAST(SUM(d.v * s.sv) AS BIGINT) AS idot " +
      "FROM sqd d JOIN scsum s ON d.cell = s.cell AND d.i = s.i " +
      "GROUP BY d.vec_id), " +
      "ssc AS (SELECT i.vec_id, r.root, CAST(i.idot AS DOUBLE) / n.nrm AS score " +
      "FROM sido i JOIN roots r ON i.vec_id = r.vec_id " +
      "JOIN norms n ON i.vec_id = n.vec_id), " +
      "srk AS (SELECT vec_id, root, " +
      "row_number() OVER (PARTITION BY root ORDER BY score, vec_id) AS rn, " +
      "CAST(COUNT(*) OVER (PARTITION BY root) AS BIGINT) AS cluster_size, " +
      "first_value(vec_id) OVER (PARTITION BY root ORDER BY score, vec_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS kept_id " +
      "FROM ssc) " +
      "SELECT vec_id, kept_id, cluster_size FROM srk WHERE rn > 1"
  }

  val x178 = Q(
    "x178_semdedup",
    Some {
      def cos(a: String, an: String, b: String, bn: String) =
        s"${duckDot(a, b)} / ($an * $bn)"
      s"WITH RECURSIVE $duckNorms, $duckAutoKCte, " +
        "cents AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn " +
        "FROM norms WHERE vec_id < (SELECT k FROM kk)), " +
        "assigned AS (SELECT vec_id, embedding, nrm, cell FROM (" +
        "SELECT n.vec_id, n.embedding, n.nrm, c.cent_id AS cell, " +
        s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
        s"${cos("n.embedding", "n.nrm", "c.ce", "c.cn")} DESC, c.cent_id) AS rn " +
        "FROM norms n CROSS JOIN cents c) WHERE rn = 1), " +
        duckSemDedupTail("assigned")
    }
  ) { t =>
    Dedup.semDedup(t.embeddings, "vec_id", "embedding",
      threshold = 0.4, k = ivfAutoK(t),
      assignedIn = Some(ivfFlatIndex(t, ivfAutoK(t))._2))
  }

  /** SemDeDup on the two-level routed assignment
    * ([[Dedup.semDedupTwoLevel]]) — the registered scale path: x178's
    * flat n·k assignment re-measured super-linear on the 1→3× segment
    * (exp 1.89, the Θ(n^1.5) flat-assignment law), so the serving
    * variant routes coarse→fine exactly as the x148/x153/x158 family
    * does, same candidate rule, closure, and keep-policy. */
  val x179 = Q(
    "x179_semdedup_2l",
    Some(
      s"WITH RECURSIVE ${duckIvfListCtes(nprobe = 2, topK = 3)}, " +
        duckSemDedupTail("iassigned")
    )
  ) { t =>
    Dedup.semDedupTwoLevel(t.embeddings, "vec_id", "embedding",
      threshold = 0.4, k = ivfAutoK(t), kc = ivfAutoKc(t),
      index2 = Some(ivf2AutoIndex(t)))
  }

  /** The static phrase blocklist x180 gates on — multi-word phrases of
    * mixed lengths, the shape real wordlist artifacts have. */
  // private[graft]: CurationSpec asserts the broadcast-join property on
  // the registry's underlying build with the registered list
  private[graft] val blockPhrases =
    Seq("slow scan", "fast table", "big vector", "key agg row",
      "scan slow fast")

  /** Phrase-blocklist gate ([[Corpus.blocklistGate]]) — the multi-word
    * wordlist filter standard curation stacks run ahead of the model
    * gates (x28 covers single stopwords only; production blocklists
    * carry phrases). One broadcast n-gram join per distinct phrase
    * length; every document gets a verdict row, so gate accounting is
    * total. Exact integer counts → hash oracle. */
  val x180 = Q(
    "x180_blocklist_gate",
    Some {
      val byLen = blockPhrases.groupBy(_.split(" ").length).toSeq.sortBy(_._1)
      val gramCtes = byLen.map { case (n, _) =>
        s"bg$n AS (SELECT doc_id, unnest(list_transform(" +
          s"range(1, greatest(len(w) - ${n - 2}, 1)), " +
          s"i -> array_to_string(w[i : i + ${n - 1}], ' '))) AS phrase FROM bdw)"
      }.mkString(", ")
      val unioned = byLen.map { case (n, _) => s"SELECT * FROM bg$n" }
        .mkString(" UNION ALL ")
      val list = blockPhrases.map(p => s"('$p')").mkString(", ")
      s"WITH bbl AS (SELECT * FROM (VALUES $list) t(phrase)), " +
        "bdw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        s"$gramCtes, " +
        s"bms AS (SELECT g.doc_id, g.phrase FROM ($unioned) g " +
        "JOIN bbl b ON g.phrase = b.phrase), " +
        "bagg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_matches, " +
        "CAST(COUNT(DISTINCT phrase) AS BIGINT) AS n_phrases " +
        "FROM bms GROUP BY doc_id) " +
        "SELECT d.doc_id, COALESCE(a.n_matches, 0) AS n_matches, " +
        "COALESCE(a.n_phrases, 0) AS n_phrases, " +
        "(COALESCE(a.n_matches, 0) = 0) AS kept " +
        "FROM documents d LEFT JOIN bagg a ON d.doc_id = a.doc_id"
    }
  ) { t =>
    blocklistGateReg(t)
  }

  /** Release pipeline v2 (x182) — the round-11 gate stack composed in
    * one declarative plan, the order a production curation run uses:
    * (1) phrase-blocklist gate (x180 list), (2) quality gate (x65,
    * reasons = 0), (3) span-dedup REWRITE over the survivors (x175
    * semantics on the filtered corpus — dedup after filtering, so
    * blocked/low-quality text can't claim canonical windows), dropping
    * docs rewritten to nothing, then (4) a global token budget over the
    * post-rewrite token counts, priority = distinct-word ratio
    * ([[Corpus.tokenBudgetSelect]] — the band-histogram form, so the
    * only unpartitioned window is over ≤ ~1001 band rows). Unlike x83
    * (canonical-copy/band/cap policies), v2's budget counts the tokens
    * that actually SURVIVE dedup — the number that matters for a
    * training-token target. Output is budget-bounded at any corpus
    * size. */
  val x182 = Q(
    "x182_release_pipeline_v2",
    Some {
      val markers = Seq("en" -> "the", "es" -> "el", "de" -> "der", "fr" -> "le", "zh" -> "ha")
      val counts = markers
        .map { case (l, w) => s"CAST(${duckWordCount(w)} AS DOUBLE) AS c_$l" }
        .mkString(", ")
      val list = blockPhrases.map(p => s"('$p')").mkString(", ")
      val byLen = blockPhrases.groupBy(_.split(" ").length).toSeq.sortBy(_._1)
      val gramCtes = byLen.map { case (n, _) =>
        s"vg$n AS (SELECT doc_id, unnest(list_transform(" +
          s"range(1, greatest(len(w) - ${n - 2}, 1)), " +
          s"i -> array_to_string(w[i : i + ${n - 1}], ' '))) AS phrase FROM vdw)"
      }.mkString(", ")
      val unioned = byLen.map { case (n, _) => s"SELECT * FROM vg$n" }
        .mkString(" UNION ALL ")
      "WITH vbl AS (SELECT * FROM (VALUES " + list + ") t(phrase)), " +
        "vdw AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        s"$gramCtes, " +
        s"vblk AS (SELECT DISTINCT g.doc_id FROM ($unioned) g " +
        "JOIN vbl b ON g.phrase = b.phrase), " +
        "vwords AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents), " +
        "vws AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST(COUNT(DISTINCT word) AS BIGINT) AS nd FROM vwords GROUP BY doc_id), " +
        "vlng AS (SELECT doc_id, CASE " +
        "WHEN c_en >= c_es AND c_en >= c_de AND c_en >= c_fr AND c_en >= c_zh THEN 'en' " +
        "WHEN c_es >= c_de AND c_es >= c_fr AND c_es >= c_zh THEN 'es' " +
        "WHEN c_de >= c_fr AND c_de >= c_zh THEN 'de' " +
        "WHEN c_fr >= c_zh THEN 'fr' ELSE 'zh' END AS lang_pred " +
        s"FROM (SELECT doc_id, $counts FROM documents) c), " +
        "vqk AS (SELECT vws.doc_id FROM vws JOIN vlng ON vws.doc_id = vlng.doc_id " +
        "WHERE NOT ((n_words < 40) OR (n_words > 400) OR " +
        "(CAST(n_words - nd AS DOUBLE) / n_words > 0.8) OR (lang_pred <> 'en'))), " +
        "vsurv AS (SELECT d.doc_id, d.text FROM documents d " +
        "JOIN vqk q ON d.doc_id = q.doc_id " +
        "LEFT JOIN vblk b ON d.doc_id = b.doc_id WHERE b.doc_id IS NULL), " +
        "vsw AS (SELECT doc_id, string_split(text, ' ') AS w FROM vsurv), " +
        "vsg AS (SELECT doc_id, unnest(list_transform(" +
        "range(1, greatest(len(w) - 6, 1)), " +
        "i -> {'pos': i - 1, 'gram': array_to_string(w[i : i + 7], ' ')})) AS s FROM vsw), " +
        s"vsgr AS (SELECT doc_id, CAST(s.pos AS BIGINT) AS pos, " +
        s"${duckPolyHash("s.gram")} AS h, " +
        "doc_id * 1048576 + CAST(s.pos AS BIGINT) AS kk FROM vsg), " +
        "vwin AS (SELECT h, MIN(kk) AS kmin FROM vsgr GROUP BY h " +
        "HAVING COUNT(*) >= 2), " +
        "vrm AS (SELECT DISTINCT g.doc_id, g.pos + u.o AS rpos " +
        "FROM vsgr g JOIN vwin x ON g.h = x.h AND g.kk <> x.kmin " +
        "CROSS JOIN (SELECT unnest(range(0, 8)) AS o) u), " +
        "vnr AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_removed " +
        "FROM vrm GROUP BY doc_id), " +
        "vrw AS (SELECT s.doc_id, " +
        "CAST(len(s.w) - COALESCE(r.n_removed, 0) AS BIGINT) AS kept_tokens " +
        "FROM vsw s LEFT JOIN vnr r ON s.doc_id = r.doc_id " +
        "WHERE len(s.w) - COALESCE(r.n_removed, 0) > 0), " +
        "vsc AS (SELECT v.doc_id, CAST(w.nd AS DOUBLE) / w.n_words AS score, " +
        "v.kept_tokens AS n_tokens FROM vrw v JOIN vws w ON v.doc_id = w.doc_id), " +
        "vc AS (SELECT doc_id, score, n_tokens, CAST(SUM(n_tokens) OVER " +
        "(ORDER BY score DESC, doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS BIGINT) AS cum_tokens FROM vsc) " +
        "SELECT doc_id, score, n_tokens, cum_tokens FROM vc WHERE cum_tokens <= 15000"
    }
  ) { t =>
    val docs = t.documents
    // stages 1–2 and the word stats come from the session registries
    // (x180's blocklist verdicts, x65's quality verdicts, the shared
    // per-doc word stats); the span rewrite over the SURVIVORS and the
    // budget windows are x182's own work and run per pass
    val bl = blocklistGateReg(t).filter(col("kept")).select("doc_id")
    val qg = qualityGateReg(t).filter(col("kept")).select("doc_id")
    val surv = docs.select(col("doc_id"), col("text"))
      .join(bl, Seq("doc_id"), "left_semi")
      .join(qg, Seq("doc_id"), "left_semi")
    val rw = Dedup.duplicateSpanRewrite(surv, "doc_id", "text")
      .select(col("doc_id"),
        (col("n_tokens") - col("n_removed")).as("kept_tokens"))
      .filter(col("kept_tokens") > 0)
    val ws = docWordStats(t)
      .select(col("doc_id"), col("n_tokens").as("nw"), col("nd"))
    val scored = rw.join(ws, Seq("doc_id"))
      .select(col("doc_id"),
        (col("nd").cast("double") / col("nw")).as("score"),
        col("kept_tokens").as("n_tokens"))
    Corpus.tokenBudgetSelect(scored, "doc_id", "score", "n_tokens", 15000L)
  }

  /** Semantic diversity cap (x183) — x79's source-cap with SEMANTIC
    * families as the capping key: cluster documents by the x137
    * two-level IVF mutual-kNN components (vec_id ≡ doc_id, the x112
    * convention; singletons key on their own id), then keep at most 3
    * docs per semantic family by quality score (distinct-word ratio,
    * id tiebreak) through the bounded top-k prune. The topic-balancing
    * step dataset mixers run after dedup: a over-represented semantic
    * family can't dominate the release no matter how many near-copies
    * survived. Scale shape = x137's (two-level routing, guarded CC)
    * plus one word-stat aggregate and a capped prune. */
  val x183 = Q(
    "x183_semantic_cap",
    Some(
      s"WITH RECURSIVE ${duckIvfListCtes(nprobe = 2, topK = 3)}, " +
        "ctk AS (SELECT query_id AS qa, neighbor_id AS qb FROM ivflists), " +
        "cmut AS (SELECT t.qa AS u, t.qb AS v FROM ctk t " +
        "JOIN ctk r ON t.qa = r.qb AND t.qb = r.qa WHERE t.qa < t.qb), " +
        "cedges AS (SELECT u, v FROM cmut UNION SELECT v, u FROM cmut), " +
        "creach(u, v) AS (SELECT u, v FROM cedges " +
        "UNION SELECT r.u, e.v FROM creach r JOIN cedges e ON r.v = e.u), " +
        "ccl AS (SELECT u AS vec_id, LEAST(u, MIN(v)) AS root " +
        "FROM creach GROUP BY u), " +
        "cwords AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word " +
        "FROM documents), " +
        "cws AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words, " +
        "CAST(COUNT(DISTINCT word) AS BIGINT) AS nd FROM cwords GROUP BY doc_id), " +
        "ckeyed AS (SELECT w.doc_id, COALESCE(c.root, w.doc_id) AS sem_key, " +
        "CAST(w.nd AS DOUBLE) / w.n_words AS score FROM cws w " +
        "LEFT JOIN ccl c ON w.doc_id = c.vec_id) " +
        "SELECT doc_id, sem_key, score FROM (SELECT doc_id, sem_key, score, " +
        "row_number() OVER (PARTITION BY sem_key ORDER BY score DESC, doc_id) AS rn " +
        "FROM ckeyed) t WHERE rn <= 3"
    )
  ) { t =>
    val cc = ivfMutualCcAuto(t)
    // word stats from the session registry (same (n_tokens, nd) values
    // the oracle's cws CTE derives — the registry build pays the word
    // explode once per session instead of once per consumer per pass)
    val ws = docWordStats(t)
      .select(col("doc_id"), col("n_tokens").as("nw"), col("nd"))
    val keyed = ws.join(cc, ws("doc_id") === cc("node"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_root"), col("doc_id")).as("sem_key"),
        (col("nd").cast("double") / col("nw")).as("score"))
    Ranks.topKPerGroup(keyed, Seq("sem_key"),
      Seq(("score", false), ("doc_id", true)), 3)
      .select(col("doc_id"), col("sem_key"), col("score"))
  }

  /** Residual vector quantization codes ([[Dedup.rvqEncode]] — the
    * additive-codebook rung completing the quantizer family next to
    * PQ/OPQ/SQ8/BQ): stage-1 nearest seed centroid, stage-2 residual
    * against the deterministic residual codebook, 2·log₂16 = 8 bits per
    * vector. Full chain on the integer grid, so codes AND the exact
    * squared error replay in the oracle; PqSpec pins the per-seed exact
    * properties (zero residual for seeds, err2 = 0 for codebook-2
    * donors). */
  /** The x184 two-stage chain up to the code table — CTEs `rq` (grid
    * vectors), `rc1`/`rc2` (both codebooks), `rvqcodes` (vec_id, code1,
    * code2, err2). Shared by x184 and the x185 serving twin. */
  private def duckRvqCtes: String =
    "rq AS MATERIALIZED (SELECT vec_id, list_transform(embedding, " +
      "x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q " +
      "FROM embeddings), " +
      "rc1 AS MATERIALIZED (SELECT vec_id AS c1_id, q AS c1 FROM rq WHERE vec_id < 16), " +
      "ra1 AS (SELECT r.vec_id, c.c1_id, c.c1, " +
      "CAST(list_sum(list_transform(range(1, 65), " +
      "i -> (r.q[i] - c.c1[i]) * (r.q[i] - c.c1[i]))) AS BIGINT) AS d " +
      "FROM rq r CROSS JOIN rc1 c), " +
      "rb1 AS MATERIALIZED (SELECT vec_id, c1_id AS code1, c1 AS cv1 FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY vec_id " +
      "ORDER BY d, c1_id) AS rn FROM ra1) t WHERE rn = 1), " +
      "rres AS MATERIALIZED (SELECT r.vec_id, b.code1, " +
      "list_transform(range(1, 65), i -> r.q[i] - b.cv1[i]) AS res " +
      "FROM rq r JOIN rb1 b ON r.vec_id = b.vec_id), " +
      "rc2 AS MATERIALIZED (SELECT vec_id AS c2_id, res AS c2 FROM rres " +
      "WHERE vec_id >= 16 AND vec_id < 32), " +
      "ra2 AS (SELECT r.vec_id, r.code1, c.c2_id, " +
      "CAST(list_sum(list_transform(range(1, 65), " +
      "i -> (r.res[i] - c.c2[i]) * (r.res[i] - c.c2[i]))) AS BIGINT) AS d " +
      "FROM rres r CROSS JOIN rc2 c), " +
      "rvqcodes AS (SELECT vec_id, code1, c2_id AS code2, d AS err2 FROM (" +
      "SELECT *, row_number() OVER (PARTITION BY vec_id " +
      "ORDER BY d, c2_id) AS rn FROM ra2) t WHERE rn = 1)"

  val x184 = Q(
    "x184_rvq_codes",
    Some(
      s"WITH $duckRvqCtes SELECT vec_id, code1, code2, err2 FROM rvqcodes"
    )
  ) { t =>
    rvqSeedIndex(t)._1
  }

  /** RVQ asymmetric top-k ([[Dedup.rvqSearch]]) — the serving tier
    * over x184's 8-bit codes, at rung parity with PQ ADC (x149), SQ8
    * (x160), and BQ (x169): neighbors decode through the ks² = 256-row
    * additive recon table (integer adds only) and rank by exact
    * integer squared distance to the query's grid vector, ties to the
    * smaller neighbor id. */
  /** Trained-RVQ CTEs (oracle side), replicating
    * [[Dedup.rvqIndex]]`(lloydIters = 1)` exactly on top of
    * `duckRvqCtes`: stage-1 cell means over the SEED assignment (rb1),
    * the x155 long→double→float→⌊·10⁶⌋ round-trip, seed-coalesced
    * empty cells, re-encode, residuals under the TRAINED stage-1 book,
    * stage-2 seeds from ids 16..31's trained residuals, one more
    * mean/coalesce/re-encode round for stage 2, final codes + exact
    * err2. Per-dim formulation throughout (join on i, SUM) — the x155
    * oracle pattern. */
  private def duckRvqTrainedCtes: String =
    "trd AS MATERIALIZED (SELECT vec_id, i, q[i] AS v " +
      "FROM rq CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dd), " +
      "tm1 AS (SELECT b.code1, d.i, CAST(SUM(d.v) AS DOUBLE) / " +
      "(CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mv " +
      "FROM trd d JOIN rb1 b ON d.vec_id = b.vec_id GROUP BY 1, 2), " +
      "rc1d AS (SELECT c1_id, i, c1[i] AS sv " +
      "FROM rc1 CROSS JOIN (SELECT unnest(range(1, 65)) AS i) dd), " +
      "tb1d AS MATERIALIZED (SELECT g.c1_id, g.i, " +
      "COALESCE(CAST(floor(CAST(CAST(t.mv AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT), " +
      "g.sv) AS tv FROM rc1d g LEFT JOIN tm1 t ON g.c1_id = t.code1 AND g.i = t.i), " +
      "ta1 AS (SELECT d.vec_id, b.c1_id, " +
      "CAST(SUM((d.v - b.tv) * (d.v - b.tv)) AS BIGINT) AS dist " +
      "FROM trd d JOIN tb1d b ON d.i = b.i GROUP BY 1, 2), " +
      "tb1best AS (SELECT vec_id, c1_id AS tcode1 FROM (" +
      "SELECT vec_id, c1_id, row_number() OVER (PARTITION BY vec_id " +
      "ORDER BY dist, c1_id) AS rn FROM ta1) t WHERE rn = 1), " +
      "tresd AS MATERIALIZED (SELECT d.vec_id, bb.tcode1, d.i, d.v - b.tv AS rv " +
      "FROM trd d JOIN tb1best bb ON d.vec_id = bb.vec_id " +
      "JOIN tb1d b ON b.c1_id = bb.tcode1 AND b.i = d.i), " +
      "trc2d AS MATERIALIZED (SELECT vec_id AS c2_id, i, rv AS sv FROM tresd " +
      "WHERE vec_id >= 16 AND vec_id < 32), " +
      "tsa2 AS (SELECT r.vec_id, c.c2_id, " +
      "CAST(SUM((r.rv - c.sv) * (r.rv - c.sv)) AS BIGINT) AS dist " +
      "FROM tresd r JOIN trc2d c ON r.i = c.i GROUP BY 1, 2), " +
      "ts2best AS (SELECT vec_id, c2_id AS scode2 FROM (" +
      "SELECT vec_id, c2_id, row_number() OVER (PARTITION BY vec_id " +
      "ORDER BY dist, c2_id) AS rn FROM tsa2) t WHERE rn = 1), " +
      "tm2 AS (SELECT b.scode2 AS code2, r.i, CAST(SUM(r.rv) AS DOUBLE) / " +
      "(CAST(COUNT(*) AS DOUBLE) * 1000000.0) AS mv " +
      "FROM tresd r JOIN ts2best b ON r.vec_id = b.vec_id GROUP BY 1, 2), " +
      "tb2d AS (SELECT g.c2_id, g.i, " +
      "COALESCE(CAST(floor(CAST(CAST(t.mv AS FLOAT) AS DOUBLE) * 1000000.0) AS BIGINT), " +
      "g.sv) AS tv FROM trc2d g LEFT JOIN tm2 t ON g.c2_id = t.code2 AND g.i = t.i), " +
      "ta2 AS (SELECT r.vec_id, r.tcode1, b.c2_id, " +
      "CAST(SUM((r.rv - b.tv) * (r.rv - b.tv)) AS BIGINT) AS dist " +
      "FROM tresd r JOIN tb2d b ON r.i = b.i GROUP BY 1, 2, 3), " +
      "trvqcodes AS (SELECT vec_id, tcode1 AS code1, c2_id AS code2, " +
      "dist AS err2 FROM (SELECT *, row_number() OVER (PARTITION BY vec_id " +
      "ORDER BY dist, c2_id) AS rn FROM ta2) t WHERE rn = 1)"

  /** RVQ codes under TRAINED codebooks ([[Dedup.rvqIndex]] with one
    * residual-k-means round per stage — Chen et al. 2010 fit each
    * stage's codebook on the residual distribution the previous stage
    * leaves; x184's seed books are the deterministic initialization,
    * exactly as x149→x155 for PQ). The full train→re-encode chain
    * stays on the integer grid with the x53/x155 mean contract, so
    * codes AND err2 replay in the oracle; PqSpec pins distortion
    * monotonicity and trained-vs-seed recall on a mis-seeded clustered
    * corpus. */
  val x186 = Q(
    "x186_rvq_trained_codes",
    Some(
      s"WITH $duckRvqCtes, $duckRvqTrainedCtes " +
        "SELECT vec_id, code1, code2, err2 FROM trvqcodes"
    )
  ) { t =>
    Dedup.rvqEncode(t.embeddings, "vec_id", "embedding", lloydIters = 1)
  }

  val x185 = Q(
    "x185_rvq_topk",
    Some(
      s"WITH $duckRvqCtes, " +
        "rrec AS (SELECT a.c1_id AS code1, b.c2_id AS code2, " +
        "list_transform(range(1, 65), i -> a.c1[i] + b.c2[i]) AS rv " +
        "FROM rc1 a CROSS JOIN rc2 b), " +
        "rqq AS (SELECT vec_id AS query_id, q FROM rq WHERE vec_id < 10), " +
        "rsd AS (SELECT t.query_id, n.vec_id AS neighbor_id, " +
        "CAST(list_sum(list_transform(range(1, 65), " +
        "i -> (t.q[i] - r.rv[i]) * (t.q[i] - r.rv[i]))) AS BIGINT) AS adc_dist " +
        "FROM rvqcodes n JOIN rrec r ON n.code1 = r.code1 AND n.code2 = r.code2 " +
        "CROSS JOIN rqq t WHERE n.vec_id <> t.query_id) " +
        "SELECT query_id, neighbor_id, adc_dist FROM (" +
        "SELECT query_id, neighbor_id, adc_dist, " +
        "row_number() OVER (PARTITION BY query_id " +
        "ORDER BY adc_dist, neighbor_id) AS rn FROM rsd) t WHERE rn <= 5"
    )
  ) { t =>
    // serve from the session's seed RVQ index (the same frames x184
    // registers) — only the query-side scan runs per pass
    val (codes, recon) = rvqSeedIndex(t)
    Dedup.rvqAnswer(
      t.embeddings.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec")),
      codes.select(col("vec_id").as("vid"), col("code1"), col("code2")),
      recon, topK = 5, excludeSelf = true)
  }

  /** Perceptual-hash near-dup over the multimodal byte column (x187) —
    * image/video near-dup without a codec:
    * [[Multimodal.perceptualNearDups]] runs the 64-bit block-mean hash
    * ([[graft.functions.BlockHashUtil]], codegen, one O(bytes) pass in
    * the scan projection) over packed media payloads and finds pairs
    * within Hamming ≤ 7 via 8-byte-band blocking on DISTINCT signatures
    * (pigeonhole recall 1.0, never all-pairs). The corpus plants its own
    * near-dups the x67 way: every doc_id % 5 = 0 payload re-enters under
    * a shifted id with ONE byte overwritten mid-payload — the
    * "re-encoded asset" shape, which perturbs one block's mean and
    * leaves the other 63 bands intact, so every planted pair must
    * surface through some agreeing band. The oracle replays the hash
    * bit-for-bit from the payload bytes (ASCII text ⇒ ascii(char) =
    * UTF-8 byte), including the integer cross-multiplied mean compare
    * and the sign-bit packing. */
  val x187 = Q(
    "x187_perceptual_near_dups",
    Some(
      "WITH pert AS (SELECT doc_id + 10000000 AS doc_id, " +
        "substr(text, 1, len(text) // 2) || '~' || substr(text, len(text) // 2 + 2) AS text " +
        "FROM documents WHERE doc_id % 5 = 0), " +
        "corp AS (SELECT doc_id, text FROM documents " +
        "UNION ALL SELECT doc_id, text FROM pert), " +
        "bv AS (SELECT doc_id, list_transform(range(1, len(text) + 1), " +
        "i -> CAST(ascii(text[i:i]) AS BIGINT)) AS bl, " +
        "CAST(len(text) AS BIGINT) AS n FROM corp), " +
        "st AS (SELECT doc_id, bl, n, list_sum(bl) AS tot FROM bv), " +
        "bits AS (SELECT doc_id, b, (b * n) // 64 AS lo, ((b + 1) * n) // 64 AS hi, " +
        "n, tot, bl FROM st CROSS JOIN (SELECT unnest(range(0, 64)) AS b) d), " +
        "bset AS (SELECT doc_id, b, CASE WHEN hi > lo AND " +
        "list_sum(bl[lo + 1:hi]) * n > tot * (hi - lo) THEN 1 ELSE 0 END AS bit " +
        "FROM bits), " +
        "ph AS MATERIALIZED (SELECT doc_id, CAST(SUM(CASE " +
        "WHEN bit = 1 AND b = 0 THEN -9223372036854775807 - 1 " +
        "WHEN bit = 1 THEN CAST(1 AS BIGINT) << (63 - b) ELSE 0 END) AS BIGINT) AS phash " +
        "FROM bset GROUP BY doc_id), " +
        "bnd AS (SELECT DISTINCT phash AS sig FROM ph), " +
        "bk AS MATERIALIZED (SELECT sig, b, (sig >> (8 * CAST(b AS INT))) & 255 AS bb " +
        "FROM bnd CROSS JOIN (SELECT unnest(range(0, 8)) AS b) d2), " +
        "cand AS (SELECT DISTINCT a.sig AS siga, c.sig AS sigb " +
        "FROM bk a JOIN bk c ON a.b = c.b AND a.bb = c.bb AND a.sig <= c.sig), " +
        "vc AS (SELECT siga, sigb, CAST(bit_count(xor(siga, sigb)) AS BIGINT) AS hamming " +
        "FROM cand WHERE bit_count(xor(siga, sigb)) <= 7) " +
        "SELECT LEAST(da.doc_id, db.doc_id) AS doc_a, " +
        "GREATEST(da.doc_id, db.doc_id) AS doc_b, v.hamming " +
        "FROM vc v JOIN ph da ON da.phash = v.siga JOIN ph db ON db.phash = v.sigb " +
        "WHERE v.siga <> v.sigb OR da.doc_id < db.doc_id"
    )
  ) { t =>
    // planted near-dups, the x67 derived-corpus way: one mid-payload
    // byte overwritten under a shifted id ("re-encoded asset")
    val pert = t.documents.filter(col("doc_id") % 5 === 0)
      .selectExpr("doc_id + 10000000 AS doc_id",
        "concat(substring(text, 1, cast(floor(length(text) / 2) as int)), '~', " +
          "substring(text, cast(floor(length(text) / 2) as int) + 2)) AS text")
    val corpus = t.documents.select(col("doc_id"), col("text")).unionAll(pert)
    val media = Multimodal.packMedia(corpus)(t.spark).toDF()
    Multimodal.perceptualNearDups(media, "doc_id", "content", maxHamming = 7)
  }

  /** Per-source data card (x188) — [[Corpus.datacard]]: the
    * release-report row set (volume, redundancy, lexical richness,
    * language spread per source) in four independent
    * map-side-combinable aggregates joined on the tiny source key — no
    * multi-distinct Aggregate, so no Expand multiplying corpus rows
    * pre-shuffle. Integers throughout except the single int/int
    * type-token division (IEEE-exact both engines). */
  val x188 = Q(
    "x188_datacard",
    Some(
      "WITH b AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        "CAST(SUM(length(text) - length(replace(text, ' ', '')) + 1) AS BIGINT) AS n_tokens, " +
        "MIN(n_chars) AS min_chars, MAX(n_chars) AS max_chars, " +
        "CAST(SUM(n_chars) AS BIGINT) AS total_chars FROM documents GROUP BY source), " +
        s"hh AS (SELECT source, ${duckPolyHash("text")} AS h, COUNT(*) AS c " +
        "FROM documents GROUP BY 1, 2), " +
        "d AS (SELECT source, CAST(SUM(c - 1) AS BIGINT) AS n_exact_dups " +
        "FROM hh GROUP BY source), " +
        "l AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_langs FROM " +
        "(SELECT DISTINCT source, lang FROM documents) sl GROUP BY source), " +
        "w AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS vocab_size FROM " +
        "(SELECT DISTINCT source, word FROM (SELECT source, " +
        "unnest(string_split(text, ' ')) AS word FROM documents) u0) sw " +
        "GROUP BY source) " +
        "SELECT b.source, n_docs, n_tokens, vocab_size, " +
        "CAST(vocab_size AS DOUBLE) / n_tokens AS type_token_ratio, " +
        "n_exact_dups, n_langs, min_chars, max_chars, total_chars " +
        "FROM b JOIN d ON b.source = d.source JOIN l ON b.source = l.source " +
        "JOIN w ON b.source = w.source"
    )
  ) { t =>
    Corpus.datacard(t.documents, "doc_id", "text", "source", "lang", "n_chars")
  }

  /** Contrastive triplet mining (x189) — (anchor, positive, negative)
    * training examples for embedding-model fine-tuning, the way
    * retrieval/embedding pipelines bootstrap contrastive data from an
    * unlabeled corpus: the POSITIVE is each vector's top-1 approximate
    * neighbor from the registered IVF scale path
    * ([[Dedup.ivfSearchRouted]], two-level by default, at the auto-k
    * policy — per-anchor
    * probe work √n·nprobe, never corpus-wide), the NEGATIVE is an
    * arithmetic-LCG pick over a DENSE row index (the F6 discipline —
    * no rand(), reproducible on any cluster layout) verified against
    * the triplet margin: a triplet survives iff neg_cos ≤ pos_cos −
    * 0.1, and degenerate picks (the anchor itself or its positive)
    * drop.
    *
    * The LCG draw lives ENTIRELY in rank space (round 15): both the
    * seed and the target of the draw are the dense 0…n−1 rank, never
    * the raw id. The round-14 form seeded the multiply with the raw
    * `query_id` — `(query_id · 48271) mod n` — which assumed ids small
    * enough that the product fits a signed 64-bit integer; a
    * snowflake-style id (~1e18) overflows at query_id ≳ 1.9e14,
    * wrapping the product negative in Spark (negative mod → no rank
    * matches → the inner join SILENTLY drops the triplet) while DuckDB
    * raises a BIGINT-overflow error — a silent engine divergence in
    * exactly the sparse-allocator regime the rank-space rework
    * targets. Now the anchor joins to its own dense rank and the draw
    * is `(anchor_rn · 48271) mod n` with anchor_rn < n, so the product
    * is bounded by n·48271 — overflow-safe for any corpus below ~1.9e14
    * rows. The dense rank is a BLOCKED row_number — partitioned by
    * `vec_id mod 64` plus per-block offsets from a 64-row count
    * frame — equal to `ROW_NUMBER() OVER (ORDER BY vec_id % 64,
    * vec_id) − 1` but with no global sort: the window is partitioned
    * 64 ways, the offset frame is a broadcast of 64 rows, so the
    * index is a scale path, not a driver bottleneck. Every id draws a
    * real negative regardless of gaps or magnitude (TrainingDataSpec
    * pins both the gapped-id and the snowflake-id property). One
    * broadcast-probed search + one hash join against the norms frame —
    * linear beyond the search itself; every cosine is the same IEEE
    * expression both engines evaluate, so the whole mine carries a
    * hash oracle. */
  val x189 = Q(
    "x189_contrastive_triplets",
    Some {
      def cos(a: String, an: String, b: String, bn: String) =
        s"${duckDot(a, b)} / ($an * $bn)"
      s"WITH ${duckIvfListCtes(nprobe = 2, topK = 1)}, " +
        "cnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings), " +
        "idx AS MATERIALIZED (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id % 64, vec_id) - 1 AS rn " +
        "FROM embeddings), " +
        "pick AS (SELECT l.query_id, l.neighbor_id AS pos_id, " +
        "l.cosine AS pos_cos, i.vec_id AS neg_id FROM ivflists l " +
        "JOIN idx ia ON ia.vec_id = l.query_id " +
        "JOIN idx i ON i.rn = (ia.rn * 48271) % (SELECT n FROM cnt)) " +
        "SELECT p.query_id AS anchor_id, p.pos_id, p.neg_id, p.pos_cos, " +
        s"${cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")} AS neg_cos " +
        "FROM pick p JOIN norms a ON a.vec_id = p.query_id " +
        "JOIN norms b ON b.vec_id = p.neg_id " +
        "WHERE p.neg_id <> p.query_id AND p.neg_id <> p.pos_id " +
        s"AND ${cos("a.embedding", "a.nrm", "b.embedding", "b.nrm")} <= p.pos_cos - 0.1"
    }
  ) { t =>
    val lists = ivfListsAuto(t, lit(true), nprobe = 2, topK = 1)
    val n = t.embeddings.count() // the ivfAutoK count, one cheap action
    val norms = Dedup.withNorm(t.embeddings, "vec_id", "embedding")
    val idx = denseRankIndex(t.embeddings, "vec_id")
    val pick = lists
      .join(idx.select(col("vec_id").as("query_id"), col("rn").as("anchor_rn")),
        Seq("query_id"))
      .withColumn("neg_rn", (col("anchor_rn") * lit(48271L)) % lit(n))
      .join(idx.select(col("rn").as("neg_rn"), col("vec_id").as("neg_id")),
        Seq("neg_rn"))
      .select(col("query_id"), col("neighbor_id").as("pos_id"),
        col("cosine").as("pos_cos"), col("neg_id"))
    pick
      .join(norms.select(col("vec_id").as("aid"), col("embedding").as("ae"),
        col("nrm").as("an")), col("aid") === col("query_id"))
      .join(norms.select(col("vec_id").as("bid"), col("embedding").as("be"),
        col("nrm").as("bn")), col("bid") === col("neg_id"))
      .select(col("query_id").as("anchor_id"), col("pos_id"), col("neg_id"),
        col("pos_cos"),
        (expr("float_vec_dot(ae, be)") / (col("an") * col("bn"))).as("neg_cos"))
      .filter(col("neg_id") =!= col("anchor_id") &&
        col("neg_id") =!= col("pos_id") &&
        col("neg_cos") <= col("pos_cos") - 0.1)
  }

  /** Dense 0…n−1 rank over a (possibly sparse) id column with NO global
    * sort: row_number partitioned by `id mod 64`, shifted by per-block
    * offsets from the 64-row block-count frame (offset of block b =
    * Σ counts of blocks < b, a 64×64 bounded self-join). Equal to
    * `ROW_NUMBER() OVER (ORDER BY id % 64, id) − 1`, which is how the
    * DuckDB oracle replays it — but the Spark plan keeps the window
    * partitioned 64 ways and broadcasts the offsets, so it survives a
    * corpus that would break an unpartitioned sort. */
  private def denseRankIndex(df: DataFrame, idCol: String): DataFrame = {
    val blocked = df.select(col(idCol).as("vec_id"),
      pmod(col(idCol), lit(64L)).as("blk"))
    val counts = blocked.groupBy("blk").agg(count(lit(1)).as("c"))
    val offsets = counts.as("a")
      .join(counts.as("b"), col("b.blk") < col("a.blk"), "left")
      .groupBy(col("a.blk").as("blk"))
      .agg(coalesce(sum(col("b.c")), lit(0L)).as("off"))
    blocked.join(broadcast(offsets), Seq("blk"))
      .select(col("vec_id"),
        (row_number().over(
          Window.partitionBy(col("blk")).orderBy(col("vec_id")))
          .cast("long") - 1L + col("off")).as("rn"))
  }

  /** DuckDB CTE chain replaying [[Dedup.ivfSearchThreeLevel]] at the
    * auto policy (k = ⌊√n⌋, kct = max(2, icbrt(k)), kcm = max(4,
    * kct²)) — the L = 3 twin of [[duckIvfListCtes]]. The integer cube
    * root uses the same float-seed ± 1 CASE adjustment as
    * [[Dedup.icbrt]], so both engines derive the identical kct from
    * the identical count even when POWER(k, 1/3) lands one ulp under a
    * perfect cube. Yields `ivf3lists(query_id, neighbor_id, cosine)`. */
  private def duckIvf3ListCtes(nprobe: Int, topK: Int): String = {
    def cos(a: String, an: String, b: String, bn: String) =
      s"${duckDot(a, b)} / ($an * $bn)"
    s"$duckNorms, $duckAutoKCte, " +
      "j3t AS (SELECT k, GREATEST(2, CASE " +
      "WHEN (t0+1)*(t0+1)*(t0+1) <= k THEN t0+1 " +
      "WHEN t0*t0*t0 <= k THEN t0 ELSE t0-1 END) AS kct FROM " +
      "(SELECT k, CAST(FLOOR(POWER(CAST(k AS DOUBLE), 0.3333333333333333) + 0.5) AS BIGINT) AS t0 FROM kk) s), " +
      "j3m AS (SELECT GREATEST(4, kct * kct) AS kcm FROM j3t), " +
      "jfc AS (SELECT vec_id AS cent_id, embedding AS ce, nrm AS cn " +
      "FROM norms WHERE vec_id < (SELECT k FROM kk)), " +
      "jmc AS (SELECT vec_id AS mi_id, embedding AS me, nrm AS mn " +
      "FROM norms WHERE vec_id < (SELECT kcm FROM j3m)), " +
      "jtc AS (SELECT vec_id AS to_id, embedding AS te, nrm AS tn " +
      "FROM norms WHERE vec_id < (SELECT kct FROM j3t)), " +
      "jfparent AS (SELECT cent_id, ce, cn, mi_id AS parent FROM (" +
      "SELECT f.cent_id, f.ce, f.cn, m.mi_id, " +
      s"row_number() OVER (PARTITION BY f.cent_id ORDER BY " +
      s"${cos("f.ce", "f.cn", "m.me", "m.mn")} DESC, m.mi_id) AS rn " +
      "FROM jfc f CROSS JOIN jmc m) WHERE rn = 1), " +
      "jamid AS (SELECT mi_id, me, mn FROM jmc " +
      "WHERE mi_id IN (SELECT DISTINCT parent FROM jfparent)), " +
      "jmparent AS (SELECT mi_id, me, mn, to_id AS ptop FROM (" +
      "SELECT m.mi_id, m.me, m.mn, t.to_id, " +
      s"row_number() OVER (PARTITION BY m.mi_id ORDER BY " +
      s"${cos("m.me", "m.mn", "t.te", "t.tn")} DESC, t.to_id) AS rn " +
      "FROM jamid m CROSS JOIN jtc t) WHERE rn = 1), " +
      "jatop AS (SELECT to_id, te, tn FROM jtc " +
      "WHERE to_id IN (SELECT DISTINCT ptop FROM jmparent)), " +
      "jvtop AS (SELECT vec_id, embedding, nrm, ptop FROM (" +
      "SELECT n.vec_id, n.embedding, n.nrm, t.to_id AS ptop, " +
      s"row_number() OVER (PARTITION BY n.vec_id ORDER BY " +
      s"${cos("n.embedding", "n.nrm", "t.te", "t.tn")} DESC, t.to_id) AS rn " +
      "FROM norms n CROSS JOIN jatop t) WHERE rn = 1), " +
      "jvmid AS (SELECT vec_id, embedding, nrm, parent FROM (" +
      "SELECT v.vec_id, v.embedding, v.nrm, m.mi_id AS parent, " +
      s"row_number() OVER (PARTITION BY v.vec_id ORDER BY " +
      s"${cos("v.embedding", "v.nrm", "m.me", "m.mn")} DESC, m.mi_id) AS rn " +
      "FROM jvtop v JOIN jmparent m ON v.ptop = m.ptop) WHERE rn = 1), " +
      "jassigned AS (SELECT vec_id, embedding, nrm, cell FROM (" +
      "SELECT v.vec_id, v.embedding, v.nrm, f.cent_id AS cell, " +
      s"row_number() OVER (PARTITION BY v.vec_id ORDER BY " +
      s"${cos("v.embedding", "v.nrm", "f.ce", "f.cn")} DESC, f.cent_id) AS rn " +
      "FROM jvmid v JOIN jfparent f ON v.parent = f.parent) WHERE rn = 1), " +
      "jprobed AS (SELECT query_id, qe, qn, cell FROM (" +
      "SELECT v.vec_id AS query_id, v.embedding AS qe, v.nrm AS qn, " +
      "f.cent_id AS cell, " +
      s"row_number() OVER (PARTITION BY v.vec_id ORDER BY " +
      s"${cos("v.embedding", "v.nrm", "f.ce", "f.cn")} DESC, f.cent_id) AS rn " +
      s"FROM jvmid v JOIN jfparent f ON v.parent = f.parent) WHERE rn <= $nprobe), " +
      "ivf3lists AS (SELECT query_id, neighbor_id, cosine FROM (" +
      "SELECT p.query_id, a.vec_id AS neighbor_id, " +
      s"${cos("p.qe", "p.qn", "a.embedding", "a.nrm")} AS cosine, " +
      s"row_number() OVER (PARTITION BY p.query_id ORDER BY " +
      s"${cos("p.qe", "p.qn", "a.embedding", "a.nrm")} DESC, a.vec_id) AS rn " +
      "FROM jprobed p JOIN jassigned a ON p.cell = a.cell " +
      s"AND p.query_id <> a.vec_id) WHERE rn <= $topK)"
  }

  /** Three-level IVF top-k lists (x190) — the oracle gate for the
    * L = 3 routing option ([[Dedup.ivfSearchThreeLevel]], exposed via
    * `spark.graft.ivf.levels=3` on the registered IVF queries): every
    * query's top-3 approximate neighbors under top→mid→fine routing at
    * the auto policy. Same deterministic seed/tiebreak discipline as
    * the two-level family, so the whole route carries a hash oracle;
    * the exponent claim (n·3·k^(1/3) ≈ n^1.125 at auto-k) is measured
    * in BENCH_NEW_r14, and recall vs the two-level lists is pinned in
    * IvfSpec, not assumed. */
  val x190 = Q(
    "x190_ivf3_topk",
    Some(
      s"WITH ${duckIvf3ListCtes(nprobe = 2, topK = 3)} " +
        "SELECT query_id, neighbor_id, cosine FROM ivf3lists"
    )
  ) { t =>
    val k = ivfAutoK(t)
    val kct = math.max(2L, Dedup.icbrt(k.toLong)).toInt
    val kcm = math.max(4, kct * kct)
    Dedup.ivfSearchThreeLevel(t.embeddings, "vec_id", "embedding",
      lit(true), k = k, kcm = kcm, kct = kct, nprobe = 2, topK = 3)
  }

  /** Video-frame sampling over the multimodal byte column (x191) —
    * [[Multimodal.frameSample]], the round-15 Catalyst HOF promotion
    * (was `mapPartitions`, now `sequence` + binary `substr` + `explode`
    * inside codegen): the payload splits into `meta.nFrames` fixed-size
    * frames and every 2nd one is emitted. Frames are emitted as UTF-8
    * text (the packed payload IS the document's text bytes, ASCII in
    * this corpus — the same byte↔char identity every byte-level oracle
    * here relies on, e.g. x187), so the oracle replays the slice law
    * with string `substr`: size = max(⌊len/nFrames⌋, 1), frame i =
    * bytes [i·size, i·size + size) truncated at payload end — including
    * the empty tail frames a short payload produces. */
  val x191 = Q(
    "x191_frame_sample",
    Some(
      "WITH m AS (SELECT doc_id, text, CAST(len(text) AS BIGINT) AS nb, " +
        "len(text) % 16 + 1 AS nf FROM documents), " +
        "s AS (SELECT doc_id, text, nf, GREATEST(nb // nf, 1) AS sz FROM m), " +
        "f AS (SELECT doc_id, text, sz, " +
        "CAST(unnest(range(0, nf, 2)) AS INT) AS frame_idx FROM s) " +
        "SELECT doc_id, frame_idx, " +
        "substr(text, CAST(frame_idx * sz + 1 AS INT), CAST(sz AS INT)) AS frame FROM f"
    )
  ) { t =>
    val media = Multimodal.packMedia(t.documents)(t.spark)
    Multimodal.frameSample(media, everyN = 2)(t.spark).toDF()
      .select(col("doc_id"), col("frame_idx"),
        decode(col("frame"), "utf-8").as("frame"))
  }

  /** Media feature extraction (x192) — [[Multimodal.extractFeatures]],
    * the round-15 codegen-expression promotion (was `mapPartitions`):
    * `byte_hist16` (16 high-nibble bucket counts) and `fake_embed8`
    * (8 LCG floats seeded by the [[graft.functions.PolyHash]] law) plan
    * as a plain projection. The oracle replays every bit: the histogram
    * as 16 `list_filter` counts over the byte list, the seed as the
    * same `(acc·31 + byte) mod 1e9+7` left fold, the LCG as 8 chained
    * lateral aliases, and each float as `CAST(h / 2³¹ AS REAL) −
    * 0.5::REAL` — double division by 2³¹ is exact, the float round-off
    * and float subtraction are the same IEEE ops in both engines.
    *
    * Output shape (round-16): SCALAR columns only — the histogram is
    * `array_join`ed to one comma string and the embedding posexplodes
    * to 8 `(dim, value)` rows per doc — because the oracle harness
    * canonicalizes by sorting every output column and array cells are
    * unsortable there (the one structurally-red row of round 15). The
    * array-shaped form stays the library API
    * ([[Multimodal.extractFeatures]], MultimodalSpec pins it); only
    * the registered query flattens. */
  val x192 = Q(
    "x192_media_features",
    Some {
      def f(h: String) =
        s"CAST($h / 2147483648.0 AS REAL) - CAST(0.5 AS REAL)"
      val lcg = (1 to 8).map { j =>
        val prev = if (j == 1) "acc" else s"h${j - 1}"
        s"($prev * 1103515245 + 12345) % 2147483648 AS h$j"
      }.mkString(", ")
      "WITH bv AS (SELECT doc_id, list_transform(range(1, len(text) + 1), " +
        "i -> CAST(ascii(text[i:i]) AS BIGINT)) AS bl, " +
        "CAST(len(text) AS BIGINT) AS nb FROM documents), " +
        "hh AS (SELECT doc_id, nb, list_transform(range(0, 16), " +
        "v -> CAST(len(list_filter(bl, x -> x // 16 = v)) AS BIGINT)) AS byte_histogram, " +
        s"list_reduce(list_prepend(CAST(7 AS BIGINT), bl), (acc, x) -> (acc * 31 + x) % $P) AS acc FROM bv), " +
        s"lc AS (SELECT doc_id, nb, byte_histogram, $lcg FROM hh), " +
        "em AS (SELECT doc_id, nb, array_to_string(byte_histogram, ',') AS byte_histogram, " +
        s"[${(1 to 8).map(j => f(s"h$j")).mkString(", ")}] AS emb FROM lc) " +
        "SELECT doc_id, nb AS n_bytes, byte_histogram, " +
        "CAST(d.dim AS INT) AS dim, emb[CAST(d.dim AS INT) + 1] AS value " +
        "FROM em CROSS JOIN (SELECT unnest(range(0, 8)) AS dim) d"
    }
  ) { t =>
    val media = Multimodal.packMedia(t.documents)(t.spark)
    Multimodal.extractFeatures(media)(t.spark).toDF()
      .select(col("doc_id"), col("nBytes").as("n_bytes"),
        array_join(col("byteHistogram"), ",").as("byte_histogram"),
        posexplode(col("embedding")))
      .select(col("doc_id"), col("n_bytes"), col("byte_histogram"),
        col("pos").cast("int").as("dim"), col("col").as("value"))
  }

  /** Parallel context-window bin packing (x193) — the HARMONIC-class
    * discipline from online bin packing, the distributed complement to
    * x37's sequential greedy cumsum: docs are classed by how many of
    * them fit a 2048-token window (k = max(⌊2048/n_tokens⌋, 1)), and
    * class k packs k docs per bin by rank — bin = ⌊(rank−1)/k⌋ over a
    * (source, class)-PARTITIONED row_number, so there is NO sequential
    * dependency and no global sort: every (source, class) packs
    * independently, which is what a 1000-executor packing job needs
    * (x37's running cumsum is inherently order-serial per source).
    * Within a class every doc fits k-per-bin by construction, so every
    * non-oversize bin lands ≤ 2048 tokens (PackingSpec pins the bound);
    * docs longer than the window class as k=1 — one per bin — and are
    * flagged `overflow` for the splitter stage ([[Corpus.splitOversize]],
    * composed end-to-end in x205, which packs with ZERO overflow bins
    * by construction). Both engines
    * compute the identical integer ranks and the exact power-of-two
    * fill division, so the packing carries a hash oracle. */
  val x193 = Q(
    "x193_harmonic_packing",
    Some(
      "WITH toks AS (SELECT source, doc_id, " +
        "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT) AS n_tokens " +
        "FROM documents), " +
        "cl AS (SELECT source, doc_id, n_tokens, " +
        "GREATEST(2048 // n_tokens, 1) AS k FROM toks), " +
        "rnk AS (SELECT source, doc_id, n_tokens, k, " +
        "CAST(row_number() OVER (PARTITION BY source, k " +
        "ORDER BY n_tokens DESC, doc_id) AS BIGINT) AS rn FROM cl) " +
        "SELECT source, k, (rn - 1) // k AS bin_id, " +
        s"$sqlCount AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens, " +
        "SUM(n_tokens) / 2048.0 AS fill, " +
        "MAX(n_tokens) > 2048 AS overflow " +
        "FROM rnk GROUP BY 1, 2, 3"
    )
  ) { t =>
    val W = 2048L
    val classed = t.documents
      .select(col("source"), col("doc_id"),
        graft.functions.Text.tokenCount("text").as("n_tokens"))
      .withColumn("k", greatest(expr(s"$W div n_tokens"), lit(1L)))
    val w = Window.partitionBy(col("source"), col("k"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    classed
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("bin_id", expr("(rn - 1) div k"))
      .groupBy(col("source"), col("k"), col("bin_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens"),
        (sum(col("n_tokens")).cast("double") / lit(2048.0)).as("fill"),
        (max(col("n_tokens")) > lit(W)).as("overflow"))
  }

  /** Content-defined chunk dedup (x194) — Rabin-style CDC, the
    * insertion-robust counterpart to x38/x62's FIXED word chunks:
    * chunk boundaries land where a rolling window hash over the last
    * k=4 word hashes ([[graft.functions.PolyHash]] per word, the same
    * `(acc·31 + x) mod 1e9+7` fold over the window) hits `≡ 0 mod 16`
    * (expected chunk ≈ 16 words). Because boundaries depend only on
    * LOCAL content, inserting a sentence shifts the chunk grid only
    * near the edit — a fixed grid re-chunks the whole tail, losing
    * every downstream dup (the property CdcSpec pins). Cuts are
    * suppressed at the last word so no empty tail chunk exists (the
    * engines disagree on `split('')`); per (source, chunk-hash) counts
    * fold to the x188 redundancy law (dups = c−1), and word totals
    * conserve the corpus exactly (CdcSpec).
    *
    * Scale shape: all per-doc work is array HOFs inside the scan
    * projection (O(n·k) per doc, no shuffle); the only shuffles are
    * the (source, h) count and the per-source fold — chunk-count-sized
    * rows, never word-explode-sized. Both engines run the identical
    * integer folds and 1-based slices, so the whole report carries a
    * hash oracle. */
  val x194 = Q(
    "x194_cdc_chunk_dedup",
    Some {
      def poly(e: String) =
        s"list_reduce(list_prepend(CAST(7 AS BIGINT), " +
          s"list_transform(string_split($e, ''), c -> CAST(ascii(c) AS BIGINT))), " +
          s"(acc, x) -> (acc * 31 + x) % $P)"
      "WITH w0 AS (SELECT doc_id, source, string_split(text, ' ') AS words FROM documents), " +
        "w1 AS (SELECT doc_id, source, words, CAST(len(words) AS BIGINT) AS n, " +
        s"list_transform(words, w -> ${poly("w")}) AS whl FROM w0), " +
        "c0 AS (SELECT doc_id, source, words, n, " +
        "list_filter(range(0, GREATEST(n - 1, 1)), m -> m >= 3 AND " +
        "list_reduce(list_prepend(CAST(7 AS BIGINT), whl[m - 2 : m + 1]), " +
        s"(acc, x) -> (acc * 31 + x) % $P) % 16 = 0) AS cuts FROM w1), " +
        "c1 AS (SELECT doc_id, source, words, n, " +
        "list_prepend(0, list_transform(cuts, c -> c + 1)) AS starts, " +
        "list_append(cuts, n - 1) AS ends FROM c0), " +
        "ch AS (SELECT doc_id, source, " +
        "unnest(list_transform(range(0, len(starts)), i -> " +
        "array_to_string(words[starts[i + 1] + 1 : ends[i + 1] + 1], ' '))) AS chunk FROM c1), " +
        s"hh AS (SELECT source, ${poly("chunk")} AS h, " +
        "CAST(len(string_split(chunk, ' ')) AS BIGINT) AS w FROM ch), " +
        "pc AS (SELECT source, h, w, CAST(COUNT(*) AS BIGINT) AS c FROM hh GROUP BY 1, 2, 3) " +
        "SELECT source, CAST(SUM(c) AS BIGINT) AS n_chunks, " +
        "CAST(SUM(c - 1) AS BIGINT) AS n_dup_chunks, " +
        "CAST(SUM(c * w) AS BIGINT) AS words_total, " +
        "CAST(SUM((c - 1) * w) AS BIGINT) AS words_dup, " +
        "CAST(SUM((c - 1) * w) AS DOUBLE) / SUM(c * w) AS dup_word_fraction " +
        "FROM pc GROUP BY source"
    }
  ) { t =>
    Corpus.cdcChunkDedup(t.documents, "doc_id", "text", "source")
  }

  /** Z-order layout audit (x195) — the oracle-registered twin of the
    * spec-only curve writers ([[graft.sources.Sinks.writeZOrdered]],
    * HilbertSpec/ZOrderSpec): [[Layout.zorderAudit]] computes the
    * writer's exact layout law (16-bit grid normalization → `z_value`
    * Morton interleave → curve-prefix tiles) as a pure dataflow and
    * reports, per tile, the min/max statistics a parquet file skipper
    * consults plus the prune decision for a two-sided box predicate —
    * against the single-column-sort strawman at the same tile count.
    * On this fixture the Z layout scans 4 of 256 tiles (868 rows) where
    * the x-sort layout scans 32 (7 578 rows). The oracle replays the
    * interleave as 16 div/mod terms per axis. */
  val x195 = Q(
    "x195_zorder_layout",
    Some {
      val morton = (0 until 16).map { b =>
        s"((qx // ${1L << b}) % 2) * ${1L << (2 * b)} + " +
          s"((qy // ${1L << b}) % 2) * ${1L << (2 * b + 1)}"
      }.mkString(" + ")
      "WITH mm AS (SELECT MIN(l_partkey) AS mnx, MAX(l_partkey) AS mxx, " +
        "MIN(l_suppkey) AS mny, MAX(l_suppkey) AS mxy FROM lineitem), " +
        "q AS (SELECT (l_partkey - mnx) * 65535 // greatest(mxx - mnx, 1) AS qx, " +
        "(l_suppkey - mny) * 65535 // greatest(mxy - mny, 1) AS qy FROM lineitem, mm), " +
        s"z AS (SELECT qx, qy, $morton AS zv FROM q), " +
        "tiles AS (" +
        s"SELECT 'zorder' AS layout, CAST(zv // ${1L << 24} AS BIGINT) AS tile, " +
        s"$sqlCount AS n_rows, " +
        "CAST(MIN(qx) AS BIGINT) AS min_qx, CAST(MAX(qx) AS BIGINT) AS max_qx, " +
        "CAST(MIN(qy) AS BIGINT) AS min_qy, CAST(MAX(qy) AS BIGINT) AS max_qy " +
        "FROM z GROUP BY 2 " +
        "UNION ALL " +
        s"SELECT 'xsort', CAST(qx // ${1L << 8} AS BIGINT), $sqlCount, " +
        "CAST(MIN(qx) AS BIGINT), CAST(MAX(qx) AS BIGINT), " +
        "CAST(MIN(qy) AS BIGINT), CAST(MAX(qy) AS BIGINT) FROM z GROUP BY 2) " +
        "SELECT *, (max_qx >= 28672 AND min_qx <= 36863 AND " +
        "max_qy >= 28672 AND min_qy <= 36863) AS scan_needed FROM tiles"
    }
  ) { t =>
    Layout.zorderAudit(t.lineitem, "l_partkey", "l_suppkey")
  }

  /** Hilbert layout audit (x200) — [[Layout.curveAudit]] over the
    * Hilbert AND Morton curves on the same grid and box predicate as
    * x195, cut into 100 fixed-VALUE-WIDTH curve ranges rather than
    * x195's power-of-4 prefixes. The tile law matters: both curves are
    * quadtree-recursive, so power-of-4 prefix tiles are the IDENTICAL
    * square cells for both (identical prune decisions — a degenerate
    * comparison); only boundaries that cut the curve MID-cell, as a
    * real writer's equal-size file split does, expose the difference —
    * and there Hilbert's always-adjacent steps give tighter per-tile
    * boxes than Morton's quadrant jumps: 4 tiles / 2 337 rows scanned
    * vs 6 / 3 442 on this fixture, the measured reason
    * [[graft.sources.Sinks.writeHilbert]] exists. The oracle replays
    * the EXACT iterated xy2d law as a 17-step recursive CTE (same
    * `&`/reflect/swap arithmetic as the codegen expression —
    * two's-complement semantics match on negative intermediates) next
    * to the 16-term Morton interleave, so both curves' full tile
    * inventories are hash-pinned cross-engine. */
  val x200 = Q(
    "x200_hilbert_layout",
    Some {
      val morton = (0 until 16).map { b =>
        s"((qx // ${1L << b}) % 2) * ${1L << (2 * b)} + " +
          s"((qy // ${1L << b}) % 2) * ${1L << (2 * b + 1)}"
      }.mkString(" + ")
      "WITH RECURSIVE mm AS (SELECT MIN(l_partkey) AS mnx, MAX(l_partkey) AS mxx, " +
        "MIN(l_suppkey) AS mny, MAX(l_suppkey) AS mxy FROM lineitem), " +
        "q AS (SELECT (l_partkey - mnx) * 65535 // greatest(mxx - mnx, 1) AS qx, " +
        "(l_suppkey - mny) * 65535 // greatest(mxy - mny, 1) AS qy FROM lineitem, mm), " +
        // iterated xy2d over the DISTINCT grid points (duplicates join back)
        "pts AS (SELECT DISTINCT qx, qy FROM q), " +
        "h(qx0, qy0, x, y, d, s) AS (" +
        "SELECT qx, qy, qx, qy, CAST(0 AS BIGINT), CAST(32768 AS BIGINT) FROM pts " +
        "UNION ALL SELECT qx0, qy0, " +
        "CASE WHEN (y & s) = 0 THEN (CASE WHEN (x & s) <> 0 THEN s - 1 - y ELSE y END) ELSE x END, " +
        "CASE WHEN (y & s) = 0 THEN (CASE WHEN (x & s) <> 0 THEN s - 1 - x ELSE x END) ELSE y END, " +
        "d + s * s * xor(3 * (CASE WHEN (x & s) <> 0 THEN 1 ELSE 0 END), " +
        "CASE WHEN (y & s) <> 0 THEN 1 ELSE 0 END), " +
        "s // 2 FROM h WHERE s > 0), " +
        "hv AS (SELECT qx0 AS qx, qy0 AS qy, d AS hd FROM h WHERE s = 0), " +
        s"z AS (SELECT q.qx AS qx, q.qy AS qy, " +
        morton.replace("qx", "q.qx").replace("qy", "q.qy") +
        " AS zv, hv.hd AS hd FROM q JOIN hv " +
        "ON q.qx = hv.qx AND q.qy = hv.qy), " +
        "tiles AS (" +
        s"SELECT 'hilbert' AS layout, CAST(hd // 42949673 AS BIGINT) AS tile, " +
        s"$sqlCount AS n_rows, " +
        "CAST(MIN(qx) AS BIGINT) AS min_qx, CAST(MAX(qx) AS BIGINT) AS max_qx, " +
        "CAST(MIN(qy) AS BIGINT) AS min_qy, CAST(MAX(qy) AS BIGINT) AS max_qy " +
        "FROM z GROUP BY 2 " +
        "UNION ALL " +
        s"SELECT 'zorder', CAST(zv // 42949673 AS BIGINT), $sqlCount, " +
        "CAST(MIN(qx) AS BIGINT), CAST(MAX(qx) AS BIGINT), " +
        "CAST(MIN(qy) AS BIGINT), CAST(MAX(qy) AS BIGINT) FROM z GROUP BY 2) " +
        "SELECT *, (max_qx >= 28672 AND min_qx <= 36863 AND " +
        "max_qy >= 28672 AND min_qy <= 36863) AS scan_needed FROM tiles"
    }
  ) { t =>
    Layout.curveAudit(t.lineitem, "l_partkey", "l_suppkey",
      Seq("hilbert", "zorder"), curveTileWidth = 42949673L)
  }

  /** Matryoshka serving-dim recall curve (x196) —
    * [[Dedup.matryoshkaRecall]]: recall@10 of prefix-cosine retrieval
    * at d ∈ {8, 16, 32} against the full-64-dim ground truth, per
    * (d, query). The quantization ladder (PQ/SQ/BQ, x149+) compresses
    * per-element storage; THIS audit measures the orthogonal lever —
    * dropping trailing dimensions outright (Kusupati et al. 2022) —
    * which at 100 TB cuts scan, shuffle, AND index size linearly in d.
    * The oracle replays the same sequential-fold prefix dots. */
  val x196 = Q(
    "x196_matryoshka_recall",
    Some {
      def dotN(a: String, b: String, n: Int) =
        s"list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(range(1, ${n + 1}), " +
          s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)"
      val union = Seq(8, 16, 32, 64).map { d =>
        s"SELECT CAST($d AS BIGINT) AS d, a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
          s"${dotN("a.embedding", "b.embedding", d)} / " +
          s"(sqrt(${dotN("a.embedding", "a.embedding", d)}) * " +
          s"sqrt(${dotN("b.embedding", "b.embedding", d)})) AS cosine " +
          "FROM embeddings a JOIN embeddings b ON a.vec_id < 8 AND a.vec_id <> b.vec_id"
      }.mkString(" UNION ALL ")
      s"WITH sims AS ($union), " +
        "ranked AS (SELECT *, row_number() OVER (PARTITION BY d, query_id " +
        "ORDER BY cosine DESC, neighbor_id) AS rn FROM sims), " +
        "tk AS (SELECT d, query_id, neighbor_id FROM ranked WHERE rn <= 10), " +
        "truth AS (SELECT query_id, neighbor_id FROM tk WHERE d = 64) " +
        "SELECT t.d, t.query_id, " +
        "CAST(SUM(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit, " +
        "CAST(SUM(CASE WHEN g.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 10 AS recall " +
        "FROM tk t LEFT JOIN truth g ON t.query_id = g.query_id " +
        "AND t.neighbor_id = g.neighbor_id " +
        "WHERE t.d < 64 GROUP BY t.d, t.query_id"
    }
  ) { t =>
    Dedup.matryoshkaRecall(t.embeddings, "vec_id", "embedding",
      col("query_id") < 8, k = 10, dims = Seq(8, 16, 32), fullDim = 64)
  }

  // shared x197/x198 cheap-feature fragments: whitespace token count and
  // 'the'-occurrence count (the sparkWordCount replace-shrinkage law)
  private val duckTokCount =
    "CAST(length(text) - length(replace(text, ' ', '')) + 1 AS BIGINT)"
  private val duckTheCount = s"CAST(${duckWordCount("the")} AS BIGINT)"

  /** Closed-form linear probe (x197) — [[Learn.linearProbe]]: OLS of
    * `n_chars` on (1, token count, 'the' count) via the normal
    * equations, R² ≈ 0.995 on this corpus. The trained counterpart to
    * x161's STATIC hashed classifier: curation pipelines fit exactly
    * such probes to impute an expensive label from cheap per-doc
    * statistics, and the closed form makes training ONE
    * map-side-combined aggregate (ten DECIMAL-exact sufficient
    * statistics) + a constant-size Cramer solve — no iteration, no
    * driver-side data. The oracle runs the identical solve text, so
    * the doubles match bit-for-bit. */
  val x197 = Q(
    "x197_linear_probe",
    Some {
      def dsum(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(28,0))) AS DOUBLE)"
      s"WITH f AS (SELECT $duckTokCount AS x1, $duckTheCount AS x2, " +
        "CAST(n_chars AS BIGINT) AS y FROM documents), " +
        "s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, " +
        s"${dsum("x1")} AS s1, ${dsum("x2")} AS s2, " +
        s"${dsum("x1*x1")} AS s11, ${dsum("x1*x2")} AS s12, " +
        s"${dsum("x2*x2")} AS s22, ${dsum("y")} AS sy, " +
        s"${dsum("x1*y")} AS s1y, ${dsum("x2*y")} AS s2y, " +
        s"${dsum("y*y")} AS syy FROM f) " +
        "SELECT CAST(n AS BIGINT) AS n_docs, b0 AS beta0, b1 AS beta1, b2 AS beta2, " +
        "1 - (syy - b0*sy - b1*s1y - b2*s2y) / (syy - sy*sy/n) AS r2 " +
        "FROM (SELECT *, " +
        "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) / det AS b0, " +
        "(n*(s1y*s22 - s2y*s12) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) / det AS b1, " +
        "(n*(s11*s2y - s12*s1y) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) / det AS b2 " +
        "FROM (SELECT *, n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + " +
        "s2*(s1*s12 - s11*s2) AS det FROM s))"
    }
  ) { t =>
    Learn.linearProbe(t.documents,
      y = col("n_chars"),
      x1 = expr("length(text) - length(replace(text, ' ', '')) + 1"),
      x2 = expr(sparkWordCount("the")))
  }

  /** Per-source linear probes (x199) — [[Learn.linearProbeBy]]: x197's
    * closed-form OLS with `source` as a grouping key — one calibrated
    * probe per domain, the shape real curation uses (a global fit hides
    * per-domain slope differences; mixed crawls gate per source). Still
    * ONE map-side-combined pass: the sufficient-statistics aggregate
    * gains a grouping key, then one constant-size solve per group row.
    * Streaming twin: ProbeStream accumulates the same statistics as
    * per-batch partials and refits without rescanning history
    * (stream ≡ batch bit-for-bit, ProbeStreamSpec). */
  val x199 = Q(
    "x199_grouped_probe",
    Some {
      def dsum(e: String) = s"SUM(CAST($e AS DECIMAL(28,0)))"
      s"WITH f AS (SELECT source, $duckTokCount AS x1, $duckTheCount AS x2, " +
        "CAST(n_chars AS BIGINT) AS y FROM documents), " +
        "s AS (SELECT source, CAST(COUNT(*) AS DOUBLE) AS n, " +
        s"CAST(${dsum("x1")} AS DOUBLE) AS s1, CAST(${dsum("x2")} AS DOUBLE) AS s2, " +
        s"CAST(${dsum("x1*x1")} AS DOUBLE) AS s11, CAST(${dsum("x1*x2")} AS DOUBLE) AS s12, " +
        s"CAST(${dsum("x2*x2")} AS DOUBLE) AS s22, CAST(${dsum("y")} AS DOUBLE) AS sy, " +
        s"CAST(${dsum("x1*y")} AS DOUBLE) AS s1y, CAST(${dsum("x2*y")} AS DOUBLE) AS s2y, " +
        s"CAST(${dsum("y*y")} AS DOUBLE) AS syy FROM f GROUP BY source) " +
        "SELECT source, CAST(n AS BIGINT) AS n_docs, b0 AS beta0, b1 AS beta1, " +
        "b2 AS beta2, 1 - (syy - b0*sy - b1*s1y - b2*s2y) / (syy - sy*sy/n) AS r2 " +
        "FROM (SELECT *, " +
        "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) / det AS b0, " +
        "(n*(s1y*s22 - s2y*s12) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) / det AS b1, " +
        "(n*(s11*s2y - s12*s1y) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) / det AS b2 " +
        "FROM (SELECT *, n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + " +
        "s2*(s1*s12 - s11*s2) AS det FROM s))"
    }
  ) { t =>
    Learn.linearProbeBy(t.documents,
      key = col("source"),
      y = col("n_chars"),
      x1 = expr("length(text) - length(replace(text, ' ', '')) + 1"),
      x2 = expr(sparkWordCount("the")))
      .withColumnRenamed("key", "source")
  }

  /** Full-batch perceptron gate (x198) — [[Learn.perceptronGate]]: the
    * ITERATIVE trainer next to x197's closed form — 3 unrolled epochs
    * of `w += Σ_misclassified y·x` over integer-centered features
    * (1, token count, 'the' count) with label `n_chars ≥ 300`, exact
    * int64 throughout (the x152/x162 fixed-point template applied to
    * model fitting: scan → filtered 1-row aggregate → broadcast
    * update). Reaches 99 % train accuracy here; LearnSpec pins that the
    * UNcentered variant oscillates below the majority rate — the
    * conditioning lesson, spec-carried. Oracle: the same three epochs
    * as unrolled CTEs. */
  val x198 = Q(
    "x198_perceptron_gate",
    Some {
      def w(prev: Option[String]): String = {
        val (pa, pb, pc) = prev match {
          case None => ("CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)", "CAST(0 AS BIGINT)")
          case Some(p) =>
            (s"(SELECT a FROM $p)", s"(SELECT b FROM $p)", s"(SELECT c FROM $p)")
        }
        val cond = prev match {
          case None => "TRUE"
          case Some(p) =>
            s"y * ((SELECT a FROM $p)*x0 + (SELECT b FROM $p)*x1 + " +
              s"(SELECT c FROM $p)*x2) <= 0"
        }
        s"(SELECT $pa + COALESCE((SELECT SUM(y*x0) FROM f WHERE $cond), 0) AS a, " +
          s"$pb + COALESCE((SELECT SUM(y*x1) FROM f WHERE $cond), 0) AS b, " +
          s"$pc + COALESCE((SELECT SUM(y*x2) FROM f WHERE $cond), 0) AS c)"
      }
      s"WITH raw AS (SELECT $duckTokCount AS r1, $duckTheCount AS r2, " +
        "CASE WHEN n_chars >= 300 THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END AS y " +
        "FROM documents), " +
        "ctr AS (SELECT SUM(r1) // COUNT(*) AS c1, SUM(r2) // COUNT(*) AS c2 FROM raw), " +
        "f AS (SELECT CAST(1 AS BIGINT) AS x0, r1 - (SELECT c1 FROM ctr) AS x1, " +
        "r2 - (SELECT c2 FROM ctr) AS x2, y FROM raw), " +
        s"w1 AS ${w(None)}, w2 AS ${w(Some("w1"))}, w3 AS ${w(Some("w2"))} " +
        "SELECT CAST(a AS BIGINT) AS w0, CAST(b AS BIGINT) AS w1, CAST(c AS BIGINT) AS w2, " +
        s"$sqlCount AS n_total, " +
        "CAST(SUM(CASE WHEN y*(a*x0+b*x1+c*x2) > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, " +
        "CAST(SUM(CASE WHEN y*(a*x0+b*x1+c*x2) > 0 THEN 1 ELSE 0 END) AS DOUBLE)/COUNT(*) AS accuracy " +
        "FROM f, w3 GROUP BY a, b, c"
    }
  ) { t =>
    Learn.perceptronGate(t.documents,
      label = when(col("n_chars") >= 300, 1L).otherwise(-1L),
      x1 = expr("length(text) - length(replace(text, ' ', '')) + 1"),
      x2 = expr(sparkWordCount("the")),
      epochs = 3)
  }

  /** Bernoulli naive-Bayes gate (x201) — [[Learn.naiveBayesGate]]: the
    * GENERATIVE trainer completing the in-engine family (x197
    * closed-form OLS, x198 discriminative perceptron): per-class
    * word-presence counts with add-1 smoothing trained on the even-id
    * half, confusion reported on the odd half — 88 % test accuracy vs
    * the 56 % majority rate here. Scores are exact decimal sums of
    * once-rounded logs (the x103 discipline), and the full-vocab
    * Bernoulli sum is rewritten through a per-class absent-word base so
    * scoring joins only each doc's present words. */
  val x201 = Q(
    "x201_naive_bayes_gate",
    Some(
      "WITH d AS (SELECT doc_id, text, n_chars >= 300 AS y FROM documents), " +
        "tr AS (SELECT doc_id, y FROM d WHERE doc_id % 2 = 0), " +
        "te AS (SELECT doc_id, y FROM d WHERE doc_id % 2 = 1), " +
        "trw AS (SELECT DISTINCT doc_id, w FROM (SELECT doc_id, " +
        "unnest(string_split(text, ' ')) AS w FROM d WHERE doc_id % 2 = 0)), " +
        "tew AS (SELECT DISTINCT doc_id, w FROM (SELECT doc_id, " +
        "unnest(string_split(text, ' ')) AS w FROM d WHERE doc_id % 2 = 1)), " +
        s"nc AS (SELECT y, $sqlCount AS n FROM tr GROUP BY y), " +
        s"cnt AS (SELECT w, y, $sqlCount AS c FROM trw JOIN tr USING (doc_id) " +
        "GROUP BY w, y), " +
        "vocab AS (SELECT DISTINCT w FROM trw), " +
        "grid AS (SELECT v.w, nc.y, COALESCE(cnt.c, 0) AS c, nc.n " +
        "FROM vocab v CROSS JOIN nc LEFT JOIN cnt ON cnt.w = v.w AND cnt.y = nc.y), " +
        "wt AS (SELECT w, y, " +
        "CAST(round(ln(CAST(c + 1 AS DOUBLE) / (n + 2)), 6) AS DECIMAL(12,6)) AS lp, " +
        "CAST(round(ln(1 - CAST(c + 1 AS DOUBLE) / (n + 2)), 6) AS DECIMAL(12,6)) AS lq " +
        "FROM grid), " +
        "base AS (SELECT y, SUM(lq) AS b FROM wt GROUP BY y), " +
        "prior AS (SELECT y, CAST(round(ln(CAST(n AS DOUBLE) / " +
        "(SELECT SUM(n) FROM nc)), 6) AS DECIMAL(12,6)) AS pr FROM nc), " +
        "sc AS (SELECT t.doc_id, wt.y AS cls, SUM(wt.lp - wt.lq) AS s " +
        "FROM tew t JOIN wt ON t.w = wt.w GROUP BY 1, 2), " +
        "scored AS (SELECT te.doc_id, te.y AS truth, nc.y AS cls, " +
        "prior.pr + base.b + COALESCE(sc.s, 0) AS score " +
        "FROM te CROSS JOIN nc " +
        "JOIN prior ON prior.y = nc.y JOIN base ON base.y = nc.y " +
        "LEFT JOIN sc ON sc.doc_id = te.doc_id AND sc.cls = nc.y), " +
        "pred AS (SELECT doc_id, truth, " +
        "MAX(CASE WHEN cls THEN score END) > MAX(CASE WHEN NOT cls THEN score END) AS p " +
        "FROM scored GROUP BY 1, 2) " +
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tr) AS n_train, " +
        s"$sqlCount AS n_test, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM vocab) AS vocab_size, " +
        "CAST(SUM(CASE WHEN p AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(SUM(CASE WHEN p AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(SUM(CASE WHEN NOT p AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn, " +
        "CAST(SUM(CASE WHEN NOT p AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
        "CAST(SUM(CASE WHEN p = truth THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy " +
        "FROM pred"
    )
  ) { t =>
    Learn.naiveBayesGate(t.documents, "doc_id", "text",
      label = col("n_chars") >= 300)
  }

  /** Water-filling mixture allocation (x202) —
    * [[Corpus.waterfillAllocation]]: the data-constrained token
    * allocator (small sources keep everything, large sources cap at a
    * common water level solved so Σ allocated = budget EXACTLY — here
    * budget = total div 2). Completes the mixing family: x60 is
    * proportional (temperature), x79 caps at a GIVEN level with the
    * budget emergent, x68 selects by score under a budget; this solves
    * the level FROM the budget, in pure int64 (the saturated-set test
    * `c₍ₖ₎·(S−k) ≤ B − prefix(k)` needs no division or floats). */
  val x202 = Q(
    "x202_waterfill_mixture",
    Some(
      "WITH per AS (SELECT source, CAST(SUM(length(text) - " +
        "length(replace(text, ' ', '')) + 1) AS BIGINT) AS c " +
        "FROM documents GROUP BY source), " +
        s"tot AS (SELECT $sqlCount AS nsrc, CAST(SUM(c) AS BIGINT) AS total FROM per), " +
        "ranked AS (SELECT source, c, nsrc, total // 2 AS budget, " +
        "CAST(row_number() OVER (ORDER BY c, source) AS BIGINT) AS k, " +
        "CAST(SUM(c) OVER (ORDER BY c, source ROWS UNBOUNDED PRECEDING) AS BIGINT) AS prefix " +
        "FROM per, tot), " +
        "ks AS (SELECT COALESCE(MAX(k), 0) AS kstar, COALESCE(MAX(prefix), 0) AS prefix_k " +
        "FROM ranked WHERE c * (nsrc - k) <= budget - prefix) " +
        "SELECT source, c AS c_tokens, " +
        "CAST(CASE WHEN k <= kstar THEN c ELSE " +
        "(budget - prefix_k) // (nsrc - kstar) + " +
        "(CASE WHEN k - kstar <= (budget - prefix_k) % (nsrc - kstar) " +
        "THEN 1 ELSE 0 END) END AS BIGINT) AS allocated, " +
        "(k <= kstar) AS capped " +
        "FROM ranked, ks"
    )
  ) { t =>
    Corpus.waterfillAllocation(t.documents, "source",
      expr("length(text) - length(replace(text, ' ', '')) + 1"),
      budgetDiv = 2L)
  }

  /** One-scan k-fold cross-validation of the linear probe (x203) —
    * [[Learn.linearProbeCv]]: because the OLS sufficient statistics
    * are mergeable AND subtractable, fold f's training statistics are
    * `total − stats(f)` (exact decimal subtraction) and even the
    * holdout error expands in the fold's own moment matrix — so the
    * ENTIRE 5-fold CV (five trained models + five out-of-fold MSEs/R²)
    * is one groupBy(fold) aggregate over the corpus. The overfitting
    * audit a probe-fitting pipeline runs, at the cost of a histogram. */
  val x203 = Q(
    "x203_probe_cv",
    Some {
      val ns = Seq("n", "s1", "s2", "s11", "s12", "s22", "sy", "s1y", "s2y", "syy")
      def dsum(e: String) = s"SUM(CAST($e AS DECIMAL(28,0)))"
      val mseNum =
        "(CAST(syy AS DOUBLE) - 2*(b0*CAST(sy AS DOUBLE) + b1*CAST(s1y AS DOUBLE) + b2*CAST(s2y AS DOUBLE)) + " +
          "(b0*b0*CAST(n AS DOUBLE) + b1*b1*CAST(s11 AS DOUBLE) + b2*b2*CAST(s22 AS DOUBLE) + " +
          "2*b0*b1*CAST(s1 AS DOUBLE) + 2*b0*b2*CAST(s2 AS DOUBLE) + 2*b1*b2*CAST(s12 AS DOUBLE)))"
      s"WITH f AS (SELECT doc_id % 5 AS fold, $duckTokCount AS x1, " +
        s"$duckTheCount AS x2, CAST(n_chars AS BIGINT) AS y FROM documents), " +
        "pf AS (SELECT fold, CAST(COUNT(*) AS DECIMAL(28,0)) AS n, " +
        s"${dsum("x1")} AS s1, ${dsum("x2")} AS s2, ${dsum("x1*x1")} AS s11, " +
        s"${dsum("x1*x2")} AS s12, ${dsum("x2*x2")} AS s22, ${dsum("y")} AS sy, " +
        s"${dsum("x1*y")} AS s1y, ${dsum("x2*y")} AS s2y, ${dsum("y*y")} AS syy " +
        "FROM f GROUP BY fold), " +
        s"tot AS (SELECT ${ns.map(c => s"SUM($c) AS t_$c").mkString(", ")} FROM pf), " +
        s"tr AS (SELECT fold, ${ns.map(c => s"CAST(t_$c - $c AS DOUBLE) AS $c").mkString(", ")} " +
        "FROM pf, tot), " +
        "sol AS (SELECT fold, n AS tn, " +
        "(sy*(s11*s22 - s12*s12) - s1*(s1y*s22 - s12*s2y) + s2*(s1y*s12 - s11*s2y)) / det AS b0, " +
        "(n*(s1y*s22 - s2y*s12) - sy*(s1*s22 - s12*s2) + s2*(s1*s2y - s1y*s2)) / det AS b1, " +
        "(n*(s11*s2y - s12*s1y) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - s11*s2)) / det AS b2 " +
        "FROM (SELECT *, n*(s11*s22 - s12*s12) - s1*(s1*s22 - s12*s2) + " +
        "s2*(s1*s12 - s11*s2) AS det FROM tr)) " +
        "SELECT sol.fold AS fold, CAST(tn AS BIGINT) AS n_train, " +
        "CAST(pf.n AS BIGINT) AS n_test, b0 AS beta0, b1 AS beta1, b2 AS beta2, " +
        s"$mseNum / CAST(n AS DOUBLE) AS mse, " +
        s"1 - $mseNum / (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE)/CAST(n AS DOUBLE)) AS r2_holdout " +
        "FROM sol JOIN pf ON sol.fold = pf.fold"
    }
  ) { t =>
    Learn.linearProbeCv(t.documents,
      y = col("n_chars"),
      x1 = expr("length(text) - length(replace(text, ' ', '')) + 1"),
      x2 = expr(sparkWordCount("the")),
      foldOf = col("doc_id") % 5)
  }

  /** Vocab-capped naive-Bayes gate (x204) —
    * [[Learn.naiveBayesGateCapped]]: x201's Bernoulli trainer with the
    * vocabulary capped to the top-16 training words by document
    * frequency (ties → word asc), the registered WEB-SCALE form per the
    * x142/x179 demote-the-unbounded precedent: the uncapped weight
    * table is corpus-vocabulary-sized (could outgrow a broadcast at
    * 100 TB), the capped one is K·classes rows by construction, and
    * the cap itself is a TakeOrdered over the already-pinned per-word
    * counts (never a global sort, never a corpus rescan). Same exact
    * once-rounded-decimal arithmetic, same absent-word-base rewrite —
    * the oracle differs from x201's only in the vocab CTE. LearnSpec
    * pins the accuracy cost vs the uncapped gate on the fixture. */
  val x204 = Q(
    "x204_nb_vocab_cap",
    Some(
      "WITH d AS (SELECT doc_id, text, n_chars >= 300 AS y FROM documents), " +
        "tr AS (SELECT doc_id, y FROM d WHERE doc_id % 2 = 0), " +
        "te AS (SELECT doc_id, y FROM d WHERE doc_id % 2 = 1), " +
        "trw AS (SELECT DISTINCT doc_id, w FROM (SELECT doc_id, " +
        "unnest(string_split(text, ' ')) AS w FROM d WHERE doc_id % 2 = 0)), " +
        "tew AS (SELECT DISTINCT doc_id, w FROM (SELECT doc_id, " +
        "unnest(string_split(text, ' ')) AS w FROM d WHERE doc_id % 2 = 1)), " +
        s"nc AS (SELECT y, $sqlCount AS n FROM tr GROUP BY y), " +
        s"cnt AS (SELECT w, y, $sqlCount AS c FROM trw JOIN tr USING (doc_id) " +
        "GROUP BY w, y), " +
        "vocab AS (SELECT w FROM (SELECT w, COUNT(*) AS df FROM trw " +
        "GROUP BY w ORDER BY df DESC, w LIMIT 16)), " +
        "grid AS (SELECT v.w, nc.y, COALESCE(cnt.c, 0) AS c, nc.n " +
        "FROM vocab v CROSS JOIN nc LEFT JOIN cnt ON cnt.w = v.w AND cnt.y = nc.y), " +
        "wt AS (SELECT w, y, " +
        "CAST(round(ln(CAST(c + 1 AS DOUBLE) / (n + 2)), 6) AS DECIMAL(12,6)) AS lp, " +
        "CAST(round(ln(1 - CAST(c + 1 AS DOUBLE) / (n + 2)), 6) AS DECIMAL(12,6)) AS lq " +
        "FROM grid), " +
        "base AS (SELECT y, SUM(lq) AS b FROM wt GROUP BY y), " +
        "prior AS (SELECT y, CAST(round(ln(CAST(n AS DOUBLE) / " +
        "(SELECT SUM(n) FROM nc)), 6) AS DECIMAL(12,6)) AS pr FROM nc), " +
        "sc AS (SELECT t.doc_id, wt.y AS cls, SUM(wt.lp - wt.lq) AS s " +
        "FROM tew t JOIN wt ON t.w = wt.w GROUP BY 1, 2), " +
        "scored AS (SELECT te.doc_id, te.y AS truth, nc.y AS cls, " +
        "prior.pr + base.b + COALESCE(sc.s, 0) AS score " +
        "FROM te CROSS JOIN nc " +
        "JOIN prior ON prior.y = nc.y JOIN base ON base.y = nc.y " +
        "LEFT JOIN sc ON sc.doc_id = te.doc_id AND sc.cls = nc.y), " +
        "pred AS (SELECT doc_id, truth, " +
        "MAX(CASE WHEN cls THEN score END) > MAX(CASE WHEN NOT cls THEN score END) AS p " +
        "FROM scored GROUP BY 1, 2) " +
        "SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tr) AS n_train, " +
        s"$sqlCount AS n_test, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM vocab) AS vocab_size, " +
        "CAST(SUM(CASE WHEN p AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp, " +
        "CAST(SUM(CASE WHEN p AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp, " +
        "CAST(SUM(CASE WHEN NOT p AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS tn, " +
        "CAST(SUM(CASE WHEN NOT p AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn, " +
        "CAST(SUM(CASE WHEN p = truth THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy " +
        "FROM pred"
    )
  ) { t =>
    Learn.naiveBayesGateCapped(t.documents, "doc_id", "text",
      label = col("n_chars") >= 300, vocabK = 16)
  }

  /** Overflow-split harmonic packing (x205) — [[Corpus.splitOversize]]
    * composed with x193's HARMONIC pack law, closing x193's one open
    * edge: docs longer than the window (W = 64 here so the fixture
    * actually exercises the split; the law is W-invariant) no longer
    * land one-per-bin with an `overflow` flag — they are first split
    * into ⌈n/W⌉ consecutive ≤W-token REAL-TEXT chunks, and the packer
    * then packs chunks instead of docs, so by construction every bin
    * fits the window and the overflow column is uniformly false
    * (PackingSpec pins both the zero-overflow guarantee and exact
    * token conservation through split + repack). Same fully-parallel
    * shape as x193: the split is a per-row generate on the oversize
    * subset only, the pack is one (source, class)-partitioned
    * row_number — no sequential dependency, no global sort. */
  val x205 = Q(
    "x205_overflow_split_packing",
    Some(
      "WITH t AS (SELECT source, doc_id, string_split(text, ' ') AS ws, " +
        "CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents), " +
        "ch AS (" +
        "SELECT source, doc_id, CAST(0 AS BIGINT) AS chunk_idx, n AS c_tokens " +
        "FROM t WHERE n <= 64 " +
        "UNION ALL " +
        "SELECT source, doc_id, CAST(ci AS BIGINT) AS chunk_idx, " +
        "CAST(len(ws[CAST(ci * 64 + 1 AS INT) : CAST(ci * 64 + 64 AS INT)]) AS BIGINT) AS c_tokens " +
        "FROM (SELECT source, doc_id, ws, unnest(range(0, (n - 1) // 64 + 1)) AS ci " +
        "FROM t WHERE n > 64)), " +
        "cl AS (SELECT source, doc_id, chunk_idx, c_tokens, " +
        "GREATEST(64 // c_tokens, 1) AS k FROM ch), " +
        "rnk AS (SELECT source, doc_id, chunk_idx, c_tokens, k, " +
        "CAST(row_number() OVER (PARTITION BY source, k " +
        "ORDER BY c_tokens DESC, doc_id, chunk_idx) AS BIGINT) AS rn FROM cl) " +
        "SELECT source, k, (rn - 1) // k AS bin_id, " +
        s"$sqlCount AS n_chunks, CAST(SUM(c_tokens) AS BIGINT) AS tokens, " +
        "SUM(c_tokens) / 64.0 AS fill, " +
        "MAX(c_tokens) > 64 AS overflow " +
        "FROM rnk GROUP BY 1, 2, 3"
    )
  ) { t =>
    val W = 64L
    val chunks = Corpus
      .splitOversize(t.documents, "doc_id", "text", W.toInt,
        keep = Seq("source"))
      .select(col("source"), col("doc_id"), col("chunk_idx"),
        graft.functions.Text.tokenCount("chunk").as("c_tokens"))
    val w = Window.partitionBy(col("source"), col("k"))
      .orderBy(col("c_tokens").desc, col("doc_id"), col("chunk_idx"))
    chunks
      .withColumn("k", greatest(expr(s"$W div c_tokens"), lit(1L)))
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("bin_id", expr("(rn - 1) div k"))
      .groupBy(col("source"), col("k"), col("bin_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("c_tokens")).as("tokens"),
        (sum(col("c_tokens")).cast("double") / lit(64.0)).as("fill"),
        (max(col("c_tokens")) > lit(W)).as("overflow"))
  }

  /** Closed-form ridge probe (x206) — [[Learn.ridgeProbe]]: x197's OLS
    * with an L2 penalty on the slopes (intercept unpenalized),
    * λ = 1000·n so the shrinkage is the same FRACTION of the per-row
    * second moment at any corpus size (a fixed absolute λ would vanish
    * at 100 TB). Completes the closed-form corner of the trainer
    * family: the collinearity-robust fit a curation pipeline reaches
    * for when two cheap features nearly alias (token count vs byte
    * count) and the raw normal equations go ill-conditioned. Same ONE
    * map-side-combined statistics pass; the solve is the identical
    * Cramer text with (s11+λ, s22+λ) on the diagonal, and R² expands
    * in the RAW moments (exact for any β), so both engines agree
    * bit-for-bit. */
  val x206 = Q(
    "x206_ridge_probe",
    Some {
      def dsum(e: String) = s"CAST(SUM(CAST($e AS DECIMAL(28,0))) AS DOUBLE)"
      s"WITH f AS (SELECT $duckTokCount AS x1, $duckTheCount AS x2, " +
        "CAST(n_chars AS BIGINT) AS y FROM documents), " +
        "s AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n, " +
        s"${dsum("x1")} AS s1, ${dsum("x2")} AS s2, " +
        s"${dsum("x1*x1")} AS s11, ${dsum("x1*x2")} AS s12, " +
        s"${dsum("x2*x2")} AS s22, ${dsum("y")} AS sy, " +
        s"${dsum("x1*y")} AS s1y, ${dsum("x2*y")} AS s2y, " +
        s"${dsum("y*y")} AS syy FROM f), " +
        "sl AS (SELECT *, CAST(1000 AS DOUBLE) * n AS L FROM s) " +
        "SELECT CAST(n AS BIGINT) AS n_docs, CAST(1000 AS BIGINT) AS lambda_per_row, " +
        "b0 AS beta0, b1 AS beta1, b2 AS beta2, " +
        "1 - (syy - 2*(b0*sy + b1*s1y + b2*s2y) + " +
        "(b0*b0*n + b1*b1*s11 + b2*b2*s22 + 2*b0*b1*s1 + 2*b0*b2*s2 + 2*b1*b2*s12)) / " +
        "(syy - sy*sy/n) AS r2 " +
        "FROM (SELECT *, " +
        "(sy*((s11+L)*(s22+L) - s12*s12) - s1*(s1y*(s22+L) - s12*s2y) + s2*(s1y*s12 - (s11+L)*s2y)) / det AS b0, " +
        "(n*(s1y*(s22+L) - s2y*s12) - sy*(s1*(s22+L) - s12*s2) + s2*(s1*s2y - s1y*s2)) / det AS b1, " +
        "(n*((s11+L)*s2y - s12*s1y) - s1*(s1*s2y - s1y*s2) + sy*(s1*s12 - (s11+L)*s2)) / det AS b2 " +
        "FROM (SELECT *, " +
        "n*((s11+L)*(s22+L) - s12*s12) - s1*(s1*(s22+L) - s12*s2) + s2*(s1*s12 - (s11+L)*s2) AS det " +
        "FROM sl))"
    }
  ) { t =>
    Learn.ridgeProbe(t.documents,
      y = col("n_chars"),
      x1 = expr("length(text) - length(replace(text, ' ', '')) + 1"),
      x2 = expr(sparkWordCount("the")),
      lambdaPerRow = 1000L)
  }

  /** Logistic probe (x207) — [[Learn.logisticProbe]]: two Newton/IRLS
    * steps on (1, token count, 'the' count) with label n_chars ≥ 300 —
    * the same gate and features as the perceptron (x198) and NB
    * (x201), so the three classifier families are directly comparable
    * on one fixture (LearnSpec pins the accuracy ordering). Each step
    * is ONE map-side-combined aggregate (nine exact-decimal weighted
    * moments of once-rounded w = p(1−p) and r = y−p) + a constant-size
    * weighted Cramer solve — the x197 sufficient-statistics shape made
    * iterative, scan count fixed at iters+2. The oracle replays the
    * identical [[LogitText]] strings as unrolled CTEs, so β and the
    * confusion are bit-identical cross-engine. */
  val x207 = Q(
    "x207_logistic_probe",
    Some {
      def bref(cte: String, c: String) = s"(SELECT $c FROM $cte)"
      def iter(prev: String, cur: String): String = {
        val p = LogitText.p(LogitText.t(
          bref(prev, "b0"), bref(prev, "b1"), bref(prev, "b2")))
        val aggs = LogitText.aggs
          .map { case (n, e) => s"$e AS $n" }.mkString(", ")
        s"m$cur AS (SELECT $aggs FROM (SELECT y, x1, x2, " +
          s"${LogitText.w6(p)} AS w6, ${LogitText.r6(p)} AS r6 FROM f) q), " +
          s"b$cur AS (SELECT ${bref(prev, "b0")} + ${LogitText.d0} AS b0, " +
          s"${bref(prev, "b1")} + ${LogitText.d1} AS b1, " +
          s"${bref(prev, "b2")} + ${LogitText.d2} AS b2 " +
          s"FROM (SELECT *, ${LogitText.det} AS det FROM m$cur) q)"
      }
      val tFin = LogitText.t(
        bref("bi2", "b0"), bref("bi2", "b1"), bref("bi2", "b2"))
      s"WITH raw AS (SELECT $duckTokCount AS r1, $duckTheCount AS r2, " +
        "CASE WHEN n_chars >= 300 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y " +
        "FROM documents), " +
        "ctr AS (SELECT SUM(r1) // COUNT(*) AS c1, SUM(r2) // COUNT(*) AS c2 FROM raw), " +
        "f AS (SELECT y, r1 - (SELECT c1 FROM ctr) AS x1, " +
        "r2 - (SELECT c2 FROM ctr) AS x2 FROM raw), " +
        "bi0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1, " +
        "CAST(0.0 AS DOUBLE) AS b2), " +
        s"${iter("bi0", "i1")}, ${iter("bi1", "i2")} " +
        "SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, " +
        s"${bref("bi2", "b0")} AS beta0, ${bref("bi2", "b1")} AS beta1, " +
        s"${bref("bi2", "b2")} AS beta2, " +
        s"CAST(SUM(CASE WHEN (CASE WHEN $tFin >= 0 THEN 1 ELSE 0 END) = y " +
        "THEN 1 ELSE 0 END) AS BIGINT) AS n_correct, " +
        s"CAST(SUM(CASE WHEN (CASE WHEN $tFin >= 0 THEN 1 ELSE 0 END) = y " +
        "THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS accuracy " +
        "FROM f"
    }
  ) { t =>
    Learn.logisticProbe(t.documents,
      label = when(col("n_chars") >= 300, 1L).otherwise(0L),
      x1 = expr("length(text) - length(replace(text, ' ', '')) + 1"),
      x2 = expr(sparkWordCount("the")),
      iters = 2)
  }

  /** One-scan logistic probe (x208) — [[Learn.logisticProbeHist]]:
    * x207's IRLS restated over the FEATURE HISTOGRAM. The loss depends
    * on the corpus only through the (label, x1, x2) multiset, and both
    * features are small-domain integer counts, so one
    * map-side-combined groupBy collapses the corpus to ≤ |x1 domain| ×
    * |x2 domain| × 2 cells — after which every Newton iteration (and
    * the confusion) is arithmetic over a broadcast-sized frame. THIS is
    * the 100 TB registered form: training cost = one corpus scan,
    * iterations free; x207 keeps the row-form contract the oracle
    * family started from. Weighted moments are exact DECIMAL(38,0)
    * sums of int64 micro-unit terms × cell counts ([[LogitText]]
    * aggsW — identical text both engines), so the fit carries a full
    * hash oracle. The histogram is also the mergeable partial behind
    * [[graft.streaming.LogitStream]]'s streamed refit. */
  val x208 = Q(
    "x208_logistic_probe_hist",
    Some {
      def bref(cte: String, c: String) = s"(SELECT $c FROM $cte)"
      def iter(prev: String, cur: String): String = {
        val p = LogitText.p(LogitText.t(
          bref(prev, "b0"), bref(prev, "b1"), bref(prev, "b2")))
        val aggs = LogitText.aggsW
          .map { case (n, e) => s"$e AS $n" }.mkString(", ")
        s"m$cur AS (SELECT $aggs FROM (SELECT y, x1, x2, c, " +
          s"${LogitText.w6i(p)} AS w6i, ${LogitText.r6i(p)} AS r6i FROM f) q), " +
          s"b$cur AS (SELECT ${bref(prev, "b0")} + ${LogitText.d0} AS b0, " +
          s"${bref(prev, "b1")} + ${LogitText.d1} AS b1, " +
          s"${bref(prev, "b2")} + ${LogitText.d2} AS b2 " +
          s"FROM (SELECT *, ${LogitText.det} AS det FROM m$cur) q)"
      }
      val tFin = LogitText.t(
        bref("bi2", "b0"), bref("bi2", "b1"), bref("bi2", "b2"))
      s"WITH raw AS (SELECT $duckTokCount AS r1, $duckTheCount AS r2, " +
        "CASE WHEN n_chars >= 300 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y " +
        "FROM documents), " +
        "hist AS (SELECT y, r1, r2, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM raw GROUP BY y, r1, r2), " +
        "ctr AS (SELECT SUM(c * r1) // SUM(c) AS c1, " +
        "SUM(c * r2) // SUM(c) AS c2 FROM hist), " +
        "f AS (SELECT y, r1 - (SELECT c1 FROM ctr) AS x1, " +
        "r2 - (SELECT c2 FROM ctr) AS x2, c FROM hist), " +
        "bi0 AS (SELECT CAST(0.0 AS DOUBLE) AS b0, CAST(0.0 AS DOUBLE) AS b1, " +
        "CAST(0.0 AS DOUBLE) AS b2), " +
        s"${iter("bi0", "i1")}, ${iter("bi1", "i2")} " +
        "SELECT CAST(SUM(c) AS BIGINT) AS n_docs, " +
        s"${bref("bi2", "b0")} AS beta0, ${bref("bi2", "b1")} AS beta1, " +
        s"${bref("bi2", "b2")} AS beta2, " +
        s"CAST(SUM(CASE WHEN (CASE WHEN $tFin >= 0 THEN 1 ELSE 0 END) = y " +
        "THEN c ELSE 0 END) AS BIGINT) AS n_correct, " +
        s"CAST(SUM(CASE WHEN (CASE WHEN $tFin >= 0 THEN 1 ELSE 0 END) = y " +
        "THEN c ELSE 0 END) AS DOUBLE) / SUM(c) AS accuracy " +
        "FROM f"
    }
  ) { t =>
    Learn.logisticProbeHist(t.documents,
      label = when(col("n_chars") >= 300, 1L).otherwise(0L),
      x1 = expr("length(text) - length(replace(text, ' ', '')) + 1"),
      x2 = expr(sparkWordCount("the")),
      iters = 2)
  }

  /** Per-source grouped logistic probes (x209) —
    * [[Learn.logisticProbeHistBy]]: one calibrated quality gate per
    * domain, x199's per-source pattern applied to the classifier. A
    * global gate hides per-domain slope differences (a threshold tuned
    * on the pooled corpus systematically over/under-prunes individual
    * sources — x101/x135's motivation); mixed crawls gate per source.
    * Same one-scan histogram shape as x208 with the key riding the
    * cells; the IRLS state is a sources-bounded broadcast β table and
    * degenerate groups keep β (det-gated delta) instead of going NaN.
    * The oracle replays the per-group iterations as keyed joins —
    * every moment exact, full hash gate. */
  val x209 = Q(
    "x209_grouped_logistic",
    Some {
      def iter(prev: String, cur: String): String = {
        val p = LogitText.p(LogitText.t("b0", "b1", "b2"))
        val aggs = LogitText.aggsW
          .map { case (n, e) => s"$e AS $n" }.mkString(", ")
        s"m$cur AS (SELECT key, $aggs FROM (SELECT f.key, f.y, f.x1, f.x2, f.c, " +
          s"${LogitText.w6i(p)} AS w6i, ${LogitText.r6i(p)} AS r6i " +
          s"FROM f JOIN $prev b USING (key)) q GROUP BY key), " +
          s"b$cur AS (SELECT m.key, " +
          s"b.b0 + ${LogitText.dSafe(LogitText.d0)} AS b0, " +
          s"b.b1 + ${LogitText.dSafe(LogitText.d1)} AS b1, " +
          s"b.b2 + ${LogitText.dSafe(LogitText.d2)} AS b2 " +
          s"FROM (SELECT *, ${LogitText.det} AS det FROM m$cur) m " +
          s"JOIN $prev b USING (key))"
      }
      val tFin = LogitText.t("b0", "b1", "b2")
      s"WITH raw AS (SELECT source AS key, $duckTokCount AS r1, $duckTheCount AS r2, " +
        "CASE WHEN n_chars >= 300 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y " +
        "FROM documents), " +
        "hist AS (SELECT key, y, r1, r2, CAST(COUNT(*) AS BIGINT) AS c " +
        "FROM raw GROUP BY key, y, r1, r2), " +
        "ctr AS (SELECT key, SUM(c * r1) // SUM(c) AS c1, " +
        "SUM(c * r2) // SUM(c) AS c2 FROM hist GROUP BY key), " +
        "f AS (SELECT h.key, h.y, h.r1 - ctr.c1 AS x1, h.r2 - ctr.c2 AS x2, h.c " +
        "FROM hist h JOIN ctr USING (key)), " +
        "bi0 AS (SELECT DISTINCT key, CAST(0.0 AS DOUBLE) AS b0, " +
        "CAST(0.0 AS DOUBLE) AS b1, CAST(0.0 AS DOUBLE) AS b2 FROM f), " +
        s"${iter("bi0", "i1")}, ${iter("bi1", "i2")} " +
        "SELECT f.key AS source, CAST(SUM(c) AS BIGINT) AS n_docs, " +
        "b0 AS beta0, b1 AS beta1, b2 AS beta2, " +
        s"CAST(SUM(CASE WHEN (CASE WHEN $tFin >= 0 THEN 1 ELSE 0 END) = y " +
        "THEN c ELSE 0 END) AS BIGINT) AS n_correct, " +
        s"CAST(SUM(CASE WHEN (CASE WHEN $tFin >= 0 THEN 1 ELSE 0 END) = y " +
        "THEN c ELSE 0 END) AS DOUBLE) / SUM(c) AS accuracy " +
        "FROM f JOIN bi2 b USING (key) GROUP BY f.key, b0, b1, b2"
    }
  ) { t =>
    Learn.logisticProbeHistBy(t.documents,
      key = col("source"),
      label = when(col("n_chars") >= 300, 1L).otherwise(0L),
      x1 = expr("length(text) - length(replace(text, ' ', '')) + 1"),
      x2 = expr(sparkWordCount("the")),
      iters = 2)
      .withColumnRenamed("key", "source")
  }

  /** Gopher-style duplicate n-gram coverage (x210) —
    * [[Corpus.dupNgramCoverage]] at n = 3: the fraction of each
    * document's token positions covered by within-doc repeated
    * trigrams, overlaps counted once — the repetition filter that
    * catches looped/templated spans x24's word-level fractions miss.
    * Oracle replays the same position-set law (duplicate grams →
    * exploded offset ranges → DISTINCT positions), so the division is
    * int/int in both engines — hash-exact doubles. */
  val x210 = Q(
    "x210_dup_ngram_coverage",
    Some(
      "WITH wl AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
        "g AS (SELECT doc_id, i, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gr " +
        "FROM wl, unnest(range(1, greatest(len(w) - 1, 1))) AS t(i)), " +
        "dupg AS (SELECT doc_id, gr FROM g GROUP BY doc_id, gr HAVING COUNT(*) >= 2), " +
        "cov AS (SELECT DISTINCT g2.doc_id AS doc_id, p FROM " +
        "(SELECT g.doc_id, g.i FROM g JOIN dupg ON g.doc_id = dupg.doc_id AND g.gr = dupg.gr) g2, " +
        "unnest(range(g2.i, g2.i + 3)) AS s(p)), " +
        "covc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_covered FROM cov GROUP BY doc_id), " +
        "tok AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens FROM documents) " +
        "SELECT tok.doc_id, n_tokens, CAST(COALESCE(n_covered, 0) AS BIGINT) AS n_covered, " +
        "CAST(COALESCE(n_covered, 0) AS DOUBLE) / n_tokens AS dup_ngram_coverage " +
        "FROM tok LEFT JOIN covc ON tok.doc_id = covc.doc_id"
    )
  ) { t => Corpus.dupNgramCoverage(t.documents, "doc_id", "text", n = 3) }

  val all: Seq[Q] = Seq(
    x01, x02, x03, x04, x05, x06, x07,
    x08, x09, x10, x11, x12, x13, x14,
    x24, x25, x26, x27, x28, x31, x33, x34, x35, x37, x38, x39, x40, x41, x42,
    x43, x44, x45, x46, x47, x51, x52, x53, x54, x55, x56, x57, x58, x59, x60,
    x61, x62, x63, x64, x65, x67, x68, x69, x70, x71, x72, x73, x74, x75, x76, x77, x78, x79, x80, x81, x82, x83,
    x85, x86, x87, x89, x90, x91, x92, x93, x94, x95, x96, x97, x98, x99, x100,
    x101, x102, x103, x104, x105, x106, x107, x108, x109, x110, x111,
    x112, x113, x114, x115, x116, x117, x118, x119, x120, x121, x122,
    x123, x124, x125, x126, x127, x128, x129, x130,
    x131, x132, x133, x134, x135, x136, x137, x138, x139, x140, x141, x142,
    x143, x144, x145, x146, x147, x148, x149, x150, x151, x152, x153, x154,
    x155, x156, x157, x158, x159, x160, x161, x162, x163, x164, x165,
    x166, x167, x168, x169, x170, x171, x172, x173, x174, x175, x176, x177,
    x178, x179, x180, x181, x182, x183, x184, x185, x186, x187, x188, x189,
    x190, x191, x192, x193, x194, x195, x196, x197, x198, x199, x200, x201, x202, x203,
    x204, x205, x206, x207, x208, x209, x210
  )
}
