package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** Library-surface behaviors not covered by the oracle queries. */
class DedupLibrarySpec extends SparkSuite {
  lazy val docs = Tables(spark, "/root/testdata/sf0.01").documents

  test("crossNearDup: paraphrase-level overlap reported with best bench match, clean doc silent") {
    import spark.implicits._
    val bench = Seq(
      (970L, "alpha beta gamma delta epsilon zeta eta theta"),
      (1940L, "one two three four five six seven eight")).toDF("doc_id", "text")
    val train = Seq(
      // shares 6-of-8 words in order with bench 970 → high Jaccard
      (1L, "alpha beta gamma delta epsilon zeta iota kappa"),
      (2L, "totally unrelated text about spark query engines and joins")
    ).toDF("doc_id", "text")
    val out = Dedup.crossNearDup(train, bench, "doc_id", "text", threshold = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    assert(out.length === 1)
    val (trainId, benchId, j) = out.head
    assert(trainId === 1L && benchId === 970L)
    // shingles: train1 has 6, bench970 has 6, common 4 → 4/8
    assert(j === 0.5)
  }

  test("hot-shingle cap prunes candidates but keeps near-identical pairs") {
    val uncapped = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.9)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.nonEmpty)
    // cap at a doc frequency well above near-dup shingle counts: the same
    // near-identical pairs must survive (their shingles are rare)
    val capped = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.9,
        maxDocFreq = Some(50L))
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped.subsetOf(capped) || capped.subsetOf(uncapped))
    assert(capped.intersect(uncapped) === uncapped.intersect(capped))
    assert(capped.nonEmpty)
  }

  test("hashed shingle keys find the same near-dup pairs as string keys") {
    // ~2^30 hash space vs a few hundred thousand shingles: collisions are
    // rare enough that the pair inventory at a high threshold is identical
    val viaStrings = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val viaHashes = Dedup
      .ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5, hashShingles = true)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(viaStrings.nonEmpty)
    assert(viaHashes === viaStrings)
  }

  test("prefix-filtered Jaccard pairs equal the naive inverted-index join") {
    for (t <- Seq(0.5, 0.9)) {
      val naive = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = t)
        .select("doc_a", "doc_b", "common")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val prefix = Dedup.ngramJaccardPairsPrefix(docs, "doc_id", "text", threshold = t)
        .select("doc_a", "doc_b", "common")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(naive.nonEmpty, s"t=$t")
      assert(prefix === naive, s"t=$t")
    }
  }

  test("connectedComponents: chains, stars, and isolated pairs converge to min roots") {
    import spark.implicits._
    // component A: chain 10-11-12-13-14 (diameter 4 → needs >1 round)
    // component B: star centered at 20; component C: lone pair (30, 31)
    val pairs = Seq(
      (10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L),
      (20L, 21L), (20L, 22L), (20L, 23L),
      (30L, 31L)
    ).toDF("doc_a", "doc_b")
    val cc = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((10L to 14L).forall(cc(_) === 10L))
    assert((20L to 23L).forall(cc(_) === 20L))
    assert(cc(30L) === 30L && cc(31L) === 30L)
    assert(cc.size === 11)
  }

  test("connectedComponents: equals driver union-find on 30 random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    (1 to 30).foreach { trial =>
      val n = 5 + rnd.nextInt(30)
      val edges = (1 to n).map(_ => (rnd.nextInt(25).toLong, rnd.nextInt(25).toLong))
        .filter { case (a, b) => a != b }
      if (edges.nonEmpty) {
        // driver-side union-find oracle
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        val expected = parent.keys.map(v => v -> find(v)).toMap
        val got = Dedup.connectedComponents(
            edges.toDF("doc_a", "doc_b"), "doc_a", "doc_b")
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // min-label CC roots every vertex at its component minimum — so
        // does union-by-min union-find with path compression
        assert(got === expected, s"trial $trial edges=$edges")
      }
    }
  }

  test("bucketed embedding near-dup: precision 1.0 and pinned recall vs all-pairs") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val exact = Dedup.embeddingNearDups(e, "vec_id", "embedding", threshold = 0.4)
      .select("vec_a", "vec_b", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val bucketed = Dedup.embeddingNearDupsBucketed(e, "vec_id", "embedding", threshold = 0.4)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // survivors are re-scored with the exact cosine → no false positives
    assert(bucketed.subsetOf(exact.keySet))
    // banding curve 1−(1−(1−θ/π)⁴)⁴: ≈0.50 AT the 0.4 threshold boundary
    // and ≥0.87 at cosine 0.8. Every fixture pair sits in the borderline
    // 0.4–0.5 band (none ≥ 0.6), so the honest pin is the boundary value
    // minus sampling noise (66 pairs → σ≈0.06): floor 0.3. If the fixture
    // ever gains strong pairs, they get the tighter 0.8-cosine pin.
    val recall = bucketed.size.toDouble / exact.size
    val strong = exact.collect { case (p, c) if c >= 0.8 => p }.toSet
    info(f"x34 recall vs x11: overall $recall%.3f (${bucketed.size}/${exact.size}), " +
      f"strong(≥0.8) pairs: ${strong.size}")
    assert(recall >= 0.3, f"banded-LSH overall recall $recall%.3f below pinned floor")
    if (strong.nonEmpty) {
      val strongRecall = strong.count(bucketed).toDouble / strong.size
      assert(strongRecall >= 0.8, f"strong-pair recall $strongRecall%.3f below pinned floor")
    }
  }

  test("minhash band pairs: subset of the exact Jaccard join with pinned recall") {
    val small = Tables(spark, "/root/testdata/sf0.001").documents
    val exact = Dedup.ngramJaccardPairs(small, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.minhashCandidatePairs(small, "doc_id", "text", threshold = 0.5)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // candidates that survive are verified with the same exact Jaccard →
    // every emitted pair is a true pair of the inverted-index join
    assert(banded.subsetOf(exact))
    val recall = banded.size.toDouble / exact.size
    info(f"x35 recall vs x02 exact join: $recall%.3f (${banded.size}/${exact.size})")
    // banding curve 1−(1−s²)⁴ at s ≥ 0.5 gives ≥ 0.66 in expectation and
    // near-dup fixture pairs have much higher similarity
    assert(recall >= 0.5, f"minhash-band recall $recall%.3f below pinned floor")
  }

  test("minhash band pairs and incremental dedup build the shingle frame once") {
    // the shingle explode (wordNgrams → concat_ws over the word slices) is
    // the expensive corpus-wide pass; after the shared-frame rewrite every
    // consumer (signatures, per-doc counts, exact verification join) reads
    // the single checkpointed frame, so NO shingle construction may remain
    // in the final plan
    val small = Tables(spark, "/root/testdata/sf0.001").documents
    val pairsPlan = Dedup.minhashCandidatePairs(small, "doc_id", "text", threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(!pairsPlan.contains("concat_ws"),
      "minhashCandidatePairs recomputes the shingle explode instead of sharing one frame")
    val incPlan = Dedup.incrementalDedup(
        small, "doc_id", "text", col("doc_id") >= 450, threshold = 0.5)
      .queryExecution.executedPlan.toString
    assert(!incPlan.contains("concat_ws"),
      "incrementalDedup recomputes the shingle explode instead of sharing one frame")
  }

  test("connectedComponents refuses to return silently unconverged labels") {
    import spark.implicits._
    // a 200-node chain (diameter 199): hop+jump reach roughly doubles per
    // round (~2^r), so 5 rounds CANNOT converge — the at-scale shape of a
    // long near-dup chain on a heavily duplicated crawl
    val chain = (0L until 199L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    // localSolveMaxEdges = 0 forces the distributed loop (the local
    // union-find path is exact and never unconverged)
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, "doc_a", "doc_b", maxIter = 5,
        localSolveMaxEdges = 0L)
    }
    assert(ex.getMessage.contains("did not converge"))
    // explicit opt-out returns partial labels: over-segmented (several
    // roots on one chain), never wrongly merged
    val partial = Dedup.connectedComponents(
        chain, "doc_a", "doc_b", maxIter = 5, requireConvergence = false,
        localSolveMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(partial.size === 200)
    assert(partial.values.toSet.size > 1)
    // a cap past the diameter converges to the single true root
    val full = Dedup.connectedComponents(chain, "doc_a", "doc_b", maxIter = 64,
        localSolveMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(full.values.toSet === Set(0L))
  }

  test("local union-find path ≡ distributed propagation on real near-dup pairs") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.5)
      .localCheckpoint(true)
    val local = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(pairs, "doc_a", "doc_b", maxIter = 64,
        localSolveMaxEdges = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    Dedup.release(pairs)
    assert(local.nonEmpty)
    assert(local === dist)
  }

  test("shared shingle frames release their blocks; release() frees eager results") {
    val sc = spark.sparkContext
    val small = Tables(spark, "/root/testdata/sf0.001").documents
    val before = sc.getPersistentRDDs.keySet
    val pairs = Dedup.minhashCandidatePairs(small, "doc_id", "text", threshold = 0.5)
    assert(pairs.count() > 0)
    val inc = Dedup.incrementalDedup(
      small, "doc_id", "text", col("doc_id") >= 450, threshold = 0.5)
    assert(inc.count() > 0)
    // the corpus-sized shingle frames were already dropped inside the
    // calls; release() frees the small eager result blocks — after a full
    // materialize-and-release cycle nothing stays pinned
    Dedup.release(pairs)
    Dedup.release(inc)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"lingering persistent RDD blocks: $leaked")
  }

  test("lshBuckets is deterministic across repartitioning") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val b1 = Dedup.lshBuckets(e, "vec_id", "embedding")
      .select("vec_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b2 = Dedup.lshBuckets(e.repartition(7), "vec_id", "embedding")
      .select("vec_id", "bucket")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b1 === b2)
    assert(b1.values.toSet.size > 1) // vectors actually spread over buckets
  }

  test("containment flags a quoted subset that symmetric Jaccard misses") {
    import spark.implicits._
    val snippet = "alpha beta gamma delta epsilon"
    val page = snippet + " " + (1 to 40).map(i => s"filler$i").mkString(" ")
    val df = Seq((1L, snippet), (2L, page), (3L, "zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(df, "doc_id", "text", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSet
    // the snippet is fully contained in the page — containment 1.0 in
    // that direction ONLY (the page is not contained in the snippet)
    assert(cont === Set((1L, 2L, 1.0)))
    // …while symmetric Jaccard scores the same pair far below threshold
    val jac = Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.5)
    assert(jac.count() === 0L)
  }

  test("labelCentroidProfile: hand fixture medians and cosine ranks") {
    import spark.implicits._
    // label 0: [1,0], [0,1], [1,1] → per-dim lower medians (of sorted
    // (0,1,1)) = [1,1]; cosines to [1,1]: 1/√2, 1/√2, 1 → min = 1/√2,
    // lower median (rank 2, id tiebreak) = 1/√2
    val df = Seq(
      (1L, Array(1f, 0f), 0), (2L, Array(0f, 1f), 0), (3L, Array(1f, 1f), 0),
      (4L, Array(2f, 0f), 7))
      .toDF("vec_id", "embedding", "label")
    val out = Dedup.labelCentroidProfile(df, "vec_id", "embedding", "label")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val inv = 1.0 / math.sqrt(2.0)
    val (n0, min0, med0) = out(0)
    assert(n0 === 3L)
    assert(math.abs(min0 - inv) < 1e-15)
    assert(math.abs(med0 - inv) < 1e-15)
    // a singleton label is its own centroid: cosine exactly 1
    assert(out(7) === ((1L, 1.0, 1.0)))
  }

  test("labelCentroidProfile covers every label once on the fixture table") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val rows = Dedup.labelCentroidProfile(e, "vec_id", "embedding", "label")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getDouble(3)))
    assert(rows.map(_._1).distinct.length === rows.length)
    assert(rows.map(_._2).sum === e.count())
    assert(rows.forall { case (_, _, mn, md) => mn <= md && md <= 1.0 + 1e-12 })
  }

  test("mutualKnnEdges keeps exactly the mutually-ranked pairs") {
    import spark.implicits._
    // two tight mutual pairs + far-apart singles: k=1 edges are exactly
    // the mutual nearest-neighbor pairs
    val df = Seq(
      (1L, Array(1f, 0f, 0f)), (2L, Array(0.99f, 0.1f, 0f)),
      (3L, Array(0f, 1f, 0f)), (4L, Array(0.1f, 0.99f, 0f)),
      (5L, Array(0.6f, 0.6f, 0.6f)))
      .toDF("vec_id", "embedding")
    val edges = Dedup.mutualKnnEdges(df, "vec_id", "embedding", k = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges === Set((1L, 2L), (3L, 4L)))
  }

  test("mutualKnnEdges ⊆ topk in both directions on the fixture table") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val topk = Dedup.annTopK(e, "vec_id", "embedding", lit(true), 3)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val edges = Dedup.mutualKnnEdges(e, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.nonEmpty)
    assert(edges.forall { case (u, v) => topk((u, v)) && topk((v, u)) })
    // and every mutually-ranked topk pair IS an edge (no losses)
    val expected = topk.filter { case (u, v) => u < v && topk((v, u)) }
    assert(edges === expected)
  }

  test("minhashEstimateAudit: exact duplicates estimate 1.0, errors are |est − exact|") {
    val audit = Dedup.minhashEstimateAudit(docs, "doc_id", "text")
    val rows = audit.collect().map { r =>
      (r.getLong(2), r.getDouble(3), r.getLong(4), r.getDouble(5), r.getDouble(6))
    }
    Dedup.release(audit)
    assert(rows.nonEmpty)
    assert(rows.forall { case (agree, est, common, jac, err) =>
      agree >= 0L && agree <= 8L &&
        est >= 0.0 && est <= 1.0 && jac >= 0.0 && jac <= 1.0 &&
        err == math.abs(est - jac) && common >= 0L
    })
    // the corpus' near-identical pairs fully agree on all 8 signature
    // components, and the exact check confirms the estimate is honest
    assert(rows.exists { case (agree, est, _, jac, _) =>
      agree == 8L && est == 1.0 && jac >= 0.9 })
    // and a synthetic exact duplicate estimates AND verifies at 1.0
    import spark.implicits._
    val dup = Seq((1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "zeta eta theta iota kappa lambda")).toDF("doc_id", "text")
    val dupAudit = Dedup.minhashEstimateAudit(dup, "doc_id", "text")
    val dupRows = dupAudit.select("doc_a", "doc_b", "est_jaccard", "jaccard", "abs_err")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))
    Dedup.release(dupAudit)
    assert(dupRows.contains((1L, 2L, 1.0, 1.0, 0.0)))
  }

  test("canonicalByPriority keeps the trusted-source copy, not the min id") {
    import spark.implicits._
    // cluster 10: doc 10 (src_z) vs doc 11 (src_a) — priority beats min id
    val labels = Seq((10L, 10L), (11L, 10L), (20L, 20L), (21L, 20L))
      .toDF("doc_id", "cluster_root")
    val meta = Seq((10L, "src_z"), (11L, "src_a"), (20L, "src_a"), (21L, "src_a"))
      .toDF("doc_id", "source")
    val out = Dedup.canonicalByPriority(labels, meta, "doc_id",
      Seq(col("source").asc, col("doc_id").asc))
      .select("doc_id", "canonical_id", "is_kept")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(out === Set(
      (10L, 11L, false), (11L, 11L, true),   // src_a wins over min id 10
      (20L, 20L, true), (21L, 20L, false)))  // tie on source → min id
  }

  test("simhash band blocking finds EVERY pair within hamming 3 (pigeonhole recall)") {
    val small = docs.filter(col("doc_id") < 200)
    val banded = Dedup.simhashHammingPairs(small, "doc_id", "text", maxHamming = 3)
      .select("doc_a", "doc_b", "hamming")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // brute force: all-pairs hamming over the signatures
    val sigs = Dedup.simhash16(small, "doc_id", "text")
    val a = sigs.select(col("doc_id").as("doc_a"), col("simhash16").as("ha"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("simhash16").as("hb"))
    val brute = a.join(b, col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("CAST(bit_count(ha ^ hb) AS BIGINT)").as("hamming"))
      .filter(col("hamming") <= 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(brute.nonEmpty)
    assert(banded === brute) // recall 1.0 at maxHamming <= 3, precision via exact verify
  }

  test("hard negatives: no same-label neighbor, no self, scores bounded") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val labels = emb.select("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = Dedup.hardNegatives(emb, "vec_id", "embedding", "label",
        col("vec_id") < 5, k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4)))
    assert(out.nonEmpty)
    out.foreach { case (q, al, n, nl, cos) =>
      assert(q != n)
      assert(al != nl)                 // negatives only
      assert(al == labels(q) && nl == labels(n))
      assert(cos >= -1.0 - 1e-9 && cos <= 1.0 + 1e-9)
    }
    // exactly k negatives per anchor (corpus has plenty of other labels)
    out.groupBy(_._1).foreach { case (_, rows) => assert(rows.length == 3) }
  }

  test("threshold sensitivity: monotone curve, agrees with per-threshold pair builds") {
    val small = docs.filter(col("doc_id") < 300)
    val thresholds = Seq(0.1, 0.3, 0.6, 1.1) // 1.1 unreachable → zero row
    val out = Dedup.thresholdSensitivity(small, "doc_id", "text", thresholds)
      .collect().map(r => r.getDouble(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out.keySet === thresholds.toSet) // every threshold emits a row
    // monotone non-increasing as the threshold tightens
    val sorted = thresholds.sorted.map(out)
    sorted.sliding(2).foreach { case Seq((pa, da), (pb, db)) =>
      assert(pa >= pb && da >= db)
    }
    assert(out(1.1) === ((0L, 0L))) // zero row survives the left join
    assert(out(0.1)._1 > 0L)
    // cross-check: the swept count at 0.3 equals an independent pair build
    val direct = Dedup.ngramJaccardPairs(small, "doc_id", "text", threshold = 0.3)
      .count()
    assert(out(0.3)._1 === direct)
  }

  test("banding recall curve: totals match exact pairs, identical docs always hit") {
    val small = Tables(spark, "/root/testdata/sf0.001").documents
    val out = Dedup.bandingRecallCurve(small, "doc_id", "text", minJaccard = 0.05)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (bucket, nTrue, nHit, recall) =>
      assert(bucket >= 0L && bucket <= 10L)
      assert(nHit <= nTrue && nTrue > 0L)
      assert(recall === nHit.toDouble / nTrue)
    }
    // the curve partitions the exact pair inventory at the same threshold
    val exact = Dedup.ngramJaccardPairs(small, "doc_id", "text", threshold = 0.05)
      .count()
    assert(out.map(_._2).sum === exact)
    // jaccard 1.0 ⇒ identical shingle sets ⇒ identical signatures ⇒ banding
    // cannot miss: the top bucket, when present, must be recall 1.0
    out.find(_._1 == 10L).foreach { case (_, _, _, r) => assert(r === 1.0) }
  }

  test("embedding recall curve: partitions the exact pair inventory, hits bounded") {
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val out = Dedup.embeddingBandingRecallCurve(emb, "vec_id", "embedding", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.foreach { case (bucket, nTrue, nHit, recall) =>
      assert(bucket >= 4L && bucket <= 10L)
      assert(nHit <= nTrue && nTrue > 0L)
      assert(recall === nHit.toDouble / nTrue)
    }
    val exact = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.4).count()
    assert(out.map(_._2).sum === exact)
    // every bucketed-path pair is a true pair that must be counted as hit
    val bucketed = Dedup.embeddingNearDupsBucketed(emb, "vec_id", "embedding", 0.4).count()
    assert(out.map(_._3).sum === bucketed)
  }

  test("cluster cohesion: chain reads as low coverage, clique as 1.0") {
    import spark.implicits._
    // chain 1~2~3 (1 and 3 never paired) + clique pair 10~11
    val pairs = Seq(
      (1L, 2L, 0.9), (2L, 3L, 0.6), (10L, 11L, 1.0)
    ).toDF("doc_a", "doc_b", "jaccard").localCheckpoint(true)
    val out = Dedup.clusterCohesion(pairs, "doc_a", "doc_b", "jaccard")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(out.keySet === Set(1L, 10L))
    val (nDocs, nPairs, minJ, meanJ, cov) = out(1L)
    assert(nDocs == 3L && nPairs == 2L)
    assert(minJ === 0.6 && meanJ === 0.75)
    assert(cov === 2.0 / 3.0) // the chaining signature: not all pairs observed
    assert(out(10L) === ((2L, 1L, 1.0, 1.0, 1.0))) // clique: safe to collapse
  }

  test("split leakage audit: cluster split never crosses, naive split does") {
    val rows = graft.SparkEntry.queries("x91_split_leakage_audit")(
        spark, "/root/testdata/sf0.001")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val (nPairsN, crossN) = rows("content_hash")
    val (nPairsC, crossC) = rows("cluster")
    assert(nPairsN == nPairsC && nPairsN > 0)
    assert(crossC == 0L)  // families share their root's hash — by construction
    assert(crossN > 0L)   // the leakage the naive splitter ships on this corpus
  }

  test("x142 capped fuzzy dedup equals x51 exactly wherever the cap never fires") {
    // at sf0.01 every (block, band) group is far below the 32-member cap,
    // so the capped scale path must reproduce the exact operator's pairs
    // bit-for-bit — the "≡ x51 where the cap never fires" contract
    val sf = "/root/testdata/sf0.01"
    def rows(name: String) =
      graft.SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSet
    val exact = rows("x51_fuzzy_dedup_levenshtein")
    val capped = rows("x142_fuzzy_dedup_capped")
    assert(exact.nonEmpty)
    assert(capped === exact)
  }

  test("x64 semantic-safe split: IVF near-dup pairs never straddle a split") {
    // the split-invariant the operator exists for, on its round-9
    // candidate generator: every cosine-near pair surfaced by the
    // IVF-cell path (the exact pairs that seed x64's clusters) must land
    // in one split — and the split frame covers every vector exactly once
    val e = Tables(spark, "/root/testdata/sf0.01").embeddings
    val split = Dedup.semanticSafeSplit(e, "vec_id", "embedding",
      threshold = 0.4, k = 16)
    assert(split.count() === e.count())
    val byId = split.select(col("vec_id"), col("split_name"))
    val pairs = Dedup.embeddingNearDupsIvf(e, "vec_id", "embedding",
        threshold = 0.4, k = 16)
      .select("vec_a", "vec_b")
    assert(pairs.count() > 0)
    val crossing = pairs
      .join(byId.select(col("vec_id").as("vec_a"), col("split_name").as("sa")), "vec_a")
      .join(byId.select(col("vec_id").as("vec_b"), col("split_name").as("sb")), "vec_b")
      .filter(col("sa") =!= col("sb"))
      .count()
    assert(crossing === 0L)
  }

  test("x143 IVF-blocked near-dup: precision 1.0, pinned recall vs all-pairs x11") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val exact = Dedup.embeddingNearDups(e, "vec_id", "embedding", threshold = 0.4)
      .select("vec_a", "vec_b", "cosine")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val ivf = Dedup.embeddingNearDupsIvf(e, "vec_id", "embedding",
        threshold = 0.4, k = 16)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    // exact rescoring within cells → every reported pair is a true pair
    assert(ivf.subsetOf(exact.keySet))
    val recall = ivf.size.toDouble / exact.size
    info(f"x143 recall vs x11: $recall%.3f (${ivf.size}/${exact.size})")
    // uniform random vectors + borderline 0.4-cosine pairs are the worst
    // case for cell agreement; the floor is deliberately modest
    assert(recall >= 0.2, f"IVF-blocked recall $recall%.3f below pinned floor")
  }

  test("x147 multi-assign near-dup: precision 1.0, recall >= and superset of single-assign") {
    val e = Tables(spark, "/root/testdata/sf0.001").embeddings
    val exact = Dedup.embeddingNearDups(e, "vec_id", "embedding", threshold = 0.4)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val single = Dedup.embeddingNearDupsIvf(e, "vec_id", "embedding",
        threshold = 0.4, k = 16)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = Dedup.embeddingNearDupsIvf(e, "vec_id", "embedding",
        threshold = 0.4, k = 16, nassign = 2)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // still exact rescoring → no false pairs; each pair reported once
    assert(multi.subsetOf(exact))
    val multiRows = Dedup.embeddingNearDupsIvf(e, "vec_id", "embedding",
        threshold = 0.4, k = 16, nassign = 2).count()
    assert(multiRows === multi.size.toLong, "a pair sharing both cells was duplicated")
    // a pair blocked together under single-assign shares its nearest
    // cell, which both members also carry under nassign=2
    assert(single.subsetOf(multi))
    info(f"x147 recall vs x11: ${multi.size.toDouble / exact.size}%.3f " +
      f"(single-assign ${single.size.toDouble / exact.size}%.3f)")
  }

  test("x148 two-level router: every vector assigned exactly once, pairs subset of exact") {
    val e = Tables(spark, "/root/testdata/sf0.01").embeddings
    val n = e.count()
    val assigned = Dedup.ivfAssignTwoLevel(e, "vec_id", "embedding", k = 64, kc = 8)
    // the childless-coarse guard: no vector may be dropped or doubled
    assert(assigned.count() === n)
    assert(assigned.select("vec_id").distinct().count() === n)
    val exact = Dedup.embeddingNearDups(e, "vec_id", "embedding", threshold = 0.4)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val twoLevel = Dedup.embeddingNearDupsIvfTwoLevel(e, "vec_id", "embedding",
        threshold = 0.4, k = 64, kc = 8)
      .select("vec_a", "vec_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(twoLevel.subsetOf(exact))
    info(f"x148 recall vs x11 at k=64/kc=8: ${twoLevel.size.toDouble / exact.size}%.3f " +
      f"(${twoLevel.size}/${exact.size})")
  }

  test("IVF twins x137/x138 agree with the exact x59/x89 baselines within pinned bounds") {
    val emb = Tables(spark, "/root/testdata/sf0.01").embeddings
    def pairs(df: org.apache.spark.sql.DataFrame, a: String, b: String) =
      df.select(col(a), col(b)).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet

    // x138's candidate lists: recall vs the exact top-5 graph. Uniform
    // random 64-dim vectors are the WORST case for coarse quantization
    // (no density modes to exploit), so the floor is modest by design;
    // clustered real embeddings sit far above it.
    val exactLists = pairs(
      Dedup.annTopK(emb, "vec_id", "embedding", lit(true), 5),
      "query_id", "neighbor_id")
    val ivfLists = pairs(
      Dedup.ivfSearch(emb, "vec_id", "embedding", lit(true),
        k = 16, nprobe = 2, topK = 5),
      "query_id", "neighbor_id")
    val listRecall = exactLists.intersect(ivfLists).size.toDouble / exactLists.size
    info(f"ivf top-5 list recall vs exact: $listRecall%.3f")
    assert(listRecall >= 0.2, f"list recall $listRecall%.3f below pinned floor")

    // structural exactness of the shared tail: x138's degree mass IS the
    // list count (the histogram loses nothing)
    val hist = graft.SparkEntry.queries("x138_ann_hubness_ivf")(
        spark, "/root/testdata/sf0.01").collect()
      .map(r => r.getLong(0) -> r.getLong(1))
    assert(hist.map { case (d, n) => d * n }.sum === ivfLists.size)
    assert(hist.map(_._2).sum === emb.count()) // every vector counted once

    // x137's mutual-edge graph: recall vs the exact mutual-kNN edges
    val exactEdges = pairs(
      Dedup.mutualKnnEdges(emb, "vec_id", "embedding", 3), "u", "v")
    val ivfEdges = pairs(
      Dedup.mutualEdgesFromTopK(
        Dedup.ivfSearch(emb, "vec_id", "embedding", lit(true),
          k = 16, nprobe = 2, topK = 3)), "u", "v")
    val edgeRecall = exactEdges.intersect(ivfEdges).size.toDouble / exactEdges.size
    info(f"ivf mutual-edge recall vs exact: $edgeRecall%.3f " +
      s"(${ivfEdges.size} ivf vs ${exactEdges.size} exact edges)")
    assert(edgeRecall >= 0.2, f"edge recall $edgeRecall%.3f below pinned floor")
    // mutuality only prunes: no IVF edge pairs vectors that never cited
    // each other in the lists
    assert(ivfEdges.forall { case (u, v) => u < v })
  }

  test("duplicateSpans strictly supersets x62 chunk dedup on an off-boundary duplicate") {
    import spark.implicits._
    // A 20-word run shared by two documents at offsets 3 and 5 — aligned
    // to NO 16-word chunk boundary in either doc, and straddling one.
    val run = (1 to 20).map(i => s"s$i").mkString(" ")
    val crafted = Seq(
      (1L, ((1 to 3).map(i => s"a$i") :+ run) ++ (4 to 13).map(i => s"a$i")),
      (2L, ((1 to 5).map(i => s"b$i") :+ run) ++ (6 to 7).map(i => s"b$i"))
    ).map { case (id, parts) => (id, parts.mkString(" ")) }
      .toDF("doc_id", "text")

    // x62's fixed 16-word grid sees nothing: every chunk is unique, so
    // each document keeps all of its chunks
    val chunked = Corpus.chunkDedupRewrite(crafted, "doc_id", "text")
      .select("doc_id", "n_chunks", "n_kept").collect()
    assert(chunked.forall(r => r.getLong(1) === r.getLong(2)),
      "crafted duplicate must be invisible to the fixed chunk grid")

    // duplicateSpans finds the full 20-token span in BOTH documents at
    // its exact offsets
    val spans = Dedup.duplicateSpans(crafted, "doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    assert(spans === Set((1L, 3L, 22L, 20L), (2L, 5L, 24L, 20L)))
  }

  test("duplicateSpanRewrite: off-boundary duplicate removed, exact copy annihilated") {
    import spark.implicits._
    val run = (1 to 20).map(i => s"s$i").mkString(" ")
    val base = ((1 to 3).map(i => s"a$i") :+ run) ++ (4 to 13).map(i => s"a$i")
    val crafted = Seq(
      (1L, base.mkString(" ")),                                  // canonical
      (2L, (((1 to 5).map(i => s"b$i") :+ run) ++ (6 to 7).map(i => s"b$i")).mkString(" ")),
      (3L, base.mkString(" "))                                   // exact copy of 1
    ).toDF("doc_id", "text")
    val out = Dedup.duplicateSpanRewrite(crafted, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc 1 is canonical everywhere → untouched
    assert(out(1L) === ((33L, 0L, crafted.filter(col("doc_id") === 1)
      .head().getString(1))))
    // doc 2 loses exactly its copy of the 20-token run (positions 5..24)
    assert(out(2L)._1 === 27L && out(2L)._2 === 20L)
    assert(out(2L)._3 ===
      (((1 to 5).map(i => s"b$i") ++ (6 to 7).map(i => s"b$i")).mkString(" ")))
    // doc 3 (exact later-id copy) rewrites away entirely — but keeps its row
    assert(out(3L) === ((33L, 33L, "")))
  }

  test("duplicateSpans merges touching windows and ignores short docs") {
    import spark.implicits._
    // two copies of the same 8-word text: one full-width window each,
    // span = the whole doc; a 7-word doc yields no windows at all
    val df = Seq(
      (1L, (1 to 8).map(i => s"w$i").mkString(" ")),
      (2L, (1 to 8).map(i => s"w$i").mkString(" ")),
      (3L, (1 to 7).map(i => s"w$i").mkString(" "))
    ).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(df, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((1L, 0L, 7L), (2L, 0L, 7L)))
  }

  test("semDedup keeps the member farthest from the cell center, drops the rest") {
    import spark.implicits._
    // 16 axis vectors seed 16 well-separated cells; 16/17 are tilted
    // copies of vector 0, so cell 0 holds the cluster {0, 16, 17}.
    // 17 is the most off-axis member (farthest from the cell's
    // density center) → SemDeDup keeps it and drops 0 and 16.
    def axis(i: Int): Array[Float] = {
      val v = Array.fill(64)(0f); v(i) = 1f; v
    }
    val base = (0 until 16).map(i => (i.toLong, axis(i)))
    val tilt16 = { val v = Array.fill(64)(0f); v(0) = 0.9f; v(1) = 0.1f; v }
    val tilt17 = { val v = Array.fill(64)(0f); v(0) = 0.7f; v(1) = 0.3f; v }
    val df = (base ++ Seq((16L, tilt16), (17L, tilt17)))
      .toDF("vec_id", "embedding")
    val out = Dedup.semDedup(df, "vec_id", "embedding", threshold = 0.4, k = 16)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((0L, 17L, 3L), (16L, 17L, 3L)))
  }

  test("x178/x179 semDedup accounting: every cluster keeps exactly one, keeper never dropped") {
    for (q <- Seq("x178_semdedup", "x179_semdedup_2l")) {
      val out = graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.01")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      assert(out.nonEmpty, q)
      val droppedIds = out.map(_._1).toSet
      out.groupBy(_._2).foreach { case (kept, rows) =>
        assert(!droppedIds.contains(kept), s"$q: keeper $kept also dropped")
        val size = rows.head._3
        assert(rows.forall(_._3 == size))
        assert(rows.length == size - 1,
          s"$q: cluster of $kept: ${rows.length} dropped, size $size")
      }
    }
  }
}
