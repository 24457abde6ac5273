package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry
import graft.SparkSuite

/** Plan-shape assertions (SURVEY.md §7.3): the point of the declarative
  * formulation is that Catalyst does the physical work — these tests pin
  * the plans we rely on at 100 TB: broadcast joins for small dims, filter
  * pushdown into the parquet scan, column pruning, and top-k via
  * TakeOrderedAndProject instead of a global sort.
  */
class PlanSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String = {
    val df: DataFrame = SparkEntry.queries(name)(spark, sf)
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))
  }

  test("j01: 100-row supplier and 25-row nation dims are broadcast") {
    val p = plan("j01_broadcast_join_agg")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("p03: equality filter is pushed into the parquet scan") {
    val p = plan("p03_filter_eq")
    assert(p.contains("PushedFilters") && p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("s01: semi-join scan prunes lineitem to the join key only") {
    val p = plan("s01_active_suppliers_semijoin")
    // the lineitem side of the semi join must read only l_suppkey
    assert(p.contains("ReadSchema: struct<l_suppkey:bigint>"), p)
  }

  test("o01: ORDER BY + LIMIT 1 plans as TakeOrderedAndProject") {
    val p = plan("o01_orderby_limit1")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("a01: aggregation is partial (map-side combine) before the shuffle") {
    val p = plan("a01_pricing_summary")
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("partial_"), p) // partial aggregate before exchange
  }

  test("x05: documents scan reads only the projected columns") {
    val p = plan("x05_token_count")
    // n_chars/doc_id/text used; lang/source must be pruned from the scan
    assert(p.contains("ReadSchema"), p)
    assert(!p.contains("lang"), p)
    assert(!p.contains("source"), p)
  }

  test("g06: no unpartitioned Window over the leaderboard pool") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("g06_recommendations")(spark, sf)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    // the W3 leaderboards are bounded (Ranks.topKPerGroup keyed by
    // branch); any window left in the plan must be partitioned
    assert(globalWindows.isEmpty,
      s"found ${globalWindows.size} unpartitioned Window(s):\n${df.queryExecution.optimizedPlan}")
  }

  test("x26: tf subtree is computed once (exchange reuse, not 3 scans)") {
    val p = plan("x26_tfidf_top_term")
    val scans = "Scan parquet".r.findAllIn(
      p.linesIterator.takeWhile(!_.startsWith("(")).mkString("\n")).size
    // words/tf feed doc_len, dfreq, and the join — reuse keeps the
    // documents scan count at 2 (tf subtree + the 1-row n_docs agg)
    assert(scans <= 3, s"documents scanned $scans times:\n$p")
  }

  test("x85: simhash band candidates are a hash equi-join, never a cross product") {
    val p = plan("x85_simhash_hamming_pairs")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("x86/x92: the unigram table and token total are broadcast to the scoring join") {
    for (name <- Seq("x86_unigram_surprisal", "x92_source_scorecard")) {
      val p = plan(name)
      assert(p.contains("BroadcastHashJoin"), s"$name:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$name:\n$p")
    }
  }

  test("x89: every window in the hubness audit is partitioned (no global sort)") {
    val p = plan("x89_ann_hubness")
    // topKPerGroup pre-prunes per partition; the exact rank window is
    // query_id-partitioned — nothing windows over an unpartitioned pool
    val globalWindows = p.linesIterator.filter(_.contains("Window"))
      .count(l => l.contains("PartitionBy: []"))
    assert(globalWindows == 0, p)
  }

  test("x98/x100: map-only scans — exactly one shuffle, the final aggregate's") {
    Seq("x98_truncation_waste", "x100_pii_scan").foreach { name =>
      val p = plan(name)
      val exchanges = p.linesIterator.count(_.matches("""\(\d+\) Exchange.*"""))
      assert(exchanges == 1, s"$name:\n$p")
      assert(p.contains("partial_"), p) // map-side combine before it
    }
  }

  test("x101: per-source cutoff table is broadcast back, corpus never shuffled for the join") {
    val p = plan("x101_source_quantile_gate")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x113: E-S weighted sample selects via TakeOrderedAndProject, not a global sort") {
    val p = plan("x113_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("x114: sketch band table is broadcast back; every window is partitioned") {
    val p = plan("x114_sketch_quantile_gate")
    assert(p.contains("BroadcastHashJoin"), p)
    // the cumulative walk partitions by source — no unpartitioned window
    // may touch anything (the sketch frames are the only window inputs)
    p.linesIterator.filter(_.contains("Window")).foreach { l =>
      // formatted mode lists window group key in the Arguments lines; the
      // absence of SortMergeJoin + presence of broadcast is the key pin
      assert(!l.contains("partitionBy=[]"), p)
    }
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x117: quasi-identifier group counts broadcast back over one scan pass") {
    val p = plan("x117_k_anonymity")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x116: scoring join is count-table-sized — no token-level exchange after the counts") {
    val p = plan("x116_cross_entropy_matrix")
    // the corpus explode feeds ONLY partial aggregates (counts); every
    // join input downstream is an aggregate output, so no Exchange moves
    // exploded token rows
    assert(p.contains("partial_count"), p)
  }

  test("x124/x128/x133: no unpartitioned Window anywhere in the rank-band audits") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    for (name <- Seq("x124_zipf_slope", "x128_activity_deciles",
        "x133_rfm_segments")) {
      val df = SparkEntry.queries(name)(spark, sf)
      val globalWindows = df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty => w
      }
      // deciles/terciles come from suffixSumDistinct (bucket-partitioned
      // windows + broadcast grid); the Zipf rank from a broadcast
      // self-join over the TakeOrdered cap — never a global sort task
      assert(globalWindows.isEmpty,
        s"$name has ${globalWindows.size} unpartitioned Window(s):\n" +
          df.queryExecution.optimizedPlan)
    }
  }

  test("x124: the vocabulary cap plans as TakeOrderedAndProject, not a global sort") {
    val t = graft.sources.Tables(spark, sf)
    val p = graft.operators.TrainingData.zipfCappedVocab(t)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.linesIterator.exists(l =>
      l.matches("""\(\d+\) Sort.*""") && !l.contains("TakeOrdered")), p)
  }

  test("x139: segment text never reaches an exchange — shuffles carry the 8-byte hash") {
    val p = plan("x139_segment_dedup")
    // every Exchange argument list must be free of the segment-string
    // column; the join/groupBy keys are the poly_hash column `h`
    val exchangeArgs = p.linesIterator.filter(_.contains("Arguments: hashpartitioning"))
    exchangeArgs.foreach { l =>
      assert(l.contains("h#") || l.contains("source#"),
        s"exchange not keyed on hash/source: $l\n$p")
    }
    assert(p.contains("partial_"), p) // map-side combine on the source agg
  }

  test("x140: curriculum staging has no unpartitioned Window and no ntile") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("x140_curriculum_stages")(spark, sf)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, df.queryExecution.optimizedPlan.toString)
  }

  test("x204: vocab cap plans as TakeOrderedAndProject over the pinned counts; weights broadcast") {
    val p = plan("x204_nb_vocab_cap")
    // the cap is a top-K (TakeOrderedAndProject), never a global sort;
    // the remaining Sort nodes are SortMergeJoin-local (global=false),
    // vocab-sized — PlanSweepSpec separately forbids unpartitioned
    // Windows and CartesianProducts across the whole registry
    assert(p.contains("TakeOrderedAndProject"), p)
    // the K-bounded weight/class frames reach the scoring join broadcast
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("x205: split+repack has no global sort and only partitioned windows") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = SparkEntry.queries("x205_overflow_split_packing")(spark, sf)
    val globalWindows = df.queryExecution.optimizedPlan.collect {
      case w: LWindow if w.partitionSpec.isEmpty => w
    }
    assert(globalWindows.isEmpty, df.queryExecution.optimizedPlan.toString)
    val p = plan("x205_overflow_split_packing")
    assert(!p.linesIterator.exists(l => l.matches("""\(\d+\) Sort.*global=true.*""")), p)
    assert(p.contains("partial_"), p) // map-side combine on the bin aggregate
  }
}
