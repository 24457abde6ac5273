package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.SparkSuite
import graft.sources.Tables

class AnalyticsSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.01"

  test("as-of join: every attributed click precedes its purchase") {
    val out = SparkEntry.queries("x20_asof_join")(spark, sf).cache()
    val ev = Tables(spark, sf).events
      .select(col("event_id"), unix_micros(col("ts")).as("tus"), col("user_id"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.filter(!_.isNullAt(2)).foreach { r =>
      val (pTs, pUser) = ev(r.getLong(1))
      val (cTs, cUser) = ev(r.getLong(2))
      assert(cUser === pUser)
      assert(cTs <= pTs, s"click after purchase for ${r.getLong(1)}")
    }
    // purchases with no preceding click yield NULL (as-of semantics)
    val total = Tables(spark, sf).events
      .filter(col("event_type") === "purchase").count()
    assert(rows.length.toLong === total)
  }

  test("x49 grouping sets: one Expand pass; flags partition the output") {
    val df = SparkEntry.queries("x49_grouping_sets")(spark, sf)
    val p = df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(p.split("\n").count(_.contains("Expand")) <= 2, p) // one Expand node (+detail line)
    val rows = df.collect()
    // three grouping sets, disjoint flag combinations, no grand total
    val flagSets = rows.map(r => (r.getLong(2), r.getLong(3))).toSet
    assert(flagSets == Set((0L, 0L), (0L, 1L), (1L, 0L)))
  }

  test("x50 range window is partitioned by customer (no global window) and frames by value") {
    val df = SparkEntry.queries("x50_range_interval_window")(spark, sf)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val windows = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(windows.nonEmpty && windows.forall(_.partitionSpec.nonEmpty),
      "every window must be partitioned")
    val rows = df.collect()
    assert(rows.forall(r => r.getLong(3) >= 1L)) // frame always includes current row
    assert(rows.exists(r => r.getLong(3) > 1L), "some 7-day frames span multiple orders")
  }

  test("x51 fuzzy dedup: relative distance bounded, symmetric under block, levenshtein sane") {
    val df = SparkEntry.queries("x51_fuzzy_dedup_levenshtein")(spark, sf)
    val rows = df.collect()
    assert(rows.nonEmpty)
    assert(rows.forall(r => r.getDouble(3) >= 0.0 && r.getDouble(3) <= 0.3))
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
  }

  test("x21 approx distinct within 5% of the hash-green exact twin x36, every group") {
    // the RAW HLL++ estimate is engine-specific (no DuckDB twin can
    // byte-match it), so the registered x21 hashes the CONTRACT instead
    // (exact count + in-bound boolean, each engine judging its own
    // sketch). This pin keeps the raw Spark estimate itself under the
    // 5% bound vs the oracle-checked exact x36, per group.
    val approx = Tables(spark, sf).lineitem
      .groupBy(col("l_returnflag"))
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"))
      .collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long]("approx_parts"))
      .toMap
    val exact = SparkEntry.queries("x36_count_distinct_exact")(spark, sf).collect()
      .map(r => r.getAs[String]("l_returnflag") -> r.getAs[Long]("exact_parts"))
      .toMap
    assert(approx.keySet === exact.keySet, "same groups in both")
    assert(exact.keySet === Set("A", "N", "R"))
    exact.foreach { case (g, ex) =>
      val ap = approx(g).toDouble
      assert(math.abs(ap - ex) / ex < 0.05,
        s"group $g: approx $ap vs exact $ex drifts beyond 5%")
    }
    // and the registered x21 must report the contract as satisfied
    val ok = SparkEntry.queries("x21_approx_distinct")(spark, sf).collect()
    assert(ok.length === 3)
    assert(ok.forall(_.getAs[Boolean]("approx_ok")))
  }

  test("x88 winsorized mean sits inside [p05, p95] and below the outlier-pulled max") {
    val rows = SparkEntry.queries("x88_winsorized_stats")(spark, sf).collect()
    assert(rows.length == 5)
    rows.foreach { r =>
      val (p05, p95, wm) = (r.getAs[Double]("p05"), r.getAs[Double]("p95"),
        r.getAs[Double]("winsorized_mean"))
      assert(p05 < p95)
      // floor-of-cents clip bounds: the mean of clipped values must sit
      // within one cent of the band
      assert(wm >= p05 - 0.01 && wm <= p95, s"wm=$wm outside [$p05, $p95]")
    }
  }
}
