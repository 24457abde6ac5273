package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

import graft.SparkEntry
import graft.SparkSuite

/** Contracts for the governance/audit batch x131–x136 (temporal embargo
  * split, Pareto frontier, RFM segmentation, lang-ID confusion, rank
  * normalization, co-purchase degrees). Cross-engine exactness is the
  * DuckDB oracle's job; these pin the operator invariants (partition of
  * the input, dominance completeness, probability-mass closure) and the
  * scale-relevant plan shapes.
  */
class GovernanceSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)
  private def plan(name: String): String =
    run(name).queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("x131 splits partition every event and the test tail is ~20%") {
    val rows = run("x131_temporal_embargo_split").collect()
    val total = rows.map(r => r.getLong(1) + r.getLong(2) + r.getLong(3)).sum
    val nEvents = spark.read.parquet(s"$sf/events.parquet").count()
    assert(total == nEvents, "train+embargo+test must partition the events")
    val nTest = rows.map(_.getLong(3)).sum
    // cutoff = smallest ts whose cumulative count >= floor(0.8 n): the
    // test side is at most 20% and can shrink only by boundary ties.
    assert(nTest <= math.ceil(nEvents * 0.2).toLong + 1)
    assert(nTest > 0 && rows.map(_.getLong(1)).sum > 0)
  }

  test("x131 cutoff reaches the per-type aggregate as a broadcast (no shuffle join)") {
    val p = plan("x131_temporal_embargo_split")
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x132 frontier is exactly the non-dominated set per brand") {
    val parts = spark.read.parquet(s"$sf/part.parquet")
      .selectExpr("p_brand", "p_retailprice", "CAST(p_size AS BIGINT) p_size",
        "CAST(p_partkey AS BIGINT) p_partkey")
      .collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    def dominated(b: String, price: Double, sz: Long): Boolean =
      parts.exists { case (b2, p2, s2, _) =>
        b2 == b && p2 <= price && s2 >= sz && (p2 < price || s2 > sz)
      }
    val got = run("x132_pareto_frontier")
      .select("p_brand", "p_partkey").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val want = parts.collect {
      case (b, p, s, k) if !dominated(b, p, s) => (b, k)
    }.toSet
    assert(got == want)
  }

  test("x133 segments cover every customer, scores are terciles, spend closes") {
    val rows = run("x133_rfm_segments").collect()
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    assert(rows.map(_.getLong(3)).sum == orders.select("o_custkey").distinct().count())
    assert(rows.forall { r =>
      Seq(r.getLong(0), r.getLong(1), r.getLong(2)).forall(s => s >= 1 && s <= 3)
    })
    val total = rows.map(_.getDouble(4)).sum
    val want = orders.selectExpr(
      "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) s"
    ).collect()(0).getDouble(0)
    assert(math.abs(total - want) < 1e-4, s"$total vs $want")
  }

  test("x134 recall mass closes to 1 per true lang, precision per predicted lang") {
    val rows = run("x134_langid_confusion").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._3).sum ==
      spark.read.parquet(s"$sf/documents.parquet").count())
    rows.groupBy(_._1).foreach { case (lang, g) =>
      assert(math.abs(g.map(_._4).sum - 1.0) < 1e-12, s"recall mass for $lang")
    }
    rows.groupBy(_._2).foreach { case (pred, g) =>
      assert(math.abs(g.map(_._5).sum - 1.0) < 1e-12, s"precision mass for $pred")
    }
  }

  test("x135 normalized ranks are bounded and ordered, CDF side broadcasts") {
    val rows = run("x135_quantile_normalize").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (mean, mn, mx) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(mn >= 0.0 && mx <= 1.0 && mn <= mean && mean <= mx)
    }
    val p = plan("x135_quantile_normalize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("x136 degree histogram covers all parts with an even total degree") {
    val rows = run("x136_copurchase_degree").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nParts = spark.read.parquet(s"$sf/part.parquet").count()
    assert(rows.map(_._2).sum == nParts, "every part appears exactly once")
    val totalDegree = rows.map { case (d, n) => d * n }.sum
    assert(totalDegree % 2 == 0, "handshake lemma: sum of degrees is even")
    assert(totalDegree > 0, "fixture orders share parts")
  }
}
