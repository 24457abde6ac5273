package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}

import graft.SparkEntry
import graft.SparkSuite

/** Mechanical plan hygiene over EVERY registered query — the sweep form
  * of PlanSpec's per-query pins, so a future query can't reintroduce a
  * global-sort window or an accidental cross product without either
  * fixing it or justifying it here:
  *
  *  1. no logical Window with an empty partitionSpec (the single-task
  *     global sort hazard) outside the whitelist below;
  *  2. no CartesianProduct in the physical plan outside the whitelist
  *     (broadcast nested-loop joins over bounded frames plan as
  *     BroadcastNestedLoopJoin and are NOT flagged).
  *
  * Whitelists are justified inline; every entry is a bounded frame by
  * construction (grid-, query-, or output-sized — never corpus-sized).
  */
class PlanSweepSpec extends SparkSuite {
  private val sf = "/root/testdata/sf0.001"

  /** Queries allowed an unpartitioned logical Window, each over a frame
    * bounded by something other than corpus size (the justification is
    * the scaladoc of each query; summarized here):
    *  - g05: W1 gaps-and-islands over ONE team's games (reference
    *    semantics; the all-teams scale form is the partitioned/stateful
    *    streaming twin — SCALE.md "Windows")
    *  - x68/x182: running sum over the ≤ ~1001-row score-band histogram
    *  - x72: coverage curve over the source histogram (domain-sized)
    *  - x111: quantile walk over a width-16 mergeable histogram
    *  - x112: ranks over two 50-row top-k frames
    *  - x131: exact global quantile over the |distinct ts| count table
    *    (documented 100 TB swap: histogram brackets / range partitions)
    *  - x135: CDF over the distinct-length count table (bounded domain)
    *  - x202: prefix walk over the per-source capacity table — one row
    *    per SOURCE (domain-sized, not corpus-sized)
    */
  private val globalWindowOk: Set[String] = Set(
    "g05_streaks_one_row",
    "x68_token_budget_select",
    "x182_release_pipeline_v2",
    "x72_source_token_coverage",
    "x111_hist_quantiles",
    "x112_hybrid_rrf",
    "x131_temporal_embargo_split",
    "x135_quantile_normalize",
    "x202_waterfill_mixture")

  /** Queries allowed a CartesianProduct in the physical plan. */
  private val cartesianOk: Set[String] = Set.empty

  test("no registered query plans an unpartitioned Window outside the whitelist") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.optimizedPlan
      val globals = plan.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      if (globals.nonEmpty && !globalWindowOk(name)) Some(name) else None
    }
    assert(offenders.isEmpty, s"unpartitioned Window in: ${offenders.mkString(", ")}")
  }

  test("no registered query plans a CartesianProduct outside the whitelist") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val p = fn(spark, sf).queryExecution.sparkPlan.toString
      if (p.contains("CartesianProduct") && !cartesianOk(name)) Some(name) else None
    }
    assert(offenders.isEmpty, s"CartesianProduct in: ${offenders.mkString(", ")}")
  }

  /** Round-17 regression class, pinned (verdict item 2): parquet scans
    * always report nullable array elements, so without the
    * KnownNotNullElements boundary tag every float_vec_dot /
    * long_vec_sqdist / long_vec_dot inner loop silently re-gains a
    * per-slot isNullAt branch — a codegen deopt invisible to
    * correctness and to gc_ms, only caught by bench drift. This sweep
    * turns it into a test failure: on the canonical testdata schemas,
    * no registered query may plan a vector kernel whose children still
    * carry nullable elements (anyElementNullable IS the emit switch —
    * asserting it false asserts the generated loop is branch-free). */
  test("vector kernels are branch-free on every registered query's canonical plan") {
    import graft.functions.{FloatVecDot, LongVecDot, LongVecSqDist, VectorExpressions}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val plan = fn(spark, sf).queryExecution.optimizedPlan
      val branchy = scala.collection.mutable.ListBuffer[String]()
      def sweepExpr(e: org.apache.spark.sql.catalyst.expressions.Expression): Unit =
        e.foreach {
          case d: FloatVecDot if VectorExpressions.anyElementNullable(d.left, d.right) =>
            branchy += s"float_vec_dot(${d.left.dataType.simpleString}, ${d.right.dataType.simpleString})"
          case d: LongVecSqDist if VectorExpressions.anyElementNullable(d.left, d.right) =>
            branchy += s"long_vec_sqdist(${d.left.dataType.simpleString}, ${d.right.dataType.simpleString})"
          case d: LongVecDot if VectorExpressions.anyElementNullable(d.left, d.right) =>
            branchy += s"long_vec_dot(${d.left.dataType.simpleString}, ${d.right.dataType.simpleString})"
          case _ =>
        }
      def sweepPlan(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
        p.foreach { node =>
          node.expressions.foreach(sweepExpr)
          node.subqueries.foreach(sweepPlan)
        }
      sweepPlan(plan)
      if (branchy.nonEmpty) Some(s"$name: ${branchy.distinct.mkString("; ")}") else None
    }
    assert(offenders.isEmpty,
      s"nullable-element vector kernels (per-slot branch emitted) in:\n${offenders.mkString("\n")}")
  }
}
