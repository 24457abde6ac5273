package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.sources.Tables

/** x195 layout-audit laws: both layouts partition the table (tile row
  * counts sum to the table count, every tile non-empty), the audit's
  * prune decision is CONSERVATIVE (every row matching the box predicate
  * lives in a scan_needed tile — min/max pruning may over-scan, never
  * under-scan), and the Z-order layout's reason to exist holds on real
  * data: strictly fewer rows scanned than the single-column layout for
  * the two-sided box. Also pins agreement between the audit's tile law
  * and the file writer ([[graft.sources.Sinks.writeZOrdered]]): both
  * derive from the same grid + z_value, so per-tile membership under
  * the audit equals curve-range membership under the writer. */
class LayoutSpec extends SparkSuite {
  lazy val li = Tables(spark, "/root/testdata/sf0.01").lineitem
  lazy val audit =
    Layout.zorderAudit(li, "l_partkey", "l_suppkey").cache()

  test("both layouts partition the table") {
    val n = li.count()
    val sums = audit.groupBy("layout").agg(
      sum("n_rows").as("s"), min("n_rows").as("mn")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sums("zorder")._1 === n)
    assert(sums("xsort")._1 === n)
    assert(sums("zorder")._2 >= 1L)
  }

  test("pruning is conservative: no box row lives in a skipped tile") {
    // every (qx, qy) inside the box must map to a scan_needed tile in
    // BOTH layouts; replay the grid + tile law on the raw rows
    val boxTiles = audit.filter(col("scan_needed"))
      .select("layout", "tile").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    val mm = li.agg(
      min("l_partkey"), max("l_partkey"),
      min("l_suppkey"), max("l_suppkey")).head()
    val (mnx, mxx, mny, mxy) =
      (mm.getLong(0), mm.getLong(1), mm.getLong(2), mm.getLong(3))
    val rows = li.select("l_partkey", "l_suppkey").collect().map { r =>
      val qx = (r.getLong(0) - mnx) * 65535L / math.max(mxx - mnx, 1L)
      val qy = (r.getLong(1) - mny) * 65535L / math.max(mxy - mny, 1L)
      (qx, qy)
    }
    val inBox = rows.filter { case (qx, qy) =>
      qx >= 28672 && qx <= 36863 && qy >= 28672 && qy <= 36863 }
    assert(inBox.nonEmpty)
    inBox.foreach { case (qx, qy) =>
      val z = graft.functions.ZValue.interleave(qx, qy)
      assert(boxTiles.contains(("zorder", z >> 24)))
      assert(boxTiles.contains(("xsort", qx >> 8)))
    }
  }

  test("prefix tiles are degenerate: hilbert ≡ zorder cell inventories") {
    // both curves are quadtree-recursive, so power-of-4 PREFIX tiles
    // are the same square cells — identical stats up to tile ids.
    def inv(curve: String) =
      Layout.curveAudit(li, "l_partkey", "l_suppkey", Seq(curve))
        .select("n_rows", "min_qx", "max_qx", "min_qy", "max_qy", "scan_needed")
        .collect().map(_.toSeq).toSet
    assert(inv("hilbert") === inv("zorder"))
  }

  test("value-width tiles expose the curves: hilbert scans fewer rows") {
    val a = Layout.curveAudit(li, "l_partkey", "l_suppkey",
      Seq("hilbert", "zorder"), curveTileWidth = 42949673L)
    val scanned = a.filter(col("scan_needed"))
      .groupBy("layout").agg(sum("n_rows")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(scanned("hilbert") < scanned("zorder"),
      s"hilbert ${scanned("hilbert")} vs zorder ${scanned("zorder")}")
  }

  test("plan shape: all layouts ride ONE data scan (+1 bounds scan)") {
    // the explode-into-memberships-before-partial-agg design: a layout
    // added to `curves` must never add a table scan
    import org.apache.spark.sql.execution.ExplainMode
    def scans(curves: Seq[String]): Int =
      Layout.curveAudit(li, "l_partkey", "l_suppkey", curves)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
        .split("\n").count(_.matches("\\(\\d+\\) Scan parquet.*"))
    assert(scans(Seq("zorder")) === 2)
    assert(scans(Seq("zorder", "xsort", "hilbert")) === 2)
  }

  test("z-order scans strictly fewer rows than x-sort for the box") {
    val scanned = audit.filter(col("scan_needed"))
      .groupBy("layout").agg(sum("n_rows")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(scanned("zorder") < scanned("xsort"),
      s"zorder ${scanned("zorder")} vs xsort ${scanned("xsort")}")
    // and by a real margin on this fixture (measured 868 vs 7578)
    assert(scanned("zorder") * 4 < scanned("xsort"))
  }
}
