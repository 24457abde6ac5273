package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Z-order layout AUDIT — the oracle-registered twin of the curve
  * writers in [[graft.sources.Sinks.writeZOrdered]]: the writer
  * range-partitions on the Morton value and relies on parquet min/max
  * stats for pruning (spec-verified, but file-side effects are not
  * DuckDB-checkable); this operator computes the SAME layout law as a
  * pure dataflow — per curve-prefix tile, the min/max statistics a file
  * skipper would consult and the resulting prune decision for a
  * two-sided box predicate — so the whole layout story (grid
  * normalization, bit interleave, tile split, min/max pruning) is
  * hash-pinned against an independent engine.
  *
  * Everything is exact integer arithmetic: grid id =
  * `(c − min)·65535 div max(span, 1)` (the writer's narrow-regime
  * formula), Morton = [[graft.functions.ZValue]] (codegen bit
  * interleave; the oracle replays it as 16 div/mod terms per axis), and
  * the plan is two scans with NO global sort — one 1-row bounds
  * aggregate broadcast into the scan projection, then one
  * map-side-combined groupBy of at most `4^tileBits` groups per layout.
  * At 100 TB that is the same cost as any single-pass scan audit; the
  * writer's range shuffle is what actually materializes the layout.
  */
object Layout {

  /** Per-tile layout statistics under (a) Z-order curve-prefix tiles
    * and (b) a single-column `xCol` range layout with the SAME tile
    * count (`4^tileBits` each), plus the min/max prune decision for the
    * box predicate `qx ∈ [boxLo, boxHi] ∧ qy ∈ [boxLo, boxHi]` (bounds
    * on the 16-bit grid; defaults select the centre eighth of both
    * axes). Output: one row per non-empty (layout, tile) —
    * (layout, tile, n_rows, min_qx, max_qx, min_qy, max_qy,
    * scan_needed). Quantization is monotone, so prune decisions on the
    * grid equal prune decisions on the raw columns.
    *
    * `xsort` is the honest strawman: perfect pruning on `xCol`, none on
    * `yCol` — LayoutSpec asserts the Z layout scans strictly fewer rows
    * on the two-sided box. */
  def zorderAudit(
      df: DataFrame, xCol: String, yCol: String,
      tileBits: Int = 4,
      boxLo: Long = 28672L, boxHi: Long = 36863L): DataFrame =
    curveAudit(df, xCol, yCol, Seq("zorder", "xsort"), tileBits, boxLo, boxHi)

  /** The general multi-layout form: audit `df` under each layout in
    * `curves` — "zorder" (Morton), "hilbert", "xsort" (single-column
    * ranges). All requested layouts ride ONE data scan: each row
    * explodes into its per-layout (layout, tile) memberships BEFORE the
    * partial aggregate, so the exchange carries only a bounded number
    * of combined groups at any corpus size.
    *
    * Tile law: with `curveTileWidth = 0` (default), tiles are the top
    * `2·tileBits` curve bits. NOTE the degeneracy this implies: both
    * Morton and Hilbert are quadtree-recursive (each visits a whole
    * 2^k × 2^k cell before leaving it), so power-of-4 PREFIX tiles are
    * the IDENTICAL square cells for both curves — identical min/max
    * stats, identical prune decisions. The curves only differ once tile
    * boundaries cut the curve MID-cell, which is what a real writer's
    * equal-size file split does; `curveTileWidth > 0` models that with
    * fixed-value-width curve ranges (`tile = curve div width`), where
    * Hilbert's continuity yields tighter per-tile boxes than Morton's
    * quadrant-boundary jumps (x200 measures 2 337 vs 3 442 rows scanned
    * at 100 tiles on the fixture). `xsort` always uses qx prefix bits. */
  def curveAudit(
      df: DataFrame, xCol: String, yCol: String, curves: Seq[String],
      tileBits: Int = 4,
      boxLo: Long = 28672L, boxHi: Long = 36863L,
      curveTileWidth: Long = 0L): DataFrame = {
    val x = col(xCol).cast("long")
    val y = col(yCol).cast("long")
    val mm = df.agg(
      min(x).as("__mnx"), max(x).as("__mxx"),
      min(y).as("__mny"), max(y).as("__mxy"))
    val q = df.select(x.as("__x"), y.as("__y"))
      .crossJoin(broadcast(mm))
      .select(
        expr("(__x - __mnx) * 65535L div greatest(__mxx - __mnx, 1L)").as("qx"),
        expr("(__y - __mny) * 65535L div greatest(__mxy - __mny, 1L)").as("qy"))
    // curve values span [0, 2^32) (order-16), qx spans [0, 2^16).
    // Curves are projected to NAMED columns first so the fixed-width
    // cut can be a plain `name div width` expression — no
    // Column.toString round-trip (a display string, not a parseable
    // SQL contract).
    val curveNames: Map[String, String] = curves.distinct.map {
      case "zorder"  => "zorder" -> "__zc"
      case "hilbert" => "hilbert" -> "__hc"
      case "xsort"   => "xsort" -> "qx"
      case other =>
        throw new IllegalArgumentException(s"unknown layout: $other")
    }.toMap
    val curveCols = curveNames.collect {
      case ("zorder", n)  => expr("z_value(qx, qy)").as(n)
      case ("hilbert", n) => expr("hilbert_value(qx, qy)").as(n)
    }.toSeq
    val qc = q.select(col("qx") +: col("qy") +: curveCols: _*)
    def cut(name: String, prefixShift: Int): Column =
      if (curveTileWidth > 0L) expr(s"$name div ${curveTileWidth}L")
      else shiftright(col(name), prefixShift)
    def tile(curve: String): Column = curve match {
      case "zorder"  => cut(curveNames(curve), 32 - 2 * tileBits)
      case "hilbert" => cut(curveNames(curve), 32 - 2 * tileBits)
      case "xsort"   => shiftright(col("qx"), 16 - 2 * tileBits)
      case other =>
        throw new IllegalArgumentException(s"unknown layout: $other")
    }
    val out = qc
      .select(
        explode(array(curves.map(c =>
          struct(lit(c).as("layout"), tile(c).cast("long").as("tile"))): _*))
          .as("lt"),
        col("qx"), col("qy"))
      .groupBy(col("lt.layout").as("layout"), col("lt.tile").as("tile"))
      .agg(
        count(lit(1)).as("n_rows"),
        min(col("qx")).as("min_qx"), max(col("qx")).as("max_qx"),
        min(col("qy")).as("min_qy"), max(col("qy")).as("max_qy"))
    out.withColumn(
      "scan_needed",
      col("max_qx") >= boxLo && col("min_qx") <= boxHi &&
        col("max_qy") >= boxLo && col("min_qy") <= boxHi)
  }
}
