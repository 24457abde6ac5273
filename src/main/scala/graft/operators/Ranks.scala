package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Top-k-per-group with a partial per-partition prune.
  *
  * The shuffle hazard: a naive grouped rank filter would move EVERY row
  * of every group to the exchange even though at most k per
  * (input-partition, key) can survive. Spark ≥3.5 closes this itself:
  * the `InferWindowGroupLimit` rule rewrites
  * `row_number().over(partitionBy(key).orderBy(...)) <= k` into a
  * partial per-partition `WindowGroupLimit` BEFORE the exchange plus the
  * exact window after it — the same bound the hand-rolled heap below
  * enforces, but inside columnar execution with no
  * ser/deser/mapPartitions codegen break. Measured on this suite
  * (sf0.1, min-of-5): x137 2.69 → 2.13 s, x149 0.76 → 0.70 s in favor
  * of the native form — so [[topKPerGroup]] now plans the plain window
  * and lets the optimizer insert the prune; `.explain` shows
  * `WindowGroupLimit` spans on both sides of the exchange.
  *
  * [[topKPerGroupHeap]] keeps the explicit mapPartitions heap — the
  * same algorithm, called directly on the all-pairs candidate frames
  * (Dedup's `annTopK` and `matryoshkaRecall`, where it measured faster)
  * and the fallback for engines without the rewrite. Both forms are
  * bit-identical because the mandatory tiebreak columns make each
  * group's ordering total.
  */
object Ranks {

  /** Ordering over the projected sort columns of a Row (nulls first on
    * asc, mirroring Spark's default NULLS FIRST). */
  private def rowOrdering(
      schema: StructType, orderCols: Seq[(String, Boolean)]): Ordering[Row] = {
    val extractors: Seq[(Int, Boolean, Ordering[Any])] = orderCols.map { case (name, asc) =>
      val idx = schema.fieldIndex(name)
      val base: Ordering[Any] = (schema(idx).dataType match {
        case _: ByteType | _: ShortType | _: IntegerType | _: LongType =>
          Ordering.by((v: Any) => v.asInstanceOf[Number].longValue())
        case _: FloatType | _: DoubleType =>
          Ordering.by((v: Any) => v.asInstanceOf[Number].doubleValue())
        case _: DecimalType =>
          Ordering.by((v: Any) => v.asInstanceOf[java.math.BigDecimal])
        case _: StringType => Ordering.by((v: Any) => v.asInstanceOf[String])
        case _: DateType => Ordering.by((v: Any) => v.asInstanceOf[java.sql.Date].getTime)
        case _: TimestampType =>
          Ordering.by((v: Any) => v.asInstanceOf[java.sql.Timestamp].getTime)
        case other =>
          throw new IllegalArgumentException(s"unsupported order column type: $other")
      }).asInstanceOf[Ordering[Any]]
      (idx, asc, base)
    }
    (a: Row, b: Row) => {
      var i = 0
      var cmp = 0
      while (cmp == 0 && i < extractors.length) {
        val (idx, asc, ord) = extractors(i)
        val (x, y) = (a.get(idx), b.get(idx))
        cmp =
          if (x == null && y == null) 0
          else if (x == null) -1 // NULLS FIRST under asc
          else if (y == null) 1
          else ord.compare(x, y)
        if (!asc) cmp = -cmp
        i += 1
      }
      cmp
    }
  }

  /** Top `k` rows per `keyCols` group under `orderCols` ((name, asc)
    * pairs — MUST form a total order within each group, i.e. end with a
    * unique tiebreak). Identical output to the row_number window form,
    * with the shuffle bounded at k rows per (partition, key). */
  def topKPerGroup(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[(String, Boolean)],
      k: Int
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map { case (c, asc) =>
        if (asc) col(c).asc else col(c).desc }: _*)
    // collision-free temp name: an input that already carries "__rn"
    // must survive untouched (the heap variant preserves arbitrary
    // schemas; this path must too)
    val rn = Iterator.iterate("__rn")(_ + "_")
      .dropWhile(df.columns.contains).next()
    df.withColumn(rn, row_number().over(w))
      .filter(col(rn) <= k)
      .drop(rn)
  }

  /** The hand-rolled form of the partial prune: a bounded per-key heap
    * in mapPartitions ahead of the exact window, for Dedup's all-pairs
    * frames and for Spark builds without WindowGroupLimit. */
  def topKPerGroupHeap(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[(String, Boolean)],
      k: Int
  ): DataFrame = {
    require(k > 0, "k must be positive")
    val schema = df.schema
    val keyIdx = keyCols.map(schema.fieldIndex)
    val ord = rowOrdering(schema, orderCols)
    val pruned = df.mapPartitions { rows =>
      // per-key bounded heap: worst survivor on top for O(log k) eviction
      val heaps = mutable.HashMap.empty[Seq[Any], mutable.PriorityQueue[Row]]
      rows.foreach { r =>
        val key = keyIdx.map(r.get)
        val heap = heaps.getOrElseUpdate(key, mutable.PriorityQueue.empty(ord))
        if (heap.size < k) heap.enqueue(r)
        else if (ord.compare(r, heap.head) < 0) { heap.dequeue(); heap.enqueue(r) }
      }
      heaps.valuesIterator.flatMap(_.iterator)
    }(Encoders.row(schema))
    // exact ranks over the survivors — same result as over the full input
    val w = Window
      .partitionBy(keyCols.map(col): _*)
      .orderBy(orderCols.map { case (c, asc) => if (asc) col(c).asc else col(c).desc }: _*)
    pruned
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Exact strictly-greater suffix sum over a DISTINCT-value frame with
    * NO unpartitioned window: `outCol` = Σ `weightCol` over rows whose
    * `valueCol` is strictly greater.
    *
    * The naive form — `sum(w).over(Window.orderBy(v.desc))` — funnels
    * the whole frame through ONE sort task (the g06 hazard). Here the
    * total order is recovered hierarchically: `bucket` coarsens the
    * value domain into an ORDERED grid (caller supplies a monotone
    * non-decreasing map, e.g. `floor(v / 1024)`), per-bucket totals make
    * a grid-sized frame whose strictly-greater offsets come from a
    * broadcast nested-loop self-join (grid² pairs — the grid is bounded
    * by domain/width, never by row count), and the within-bucket
    * remainder is a window PARTITIONED by bucket. Every shuffle is keyed;
    * the only global structure is the broadcast grid.
    *
    * Contract: `valueCol` values must be distinct (a groupBy(value)
    * frame), `weightCol` integral (long), `bucket` monotone in the value.
    *
    * The input frame is NOT materialized (r19): its consumers below
    * (per-bucket totals; the join-back probe side) share the upstream
    * distinct-value aggregation's exchange, which AQE's runtime stage
    * reuse computes once — the static ReuseExchange rule does not
    * unify them, which is what the pre-r19 checkpoint-for-the-call
    * here was (mis)reading as N× redundant scans. Measured r19
    * same-host, min-of-3: x133 2.76→1.68 s (30→27 jobs),
    * x140 1.74→1.13 s, x128 flat — the checkpoint write plus its
    * barrier jobs cost more than the shared stage it saved at every
    * call site (OPTIMIZATION_r19.md batch 8). */
  def suffixSumDistinct(
      df: DataFrame,
      valueCol: String,
      weightCol: String,
      bucket: Column,
      outCol: String
  ): DataFrame = {
    val b = df.withColumn("__b", bucket.cast("long"))
    val perBucket = b.groupBy(col("__b")).agg(sum(col(weightCol)).as("__bw"))
    val rhs = perBucket.select(col("__b").as("__ob"), col("__bw").as("__obw"))
    val off = perBucket
      .join(broadcast(rhs), col("__ob") > col("__b"), "left")
      .groupBy(col("__b"))
      .agg(coalesce(sum(col("__obw")), lit(0L)).as("__off"))
    val w = Window.partitionBy(col("__b")).orderBy(col(valueCol).desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    b.join(broadcast(off), "__b")
      .withColumn(outCol,
        coalesce(sum(col(weightCol)).over(w), lit(0L)) + col("__off"))
      .drop("__b", "__off")
  }
}
