package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Codegen-friendly float-vector dot product.
  *
  * The portable HOF form (`aggregate(zip_with(a, b, ...))`) materializes a
  * products array per row pair — at 12.5M candidate pairs (sf0.1 near-dup)
  * that is 25M short-lived arrays. This native Catalyst expression runs
  * the same left-to-right double accumulation as a tight loop inside
  * whole-stage codegen: bit-identical results (same IEEE op order — the
  * DuckDB oracle still matches), no allocation.
  *
  * Preference order per the build rules: compose built-ins first (the HOF
  * form stays as documentation/reference), custom Expression where the
  * built-in shape is the bottleneck — this is that case.
  */
case class FloatVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def prettyName: String = "float_vec_dot"

  // null elements poison the fold exactly like the HOF twin
  // (aggregate(zip_with(...)): a null product makes acc + null null) —
  // the check is emitted only when an element type is actually
  // nullable, same switch as LongVecSqDist/LongVecDot. Parquet scans
  // always report nullable elements, so contract-bound boundaries wrap
  // their arrays in [[KnownNotNullElements]] to get the branch-free
  // loop (round-17 verdict item 1); the poisoning law stays live for
  // genuinely-nullable inputs.
  private def elemNullable: Boolean =
    VectorExpressions.anyElementNullable(left, right)

  override def nullable: Boolean =
    left.nullable || right.nullable || elemNullable

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullCheck = if (elemNullable)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact int64 squared L2 distance between two `array<bigint>` vectors —
  * the quantization family's inner loop (RVQ assignment/serving, SQ8,
  * the ⌊v·10⁶⌋ grid everywhere): `Σ (a_i − b_i)²` accumulated
  * left-to-right in longs, identical arithmetic (including silent int64
  * wrap) to the portable HOF form
  * `aggregate(zip_with(a, b, (x,y) -> (x-y)*(x-y)), 0L, (acc,v) -> acc+v)`
  * — which evaluates its lambdas INTERPRETED per element and allocates a
  * diffs array per row pair (the SCALE.md "x205 splitter shape" law). This expression is
  * the same tight loop inside whole-stage codegen: no allocation, no
  * per-element interpretation. Same-length input contract (every caller
  * quantizes both sides to the same dimensionality); length mismatch
  * folds over the shorter prefix where the HOF null-poisons — callers
  * never hit that case, and the DuckDB oracles replay the fold law
  * directly so hashes are unaffected. NULL ELEMENTS null-poison exactly
  * like the HOF twin (a null slot makes the zip_with product null and
  * `acc + null` is null): when either child's element type is nullable
  * the loop checks isNullAt per slot and returns NULL on the first hit;
  * when both element types are containsNull = false the check is not
  * emitted and the hot loop is branch-free. */
case class LongVecSqDist(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "long_vec_sqdist"

  private def elemNullable: Boolean =
    VectorExpressions.anyElementNullable(left, right)

  override def nullable: Boolean =
    left.nullable || right.nullable || elemNullable

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val d = x.getLong(i) - y.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val d = ctx.freshName("d")
      val nullCheck = if (elemNullable)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  long $d = $a.getLong($i) - $b.getLong($i);
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Exact int64 dot product between two `array<bigint>` vectors — the
  * long twin of [[FloatVecDot]] and the codegen replacement for
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,v) -> acc+v)`.
  * Same arithmetic (int64 wrap included), same same-length contract and
  * same null-element poisoning (NULL on the first null slot when an
  * element type is nullable; branch-free loop otherwise) as
  * [[LongVecSqDist]]. */
case class LongVecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "long_vec_dot"

  private def elemNullable: Boolean =
    VectorExpressions.anyElementNullable(left, right)

  override def nullable: Boolean =
    left.nullable || right.nullable || elemNullable

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getLong(i) * y.getLong(i)
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val nullCheck = if (elemNullable)
        s"if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }"
      else ""
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |long $acc = 0L;
         |for (int $i = 0; $i < $n; $i++) {
         |  $nullCheck
         |  $acc += $a.getLong($i) * $b.getLong($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** All hyperplane-LSH band keys of a float vector in one codegen pass.
  *
  * The HOF form (one `aggregate(sequence(...))` fold per plane) is the
  * portable reference — and the DuckDB oracle twin — but it is
  * interpreted: 16 folds × 64 steps per row, evaluated on BOTH sides of
  * the candidate self-join. This expression carries the identical
  * arithmetic — plane `j = band·planesPerBand + p` has weight
  * `((j·dims + i)·2654435761 mod 2147483647) / 2147483647 − 0.5` at
  * dimension `i`, accumulated left-to-right in doubles — as a tight loop
  * over a weight table precomputed once per plan, so results are
  * bit-identical to the folds while the per-row cost drops to
  * `bands·planesPerBand·dims` fused multiply-adds inside whole-stage
  * codegen. Returns `array<long>` of length `bands`; bit `p` of band `k`
  * is set when the plane-`(k,p)` projection is ≥ 0.
  *
  * Vectors shorter than `dims` are projected over their available
  * dimensions (the HOF twin null-poisons such folds; fixture and contract
  * vectors are always exactly `dims`-dimensional).
  */
case class HyperplaneBands(child: Expression, bands: Int, planesPerBand: Int, dims: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "hyperplane_bands"

  /** weights(j*dims + i) for plane j, dimension i — same value the HOF
    * computes per step, hoisted out of the per-row loop. */
  private lazy val weights: Array[Double] = {
    val planes = bands * planesPerBand
    Array.tabulate(planes * dims) { idx =>
      ((idx.toLong * 2654435761L) % 2147483647L).toDouble / 2147483647.0 - 0.5
    }
  }

  override def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), dims)
    val out = new Array[Long](bands)
    var k = 0
    while (k < bands) {
      var key = 0L
      var p = 0
      while (p < planesPerBand) {
        val base = (k * planesPerBand + p) * dims
        var acc = 0.0
        var i = 0
        while (i < n) {
          acc += x.getFloat(i).toDouble * weights(base + i)
          i += 1
        }
        if (acc >= 0) key |= 1L << p
        p += 1
      }
      out(k) = key
      k += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val w = ctx.addReferenceObj("weights", weights, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      val k = ctx.freshName("k")
      val p = ctx.freshName("p")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val key = ctx.freshName("key")
      val base = ctx.freshName("base")
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $dims);
         |long[] $out = new long[$bands];
         |for (int $k = 0; $k < $bands; $k++) {
         |  long $key = 0L;
         |  for (int $p = 0; $p < $planesPerBand; $p++) {
         |    int $base = ($k * $planesPerBand + $p) * $dims;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $n; $i++) {
         |      $acc += (double) $v.getFloat($i) * $w[$base + $i];
         |    }
         |    if ($acc >= 0) $key |= 1L << $p;
         |  }
         |  $out[$k] = $key;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Exact integer squared L2 distance between one SUBSPACE of two
  * quantized float vectors — the product-quantization primitive
  * (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011). Dimension `i` contributes `(⌊a_i·10⁶⌋ − ⌊b_i·10⁶⌋)²`
  * over `i ∈ [sub·subDim, (sub+1)·subDim)`; the quantization is the
  * same ⌊v·10⁶⌋ exact-long trick that made the IVF Lloyd step
  * (x53) bit-reproducible cross-engine — every distance this
  * expression emits is an exact int64, so codebook assignment
  * (argmin) and ADC ranking are deterministic on ANY engine and the
  * DuckDB oracle hash-matches.
  *
  * INPUT-MAGNITUDE CONTRACT: the no-overflow argument assumes roughly
  * unit-scale inputs — |q| ≤ ~2·10⁶ for |v| ≤ ~2, so one squared diff
  * ≤ ~1.6·10¹³ and a 64-dim total ≤ ~10¹⁵ ≪ 2⁶³. The int64 subspace
  * sum wraps SILENTLY once element magnitudes exceed ~5·10² (an
  * 8-dim subspace of ±537 elements crosses 2⁶³ — and DuckDB's HUGEINT
  * accumulation would NOT wrap the same way, so an overflow shows up
  * as an oracle divergence, not just a wrong ranking). Embeddings here
  * are unit-ish by construction (the corpus contract); normalize or
  * rescale anything wider before encoding.
  *
  * `sub` is a regular (third) child so `explode(sequence(0, m−1))`
  * can drive all m subspaces through one codegen'd projection;
  * `subDim` is plan-time constant. Vectors shorter than the subspace
  * window contribute only their available dimensions (contract
  * vectors are always exactly m·subDim-dimensional).
  */
case class PqSubSqDist(first: Expression, second: Expression, third: Expression,
    subDim: Int)
    extends TernaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "pq_subdist"

  override def nullSafeEval(a: Any, b: Any, s: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val off = s.asInstanceOf[Int] * subDim
    val end = math.min(off + subDim, math.min(x.numElements(), y.numElements()))
    var acc = 0L
    var i = off
    while (i < end) {
      val qa = math.floor(x.getFloat(i).toDouble * 1000000.0).toLong
      val qb = math.floor(y.getFloat(i).toDouble * 1000000.0).toLong
      val d = qa - qb
      acc += d * d
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, s) => {
      val off = ctx.freshName("off")
      val end = ctx.freshName("end")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val qa = ctx.freshName("qa")
      val qb = ctx.freshName("qb")
      val d = ctx.freshName("d")
      s"""
         |int $off = $s * $subDim;
         |int $end = java.lang.Math.min($off + $subDim,
         |  java.lang.Math.min($a.numElements(), $b.numElements()));
         |long $acc = 0L;
         |for (int $i = $off; $i < $end; $i++) {
         |  long $qa = (long) java.lang.Math.floor((double) $a.getFloat($i) * 1000000.0);
         |  long $qb = (long) java.lang.Math.floor((double) $b.getFloat($i) * 1000000.0);
         |  long $d = $qa - $qb;
         |  $acc += $d * $d;
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** 64-bit Morton (Z-order) code — bit-interleave of the low 32 bits of
  * two non-negative longs (a in even positions, b in odd). Sorting by
  * this key clusters rows that are close in BOTH dimensions into the
  * same files, which is what makes parquet min/max (row-group/file)
  * pruning effective for predicates on EITHER column — the standard
  * lakehouse multi-dimensional layout lever (see SCALE.md "Z-order
  * layout"). Pure bit arithmetic: deterministic everywhere, codegen'd.
  */
case class ZValue(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "z_value"

  override def nullSafeEval(a: Any, b: Any): Any =
    ZValue.interleave(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.ZValue.interleave($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object ZValue {
  /** Spread the low 32 bits of v to even bit positions (the classic
    * magic-mask sequence), then OR the b-word shifted by one. */
  def spread(v: Long): Long = {
    var x = v & 0xFFFFFFFFL
    x = (x | (x << 16)) & 0x0000FFFF0000FFFFL
    x = (x | (x << 8)) & 0x00FF00FF00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0F0F0F0F0FL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }
  def interleave(a: Long, b: Long): Long = spread(a) | (spread(b) << 1)
}

/** `hilbert_value(x, y)` — Hilbert-curve index of a point on the 2^16 ×
  * 2^16 grid (the classic xy2d recursion, iterated): the space-filling
  * curve whose consecutive indices are ALWAYS grid neighbors, unlike
  * the Morton curve's quadrant-boundary jumps (z = 0b0111 → 0b1000
  * crosses half the grid). Same [[ZValue]] codegen shape: a static
  * Java-loop call inside whole-stage codegen, null-safe, LongType. */
case class HilbertValue(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = LongType
  override def prettyName: String = "hilbert_value"

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertValue.xy2d(a.asInstanceOf[Long], b.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HilbertValue.xy2d($a, $b);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object HilbertValue {
  /** 16-bit-per-axis xy→d (order-16 Hilbert curve; d ∈ [0, 2³²)):
    * at each scale s the quadrant id ((3·rx) XOR ry) contributes s²
    * curve steps, then the sub-quadrant's frame is reflected/rotated
    * into canonical orientation — the standard iterative form of the
    * recursion. Pure long arithmetic, deterministic on any JVM. */
  def xy2d(xIn: Long, yIn: Long): Long = {
    var x = xIn & 0xFFFFL
    var y = yIn & 0xFFFFL
    var d = 0L
    var s = 1L << 15
    while (s > 0) {
      val rx = if ((x & s) > 0) 1L else 0L
      val ry = if ((y & s) > 0) 1L else 0L
      d += s * s * ((3L * rx) ^ ry)
      if (ry == 0L) {
        if (rx == 1L) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** Element-level twin of Spark's own `KnownNotNull`: a pass-through
  * tag that narrows an `array<T>` child's type to
  * `containsNull = false`, so the vector kernels above elide their
  * per-slot isNullAt branch (`anyElementNullable` goes false) and the
  * hot loop is branch-free — the round-17 finding was that parquet
  * always reads list elements as nullable (the writer emits
  * `optional` element fields regardless of the data), so without this
  * tag the "provably non-nullable ⇒ branch-free" case NEVER fired on
  * a real scan. An explicit read schema cannot fix it: file sources
  * apply `asNullable` to user schemas, re-widening nested types.
  *
  * Like `KnownNotNull` this is a DECLARATION, not a check — eval and
  * codegen forward the child untouched (zero cost; the codegen'd
  * value/isNull variables ARE the child's). Apply it only at
  * boundaries whose data contract guarantees non-null elements: the
  * testdata `embeddings` scan (the generator never writes null
  * elements — pinned per-SF by VectorExpressionsSpec's boundary
  * assertion) and stream ingest schemas with the same contract.
  * Inputs that may genuinely carry null elements must stay unwrapped
  * so the kernels' null-poisoning law (null slot ⇒ NULL fold, same as
  * the HOF twins) keeps holding — semantics are only elided where
  * they are vacuous. */
case class KnownNotNullElements(child: Expression) extends UnaryExpression {

  override def dataType: DataType = child.dataType match {
    case ArrayType(et, _) => ArrayType(et, containsNull = false)
    case other => other
  }
  override def prettyName: String = "known_not_null_elements"
  override def nullable: Boolean = child.nullable

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
    child.eval(input)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = c.code, isNull = c.isNull, value = c.value)
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object VectorExpressions {

  /** True when either child's array element type is nullable (or the
    * child isn't yet RESOLVED to an array — `dataType` on an unresolved
    * child can throw, and `nullable` may be queried pre-resolution) —
    * the switch that decides whether the kernels emit per-slot
    * isNullAt checks. Conservative both ways: checks are only ELIDED
    * on a resolved, proven containsNull = false schema. */
  private[graft] def anyElementNullable(l: Expression, r: Expression): Boolean =
    Seq(l, r).exists(e =>
      !e.resolved || (e.dataType match {
        case ArrayType(_, containsNull) => containsNull
        case _ => true
      }))

  /** Dot product column over two array<float> columns (by name/expr text,
    * resolved through the registry — keeps us off Spark-internal Column
    * constructors). */
  def vecDot(a: String, b: String): Column = expr(s"float_vec_dot($a, $b)")
}
