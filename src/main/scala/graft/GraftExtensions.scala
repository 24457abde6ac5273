package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions.{BlockHash64, ByteHist16, CdcCuts, FakeEmbed8, FloatVecDot,
  HilbertValue, HyperplaneBands, KnownNotNullElements, LongVecDot, LongVecSqDist,
  PolyHash, PqSubSqDist, SpanHashes, ZValue}

/** SparkSessionExtensions entry point and the ONE place the engine's
  * native SQL functions are registered. A session has them when it is
  * built with `spark.sql.extensions=graft.GraftExtensions`: every main and
  * spec through [[Sessions.local]], the benchmark harness, and plain
  * `spark-submit` / Thrift-server SQL users via `--conf`. Spark copies
  * injected functions into `newSession()` sessions and into the cloned
  * sessions streaming micro-batches run in.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach { f =>
      ext.injectFunction((
        FunctionIdentifier(f.name),
        new ExpressionInfo(classOf[GraftExtensions].getName, null, f.name, f.usage, ""),
        f.build
      ))
    }
    // SUM(CAST(x AS DECIMAL(18,4))) → primitive-long limb sums; see
    // graft.plans.LimbSumRewrite (spark.graft.limbSumRewrite=false to opt out)
    ext.injectOptimizerRule(_ => graft.plans.LimbSumRewrite)
  }
}

object GraftExtensions {

  /** One native function: its SQL name, the `DESCRIBE FUNCTION` usage
    * line (`_FUNC_` stands for the name) and its expression builder. */
  private[graft] final case class NativeFunction(
      name: String, usage: String, build: Seq[Expression] => Expression)

  /** Arguments that are plan-time operator parameters must be int literals. */
  private def intLit(e: Expression, function: String, argument: String): Int = e match {
    case Literal(v: Int, _) => v
    case other =>
      throw new IllegalArgumentException(
        s"$function $argument must be an int literal, got $other")
  }

  private[graft] val functions: Seq[NativeFunction] = Seq(
    NativeFunction("float_vec_dot",
      "_FUNC_(a, b) - dot product of two array<float>",
      e => FloatVecDot(e(0), e(1))),
    NativeFunction("long_vec_sqdist",
      "_FUNC_(a, b) - exact int64 squared L2 distance of two array<bigint>",
      e => LongVecSqDist(e(0), e(1))),
    NativeFunction("long_vec_dot",
      "_FUNC_(a, b) - exact int64 dot product of two array<bigint>",
      e => LongVecDot(e(0), e(1))),
    NativeFunction("hyperplane_bands",
      "_FUNC_(vec, bands, planesPerBand, dims) - random-hyperplane LSH band keys, array<bigint>",
      e => HyperplaneBands(e(0), intLit(e(1), "hyperplane_bands", "bands"),
        intLit(e(2), "hyperplane_bands", "planesPerBand"),
        intLit(e(3), "hyperplane_bands", "dims"))),
    // Exact int64 subspace sq-L2 under ⌊v·10⁶⌋ quantization. Inputs must
    // be roughly unit-scale floats (|v| ≲ 5·10², see PqSubSqDist's
    // INPUT-MAGNITUDE CONTRACT) — the int64 sum wraps silently beyond
    // that, diverging from any wider-accumulator engine.
    NativeFunction("pq_subdist",
      "_FUNC_(a, b, sub, subDim) - exact int64 squared L2 distance of subspace sub of two array<float>",
      e => PqSubSqDist(e(0), e(1), e(2), intLit(e(3), "pq_subdist", "subDim"))),
    NativeFunction("known_not_null_elements",
      "_FUNC_(arr) - declares that arr holds no null elements (no check)",
      e => KnownNotNullElements(e(0))),
    NativeFunction("z_value",
      "_FUNC_(a, b) - 64-bit Morton (Z-order) code of two non-negative longs",
      e => ZValue(e(0), e(1))),
    NativeFunction("hilbert_value",
      "_FUNC_(x, y) - Hilbert-curve index of a point on the 2^16 x 2^16 grid",
      e => HilbertValue(e(0), e(1))),
    NativeFunction("poly_hash",
      "_FUNC_(str) - portable polynomial string hash",
      e => PolyHash(e.head)),
    NativeFunction("block_hash64",
      "_FUNC_(bin) - 64-bit block-mean perceptual hash of a binary payload",
      e => BlockHash64(e.head)),
    NativeFunction("cdc_cuts",
      "_FUNC_(words, k, divisor) - content-defined-chunking cut positions, array<bigint>",
      e => CdcCuts(e.head, intLit(e(1), "cdc_cuts", "k"), intLit(e(2), "cdc_cuts", "divisor"))),
    NativeFunction("byte_hist16",
      "_FUNC_(bin) - stub 16-bucket high-nibble byte histogram, array<bigint>",
      e => ByteHist16(e.head)),
    NativeFunction("fake_embed8",
      "_FUNC_(bin) - stub 8-d float embedding of a binary payload, array<float>",
      e => FakeEmbed8(e.head)),
    NativeFunction("span_hashes",
      "_FUNC_(text, k) - poly_hash of every k-token window of split(text, ' '), array<bigint>",
      e => SpanHashes(e.head, e(1)))
  )
}
