package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, BinaryType, DataType, FloatType, LongType}

/** The STUB media-decode feature laws as codegen scalar expressions —
  * `byte_hist16(binary)` and `fake_embed8(binary)` — so feature
  * extraction plans as an ordinary projection (column-pruned,
  * whole-stage codegen, no object-serialization wall) instead of the
  * round-≤14 `mapPartitions` pass. The laws are the ones
  * `graft.operators.Multimodal.fakeDecode` has always pinned (that
  * method now delegates here):
  *
  *  - histogram: 16 buckets over the high nibble of each payload byte
  *    (`(b & 0xff) >> 4`), counts as BIGINT — Σ buckets = payload
  *    length.
  *  - embedding: 8 floats from an LCG seeded with the payload's
  *    polynomial hash (the [[PolyHash]] law: left fold of
  *    `(acc·31 + byte) mod 1e9+7` from 7), each step
  *    `h ← (h·1103515245 + 12345) mod 2³¹`, emitted as
  *    `float(h / 2³¹) − 0.5f` — double division by a power of two is
  *    exact, the float round-off and float subtraction are the same
  *    IEEE ops in Spark and DuckDB, so the whole law carries a hash
  *    oracle (x192).
  *
  * A real deployment swaps these for a codec stage; every downstream
  * consumer (schema, joins, ANN over the embedding) is unchanged.
  */
object MediaFeatureUtil {

  private val P = 1000000007L

  /** 16-bucket high-nibble byte histogram. */
  def hist16(bytes: Array[Byte]): Array[Long] = {
    val hist = new Array[Long](16)
    var i = 0
    while (i < bytes.length) {
      hist((bytes(i) & 0xff) >> 4) += 1
      i += 1
    }
    hist
  }

  /** 8-dim fake content embedding: LCG draws from the payload's
    * polynomial hash. */
  def embed8(bytes: Array[Byte]): Array[Float] = {
    var acc = 7L
    var i = 0
    while (i < bytes.length) {
      acc = (acc * 31 + (bytes(i) & 0xff)) % P
      i += 1
    }
    val emb = new Array[Float](8)
    var j = 0
    var h = acc
    while (j < 8) {
      h = (h * 1103515245L + 12345L) % 2147483648L
      emb(j) = (h.toDouble / 2147483648.0).toFloat - 0.5f
      j += 1
    }
    emb
  }

  // Catalyst-boxed variants the expressions/codegen call directly.
  def hist16Data(bytes: Array[Byte]): GenericArrayData =
    new GenericArrayData(hist16(bytes))
  def embed8Data(bytes: Array[Byte]): GenericArrayData =
    new GenericArrayData(embed8(bytes))
}

private[functions] trait MediaFeatureExpr extends UnaryExpression {
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName needs binary, got ${child.dataType}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
}

/** `byte_hist16(binary)` → array<bigint> (16 high-nibble bucket counts). */
case class ByteHist16(child: Expression) extends MediaFeatureExpr {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "byte_hist16"
  override def nullSafeEval(v: Any): Any =
    MediaFeatureUtil.hist16Data(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MediaFeatureUtil.hist16Data($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `fake_embed8(binary)` → array<float> (8 LCG draws off the poly hash). */
case class FakeEmbed8(child: Expression) extends MediaFeatureExpr {
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def prettyName: String = "fake_embed8"
  override def nullSafeEval(v: Any): Any =
    MediaFeatureUtil.embed8Data(v.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.MediaFeatureUtil.embed8Data($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
