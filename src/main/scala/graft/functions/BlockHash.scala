package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BinaryType, DataType, LongType}

/** 64-bit perceptual block hash over an opaque media payload.
  *
  * The Blockhash law (Yang/Weng/Lei/Mitra's block mean value hash, the
  * public-domain pHash cousin used for image near-dup): split the
  * payload into 64 equal byte blocks, one bit per block, set iff the
  * block's mean byte value exceeds the GLOBAL mean. Two payloads whose
  * content differs locally (a changed region, appended metadata, a
  * re-encode wobble) flip only the bits of the touched blocks, so
  * Hamming distance over the 64-bit signature tracks payload
  * similarity — the binary-column analog of SimHash over tokens.
  *
  * Exactness contract (the oracle replays every bit):
  *  - block b covers bytes [⌊b·n/64⌋, ⌊(b+1)·n/64⌋) — the standard
  *    equal-split law; empty blocks (n < 64) contribute bit 0.
  *  - "mean > mean" is evaluated with INTEGER cross-multiplication:
  *    blockSum·n > totalSum·blockLen — no division, no floats, no
  *    rounding mode to disagree on. Safe while 255·n² < 2⁶³, i.e.
  *    payloads up to ~190 MB — far above any single-row media cell a
  *    sane pipeline ships (multi-GB assets ride as chunked rows).
  *  - bit b lands at position 63−b (block 0 = MSB), so b = 0 is the
  *    sign bit and the signature is an ordinary signed BIGINT in both
  *    engines; band extraction masks after an arithmetic shift, which
  *    two's complement makes sign-safe.
  *
  * One O(n) pass per payload, no allocation beyond the result — the
  * decode-free stand-in matching graft.operators.Multimodal's fake
  * codec: real deployments swap the byte grid for decoded luma and keep
  * every downstream operator (banding, Hamming verify, clustering)
  * unchanged.
  */
object BlockHashUtil {

  def hash(bytes: Array[Byte]): Long = {
    val n = bytes.length
    if (n == 0) return 0L
    var total = 0L
    var i = 0
    while (i < n) { total += (bytes(i) & 0xff); i += 1 }
    var h = 0L
    var b = 0
    while (b < 64) {
      val lo = (b.toLong * n / 64).toInt
      val hi = ((b + 1).toLong * n / 64).toInt
      if (hi > lo) {
        var s = 0L
        var j = lo
        while (j < hi) { s += (bytes(j) & 0xff); j += 1 }
        if (s * n > total * (hi - lo)) h |= 1L << (63 - b)
      }
      b += 1
    }
    h
  }
}

/** Codegen wrapper: `block_hash64(binary)` → long. */
case class BlockHash64(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "block_hash64"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType != BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"block_hash64 needs binary, got ${child.dataType}")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess

  override def nullSafeEval(v: Any): Any =
    BlockHashUtil.hash(v.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.BlockHashUtil.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
