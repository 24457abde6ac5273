package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Static helper so whole-stage codegen can call the hash directly. */
object PolyHashUtil {
  final val P: Long = 1000000007L

  /** Left fold `(acc * 31 + codepoint) % P` seeded with 7 — EXACTLY the
    * portable HOF form `aggregate(split(s,''), 7, (acc,c) -> ...)` and its
    * DuckDB twin (ascii() yields the first code point of each char). */
  def hash(s: UTF8String): Long = {
    val str = s.toString
    var acc = 7L
    var i = 0
    val n = str.length
    while (i < n) {
      val cp = str.codePointAt(i)
      acc = (acc * 31 + cp) % P
      i += Character.charCount(cp)
    }
    acc
  }
}

/** Codegen polynomial string hash — the hot-path replacement for the
  * interpreted `aggregate(split(text,''))` fold used by the MinHash /
  * SimHash / fingerprint operators (hundreds of thousands of shingles per
  * scale factor). Bit-identical to the HOF and to the DuckDB oracle's
  * list_reduce formulation.
  */
case class PolyHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "poly_hash"

  override def nullSafeEval(v: Any): Any =
    PolyHashUtil.hash(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.PolyHashUtil.hash($c)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
