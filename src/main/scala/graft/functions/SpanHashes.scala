package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Rolling-hash window enumeration for substring-span dedup.
  *
  * `span_hashes(text, k)` returns one Long per k-token window of
  * `split(text, ' ')`: element `i` is BIT-IDENTICAL to
  * `poly_hash(array_join(slice(split(text,' '), i+1, k), ' '))` — the
  * x139/x173 identity the DuckDB oracles replay — but computed in ONE
  * O(total-chars) pass per document instead of materializing n·k gram
  * bytes before hashing. At 100 TB the old form's pre-shuffle byte
  * volume (each token copied k≈8× into gram strings, then hashed) was
  * the named residual term of the x173/x175/x182 family; this form
  * ships 8 bytes per window and touches each character exactly twice
  * (once entering the rolling window, once leaving).
  *
  * Math: [[PolyHashUtil.hash]] is the seed-7 left fold
  * `acc ← (acc·31 + codepoint) mod P` over the joined window string.
  * Maintaining `h` = seed-0 fold of the current window and
  * `pw` = 31^len(window) (len in codepoints), the window hash is
  * `(7·pw + h) mod P`. Extending right by codepoint c:
  * `h ← h·31 + c`, `pw ← pw·31`. Dropping codepoint c from the left:
  * `pw ← pw·31⁻¹`, `h ← h − c·pw` (31⁻¹ = modular inverse, P prime).
  * Join/split with a single space round-trips exactly (empty tokens
  * included), so each window string is a contiguous substring of the
  * document and the rolling identity holds for ANY input text.
  */
object SpanHashesUtil {
  import PolyHashUtil.P

  /** 31⁻¹ mod P, by Fermat (P prime): 31^(P−2) mod P. */
  final val INV31: Long = {
    var base = 31L; var e = P - 2; var acc = 1L
    while (e > 0) {
      if ((e & 1) == 1) acc = acc * base % P
      base = base * base % P
      e >>= 1
    }
    acc
  }

  def hashes(s: UTF8String, k: Int): ArrayData = {
    val str = s.toString
    // split(text, ' ') with trailing empties kept — Spark's split uses
    // limit -1 semantics for the two-arg form
    val toks = str.split(" ", -1)
    val n = toks.length
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](n - k + 1)
    var h = 0L // seed-0 fold of the current window string
    var pw = 1L // 31^codepointLen(current window)
    def addCp(cp: Int): Unit = { h = (h * 31 + cp) % P; pw = pw * 31 % P }
    def dropCp(cp: Int): Unit = {
      pw = pw * INV31 % P
      h = ((h - cp % P * pw % P) % P + P) % P
    }
    def eachCp(t: String)(f: Int => Unit): Unit = {
      var i = 0
      while (i < t.length) {
        val cp = t.codePointAt(i); f(cp); i += Character.charCount(cp)
      }
    }
    var j = 0
    while (j < k) { // first window: k tokens joined by ' ' (cp 32)
      if (j > 0) addCp(32)
      eachCp(toks(j))(addCp)
      j += 1
    }
    out(0) = (7L * pw + h) % P
    var i = 1
    while (i + k - 1 < n) {
      eachCp(toks(i - 1))(dropCp) // leading token leaves...
      dropCp(32) // ...with its separator space
      addCp(32) // new trailing token enters with its separator
      eachCp(toks(i + k - 1))(addCp)
      out(i) = (7L * pw + h) % P
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Codegen wrapper: `span_hashes(text, k)` → array<long>. `k` must be a
  * foldable positive int (it is a plan-time operator parameter). */
case class SpanHashes(left: Expression, right: Expression)
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "span_hashes"
  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    if (left.dataType != StringType || right.dataType != IntegerType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"span_hashes needs (string, int), got (${left.dataType}, ${right.dataType})")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }

  override def nullSafeEval(text: Any, k: Any): Any =
    SpanHashesUtil.hashes(text.asInstanceOf[UTF8String], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (t, k) => s"graft.functions.SpanHashesUtil.hashes($t, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}
