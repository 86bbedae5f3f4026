package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Fused word-n-gram hashing over a STAGED token array: element i of the
  * output is `xxhash64(concat_ws(' ', toks[i..i+n-1]))` (seed 42 — the
  * exact value Spark's `xxhash64` built-in computes over the gram
  * string), without ever materializing the gram strings.
  *
  * Why this exists: the composed shape
  * `transform(sequence(...), i -> concat_ws(' ', slice(toks, i+1, n)))`
  * runs INTERPRETED (higher-order functions never codegen), and when
  * `toks` is an inline expression subtree rather than a bound attribute
  * the lambda re-evaluates the whole tokenize pipeline once PER ELEMENT
  * — O(tokens²) regex work per document. Measured on the sf0.1 corpus
  * this made `dq_substr_dup` (which needs only the gram HASHES, never
  * the strings) the most expensive query on the board by 10×.
  *
  * Contract notes:
  *  - input must already be the tokenized array (callers stage
  *    `TextFns.tokens(lower(text))` in a column first — tokenisation
  *    semantics stay Spark-native and oracle-proven);
  *  - fewer than n tokens ⇒ empty array (the `wordNgrams` `[]` branch);
  *    null input ⇒ null (null-intolerant unary expression);
  *  - downstream consumers ([[ExactSubstr.substrDupStats]],
  *    [[Decontam.hitStats]]) use the hashes as join/group/probe keys
  *    only — a 64-bit collision merging two distinct grams is the same
  *    accepted risk as the existing xxhash64 bucketing in
  *    exactDup/boilerplate (p ≈ n²/2⁶⁵).
  */
object GramHash {

  def gramHashes(toks: Column, n: Int): Column =
    GraftExpr.column(GramHashesExpr(GraftExpr.expr(toks), n))

  /** Static kernel (one call per row from interpreted eval AND generated
    * code — Scala objects emit static forwarders).
    */
  def gramHashesEval(arr: ArrayData, n: Int): ArrayData =
    UnsafeArrayData.fromPrimitiveArray(windowHashes(arr, n))

  /** The n-gram hash of every n-token window of `arr`, in window order
    * (element i covers tokens i..i+n-1); empty when `arr` has fewer than
    * n tokens. Shared by [[gramHashesEval]] and the per-document battery
    * kernels ([[ExactSubstr]], [[Decontam]]) so every gram hash in the
    * engine is this one computation.
    */
  def windowHashes(arr: ArrayData, n: Int): Array[Long] = {
    val k = arr.numElements()
    if (k < n) return Array.emptyLongArray
    // token bytes fetched once per row (getUTF8String allocates a view,
    // getBytes may copy — do it k times, not k*n times)
    val tb = new Array[Array[Byte]](k)
    var i = 0
    while (i < k) { tb(i) = arr.getUTF8String(i).getBytes; i += 1 }
    val out = new Array[Long](k - n + 1)
    var buf = new Array[Byte](256)
    var g = 0
    while (g <= k - n) {
      var len = n - 1 // separators
      var j = 0
      while (j < n) { len += tb(g + j).length; j += 1 }
      if (buf.length < len) buf = new Array[Byte](Integer.highestOneBit(len) * 2)
      var off = 0
      j = 0
      while (j < n) {
        if (j > 0) { buf(off) = ' '; off += 1 }
        val t = tb(g + j)
        System.arraycopy(t, 0, buf, off, t.length)
        off += t.length
        j += 1
      }
      out(g) = XXH64.hashUnsafeBytes(buf, Platform.BYTE_ARRAY_OFFSET, len, 42L)
      g += 1
    }
    out
  }
}

case class GramHashesExpr(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"n-gram order must be >= 1, got $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    GramHash.gramHashesEval(input.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GramHash.gramHashesEval($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): GramHashesExpr =
    copy(child = newChild)
}
