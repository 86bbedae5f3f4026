package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Paragraph kernels of the CCNet-style cross-document boilerplate rule
  * ([[graft.rules.Rules.boilerplateParagraphs]]).
  *
  * Paragraph contract (shared with [[Repetition]] and the
  * `dq_boilerplate` oracle): the text is split on literal `\n\n`
  * left-to-right without overlap (Spark's `split(text, "\n\n")`), empty
  * segments are dropped, and a paragraph's length is its code-point
  * count (Spark's `length`). A paragraph is keyed by `xxhash64` of its
  * UTF-8 bytes (seed 42 — the value the built-in computes over the
  * segment string). Both kernels scan the UTF-8 bytes in place: `\n` is
  * ASCII, so it can never match inside a multi-byte sequence, and no
  * segment string is ever allocated.
  */
object Paragraphs {

  /** Per-document DISTINCT paragraph hashes of `text` (null on null) —
    * the input of the shared-paragraph set aggregate.
    */
  def hashes(text: Column): Column =
    GraftExpr.column(ParagraphHashesExpr(GraftExpr.expr(text)))

  /** Per-document paragraph stats against a set of shared paragraph
    * hashes: struct(n_paras, para_chars, shared_chars, n_shared_paras) =
    * (paragraph occurrences, code points over all of them, code points
    * of those whose hash is in `shared`, number of such occurrences). A
    * repeated paragraph counts once per occurrence, as in the composed
    * chain. Null on null text.
    */
  def stats(text: Column, shared: HashSetRef): Column =
    GraftExpr.column(ParagraphStatsExpr(GraftExpr.expr(text), shared))

  /** The set-building aggregate: hashes of paragraphs present in ≥
    * `minDocs` documents keyed by `key` (null text has no paragraphs),
    * plus the key check of [[SharedHashes.sharedFrame]].
    */
  def sharedFrame(df: DataFrame, key: Column, text: Column,
                  minDocs: Long): DataFrame =
    SharedHashes.sharedFrame(df, key, hashes(text), minDocs)

  def shared(df: DataFrame, key: Column, text: Column, minDocs: Long,
             cap: Long): Option[HashSetRef] =
    SharedHashes.fetchShared(sharedFrame(df, key, text, minDocs), cap)

  /** Per-document boilerplate stats: (__k, n_paras, para_chars,
    * shared_chars, n_shared_paras), one row per key with at least one
    * paragraph; a paragraph is shared when ≥ `minDocs` distinct keys
    * hold it. The regimes of [[ExactSubstr.substrDupStats]]: [[stats]]
    * in one narrow pass when the fetched set ([[shared]]) fits
    * `maxBroadcastGrams` and keys are unique, else
    * [[boilerplateStatsComposed]], which merges a repeated key's rows.
    * Eager: the set is fetched at construction.
    */
  def boilerplateStats(df: DataFrame, key: Column, text: Column,
                       minDocs: Long = 2L,
                       maxBroadcastGrams: Long = SharedHashes.MaxBroadcastGrams): DataFrame =
    shared(df, key, text, minDocs, maxBroadcastGrams) match {
      case Some(set) =>
        df.select(key.as("__k"), stats(coalesce(text, lit("")), set).as("__s"))
          .filter(col("__s.n_paras") > 0)
          .select(col("__k"), col("__s.*"))
      case None => boilerplateStatsComposed(df, key, text, minDocs)
    }

  /** The distributed regime of [[boilerplateStats]] (shared-paragraph
    * set over the bound, or a repeated key), also the composed reference
    * the kernel is differential-tested against. It recomputes ndocs from
    * the source, so past the bound it costs the set aggregate that chose
    * it (one source scan plus one (flag, hash, count) shuffle) on top of
    * its own chain. The shuffle carries (8-byte xxhash64, key, length) —
    * never paragraph text. ndocs is distinct-(hash, key) THEN count: the
    * explicit two-step spreads a mega-hot paragraph ("subscribe to our
    * newsletter" in 10⁸ docs) across the (hash, key) key space before
    * the map-side-combinable count, and the join-back build side has
    * exactly ONE row per hash, so the hot hash joins without salting.
    */
  private[graft] def boilerplateStatsComposed(df: DataFrame, key: Column, text: Column,
                                              minDocs: Long): DataFrame = {
    val paras = df
      .select(key.as("__k"),
        explode(split(coalesce(text, lit("")), "\n\n")).as("__p"))
      .filter(col("__p") =!= "")
      .select(col("__k"), xxhash64(col("__p")).as("__h"),
        length(col("__p")).cast("long").as("__len"))
    val ndocs = paras.select(col("__h"), col("__k")).distinct()
      .groupBy("__h").agg(count(lit(1)).as("__ndocs"))
    val isShared = col("__ndocs") >= minDocs
    paras.join(ndocs, Seq("__h"))
      .groupBy("__k")
      .agg(
        count(lit(1)).as("n_paras"),
        sum(col("__len")).as("para_chars"),
        sum(when(isShared, col("__len")).otherwise(0L)).as("shared_chars"),
        sum(when(isShared, 1L).otherwise(0L)).as("n_shared_paras"))
  }

  val StatsType: StructType = StructType(Seq(
    StructField("n_paras", LongType, nullable = false),
    StructField("para_chars", LongType, nullable = false),
    StructField("shared_chars", LongType, nullable = false),
    StructField("n_shared_paras", LongType, nullable = false)))

  /** Visits each non-empty paragraph as (hash, code-point length). */
  @inline private def foreachParagraph(u: UTF8String)(f: (Long, Int) => Unit): Unit = {
    val base = u.getBaseObject
    val off = u.getBaseOffset
    val n = u.numBytes
    def emit(start: Int, end: Int): Unit =
      if (end > start) f(XXH64.hashUnsafeBytes(base, off + start, end - start, 42L),
        UTF8String.fromAddress(base, off + start, end - start).numChars())
    var start = 0
    var i = 0
    while (i + 1 < n) {
      if (Platform.getByte(base, off + i) == '\n' &&
          Platform.getByte(base, off + i + 1) == '\n') {
        emit(start, i)
        i += 2
        start = i
      } else i += 1
    }
    emit(start, n)
  }

  def hashesEval(u: UTF8String): UnsafeArrayData = {
    var hs = new Array[Long](8)
    var k = 0
    foreachParagraph(u) { (h, _) =>
      if (k == hs.length) hs = java.util.Arrays.copyOf(hs, k * 2)
      hs(k) = h; k += 1
    }
    java.util.Arrays.sort(hs, 0, k)
    var d = 0
    var i = 0
    while (i < k) {
      if (d == 0 || hs(d - 1) != hs(i)) { hs(d) = hs(i); d += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hs, d))
  }

  def statsEval(u: UTF8String, shared: Array[Long]): InternalRow = {
    var n = 0L
    var tot = 0L
    var sh = 0L
    var nsh = 0L
    foreachParagraph(u) { (h, len) =>
      n += 1
      tot += len
      if (java.util.Arrays.binarySearch(shared, h) >= 0) { sh += len; nsh += 1 }
    }
    InternalRow(n, tot, sh, nsh)
  }
}

case class ParagraphHashesExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    Paragraphs.hashesEval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Paragraphs.hashesEval($c);")

  override protected def withNewChildInternal(newChild: Expression): ParagraphHashesExpr =
    copy(child = newChild)
}

case class ParagraphStatsExpr(child: Expression, shared: HashSetRef)
    extends UnaryExpression {
  override def dataType: DataType = Paragraphs.StatsType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    Paragraphs.statsEval(input.asInstanceOf[UTF8String], shared.sorted)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sharedParas", shared, classOf[HashSetRef].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Paragraphs.statsEval($c, $ref.sorted());")
  }

  override protected def withNewChildInternal(newChild: Expression): ParagraphStatsExpr =
    copy(child = newChild)
}
