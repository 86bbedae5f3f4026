package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Benchmark DECONTAMINATION: per-document word n-gram overlap against a
  * held-out evaluation corpus — the standard training-data hygiene test
  * (GPT-3, Brown et al. 2020 appx C, used 13-gram collisions; PaLM and
  * successors the same shape with n 8-13). A document whose n-grams
  * collide with an eval set is a test-set leak and must be dropped
  * before training, not merely down-weighted.
  *
  * The reference engine (/root/reference/src/improve_data_quality.py)
  * has no notion of an external corpus; this module is part of the
  * LLM-pipeline surface the engine adds beyond it.
  *
  * Scale shape (built for the 10⁸-doc × 10⁶-eval-gram regime): eval
  * suites are tiny relative to the training corpus (10⁵-10⁷ grams ⇒
  * tens of MB), so the eval side is a probe set. [[evalHashes]] fetches
  * the distinct eval grams' 8-byte hashes to the driver by one action
  * (bounded by [[SharedHashes.MaxBroadcastGrams]]; a larger eval side
  * fails rather than change shape) and broadcasts them; [[hitStats]]
  * probes every n-gram window of a document's staged tokens in one
  * narrow per-document kernel. No shuffle, no join, no gram text: the
  * window hashes come straight from the token array ([[GramHash]]).
  * The rule ([[graft.rules.Rules.contaminationRule]]) runs the kernel
  * in the text battery's one narrow pass; the `dq_decontam` query runs
  * it over every document.
  *
  * Tokenisation contract (shared with [[TextFns.tokens]] / the DuckDB
  * oracle): lowercase, trim, split on `\s+`, empties dropped; a gram is
  * n consecutive tokens joined by single spaces. Counting is MULTISET on
  * the document side (every colliding occurrence counts, GPT-3 style)
  * and DISTINCT on the eval side.
  */
object Decontam {

  /** Array of word n-grams of `c` (lowercased), `[]` when the doc has
    * fewer than n tokens, null on null text.
    */
  def wordNgrams(c: Column, n: Int): Column = {
    require(n >= 1, s"n-gram order must be >= 1, got $n")
    val toks = TextFns.tokens(lower(c))
    when(isnull(c), lit(null).cast("array<string>"))
      .when(size(toks) >= n,
        transform(sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
  }

  /** Distinct n-grams of an eval corpus, as a one-column `gram` frame —
    * the eval side of the contamination rule ([[evalHashes]] makes it
    * the probe set).
    */
  def evalGrams(evalDf: DataFrame, text: Column, n: Int): DataFrame =
    evalGramRows(evalDf, text, n).distinct()

  /** [[evalGrams]] before its distinct — the probe-set source of the
    * text battery, which dedups on the driver and so skips the distinct's
    * exchange.
    */
  private[graft] def evalGramRows(evalDf: DataFrame, text: Column, n: Int): DataFrame =
    evalDf.select(explode(wordNgrams(text, n)).as("gram"))

  /** The eval side as a probe set: `xxhash64` of each eval gram, fetched
    * by one bounded action. Duplicate grams collapse in the set. An eval
    * frame of more than `cap` rows fails: a broadcast eval side is the
    * rule's one shape.
    */
  private[graft] def evalHashes(
      eval: DataFrame,
      cap: Long = SharedHashes.MaxBroadcastGrams): HashSetRef =
    SharedHashes.fetch(eval.select(xxhash64(col("gram"))), cap).getOrElse(
      throw new IllegalArgumentException(
        s"eval side holds more than $cap n-grams, over the broadcast bound"))

  /** Per-document eval-gram hits of staged tokens: struct(n_grams,
    * n_contaminated) — every n-gram window probed against the eval set,
    * multiset on the document side (every colliding occurrence counts).
    */
  private[graft] def hitStats(toks: Column, n: Int, eval: HashSetRef): Column =
    GraftExpr.column(EvalHitsExpr(GraftExpr.expr(toks), n, eval))

  /** `round(n_contaminated / n_grams, 6)`, null when the doc has no grams. */
  private[graft] def contamFrac(nContaminated: Column, nGrams: Column): Column =
    round(nContaminated.cast(DoubleType) / nullif(nGrams, lit(0L)), 6)

  val HitsType: StructType = StructType(Seq(
    StructField("n_grams", LongType, nullable = false),
    StructField("n_contaminated", LongType, nullable = false)))

  def hitsEval(toks: ArrayData, n: Int, eval: Array[Long]): InternalRow = {
    val hs = GramHash.windowHashes(toks, n)
    var hits = 0L
    var i = 0
    while (i < hs.length) {
      if (java.util.Arrays.binarySearch(eval, hs(i)) >= 0) hits += 1
      i += 1
    }
    InternalRow(hs.length.toLong, hits)
  }
}

case class EvalHitsExpr(child: Expression, n: Int, eval: HashSetRef)
    extends UnaryExpression {
  override def dataType: DataType = Decontam.HitsType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    Decontam.hitsEval(input.asInstanceOf[ArrayData], n, eval.sorted)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("evalGrams", eval, classOf[HashSetRef].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Decontam.hitsEval($c, $n, $ref.sorted());")
  }

  override protected def withNewChildInternal(newChild: Expression): EvalHitsExpr =
    copy(child = newChild)
}
