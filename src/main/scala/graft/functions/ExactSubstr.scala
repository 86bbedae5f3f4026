package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-document EXACT-SUBSTRING duplication (Lee et al. 2021,
  * "Deduplicating Training Data Makes Language Models Better",
  * ExactSubstr): any span of ≥ L tokens appearing verbatim in more than
  * one document is duplicated text — press syndication, mirrors, quote
  * farms — invisible to whole-document dedup (MinHash/SimHash judge the
  * whole doc; a 10% shared span in two long, otherwise-different pages
  * moves neither signature past its threshold).
  *
  * The paper resolves spans with a corpus-wide suffix array — a
  * single-node construction. The distributed re-expression: every
  * L-token window is an L-gram; a span of ≥ L tokens shared between two
  * docs is EXACTLY a run of ≥ 1 shared L-gram windows, so per-doc
  * "duplicated tokens" = the size of the union of [pos, pos+L) intervals
  * over windows whose gram occurs in ≥ `minDocs` distinct docs. With the
  * shared windows in position order (equal lengths), each adds
  * `min(L, pos − prevPos)` to that union.
  *
  * The reference engine (/root/reference/src/improve_data_quality.py)
  * deduplicates whole rows only; this module is part of the LLM-pipeline
  * surface beyond it.
  *
  * Two regimes, split by the size of the shared-gram set (the hashes of
  * L-grams present in ≥ `minDocs` distinct docs), which is fetched by
  * one bounded action ([[SharedHashes.fetchShared]]):
  *  - set ≤ `maxBroadcastGrams` (the common case — 403k of ~15M distinct
  *    hashes on a 100k-doc bench corpus): the set is broadcast and ONE
  *    narrow per-document kernel ([[coverStats]]) hashes the doc's
  *    windows, probes the set and unions the shared intervals in
  *    position order — no join-back, no window sort, no shuffle past the
  *    set aggregate, whose exchange carries (flag, 8-byte hash, count)
  *    rows;
  *  - set > the bound (boilerplate-heavy corpora at the 10⁹⁺ regime), or
  *    a key carried by more than one row: the distributed chain —
  *    (hash, key, pos) rows from [[GramHash]], ndocs per gram as
  *    distinct-(hash, key) THEN count (the distinct spreads a mega-hot
  *    gram across the (hash, key) space before the map-side-combinable
  *    count, and counts a repeated key once), a hash-partitioned
  *    join-back, and a per-doc window over shared window positions (a
  *    partition-local sort of one doc's 10³-10⁵ positions, never a
  *    corpus sort). It recomputes its counts from the source: the set
  *    aggregate that chose it has already cost one scan plus one
  *    (flag, hash, count) shuffle, which the chain does not reuse.
  * Gram text never exists in either regime: [[GramHash]] hashes straight
  * from the staged token array. (Hash note: bucketing by 64-bit hash,
  * like exactDup/boilerplate; the DuckDB oracle groups by gram text
  * itself — identical result absent a 64-bit collision.)
  *
  * Tokenisation contract shared with [[Decontam.wordNgrams]] / the
  * DuckDB `dq_substr_dup` oracle: lowercase, split on `\s+`, empties
  * dropped; a window is L consecutive tokens joined by single spaces;
  * positions are 1-based token indices.
  */
object ExactSubstr {

  /** Per-document duplicated-span stats: (__k, n_tokens, n_dup_windows,
    * dup_tokens, dup_frac), one row per input row; docs with no shared
    * window (or < L tokens) carry zeros and `dup_frac` 0 (null when the
    * doc has zero tokens — no denominator). A key is a document: rows
    * sharing a key count once toward `minDocs` (such input takes the
    * distributed regime, which merges their windows per key).
    *
    * EAGER AT CONSTRUCTION: this method runs the shared-gram set
    * aggregate and its bounded fetch before returning (the fetch picks
    * the regime). Callers composing it into a larger job should defer
    * construction to where the work may overlap other actions —
    * QualityPipeline.run resolves its battery inside the v1a future for
    * exactly this reason.
    */
  def substrDupStats(df: DataFrame, key: Column, text: Column,
                     l: Int, minDocs: Long = 2L,
                     maxBroadcastGrams: Long = SharedHashes.MaxBroadcastGrams): DataFrame = {
    checkArgs(l, minDocs)
    sharedGrams(df, key, text, l, minDocs, maxBroadcastGrams) match {
      case Some(set) =>
        df.select(key.as("__k"), stagedTokens(text).as("__toks"))
          .select(col("__k"), coverStats(col("__toks"), l, set).as("__s"))
          .select(col("__k"), col("__s.n_tokens").as("n_tokens"),
            col("__s.n_dup_windows").as("n_dup_windows"),
            col("__s.dup_tokens").as("dup_tokens"),
            dupFrac(col("__s.dup_tokens"), col("__s.n_tokens")).as("dup_frac"))
      case None => substrDupStatsComposed(df, key, text, l, minDocs)
    }
  }

  private[graft] def checkArgs(l: Int, minDocs: Long): Unit = {
    require(l >= 1, s"span length must be >= 1 token, got $l")
    require(minDocs >= 2, s"minDocs must be >= 2 (cross-document), got $minDocs")
  }

  /** Tokens are STAGED in a column so the gram kernels read a bound
    * attribute (a kernel over an inline tokenizer subtree would re-run
    * the interpreted split/filter per reference). Null text stages as
    * `[]` — zero tokens, zero windows, the null-text result of both
    * regimes.
    */
  private[graft] def stagedTokens(text: Column): Column =
    TextFns.tokens(lower(coalesce(text, lit(""))))

  /** `round(dup_tokens / n_tokens, 6)`, null when the doc has no tokens. */
  private[graft] def dupFrac(dupTokens: Column, nTokens: Column): Column =
    round(dupTokens.cast(DoubleType) / nullif(nTokens, lit(0L)), 6)

  /** The set-building aggregate: hashes of L-grams present in ≥ `minDocs`
    * docs (each doc contributes its DISTINCT gram hashes), plus the key
    * check of [[SharedHashes.sharedFrame]].
    */
  private[graft] def sharedGramFrame(df: DataFrame, key: Column, text: Column,
                                     l: Int, minDocs: Long): DataFrame =
    SharedHashes.sharedFrame(
      df.select(key.as("__k"), stagedTokens(text).as("__toks")), col("__k"),
      array_distinct(GramHash.gramHashes(col("__toks"), l)), minDocs)

  private[graft] def sharedGrams(df: DataFrame, key: Column, text: Column, l: Int,
                                 minDocs: Long, cap: Long): Option[HashSetRef] =
    SharedHashes.fetchShared(sharedGramFrame(df, key, text, l, minDocs), cap)

  /** Per-document coverage of staged tokens against a shared-gram set:
    * struct(n_tokens, n_dup_windows, dup_tokens). Windows are visited in
    * position order, so the interval union needs no sort.
    */
  private[graft] def coverStats(toks: Column, l: Int, shared: HashSetRef): Column =
    GraftExpr.column(SubstrCoverExpr(GraftExpr.expr(toks), l, shared))

  val CoverType: StructType = StructType(Seq(
    StructField("n_tokens", LongType, nullable = false),
    StructField("n_dup_windows", LongType, nullable = false),
    StructField("dup_tokens", LongType, nullable = false)))

  def coverEval(toks: ArrayData, l: Int, shared: Array[Long]): InternalRow = {
    val hs = GramHash.windowHashes(toks, l)
    var nWin = 0L
    var cover = 0L
    var prev = -1
    var i = 0
    while (i < hs.length) {
      if (java.util.Arrays.binarySearch(shared, hs(i)) >= 0) {
        nWin += 1
        cover += (if (prev < 0) l else math.min(l, i - prev))
        prev = i
      }
      i += 1
    }
    InternalRow(toks.numElements().toLong, nWin, cover)
  }

  /** The distributed regime (shared-gram set over the bound, or a
    * repeated key), also the composed reference the kernel regime is
    * differential-tested against.
    */
  private[graft] def substrDupStatsComposed(df: DataFrame, key: Column, text: Column,
                                            l: Int, minDocs: Long): DataFrame = {
    checkArgs(l, minDocs)
    val base = df.select(key.as("__k"), text.as("__t"))
    // the window table is left LAZY deliberately: it is referenced by
    // the shared-gram aggregate and the coverage join (2 computes), and
    // at corpus scale an eager materialisation would store ~16 B/window
    // — recomputing a scan-speed kernel beats persisting a corpus-sized
    // intermediate
    val pos = base
      .withColumn("__toks", TextFns.tokens(lower(col("__t"))))
      .select(col("__k"),
        posexplode(GramHash.gramHashes(col("__toks"), l)).as(Seq("__p0", "__h")))
      .select(col("__k"), (col("__p0") + 1).cast("long").as("__pos"), col("__h"))
    // per-doc token counts via the fused byte kernel (wordCountFast ==
    // size(tokens), TextFnsSpec-pinned); greatest(_, 0) absorbs the
    // null-text null
    val nTokens = base.select(col("__k"),
      greatest(TextFns.wordCountFast(col("__t")), lit(0)).cast("long")
        .as("n_tokens"))
    val nd = pos.select("__h", "__k").distinct()
      .groupBy("__h").agg(count(lit(1)).as("__ndocs"))
      .filter(col("__ndocs") >= minDocs)
      .select("__h")
    val w = Window.partitionBy(col("__k")).orderBy(col("__pos"))
    val cov = pos.join(nd, Seq("__h"))
      .select(col("__k"), col("__pos"))
      .withColumn("__c", coalesce(
        least(lit(l.toLong), col("__pos") - lag(col("__pos"), 1).over(w)),
        lit(l.toLong)))
      .groupBy("__k")
      .agg(count(lit(1)).as("n_dup_windows"), sum(col("__c")).as("dup_tokens"))
    nTokens
      .join(cov, Seq("__k"), "left")
      .select(col("__k"), col("n_tokens"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        dupFrac(coalesce(col("dup_tokens"), lit(0L)), col("n_tokens")).as("dup_frac"))
  }
}

case class SubstrCoverExpr(child: Expression, l: Int, shared: HashSetRef)
    extends UnaryExpression {
  override def dataType: DataType = ExactSubstr.CoverType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    ExactSubstr.coverEval(input.asInstanceOf[ArrayData], l, shared.sorted)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sharedGrams", shared, classOf[HashSetRef].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ExactSubstr.coverEval($c, $l, $ref.sorted());")
  }

  override protected def withNewChildInternal(newChild: Expression): SubstrCoverExpr =
    copy(child = newChild)
}
