package graft.curation

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Corpus SELECTION operators — the step after quality filtering in a
  * training-data pipeline: split each language's documents into quality
  * buckets (CCNet, Wenzek et al. 2020 §4.4: head/middle/tail by LM
  * perplexity) and draw a per-language token budget from the best
  * buckets first (the data-mixing step every LLM corpus build runs).
  *
  * Reference lineage: the reference's quality scoring is per-document
  * (`/root/reference/src/improve_data_quality.py` flags rows); these
  * operators are the corpus-level consumers of such scores. Everything
  * here is deterministic and rank-based, so the DuckDB oracles
  * (`dq_quality_buckets`, `dq_token_budget`) state the same semantics
  * with window functions.
  *
  * Each operator is one range-partitioned sort per language (`ntile` /
  * running-sum window): Spark plans it as a single Exchange(lang) +
  * in-partition sort, which holds up to the scale where a per-language
  * sort is acceptable. A language too large for one sorted partition
  * needs a sampled-cutoff / histogram regime (CCNet's quantiles of a
  * sample), which is not built here.
  */
object Select {

  // =====================================================================
  // Quality buckets
  // =====================================================================

  /** Per-language quality buckets: ntile(k) over ascending
    * (score, key) within each language — bucket 1 = best (lowest
    * score; for CCNet feed perplexity so head = fluent). Ties broken
    * by key: deterministic under any partitioning.
    *
    * Appends a `bucket` column; all input columns pass through. One
    * shuffle on lang; the sort is per-language.
    */
  def ntileBuckets(df: DataFrame, key: Column, lang: Column, score: Column,
                   k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    df.withColumn("bucket",
      ntile(k).over(Window.partitionBy(lang).orderBy(score, key)))
  }

  // =====================================================================
  // Token-budget selection
  // =====================================================================

  /** Per-language token-budget draw: order each language's docs by
    * (bucket asc, rank asc, key asc) — best quality first, then a
    * deterministic uniform shuffle within the bucket via `rank` (pass a
    * portable content hash, e.g. TextFns.md5Long(key)) — and KEEP every
    * doc whose running token total BEFORE it is still under `budget`.
    * The doc that crosses the budget line is kept (the draw always
    * overshoots by < 1 doc, never undershoots); everything after drops.
    *
    * Output: the kept (key, lang, bucket, tokens) rows.
    */
  def tokenBudget(df: DataFrame, key: Column, lang: Column, bucket: Column,
                  rank: Column, tokens: Column, budget: Long): DataFrame = {
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("bucket"), col("rank"), col("key"))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.select(key.as("key"), lang.as("lang"), bucket.as("bucket"),
        rank.as("rank"), tokens.cast(LongType).as("tokens"))
      .withColumn("__before", coalesce(sum(col("tokens")).over(w), lit(0L)))
      .filter(col("__before") < budget)
      .select(col("key"), col("lang"), col("bucket"), col("tokens"))
  }
}
