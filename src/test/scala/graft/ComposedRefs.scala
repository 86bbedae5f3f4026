package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.embed.Ann
import graft.functions.{Decontam, LangId, TextFns}
import graft.rules.Rules

/** Column-composed semantic references of fused kernels. Only the specs
  * diff against them (interpreted higher-order lambdas per element, codegen
  * fallback for the enclosing stage), so they live in test scope.
  */
object ComposedRefs {

  /** The composed HOF formulation of [[graft.embed.Ann.cosine]] — the
    * oracle-portable reference (DuckDB's list_cosine_similarity agrees on
    * non-degenerate inputs).
    */
  def cosineComposed(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast(DoubleType) * q.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Array of per-table SRP bucket signatures for a vector column — the
    * reference for [[graft.embed.Ann.srpBuckets]] (~tables×nBits×dim
    * interpreted HOF evaluations per vector).
    */
  def srpSignaturesComposed(vec: Column, dim: Int, nBits: Int, tables: Int): Column = {
    val planes = Ann.hyperplanes(dim, nBits, tables)
    array(planes.zipWithIndex.map { case (tbl, t) =>
      val sig = tbl.zipWithIndex.map { case (p, b) =>
        val pl = array(p.map(lit): _*)
        val d = aggregate(zip_with(vec, pl, (x, h) => x.cast(DoubleType) * h),
          lit(0.0), (acc, v) => acc + v)
        when(d >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("table"), sig.as("bucket"))
    }: _*)
  }

  /** Reference for [[graft.functions.LangId.markerLang]] (and the shape
    * the SQL oracle mirrors): per-language marker-hit counts over
    * lowercased tokens, argmax with tie-break on lang asc, all-zero →
    * "und".
    */
  def markerLangComposed(c: Column): Column = {
    val toks = transform(TextFns.tokens(c), t => lower(t))
    val scored = LangId.Markers.toSeq.sortBy(_._1).map { case (l, ws) =>
      val set = array(ws.map(lit): _*)
      (l, size(filter(toks, t => array_contains(set, t))))
    }
    // argmax with deterministic tie-break on lang name asc; all-zero -> "und"
    val best = scored.map { case (l, s) =>
      struct(s.as("hits"), lit(l).as("lang"))
    }.reduceLeft((a, b) =>
      when(b.getField("hits") > a.getField("hits"), b).otherwise(a))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** The contamination rule as a broadcast-join chain over
    * [[graft.functions.Decontam.contamination]] — the reference the
    * rule's eval-hit kernel is diffed against.
    */
  def contaminationComposed(df: DataFrame, key: Column, text: Column,
                            eval: DataFrame, n: Int, minHits: Long): DataFrame = {
    val c = Decontam.contamination(df, key, text, eval, n)
    Rules.explodeEntries(c, col("__k"),
      Seq(Rules.contaminationEntry(col("n_grams"), col("n_contaminated"), minHits)))
  }
}
