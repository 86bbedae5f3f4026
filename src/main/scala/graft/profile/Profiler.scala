package graft.profile

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.model.ColumnProfile

/** Corpus profile in ONE aggregate pass.
  *
  * Spark analogue of the reference's memoized metadata (`uniq_col`
  * `/root/reference/src/improve_data_quality.py:201-215`, null means
  * `src/utils.py:386-395`): instead of one pandas pass per column, a
  * single `agg` computes every per-column statistic in one shuffle-light
  * job (partial aggregation map-side, one tiny reduce). The result is
  * O(columns) and lives on the driver — the memoization of the reference
  * becomes an explicit, checkpointable stage. The `dq_profile` oracle
  * query runs it.
  */
object Profiler {

  def profile(df: DataFrame): Map[String, ColumnProfile] = {
    val fields = df.schema.fields.filterNot(_.dataType == BinaryType)
    if (fields.isEmpty) return Map.empty
    val aggs = fields.flatMap { f =>
      val c = col(f.name)
      Seq(
        count(c).as(s"${f.name}__n"),
        countDistinct(c).as(s"${f.name}__d"),
        avg(isnull(c).cast(DoubleType)).as(s"${f.name}__nullmean"))
    }
    val row: Row = df.agg(aggs.head, aggs.tail: _*).head()
    fields.map { f =>
      val n = row.getAs[Long](s"${f.name}__n")
      val d = row.getAs[Long](s"${f.name}__d")
      val nullMean = Option(row.getAs[Any](s"${f.name}__nullmean"))
        .map(_.asInstanceOf[Double]).getOrElse(0.0)
      // uniqueness = nunique/count over non-nulls; 0 for empty column
      // (utils.py:159-187 — the ratio that gates every reference rule)
      val uniq = if (n == 0) 0.0 else d.toDouble / n
      f.name -> ColumnProfile(f.name, n, d, uniq, nullMean)
    }.toMap
  }
}
