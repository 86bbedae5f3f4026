package graft.model

import java.sql.Timestamp
import org.apache.spark.sql.types._

/** Core data model of the quality-filter engine.
  *
  * `Page` is the fixed input contract (BASELINE.json input_hint): an
  * Iceberg-style table of Common-Crawl-like pages. The reference
  * (`/root/reference/src/improve_data_quality.py:34-42`) infers a dynamic
  * pandas schema; here the table contract is fixed, so schema inference
  * collapses to a validation guard (`PageSource.validate`, test scope).
  */
final case class Page(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

object Page {
  /** Explicit schema — never rely on inference for the input contract. */
  val schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("warc_ts", TimestampType, nullable = true),
    StructField("html", BinaryType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("lang", StringType, nullable = true)
  ))
}

/** One finding. Descendant of the reference's `bad_index` row
  * `(idx, column, errtype, value1, value2)`
  * (`improve_data_quality.py:40-42`): `url` ≙ idx, `rule` ≙ errtype,
  * `detail` carries the value payload, `score` the rule's statistic.
  */
final case class Verdict(
    url: String,
    rule: String,
    keep: Boolean,
    score: Double,
    detail: String
)

object Verdict {
  val schema: StructType = StructType(Seq(
    StructField("url", StringType, nullable = false),
    StructField("rule", StringType, nullable = false),
    StructField("keep", BooleanType, nullable = false),
    StructField("score", DoubleType, nullable = true),
    StructField("detail", StringType, nullable = true)
  ))
}

/** Broadcast-sized corpus profile: the Spark analogue of the reference's
  * memoized `uniq_col` / null-mean metadata (`improve_data_quality.py:201-215`,
  * `utils.py:386-395`). Computed by [[graft.profile.Profiler]] in a
  * single aggregate pass and carried on the driver — it is O(columns),
  * never O(rows).
  */
final case class ColumnProfile(
    column: String,
    nonNull: Long,
    distinct: Long,
    uniqueness: Double, // nunique / count over non-nulls (utils.py:159-187)
    nullMean: Double    // fraction of nulls (utils.py:386-395)
)
