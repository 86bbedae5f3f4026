package graft.sources

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.model.Page

/** Source registry for the pages table (reference S1–S3:
  * `/root/reference/src/utils.py:20-67` extension whitelist + loader
  * dispatch, `src/improve_data_quality.py:13-46` constructor).
  *
  * The reference whitelists {csv, json, sql, xlsx}; the engine's formats
  * are the lake-native ones: parquet (primary — Iceberg-shaped via
  * [[graft.io.LakeTable]]), csv, json. Instead of the reference's
  * majority-vote type inference (`utils.py:88-120`), the fixed Page
  * contract is VALIDATED: a mismatching table fails fast with the
  * offending columns named.
  *
  * Test scope: no shipped entry point reads pages from a path (the
  * pipeline, `Checkpointer` and the harness mains take DataFrames), so
  * this stays as the reference of the S1–S3 source semantics that
  * CoverageSpec pins.
  */
object PageSource {

  val SupportedFormats: Set[String] = Set("parquet", "csv", "json")

  /** Reference `check_extension`: dispatch on path suffix, reject others. */
  def formatOf(path: String): String = {
    val ext = path.reverse.takeWhile(_ != '.').reverse.toLowerCase
    require(SupportedFormats.contains(ext),
      s"unsupported page-source extension '$ext' (supported: ${SupportedFormats.mkString(", ")})")
    ext
  }

  /** Schema guard (replaces inference — SURVEY §1.2): every Page column
    * must exist with a compatible type.
    */
  def validate(df: DataFrame): DataFrame = {
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    val problems = Page.schema.fields.flatMap { f =>
      have.get(f.name) match {
        case None => Some(s"missing column ${f.name}: ${f.dataType.simpleString}")
        case Some(dt) if dt != f.dataType =>
          Some(s"column ${f.name} has ${dt.simpleString}, expected ${f.dataType.simpleString}")
        case _ => None
      }
    }
    require(problems.isEmpty, s"pages schema mismatch: ${problems.mkString("; ")}")
    df.select(Page.schema.fieldNames.map(df.col): _*)
  }

  def load(spark: SparkSession, path: String): Dataset[Page] = {
    import spark.implicits._
    val raw = formatOf(path) match {
      case "parquet" => spark.read.parquet(path)
      case "csv" => spark.read.option("header", "true").schema(Page.schema).csv(path)
      case "json" => spark.read.schema(Page.schema).json(path)
    }
    validate(raw).as[Page]
  }
}
