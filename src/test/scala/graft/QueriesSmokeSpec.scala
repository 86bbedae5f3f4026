package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{RDDScanExec, SortExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

class QueriesSmokeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("entry: flagship pipeline returns verdicts") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSet == Set("url", "rule", "keep", "score", "detail"))
  }

  private object Adaptive extends AdaptiveSparkPlanHelper

  /** The queries that keep a checkpoint leaf, each because the leaf's
    * frame is referenced more than once. */
  private val leafQueries = Map(
    "dq_ngram_jaccard" ->
      "the shingle universe feeds the df cap, the per-doc sizes and both self-join sides",
    "dq_typo_suggest" ->
      "the vocabulary feeds the ranked window, the cluster max and the final join")

  test("every registered query runs at sf0.001") {
    // a result is a bag of rows (the Queries scaladoc): no plan sorts
    // globally to present its rows in order (a range exchange, or a
    // global SortExec), and only the leaf queries above read an
    // ExistingRDD (checkpoint) leaf
    val faults = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, dir)
      val n = df.count()
      withClue(name) { assert(n >= 0) }
      val root = df.queryExecution.executedPlan
      // a global sort over a single partition (dq_knn_impute's one
      // aggregate row stream) needs no range exchange, so both are checked
      val sorts = Adaptive.collect(root) {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
        case s: SortExec if s.global => s
      }
      val leaves = Adaptive.collect(root) { case r: RDDScanExec => r }
      Seq(
        Option.when(sorts.nonEmpty)(s"$name: global sort"),
        Option.when(leaves.nonEmpty != leafQueries.contains(name))(
          s"$name: ${leaves.size} ExistingRDD leaves " +
            s"(${leafQueries.getOrElse(name, "no frame referenced twice")})")).flatten
    }
    assert(faults.isEmpty, s"${faults.size} plan faults:\n${faults.mkString("\n")}")
  }

  test("every oracle key has a matching query") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("q1_agg / q3_top_revenue round a half-cent revenue tie half-up") {
    // 901.05 × (1 − 0.10) = 810.945 exactly, but the double product is
    // 810.9449999999999, which a double sum rounds DOWN to 810.94; the
    // exact decimal sum rounds the tie up, as DuckDB does
    val tmp = java.nio.file.Files.createTempDirectory("graft_tie").toString
    Seq((1L, 901.05, 0.10, 1.0, "A", "F")).toDF("l_orderkey", "l_extendedprice",
        "l_discount", "l_quantity", "l_returnflag", "l_linestatus")
      .withColumn("l_shipdate", lit("1998-01-01 00:00:00").cast("timestamp"))
      .write.parquet(s"$tmp/lineitem.parquet")
    Seq((1L, 7L)).toDF("o_orderkey", "o_custkey").write.parquet(s"$tmp/orders.parquet")
    Seq((7L, "BUILDING")).toDF("c_custkey", "c_mktsegment")
      .write.parquet(s"$tmp/customer.parquet")
    val q3 = Queries.q3TopRevenue(spark, tmp).select("revenue").as[Double].collect()
    val q1 = Queries.q1Agg(spark, tmp).select("sum_disc_price").as[Double].collect()
    assert(q3.toSeq == Seq(810.95))
    assert(q1.toSeq == Seq(810.95))
  }

  test("dq_group_zscore skips a null-lang class, as its twin's JOIN USING (lang) does") {
    // two classes with the same values: the en class flags its 100, the
    // null-lang class never joins its stats row, so it flags nothing
    val tmp = java.nio.file.Files.createTempDirectory("graft_null_lang").toString
    val nChars = Seq(10L, 10L, 10L, 10L, 100L)
    (nChars.zipWithIndex.map { case (n, i) => (i + 1L, Option("en"), n) } ++
      nChars.zipWithIndex.map { case (n, i) => (i + 6L, Option.empty[String], n) })
      .toDF("doc_id", "lang", "n_chars")
      .write.parquet(s"$tmp/documents.parquet")
    val got = Queries.dqGroupZscore(spark, tmp).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"), r.getAs[Double]("z")))
    // mean 28, sample sd sqrt(1620): z = 72 / 40.249224 = 1.788854
    assert(got.toSeq == Seq((5L, "en", 1.788854)))
  }
}
