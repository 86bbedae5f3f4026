package graft

import org.scalatest.funsuite.AnyFunSuite
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

  test("every registered query runs at sf0.001") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      withClue(name) { assert(n >= 0) }
    }
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
}
