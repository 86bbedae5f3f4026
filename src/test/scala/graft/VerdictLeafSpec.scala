package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.LeftAnti
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, Join, LocalRelation}
import org.apache.spark.sql.execution.LogicalRDD
import graft.pipeline.QualityPipeline
import graft.sources.PagesGen

/** The run's verdict sets in both regimes of `QualityPipeline.verdictLeaf`:
  * local relations under the bound, localCheckpoint leaves past it.
  */
class VerdictLeafSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val pages = PagesGen.generate(spark, 1500, 4).toDF().cache()
  private val cfg = QualityPipeline.defaultConfig

  private def rows(df: DataFrame): Map[Row, Int] =
    df.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap

  /** Verdicts, kept (scrubbed_text included) and metrics of one run as
    * sets, and whether the kept anti-join carries a broadcast hint.
    */
  private def outputs(verdictCap: Long, maxEdges: Long) = {
    val r = QualityPipeline.run(pages, cfg, verdictCap, maxEdges)
    try {
      val hinted = r.kept.queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftAnti =>
          j.hint.rightHint.exists(_.strategy.contains(BROADCAST))
      }
      assert(hinted.size == 1)
      (Seq(r.verdicts, r.kept, r.metrics).map(_.collect().toSet), hinted.head)
    } finally r.unpersist()
  }

  test("local and leaf regimes give equal verdicts, kept and metrics, " +
    "on the driver and the distributed near-dup path") {
    val (local, localHinted) = outputs(QualityPipeline.MaxLocalVerdicts,
      QualityPipeline.MaxDriverEdges)
    val (leaf, leafHinted) = outputs(0L, QualityPipeline.MaxDriverEdges)
    assert(localHinted && !leafHinted, "only the local regime hints a broadcast")
    assert(local.forall(_.nonEmpty))
    Seq("verdicts", "kept", "metrics").indices.foreach { i =>
      assert(local(i) == leaf(i), s"${Seq("verdicts", "kept", "metrics")(i)} differ")
    }
    // maxEdges = 0 forces the distributed near-dup path, as in
    // PipelineSpec's crossover test; its verdicts go through the leaf too
    val (distLocal, distLocalHinted) = outputs(QualityPipeline.MaxLocalVerdicts, 0L)
    val (distLeaf, distLeafHinted) = outputs(0L, 0L)
    assert(distLocalHinted && !distLeafHinted)
    assert(distLocal == local && distLeaf == local)
  }

  test("verdict leaf bound: exactly cap rows give a local relation, cap + 1 the leaf") {
    val v = QualityPipeline.heuristicVerdicts(QualityPipeline.features(pages), cfg)
    val n = v.count()
    assert(n > 0)
    val at = QualityPipeline.verdictLeaf(v, n)
    val over = QualityPipeline.verdictLeaf(v, n - 1)
    assert(at.queryExecution.analyzed.isInstanceOf[LocalRelation], at.queryExecution.analyzed)
    assert(over.queryExecution.analyzed.isInstanceOf[LogicalRDD], over.queryExecution.analyzed)
    assert(rows(at) == rows(v) && rows(over) == rows(v))
  }
}
