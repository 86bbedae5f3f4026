package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import graft.pipeline.QualityPipeline
import graft.sources.PagesGen

/** The job budget of the default unit: one `QualityPipeline.run` plus its
  * kept and verdict writes. Every job is a scheduling barrier with a
  * driver round trip, so a change that adds one shows here.
  */
class JobBudgetSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** Jobs started while `body` runs. Counting starts once no job of the
    * shared session is active, and ends once the listener bus has
    * delivered every event of `body`'s jobs.
    */
  private def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    while (sc.statusTracker.getActiveJobIds().nonEmpty) Thread.sleep(50)
    ListenerBusDrain.drain(sc)
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    try { body; ListenerBusDrain.drain(sc) } finally sc.removeSparkListener(l)
    jobs.get
  }

  test("a warm run plus the kept and verdict writes runs 28 jobs on 2,000 PagesGen pages") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val pages = PagesGen.generate(spark, 2000, 4).toDF().cache()
    pages.count()
    def unit(): Unit = {
      val res = QualityPipeline.run(pages)
      try Seq(res.kept, res.verdicts)
        .map(df => Future(df.write.mode("overwrite").format("noop").save()))
        .foreach(Await.result(_, Duration.Inf))
      finally res.unpersist()
    }
    try {
      unit() // warm-up
      val jobs = jobsOf(unit())
      assert(jobs == 28, s"a unit ran $jobs jobs, pinned at 28: a change that adds " +
        "a job (a barrier) must say so in CHANGES.md and re-pin; one that removes " +
        "jobs re-pins lower")
    } finally pages.unpersist()
  }
}
