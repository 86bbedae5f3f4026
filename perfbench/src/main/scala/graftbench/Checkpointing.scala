package graftbench

import graft.pipeline.Checkpointer

/** Three `Checkpointer.run`s over the pages folded onto four crawl days:
  * a straight run at concurrency 2, a run that fails at the last day at
  * concurrency 1, and the resume of that failed run.
  */
object Checkpointing {
  val Days = 4

  final case class Cycle(straightRoot: String, crashRoot: String,
                         straight: Seq[Checkpointer.PartitionReport],
                         resumed: Seq[Checkpointer.PartitionReport],
                         straightS: Double, failS: Double, resumeS: Double) {
    def redoDocs: Long = resumed.filterNot(_.skipped).map(_.nDocs).sum
  }

  def run(c: Ctx, tracer: Tracer): Cycle = {
    val straightRoot = s"${c.work}/ckpt_straight"
    val crashRoot = s"${c.work}/ckpt_crash"
    val pages = Inputs.foldDays(c.pages, Days)
    def timed[T](name: String)(f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val x = tracer.span("pipeline", s"Checkpointer.run.$name")(f)
      (x, (System.nanoTime() - t0) / 1e9)
    }
    val (straight, straightS) = timed("straight")(
      Checkpointer.run(c.spark, pages, straightRoot, concurrency = 2))
    val lastDay = straight.map(_.partition).max
    val (failure, failS) = timed("failing")(
      try {
        Checkpointer.run(c.spark, pages, crashRoot, failAtPartition = Some(lastDay),
          concurrency = 1)
        None
      } catch {
        case e: RuntimeException if String.valueOf(e.getMessage).contains("injected failure") =>
          Some(e)
      })
    require(failure.isDefined, s"the run set to fail at $lastDay did not fail")
    val (resumed, resumeS) = timed("resume")(Checkpointer.run(c.spark, pages, crashRoot))
    Cycle(straightRoot, crashRoot, straight, resumed, straightS, failS, resumeS)
  }

  /** Resumed output equals the straight run's, and only the failed day
    * was redone. (No F1 here: at a few thousand docs a day, the per-day
    * pass-2 statistics flag rare lang/tld combinations among clean docs,
    * which the planted labels do not model.)
    */
  def check(c: Ctx, cy: Cycle, r: Report): Unit = {
    val s = c.spark
    def state(root: String) = Seq(
      Checks.frameHash(Checkpointer.readKept(s, root)),
      Checks.frameHash(Checkpointer.readVerdicts(s, root)),
      Checks.frameHash(Checkpointer.readLineage(s, root)
        .select("partition", "n_docs", "n_kept", "n_verdicts")))
    r.check("resume_equals_straight", state(cy.straightRoot) == state(cy.crashRoot),
      "order-insensitive hash of kept, verdicts and lineage counts")
    val lastDayDocs = cy.straight.maxBy(_.partition).nDocs
    r.check("resume_redoes_only_failed_day", cy.redoDocs == lastDayDocs,
      s"resume processed ${cy.redoDocs} docs; the failed day holds $lastDayDocs")
  }
}
