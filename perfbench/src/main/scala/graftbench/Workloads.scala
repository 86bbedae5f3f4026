package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline.QualityPipeline
import graft.sources.PagesGen

/** Per-run state shared by set-up, the timed units, checks and layers. */
final class Ctx(val work: String, val seed: Long, val docs: Long, val cores: Int) {
  var spark: SparkSession = _
  var pagesPath: String = _
  def pages: DataFrame = spark.read.parquet(pagesPath)
  lazy val rows: Seq[graft.model.Page] = Checks.window(seed, docs)
  lazy val textOf: Map[String, String] = rows.map(p => p.url -> p.text).toMap
}

/** Counts every operation and check; a failure is counted, never dropped. */
final class Report {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer[String]()
  val checks = mutable.LinkedHashMap[String, Map[String, Any]]()
  /** Every named metric this run measured, with its unit. */
  val named = mutable.LinkedHashMap[String, (Double, String)]()

  def op[T](name: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Throwable =>
        failed += 1
        errors += s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  def check(name: String, ok: Boolean, detail: Any): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks(name) = Map("ok" -> ok, "detail" -> detail)
  }

  def put(name: String, value: Double, unit: String): Unit = named(name) = (value, unit)
}

/** One timed unit of a workload: docs it processed and its wall time. */
final case class Sample(docs: Long, seconds: Double) {
  def docsPerSec: Double = docs / seconds
}

/** A pipeline workload: one `QualityPipeline.run` over the seeded pages
  * per unit, kept and verdicts written concurrently to a noop sink, then
  * its caches released (as `graft.Bench` times a run).
  */
sealed abstract class Workload {
  def name: String
  def defaultDocs: Long
  /** Untimed units run after the checked one and before the timed window:
    * unit times keep falling for the first few units of a JVM (JIT and
    * Spark code generation), and a median taken on that slope is noisy.
    */
  def warmupUnits: Int
  /** Column the workload derives document text from. */
  def sourceColumn: String = "text"
  def config(c: Ctx): QualityPipeline.Config
  protected def checkVerdicts(c: Ctx, r: Report, f1: Double, keptFrac: Double,
                              perRule: Map[String, Long]): Unit

  def prepare(c: Ctx): Unit = c.pagesPath = Inputs.writePages(c.spark, c.work, c.seed, c.docs)

  def unit(c: Ctx): Sample = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val t0 = System.nanoTime()
    val res = QualityPipeline.run(c.pages, config(c))
    try Seq(res.kept, res.verdicts)
      .map(df => Future(df.write.mode("overwrite").format("noop").save()))
      .foreach(Await.result(_, Duration.Inf))
    finally res.unpersist()
    Sample(c.docs, (System.nanoTime() - t0) / 1e9)
  }

  /** The first unit, with its outputs collected and checked. Returns the
    * wall time of the run and collect; the checks are not timed.
    */
  def checkedUnit(c: Ctx, r: Report): Double = {
    val t0 = System.nanoTime()
    val res = QualityPipeline.run(c.pages, config(c))
    val (kept, dropped, perRule) = try (
      res.kept.select("url", "scrubbed_text").collect()
        .map(x => (x.getString(0), x.getString(1))).toSeq,
      res.verdicts.select("url").distinct().collect().map(_.getString(0)).toSet,
      res.metrics.collect().map(x => x.getString(0) -> x.getLong(1)).toMap)
    finally res.unpersist()
    val seconds = (System.nanoTime() - t0) / 1e9
    val f1 = Checks.f1(c.rows.map(_.url), Checks.goldenDrop(c.rows), dropped)
    val mismatch = Checks.scrubMismatches(kept, c.textOf)
    val keptFrac = kept.length.toDouble / c.docs
    r.put("keep_drop_f1", f1, "frac")
    r.put("scrub_mismatch_docs", mismatch, "count")
    r.put("kept_frac", keptFrac, "frac")
    r.check("scrub_identical", mismatch == 0, s"$mismatch of ${kept.length} kept docs differ")
    r.check("kept_dropped_partition",
      kept.map(_._1).toSet.intersect(dropped).isEmpty &&
        kept.length + dropped.size == c.docs,
      s"${kept.length} kept + ${dropped.size} dropped of ${c.docs}")
    checkVerdicts(c, r, f1, keptFrac, perRule)
    seconds
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(DefaultFilter, FullBattery)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(s"unknown workload $n; known: ${all.map(_.name).mkString(", ")}"))
}

/** The production rule set: `QualityPipeline.defaultConfig`. */
object DefaultFilter extends Workload {
  val name = "default_filter"
  val defaultDocs = 10000L
  val warmupUnits = 2
  def config(c: Ctx): QualityPipeline.Config = QualityPipeline.defaultConfig
  protected def checkVerdicts(c: Ctx, r: Report, f1: Double, keptFrac: Double,
                              perRule: Map[String, Long]): Unit =
    r.check("keep_drop_f1", f1 >= 0.99, f"F1 $f1%.4f vs planted labels (needs >= 0.99)")
}

/** Every opt-in battery armed, plus text extraction from the html.
  * Differs from `graft.Bench.fullBatteryConfig` where that config keeps
  * no document or arms a rule that cannot fire on the generated pages:
  * the generated text has no sentence punctuation, so the C4 sentence
  * minimum is 0 (the C4 kernel still runs); the URL, host-cap and
  * decontamination rules get a blocked host, a cap and an eval passage
  * taken from the seeded window so that each of them drops documents.
  */
object FullBattery extends Workload {
  val name = "full_battery"
  val defaultDocs = 2000L
  val warmupUnits = 1
  override val sourceColumn = "html"

  val BlockedHost = "host1.example.com"
  /** Five below the page count of the window's largest host, so the cap
    * drops a few documents whatever the seed.
    */
  def hostCap(c: Ctx): Int =
    math.max(1, c.rows.groupBy(_.url.split("/")(2)).values.map(_.size).max - 5)
  /** First 12 words of a clean document of the window. */
  def evalPassage(c: Ctx): String = {
    val id = PagesGen.cleanBaseAtOrAbove(Inputs.firstId(c.seed, c.docs) + c.docs / 2)
    PagesGen.genRow(id).text.split("\\s+").take(12).mkString(" ")
  }

  def config(c: Ctx): QualityPipeline.Config = graft.Bench.fullBatteryConfig.copy(
    extractHtml = true,
    minSentences = 0,
    urlBlockedHosts = Seq(BlockedHost),
    hostDocCap = hostCap(c),
    decontamPassages = graft.Bench.fullBatteryConfig.decontamPassages :+ evalPassage(c))

  /** Rule-name prefix of each armed battery that must drop documents.
    * The C4 battery is armed for its cost only: none of its page rules
    * can fire on punctuation-free text without dropping every document.
    */
  val ArmedRules: Seq[String] = Seq("gopher_", "ccnet_boilerplate", "decontam",
    "exact_substr_dup", "model_quality", "near_dup_simhash_wide", "url_", "host_over_cap")

  protected def checkVerdicts(c: Ctx, r: Report, f1: Double, keptFrac: Double,
                              perRule: Map[String, Long]): Unit = {
    r.check("kept_frac_positive", keptFrac > 0, f"kept_frac $keptFrac%.4f")
    val silent = ArmedRules.filterNot(p => perRule.exists { case (k, v) => k.startsWith(p) && v > 0 })
    r.check("armed_rules_drop", silent.isEmpty,
      if (silent.isEmpty) perRule.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
      else s"armed rules that dropped nothing: ${silent.mkString(", ")}")
  }
}

