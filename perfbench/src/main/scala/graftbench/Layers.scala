package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions._
import graft.pipeline.QualityPipeline
import graft.rules.Rules

/** The traced run: times the harness's calls into each engine module
  * (`graft.functions`, `graft.rules`, `graft.pipeline`, `graft.io`,
  * `graft.Queries`) with spans, and the workload's own unit with an
  * [[EngineListener]] attached. Every traced run measures every layer,
  * so each run reports every per-layer metric; the module probes run on
  * their own seeded pages of [[Layers.ProbeDocs]] documents, so their
  * cost is the same whichever workload is traced.
  */
final class Layers(w: Ctx, wl: Workload, r: Report) {
  val tracer = new Tracer(s"${wl.name}-${w.seed}-${ProcessHandle.current().pid()}")
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val boardDir = s"${w.work}/board"
  val boardOut = s"${w.work}/board_out"
  private def spark = w.spark
  /** The module probes' own pages. */
  private lazy val c: Ctx = {
    val p = new Ctx(w.work, w.seed, Layers.ProbeDocs, w.cores)
    p.spark = spark
    p.pagesPath = Inputs.writePages(spark, s"${w.work}/probe", w.seed, p.docs)
    p
  }
  private def put(k: String, v: Double, unit: String): Unit = metrics(k) = (v, unit)
  private def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()
  private def timedSpan(layer: String, name: String)(f: => Unit): Double = {
    val t0 = System.nanoTime()
    tracer.span(layer, name)(f)
    (System.nanoTime() - t0) / 1e9
  }

  def run(): Unit = {
    Seq[(String, () => Unit)]("engine" -> engine, "functions" -> functions,
      "rules" -> rules, "pipeline" -> pipeline, "checkpoint" -> checkpoint,
      "queries" -> queries).foreach { case (n, f) => r.op(s"layer.$n")(f()) }
  }

  /** The workload's unit traced, with the listener on, between two
    * untraced units (their mean is the untraced rate, so the JIT warm-up
    * trend does not read as tracing overhead).
    */
  private def engine(): Unit = {
    val before = wl.unit(w)
    val (traced, l) = EngineListener.around(spark)(tracer.span("workload", wl.name)(wl.unit(w)))
    val after = wl.unit(w)
    val docs = traced.docs.toDouble
    put("trace.overhead_docs_per_s",
      traced.docsPerSec - (before.docsPerSec + after.docsPerSec) / 2, "1/s")
    put("spark.jobs", l.jobs, "count")
    put("spark.stages", l.stages, "count")
    put("spark.tasks", l.tasks, "count")
    put("spark.task_run_s", l.runMs / 1e3, "s")
    put("spark.task_cpu_s", l.cpuNs / 1e9, "s")
    put("spark.gc_s", l.gcMs / 1e3, "s")
    put("spark.core_util", l.runMs / 1e3 / (traced.seconds * w.cores), "frac")
    put("spark.task_skew_max", l.skewMax, "ratio")
    put("spark.input_bytes_per_doc", l.inputBytes / docs, "B")
    // bytes that file-scan stages read, per on-disk byte of the column the
    // workload reads its text from
    put("spark.text_scans",
      l.fileInputBytes.toDouble / Inputs.columnBytes(spark, w.pagesPath, wl.sourceColumn), "count")
    put("spark.shuffle_write_bytes_per_doc", l.shuffleWrite / docs, "B")
    put("spark.shuffle_read_bytes_per_doc", l.shuffleRead / docs, "B")
    put("spark.spill_bytes", l.spill.toDouble, "B")
  }

  /** Each kernel as a narrow select to noop; its task time minus that
    * of a scan-only pass over the same column is the kernel's cost.
    */
  private def functions(): Unit = {
    val pages = c.pages
    val text = coalesce(col("text"), lit(""))
    def taskMs(name: String, projection: Column): Long =
      (1 to 2).map { _ =>
        EngineListener.around(spark)(tracer.span("functions", name)(noop(pages.select(projection))))._2.runMs
      }.min
    val scanMs = Map("text" -> taskMs("scan_text", col("text")),
      "html" -> taskMs("scan_html", col("html")))
    val bytes = pages.agg(sum(octet_length(col("text"))), sum(length(col("html")))).head()
    val srcBytes = Map("text" -> bytes.getLong(0).toDouble, "html" -> bytes.getLong(1).toDouble)
    put("functions.scan_only_us_per_doc", scanMs("text") * 1e3 / c.docs, "us")
    Seq[(String, String, Column)](
      ("DocStats", "text", DocStats.docStats(text, 32)),
      ("DocStats_lite", "text", DocStats.docStats(text, 0)),
      ("Scrub", "text", Scrub.scrubFused(col("text"))),
      ("HtmlExtract", "html", HtmlExtract.extractBinary(col("html"))),
      ("Repetition", "text", Repetition.repetition(text)),
      ("C4Stats", "text", C4Stats.c4Stats(text)),
      ("QualityModel", "text", QualityModel.scoreColumn(TextFns.normText(col("text"))))
    ).foreach { case (name, src, kernel) =>
      // at least 1 ms of net task time, so a kernel cheaper than the
      // scan's noise reads as very fast instead of negative
      val netMs = math.max(1L, taskMs(name, kernel) - scanMs(src))
      put(s"functions.${name}_us_per_doc", netMs * 1e3 / c.docs, "us")
      put(s"functions.${name}_mb_per_s", srcBytes(src) / 1e6 / (netMs / 1e3), "MB/s")
    }
  }

  /** Each public rule of `graft.rules.Rules` materialized on its own. */
  private def rules(): Unit = {
    val s = spark
    import s.implicits._
    val pages = c.pages
    val cfg = FullBattery.config(c)
    val feat = QualityPipeline.features(pages,
      QualityPipeline.defaultConfig.copy(simHashNearDupBits = Some(128))).cache()
    try {
      feat.count()
      val evalGrams = Decontam.evalGrams(cfg.decontamPassages.toDF("p"), col("p"), cfg.decontamN)
      Seq[(String, () => DataFrame)](
        "boilerplateParagraphs" -> (() => Rules.boilerplateParagraphs(pages, col("url"), col("text"))),
        "contaminationRule" -> (() => Rules.contaminationRule(pages, col("url"), col("text"),
          evalGrams, cfg.decontamN)),
        "exactSubstrDup" -> (() => Rules.exactSubstrDup(pages, col("url"), col("text"),
          cfg.exactSubstrTokens, maxFrac = cfg.maxSubstrDupFrac)),
        "modelQualityRule" -> (() => Rules.modelQualityRule(pages, col("url"), col("text"),
          cfg.modelQualityMin.get)),
        "urlBattery" -> (() => Rules.urlBattery(pages, col("url"), col("url"),
          cfg.urlBlockedHosts)),
        "hostCap" -> (() => Rules.hostCap(pages, col("url"), col("url"), cfg.hostDocCap)),
        "simHashNearDupWide" -> (() => Rules.simHashNearDupWide(feat, col("url"),
          col("simhash_hi"), col("simhash_lo")))
      ).foreach { case (name, rule) =>
        put(s"rules.${name}_s", timedSpan("rules", name)(noop(rule())), "s")
      }
    } finally feat.unpersist()
  }

  /** The public steps of `QualityPipeline.run`, called in sequence. */
  private def pipeline(): Unit = {
    val pages = c.pages
    val cfg = QualityPipeline.defaultConfig
    var feat: DataFrame = null
    put("pipeline.features_s", timedSpan("pipeline", "features") {
      feat = QualityPipeline.features(pages, cfg).cache(); feat.count()
    }, "s")
    try {
      var cand: QualityPipeline.NearDupCandidates = null
      put("pipeline.nearDupCandidates_s", timedSpan("pipeline", "nearDupCandidates") {
        cand = QualityPipeline.nearDupCandidates(feat, cfg)
      }, "s")
      put("pipeline.nearDupResolve_s", timedSpan("pipeline", "nearDupResolve") {
        noop(QualityPipeline.nearDupResolve(cand, cfg))
      }, "s")
      var v1: DataFrame = null
      put("pipeline.pass1_s", timedSpan("pipeline", "pass1") {
        v1 = QualityPipeline.pass1(feat, cfg).localCheckpoint(true)
      }, "s")
      val survivors = feat.join(v1.select("url").distinct(), Seq("url"), "left_anti")
      var v2: DataFrame = null
      put("pipeline.pass2_s", timedSpan("pipeline", "pass2") {
        v2 = QualityPipeline.pass2(survivors, cfg)
      }, "s")
      val dropped = v1.select("url").unionByName(v2.select("url")).distinct()
      put("pipeline.kept_s", timedSpan("pipeline", "kept") {
        noop(pages.drop("html").join(dropped, Seq("url"), "left_anti")
          .withColumn("__ds", DocStats.docStats(coalesce(col("text"), lit("")), 0))
          .select(col("url"), col("__ds.perplexity"), col("__ds.n_words"),
            Scrub.scrubFused(col("text")).as("scrubbed_text")))
      }, "s")
    } finally feat.unpersist()
  }

  /** A [[Checkpointing]] cycle, checked, then the lake-table calls on its output. */
  private def checkpoint(): Unit = {
    val cy = Checkpointing.run(c, tracer)
    Checkpointing.check(c, cy, r)
    val walls = cy.straight.map(_.wallMs / 1e3)
    put("pipeline.day_wall_s_p50", Main.median(walls), "s")
    put("pipeline.day_wall_s_max", walls.max, "s")
    put("pipeline.resume_s", cy.resumeS, "s")
    put("pipeline.resume_redo_docs", cy.redoDocs.toDouble, "count")
    r.put("resume_s", cy.resumeS, "s")
    r.put("resume_redo_docs", cy.redoDocs.toDouble, "count")
    val kept = new graft.io.ParquetLakeTable(spark, s"${cy.straightRoot}/kept", "pdate")
    put("io.committedPartitions_s", timedSpan("io", "committedPartitions")(kept.committedPartitions), "s")
    put("io.read_s", timedSpan("io", "read")(noop(kept.read(spark))), "s")
    val probe = new graft.io.ParquetLakeTable(spark, s"${c.work}/io_probe", "pdate")
    val oneDay = kept.read(spark).filter(col("pdate") === cy.straight.head.partition)
    put("io.overwritePartition_s", timedSpan("io", "overwritePartition")(
      probe.overwritePartition(oneDay, "probe")), "s")
    def du(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(du).sum else if (f.getName.startsWith(".")) 0L else f.length
    put("io.bytes_written_per_doc", du(new java.io.File(cy.straightRoot)).toDouble / c.docs, "B")
  }

  /** Every `SparkEntry.queries` entry over seeded board tables, each
    * written as parquet for the oracle check that `run.py` makes.
    */
  private def queries(): Unit = {
    Inputs.writeBoard(spark, boardDir, c.seed, Inputs.BoardSmall)
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      r.op(s"query.$name") {
        put(s"query.${name}_s", timedSpan("queries", name)(
          fn(spark, boardDir).write.mode("overwrite").parquet(s"$boardOut/$name")), "s")
      }
    }
    r.put("board_s", metrics.collect { case (k, (v, _)) if k.startsWith("query.") => v }.sum, "s")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$boardOut/oracle_sql.json"),
      Json.render(graft.SparkEntry.oracleSql))
  }
}

object Layers {
  val ProbeDocs = 1000L
}
