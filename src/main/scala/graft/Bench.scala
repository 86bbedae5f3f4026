package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: per-query wall times over SPARK_GRAFT_SF_DIR plus
  * the end-to-end pipeline throughput (docs/sec) on a generated pages
  * table. Prints ONE JSON line (driver contract).
  */
object Bench {

  def timeIt[T](f: => T): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  /** Median of `reps` timings. This host shows ±30–40% run-to-run noise
    * (see BENCH.md); single-run artifacts made round-over-round per-query
    * comparison noise-dominated, so the driver JSON now carries medians.
    */
  def medianTime(reps: Int)(f: => Unit): Double = {
    val ts = Array.fill(reps)(timeIt(f)).sorted
    ts(reps / 2)
  }

  /** Pipeline input at n docs: the generated pages are written ONCE to a
    * local parquet table (untimed) and the pipeline reads from it — the
    * PRODUCTION shape: column pruning keeps the never-read html payload
    * on disk, both pipeline scans are real columnar scans with pushdown,
    * and the input occupies zero JVM heap (caching multi-KB documents
    * on-heap is exactly what a cluster cannot do at corpus scale). The
    * table is keyed by (n, generator version fingerprint) so fresh-JVM
    * matrix levels reuse one write and a seed-corpus change can never
    * serve stale rows.
    */
  def pipelineInput(spark: SparkSession, n: Long): org.apache.spark.sql.DataFrame = {
    val ver = Integer.toHexString(
      graft.sources.PagesGen.genRow(123457L).text.hashCode)
    val dir = new java.io.File(
      sys.props("java.io.tmpdir"), s"graft_pages_${n}_$ver")
    if (!new java.io.File(dir, "_SUCCESS").exists())
      graft.sources.PagesGen.generate(spark, n,
        spark.sparkContext.defaultParallelism).toDF()
        .write.mode("overwrite").parquet(dir.getPath)
    spark.read.parquet(dir.getPath)
  }

  /** Every opt-in battery armed — the "full modern stack" configuration
    * the BENCH.md cost table measures against the default
    * reference-derived rule set.
    */
  def fullBatteryConfig: graft.pipeline.QualityPipeline.Config =
    graft.pipeline.QualityPipeline.defaultConfig.copy(
      gopherRepetition = true,
      c4Rules = true,
      ccnetBoilerplate = true,
      exactSubstrTokens = 8,
      modelQualityMin = Some(0.45),
      simHashNearDupBits = Some(128),
      urlRules = true,
      hostDocCap = 5000,
      decontamPassages = Seq(
        "the quick brown fox jumps over the lazy dog near the river bank today",
        "in a hole in the ground there lived a hobbit not a nasty dirty wet hole",
        "call me ishmael some years ago never mind how long precisely"))

  /** End-to-end keep/drop+scrub throughput on n generated pages. */
  def pipelineDocsPerSec(spark: SparkSession, n: Long,
                         cfg: graft.pipeline.QualityPipeline.Config =
                           graft.pipeline.QualityPipeline.defaultConfig)
      : (Double, Double) = {
    val pages = pipelineInput(spark, n)
    val sec = timeIt {
      val res = graft.pipeline.QualityPipeline.run(pages, cfg)
      // independent sinks submit concurrently (idiomatic: the scheduler
      // interleaves their stages); both read only warm caches and
      // checkpoint leaves at this point, so there is no cold-cache race
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      val writes = Seq(res.kept, res.verdicts).map { df =>
        Future(df.write.mode("overwrite").format("noop").save())
      }
      writes.foreach(Await.result(_, Duration.Inf))
      res.unpersist() // warmup + repeat runs must not accumulate caches
    }
    (n / sec, sec)
  }

  /** One-thread memory-bandwidth spot sample + loadavg — the same noise
    * annotation tools/scaling_matrix.sh records per pair. This host's
    * available bandwidth swings ~3× between hour-scale co-tenant
    * episodes (BENCH.md), which shows up as ±10-40% on memory-bound
    * queries with UNCHANGED plans; carrying the sample inside the bench
    * artifact lets a round-over-round regression be read against the
    * environment it ran in instead of litigated from memory.
    */
  private def noiseSample(): (Double, String) = {
    val gbps = try MemBandwidth.runLevel(1, seconds = 1.0)
    catch { case _: Throwable => -1.0 }
    val load = try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim.split("\\s+").take(3).mkString(",") finally s.close()
    } catch { case _: Throwable => "" }
    (gbps, load)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val pipelineN = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "100000").toLong
    val spark = session(cpus.toInt)
    val (gbpsPre, loadPre) = noiseSample()

    // session warmup (codegen, parquet footers, scheduler) so the
    // alphabetically-first query doesn't absorb ~4 s of one-time cost
    try SparkEntry.queries("q1_agg")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => }
    val reps = sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "3").toInt
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val sec = try medianTime(reps)(fn(spark, sfDir).write.mode("overwrite")
        .format("noop").save())
      catch { case _: Throwable => -1.0 }
      name -> sec
    }
    // pipeline throughput: median of `reps` full runs (first run above the
    // per-query loop already warmed the session)
    val pipeRuns = Array.fill(reps)(pipelineDocsPerSec(spark, pipelineN))
      .sortBy(_._2)
    val (docsPerSec, pipeSec) = pipeRuns(reps / 2)
    // full-battery pipeline (every opt-in armed) — the cost of the whole
    // modern filter stack relative to the default rule set, same input
    val fullRuns = Array.fill(reps)(
      pipelineDocsPerSec(spark, pipelineN, fullBatteryConfig)).sortBy(_._2)
    val (fullDocsPerSec, fullSec) = fullRuns(reps / 2)
    val (gbpsPost, loadPost) = noiseSample()
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.filter(_._2 > 0).map(_._2).sum + pipeSec
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""pipeline_docs":$pipelineN,"pipeline_sec":$pipeSec,""" +
      s""""pipeline_docs_per_sec":$docsPerSec,""" +
      s""""pipeline_full_battery_sec":$fullSec,""" +
      s""""pipeline_full_battery_docs_per_sec":$fullDocsPerSec,"reps":$reps,""" +
      f""""mem_gbps_1t_pre":$gbpsPre%.2f,"mem_gbps_1t_post":$gbpsPost%.2f,""" +
      s""""loadavg_pre":"$loadPre","loadavg_post":"$loadPost",""" +
      s""""cpus":$cpus,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** The local bench session both `main` and [[ScalingBench]] run in. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // parquet-scan split size governs the FEATURE CACHE's partition
      // count (the cache inherits scan partitioning), and the default
      // 128 MB yields ~1.5 task waves at 32 cores on the bench tables —
      // wave-quantization, not compute, then caps measured scaling. 32 MB
      // keeps every level at ≥4 tasks/core.
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // the feature cache carries raw text; columnar compression burns CPU
      // on the memory-bandwidth-bound stage for nothing at bench lifetimes
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
