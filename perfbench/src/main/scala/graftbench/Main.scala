package graftbench

import org.apache.spark.sql.SparkSession

/** Benchmark harness: one workload per JVM.
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> [--docs <n>]
  *
  * Set-up (session start, input generation and write) runs three times;
  * its median plus the warm-up unit that follows is `setup_s`. The
  * warm-up unit's outputs are collected and checked. Untraced
  * (`--trace 0`), the workload's untimed warm-up units follow, then
  * units run back to back for `--seconds` and the median unit is
  * reported; traced (`--trace 1`), [[Layers]] times each
  * engine module. Prints one JSON report line prefixed `GRAFTBENCH `.
  */
object Main {
  val SetupRounds = 3

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def session(work: String, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.files.maxPartitionBytes", (32 * 1024 * 1024).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def firstLine(path: String): String = try {
    val src = scala.io.Source.fromFile(path)
    try src.getLines().next().trim finally src.close()
  } catch { case _: Throwable => "" }

  /** Aggregate CPU ticks (all fields) and steal ticks from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = firstLine("/proc/stat").split("\\s+").drop(1).map(_.toLong)
    if (f.length > 7) (f.sum, f(7)) else (0L, 0L)
  }

  /** Context, not a metric: 1-thread memory bandwidth and load average. */
  def environment(): Map[String, Any] = {
    val gbps = try graft.MemBandwidth.runLevel(1, seconds = 0.5)
    catch { case _: Throwable => -1.0 }
    Map("mem_gbps_1t" -> gbps,
      "loadavg" -> firstLine("/proc/loadavg").split("\\s+").take(3).mkString(","))
  }

  /** This JVM's high-water resident set (VmHWM), in MB. */
  def peakRssMb(): Double = try {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  } catch { case _: Throwable => Double.NaN }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wl = Workloads.byName(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = new java.io.File(opt("work")).getAbsolutePath
    val docs = opt.get("docs").map(_.toLong).getOrElse(wl.defaultDocs)
    val cores = math.min(4, Runtime.getRuntime.availableProcessors())
    val ctx = new Ctx(work, seed, docs, cores)
    val r = new Report
    val envBefore = environment()
    val ticksBefore = cpuTicks()

    // set-up: the same work on every run, measured SetupRounds times
    val rounds = (1 to SetupRounds).map { _ =>
      val t0 = System.nanoTime()
      if (ctx.spark != null) ctx.spark.stop()
      ctx.spark = session(work, cores)
      r.op("prepare")(wl.prepare(ctx))
      (System.nanoTime() - t0) / 1e9
    }
    val warm = r.op("warmup")(wl.checkedUnit(ctx, r))
    val setupS = median(rounds) + warm.getOrElse(Double.NaN)
    r.put("setup_s", setupS, "s")

    val metrics = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    val extra = scala.collection.mutable.LinkedHashMap[String, Any]()
    // a failed check still measures; a failed set-up operation cannot
    if (r.errors.isEmpty) {
      if (!traced) {
        val warmups = (1 to wl.warmupUnits).flatMap(_ => r.op("warmup_unit")(wl.unit(ctx)))
        extra("warmup_unit_s") = warmups.map(_.seconds)
        // units back to back while the next one (as long as the last)
        // still ends within the window; at least one
        val deadline = System.nanoTime() + (seconds * 1e9).toLong
        val samples = scala.collection.mutable.ArrayBuffer[Sample]()
        var ok = true
        while (ok && (samples.isEmpty ||
            System.nanoTime() + (samples.last.seconds * 1e9).toLong <= deadline))
          r.op("unit")(wl.unit(ctx)) match {
            case Some(s) => samples += s
            case None => ok = false
          }
        r.put("docs_per_s", median(samples.map(_.docsPerSec).toSeq), "1/s")
        extra("unit_s") = samples.map(_.seconds)
      } else {
        val layers = new Layers(ctx, wl, r)
        layers.run()
        metrics ++= layers.metrics
        extra("spans") = layers.tracer.toJson
        extra("board_dir") = layers.boardDir
        extra("board_out") = layers.boardOut
      }
    }
    r.put("peak_rss_mb", peakRssMb(), "MB")
    val ticksAfter = cpuTicks()
    val envAfter = environment() + ("cpu_steal_frac" ->
      (ticksAfter._2 - ticksBefore._2).toDouble / math.max(1L, ticksAfter._1 - ticksBefore._1))
    val out = Map(
      "workload" -> wl.name, "seed" -> seed, "docs" -> docs, "cores" -> cores,
      "traced" -> traced, "attempted" -> r.attempted, "failed" -> r.failed,
      "errors" -> r.errors, "checks" -> r.checks,
      "named" -> r.named.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "per_layer" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "setup_rounds_s" -> rounds, "env_before" -> envBefore, "env_after" -> envAfter) ++ extra
    println("GRAFTBENCH " + Json.render(out))
    if (ctx.spark != null) ctx.spark.stop()
  }
}
