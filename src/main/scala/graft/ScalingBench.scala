package graft

/** Scaling-efficiency evidence (north rule: ≥0.8 between N and 4N
  * executors; sandbox proxy per BASELINE.md: the SAME job at local[N] vs
  * local[4N] on the SAME generated input).
  *
  * Each parallelism level runs in a FRESH JVM (same-JVM sequential
  * SparkSessions contaminate the second measurement with heap/GC debt —
  * observed 1.8× slowdown), so this main measures ONE level:
  *
  *   sbt "runMain graft.ScalingBench <cpus> <docs>"
  *
  * and `tools/scaling.sh` orchestrates both levels + efficiency.
  */
object ScalingBench {

  def runAt(cpus: Int, n: Long): Double = {
    val spark = Bench.session(cpus)
    try {
      // warmup at small n to JIT/classload before measuring
      Bench.pipelineDocsPerSec(spark, math.max(2000, n / 50))
      val (_, sec) = Bench.pipelineDocsPerSec(spark, n)
      sec
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val cpus = if (args.nonEmpty) args(0).toInt else 32
    val n = if (args.length > 1) args(1).toLong
      else sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "300000").toLong
    val sec = runAt(cpus, n)
    println(f"""{"metric":"scaling_point","cpus":$cpus,"docs":$n,"sec":$sec%.2f,"docs_per_sec":${n / sec}%.1f}""")
  }
}
