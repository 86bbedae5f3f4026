package graftbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** One span: a timed call into one module's public function. */
final case class Span(id: Int, parent: Int, layer: String, name: String,
                      startNs: Long, endNs: Long, runId: String)

/** In-memory span recorder for the calls the harness makes into the
  * engine (single-threaded: spans nest by call order). Spans are written
  * out only when the run ends, so recording costs two clock reads.
  */
final class Tracer(val runId: String) {
  private val spans = ArrayBuffer[Span]()
  private var stack = List(-1)

  def span[T](layer: String, name: String)(f: => T): T = {
    val id = spans.length
    spans += null // reserve the id; filled in when the call returns
    val parent = stack.head
    stack = id :: stack
    val t0 = System.nanoTime()
    try f
    finally {
      spans(id) = Span(id, parent, layer, name, t0, System.nanoTime(), runId)
      stack = stack.tail
    }
  }

  def all: Seq[Span] = spans.toSeq.filter(_ != null)

  /** Span time minus the part of it that its direct children cover. */
  def selfSeconds(s: Span): Double = {
    val kids = all.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L
    var end = Long.MinValue
    kids.foreach { case (a, b) =>
      val from = math.max(a, end)
      if (b > from) { covered += b - from; end = b }
    }
    (s.endNs - s.startNs - covered) / 1e9
  }

  def toJson: Seq[Map[String, Any]] = all.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
    "start_ns" -> s.startNs, "end_ns" -> s.endNs, "run_id" -> s.runId,
    "self_s" -> selfSeconds(s)))
}

/** Engine-level counters for everything run while it is attached: jobs,
  * stages, task time, CPU, GC, input bytes (files and cached blocks),
  * shuffle and spill bytes, and the worst stage skew (longest task over
  * the stage's median task).
  */
final class EngineListener extends SparkListener {
  private val lock = new Object
  var jobs = 0
  var stages = 0
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  /** Input bytes of the stages that scan files (not cached blocks). */
  var fileInputBytes = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var skewMax = 1.0
  private val stageTaskMs = scala.collection.mutable.HashMap[(Int, Int), ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized { jobs += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    val m = e.taskMetrics
    tasks += 1
    if (m != null) {
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
    stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), ArrayBuffer()) +=
      e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
    stages += 1
    if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
      fileInputBytes += e.stageInfo.taskMetrics.inputMetrics.bytesRead
    stageTaskMs.remove((e.stageInfo.stageId, e.stageInfo.attemptNumber())).foreach { ds =>
      if (ds.length >= 2) {
        val sorted = ds.sorted
        val median = math.max(1L, sorted(sorted.length / 2))
        skewMax = math.max(skewMax, sorted.last.toDouble / median)
      }
    }
  }
}

object EngineListener {
  /** Runs `f` with a fresh listener attached and returns both. */
  def around[T](spark: SparkSession)(f: => T): (T, EngineListener) = {
    val sc = spark.sparkContext
    BenchBus.drain(sc)
    val l = new EngineListener
    sc.addSparkListener(l)
    try {
      val r = f
      BenchBus.drain(sc)
      (r, l)
    } finally sc.removeSparkListener(l)
  }
}
