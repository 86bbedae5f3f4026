package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.ParquetLakeTable

/** Resumable per-partition execution (north rule: "resumable from
  * checkpoint with per-partition lineage + metrics").
  *
  * The input is partitioned by crawl day (`to_date(warc_ts)`) — the
  * natural Iceberg identity partition of a Common-Crawl-style table. Each
  * day is processed independently and committed atomically via
  * [[ParquetLakeTable]]; a restarted run lists committed partitions and
  * skips them, so a crash at partition k costs only partition k.
  *
  * Descends from the reference's bookkeeping (`good_index`/`bad_index`,
  * `/root/reference/src/improve_data_quality.py:39-42`): the lineage
  * table is the per-partition generalization of the findings table's
  * bookkeeping role.
  *
  * Corpus-level statistics (pass-2 z-score gates) must not drift between
  * a straight run and a resumed run, so each partition is processed with
  * the pipeline's per-partition semantics (stats computed within the
  * partition) — the verdict tables are unioned by read() afterwards.
  */
object Checkpointer {

  final case class PartitionReport(partition: String, nDocs: Long,
                                   nKept: Long, nVerdicts: Long,
                                   wallMs: Long, skipped: Boolean)

  /** Process every day partition; up to `concurrency` days run at once.
    *
    * Days are independent by the pinned per-day stats contract
    * (ResumeSpec), so concurrent processing is pure scheduling: Spark
    * interleaves the days' stages, filling the idle slots each single
    * day's barrier points (checkpoints, stat aggregation) leave on a big
    * cluster. Results are AWAITED IN DAY ORDER, so when day k fails,
    * every earlier day has already committed (atomically, via
    * [[ParquetLakeTable]]) before the failure propagates — a resume
    * after a crash therefore skips a PREFIX plus whatever later
    * in-flight days happened to commit, and reprocesses the rest; both
    * are correct because commits are atomic per partition.
    */
  def run(spark: SparkSession, pages: DataFrame, outRoot: String,
          cfg: QualityPipeline.Config = QualityPipeline.defaultConfig,
          failAtPartition: Option[String] = None,
          concurrency: Int = 2): Seq[PartitionReport] = {
    import spark.implicits._
    val keptTable = new ParquetLakeTable(spark, s"$outRoot/kept", "pdate")
    val verdictTable = new ParquetLakeTable(spark, s"$outRoot/verdicts", "pdate")
    val lineageTable = new ParquetLakeTable(spark, s"$outRoot/lineage", "pdate")
    // one writer per outRoot: before any day starts, what a crashed run
    // left in staging is garbage (never visible — no _COMMITTED marker)
    Seq(keptTable, verdictTable, lineageTable).foreach(_.cleanStaging())

    val withDay = pages.withColumn("pdate", to_date(col("warc_ts")).cast("string"))
    val days = withDay.select("pdate").distinct().as[String].collect().sorted
    val done = keptTable.committedPartitions intersect
      verdictTable.committedPartitions intersect lineageTable.committedPartitions

    def processDay(day: String): PartitionReport =
      if (done.contains(day)) {
        PartitionReport(day, -1, -1, -1, 0, skipped = true)
      } else {
        if (failAtPartition.contains(day))
          throw new RuntimeException(s"injected failure at partition $day")
        val t0 = System.nanoTime()
        val slice = withDay.filter(col("pdate") === day).drop("pdate")
        val res = QualityPipeline.run(slice, cfg)
        val nDocs = slice.count()
        // document bodies never sit in cluster storage: each table is
        // written once from its plan, and its row count is read back from
        // the committed partition's parquet footers
        keptTable.overwritePartition(res.kept, day)
        verdictTable.overwritePartition(res.verdicts, day)
        val nKept = keptTable.readPartition(day).count()
        val nVerdicts = verdictTable.readPartition(day).count()
        val wallMs = (System.nanoTime() - t0) / 1000000
        val lineage = Seq((day, nDocs, nKept, nVerdicts, wallMs))
          .toDF("partition", "n_docs", "n_kept", "n_verdicts", "wall_ms")
        lineageTable.overwritePartition(lineage, day)
        res.unpersist() // release the pipeline's internal caches — a long
        // multi-day run would otherwise accumulate one cache set per day
        PartitionReport(day, nDocs, nKept, nVerdicts, wallMs, skipped = false)
      }

    if (concurrency <= 1) days.map(processDay).toSeq
    else {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val pool = java.util.concurrent.Executors.newFixedThreadPool(concurrency)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      try {
        val futures = days.map(day => Future(processDay(day)))
        futures.map(Await.result(_, Duration.Inf)).toSeq
      } finally pool.shutdownNow()
    }
  }

  def readKept(spark: SparkSession, outRoot: String): DataFrame =
    new ParquetLakeTable(spark, s"$outRoot/kept", "pdate").read(spark)
  def readVerdicts(spark: SparkSession, outRoot: String): DataFrame =
    new ParquetLakeTable(spark, s"$outRoot/verdicts", "pdate").read(spark)
  def readLineage(spark: SparkSession, outRoot: String): DataFrame =
    new ParquetLakeTable(spark, s"$outRoot/lineage", "pdate").read(spark)
}
