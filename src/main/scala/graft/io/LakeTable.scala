package graft.io

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Iceberg-shaped table surface with a Parquet implementation.
  *
  * The sandbox has no iceberg-runtime jar (SURVEY §7.0), so this layer
  * reproduces the two Iceberg behaviours the north rule actually needs —
  * partitioned writes and ATOMIC per-partition commits — on plain
  * Parquet + a commit marker protocol. The trait is kept Iceberg-shaped
  * (identity partition column, overwrite-partition, read-all) so a real
  * `catalog.table` binding is a drop-in replacement on a cluster.
  *
  * Commit protocol (rename-based, atomic on HDFS/posix):
  *   1. write partition data to  `root/_staging/<part>-<nonce>/`
  *   2. rename to                `root/<partCol>=<part>/`
  *   3. touch                    `root/<partCol>=<part>/_COMMITTED`
  * A partition is visible iff its `_COMMITTED` marker exists; a crashed
  * run leaves staging garbage that reads ignore and the next
  * `Checkpointer.run` deletes before it starts a partition.
  * This is what makes any failed 10¹²-doc run resumable without
  * recomputing finished partitions.
  */
trait LakeTable {
  def root: String
  def partitionColumn: String
  def committedPartitions: Set[String]
  def overwritePartition(df: DataFrame, partValue: String): Unit
  def read(spark: SparkSession): DataFrame
  def readPartition(partValue: String): DataFrame
}

final class ParquetLakeTable(val spark: SparkSession, val root: String,
                             val partitionColumn: String) extends LakeTable {

  private def fs: FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def partPath(v: String) = new Path(root, s"$partitionColumn=$v")
  private def marker(v: String) = new Path(partPath(v), "_COMMITTED")

  def committedPartitions: Set[String] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return Set.empty
    fs.listStatus(rootPath).iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(s"$partitionColumn="))
      .map(_.stripPrefix(s"$partitionColumn="))
      .filter(v => fs.exists(marker(v)))
      .toSet
  }

  def overwritePartition(df: DataFrame, partValue: String): Unit = {
    val staging = new Path(root,
      s"_staging/$partValue-${java.util.UUID.randomUUID().toString.take(8)}")
    df.drop(partitionColumn).write.mode("overwrite").parquet(staging.toString)
    val target = partPath(partValue)
    if (fs.exists(target)) fs.delete(target, true)
    fs.mkdirs(target.getParent)
    if (!fs.rename(staging, target))
      throw new IllegalStateException(s"commit rename failed for $partValue")
    fs.create(marker(partValue), true).close()
  }

  /** Reads committed partitions only (never in-flight staging data). */
  def read(spark: SparkSession): DataFrame = {
    val parts = committedPartitions.toSeq.sorted
    require(parts.nonEmpty, s"no committed partitions under $root")
    spark.read
      .option("basePath", root)
      .parquet(parts.map(v => partPath(v).toString): _*)
  }

  /** Reads one committed partition, without the partition column. Unlike
    * a filtered [[read]], it lists no other partition, so a concurrent
    * commit of another partition cannot remove a path under it.
    */
  def readPartition(partValue: String): DataFrame = {
    require(fs.exists(marker(partValue)), s"partition $partValue of $root is not committed")
    spark.read.parquet(partPath(partValue).toString)
  }

  /** Deletes `_staging/`: what a crashed commit left behind. Only safe
    * while no writer is committing to this table.
    */
  def cleanStaging(): Unit = {
    val st = new Path(root, "_staging")
    if (fs.exists(st)) fs.delete(st, true)
  }
}
