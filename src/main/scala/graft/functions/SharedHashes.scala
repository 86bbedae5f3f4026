package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executor-side handle of a driver-fetched set of 64-bit hashes, held as
  * a sorted, duplicate-free `long[]` that kernels probe with
  * `java.util.Arrays.binarySearch` (the DocStats / LangId idiom). The
  * array ships once per executor as a broadcast, never inside a task
  * closure or a plan string (`toString` prints only the size, so
  * `explain` output and plan-string caches stay free of set contents).
  * Kernels reach the array through [[sorted]], resolved once per
  * deserialized handle.
  */
final class HashSetRef private (bc: Broadcast[Array[Long]], val size: Int)
    extends Serializable {
  @transient lazy val sorted: Array[Long] = bc.value
  override def toString: String = s"<$size hashes>"
}

object HashSetRef {
  def apply(spark: SparkSession, keys: Array[Long]): HashSetRef = {
    val s = keys.clone()
    java.util.Arrays.sort(s)
    var d = 0
    var i = 0
    while (i < s.length) {
      if (d == 0 || s(d - 1) != s(i)) { s(d) = s(i); d += 1 }
      i += 1
    }
    val set = java.util.Arrays.copyOf(s, d)
    new HashSetRef(spark.sparkContext.broadcast(set), d)
  }
}

/** Driver-fetched hash sets for the text battery's per-document kernels
  * ([[Paragraphs]], [[ExactSubstr]], [[Decontam]]). The cross-document
  * state those rules need is a set of 8-byte hashes — paragraphs or
  * L-grams shared by ≥ minDocs documents, or an eval suite's grams — so
  * below a bound the set is fetched to the driver and broadcast, and each
  * document is judged in ONE narrow pass with no shuffle, join-back or
  * window. Above the bound each cross-document rule keeps its distributed
  * shuffle chain.
  */
object SharedHashes {

  /** The driver-side bound on every fetched set (8 B/hash on the wire
    * and in the broadcast array: 4M hashes ≈ 32 MB on the driver and once
    * per executor).
    */
  val MaxBroadcastGrams: Long = 4000000L

  /** ONE action decides AND fetches (the `nearDupResolve` pattern): pull
    * at most `cap + 1` hashes of the one-column long frame `hashes`; a
    * full fetch proves overflow (None), anything less IS the set.
    */
  def fetch(hashes: DataFrame, cap: Long): Option[HashSetRef] = {
    val spark = hashes.sparkSession
    import spark.implicits._
    val got = hashes.limit(fetchLimit(cap)).as[Long].collect()
    if (got.length > cap) None else Some(HashSetRef(spark, got))
  }

  /** [[fetch]] over a [[sharedFrame]]: None on overflow AND when any key
    * row comes back — a repeated key makes the frame's row counts
    * overstate document counts, so the caller takes its composed chain,
    * which counts distinct keys.
    */
  def fetchShared(shared: DataFrame, cap: Long): Option[HashSetRef] = {
    val spark = shared.sparkSession
    import spark.implicits._
    val got = shared.limit(fetchLimit(cap)).as[(Boolean, Long)].collect()
    if (got.length > cap || got.exists(_._1)) None
    else Some(HashSetRef(spark, got.map(_._2)))
  }

  private def fetchLimit(cap: Long): Int = {
    require(cap >= 0, s"set bound must be >= 0, got $cap")
    (cap + 1).min(Int.MaxValue.toLong).toInt
  }

  /** Hashes present in ≥ `minDocs` documents, where each row of `df` is
    * one document keyed by `key` and `docHashes` is its array of DISTINCT
    * hashes (so a document counts once however often it repeats a hash).
    * One map-side-combined aggregate, whose shuffle carries (flag, 8-byte
    * hash, partial count) rows only.
    *
    * The same aggregate checks that keys are unique: every row also
    * counts `xxhash64(key)` under the key flag, and a key carried by ≥ 2
    * rows comes back as a `__key = true` row. Output `(__key, __h)`:
    * shared hashes with `__key` false, repeated-key hashes with it true.
    * Row counts equal distinct-key counts exactly when no key row is
    * present ([[fetchShared]] falls back otherwise).
    */
  def sharedFrame(df: DataFrame, key: Column, docHashes: Column,
                  minDocs: Long): DataFrame =
    df.select(posexplode(concat(array(xxhash64(key)),
        coalesce(docHashes, typedLit(Array.empty[Long])))).as(Seq("__i", "__h")))
      .groupBy((col("__i") === 0).as("__key"), col("__h"))
      .agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= when(col("__key"), lit(2L)).otherwise(lit(minDocs)))
      .select(col("__key"), col("__h"))
}
