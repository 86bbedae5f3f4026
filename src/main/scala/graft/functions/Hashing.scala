package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deterministic hashing kernels: MinHash signatures, SimHash, LSH bands.
  *
  * Scaled analogue of the reference's similarity clustering
  * (`/root/reference/src/utils.py:271-341`, `src/markov_clustering.py:7-75`):
  * the reference builds an O(U²) dense similarity matrix and clusters it —
  * unusable beyond ~10⁴ items. MinHash+LSH turns near-dup discovery into
  * a hash-partitioned `groupBy` (band buckets), which is the only shape
  * that survives 10¹² documents: candidates co-locate by bucket key, no
  * all-pairs anything.
  *
  * All hashes are pure Column expressions (codegen'd, shuffle-free until
  * the band groupBy). Seeds are fixed constants — signatures are stable
  * across runs and cluster sizes, a prerequisite for resumable dedup.
  */
object Hashing {

  /** 2^31-1, Mersenne prime — universal-hash modulus. Keeps `a*h+b` well
    * inside Long range (a,h < 2^31 ⇒ product < 2^62).
    */
  val P: Long = 2147483647L

  /** Deterministic (a, b) parameter pairs for the universal hash family
    * h_i(x) = (a_i*x + b_i) mod P. Derived from a fixed LCG so the family
    * is reproducible in plain SQL and in docs.
    */
  def hashParams(k: Int): Seq[(Long, Long)] = {
    var s = 88172645463325252L
    def next(): Long = { // xorshift64 — fixed seed, no RNG dependency
      s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s
    }
    (0 until k).map { _ =>
      val a = Math.floorMod(next(), P - 1) + 1 // a ∈ [1, P-1]
      val b = Math.floorMod(next(), P)
      (a, b)
    }
  }

  /** hashParams as a primitive array [k][2] for tight-loop consumers. */
  def hashParamsArray(k: Int): Array[Array[Long]] =
    hashParams(k).map { case (a, b) => Array(a, b) }.toArray

  /** Base hash of each array element into [0, P), md5-portable (used by
    * the SQL-oracle-checked queries — md5 is the only hash DuckDB and the
    * JVM agree on).
    */
  def baseHashes(items: Column): Column =
    transform(items, s => pmod(TextFns.md5Long(s), lit(P)))

  /** MinHash signature (k longs) over an array of string features
    * (shingles or tokens). Empty input ⇒ array of nulls. md5-portable.
    */
  def minHashSig(items: Column, k: Int): Column = {
    val base = baseHashes(items)
    array(hashParams(k).map { case (a, b) =>
      array_min(transform(base, h => pmod(lit(a) * h + lit(b), lit(P))))
    }: _*)
  }

  /** LSH band keys: signature split into `bands` rows of `rowsPerBand`,
    * each band hashed to one long key. Docs sharing ANY band key are
    * near-dup candidates — join on (band_idx, band_key).
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val slice_ = slice(sig, b * rowsPerBand + 1, rowsPerBand)
      struct(
        lit(b).as("band"),
        aggregate(slice_, lit(0L),
          (acc, h) => pmod(acc * lit(31L) + coalesce(h, lit(0L)), lit(P))).as("key")
      )
    }: _*)

  /** SimHash over an array of string tokens, `bits` wide (≤ 60 to stay in
    * the portable md5Long range). bit b of the result is 1 iff the sum of
    * votes (+1 if token-hash bit b set, −1 otherwise) is ≥ 0.
    */
  def simHash(tokens: Column, bits: Int): Column = {
    val hs = transform(tokens, t => TextFns.md5Long(t))
    val n = size(hs)
    val sum = (0 until bits).map { b =>
      val ones = aggregate(hs, lit(0L),
        (acc, h) => acc + shiftright(h, b).bitwiseAND(lit(1L)))
      // votes = ones - (n - ones) >= 0  ⇔  2*ones >= n
      when(lit(2L) * ones >= n.cast(LongType), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    when(n > 0, sum).otherwise(lit(0L)) // empty input ⇒ 0, not all-ones
  }

  /** Hamming distance between two simhashes (for near-dup thresholding). */
  def hammingDist(a: Column, b: Column): Column = {
    val x = a.bitwiseXOR(b)
    bit_count(x).cast(LongType)
  }
}
