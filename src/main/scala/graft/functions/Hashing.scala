package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.bit_count
import org.apache.spark.sql.types.LongType

/** Deterministic hashing parameters and the SimHash Hamming distance,
  * shared by the fused MinHash/SimHash kernels ([[Md5MinHash]],
  * [[DocStats]]) and the near-dup rules.
  *
  * Scaled analogue of the reference's similarity clustering
  * (`/root/reference/src/utils.py:271-341`, `src/markov_clustering.py:7-75`):
  * the reference builds an O(U²) dense similarity matrix and clusters it —
  * unusable beyond ~10⁴ items. MinHash+LSH turns near-dup discovery into
  * a hash-partitioned `groupBy` (band buckets), which is the only shape
  * that survives 10¹² documents: candidates co-locate by bucket key, no
  * all-pairs anything.
  *
  * Seeds are fixed constants — signatures are stable across runs and
  * cluster sizes, a prerequisite for resumable dedup.
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

  /** Hamming distance between two simhashes (for near-dup thresholding). */
  def hammingDist(a: Column, b: Column): Column = {
    val x = a.bitwiseXOR(b)
    bit_count(x).cast(LongType)
  }
}
