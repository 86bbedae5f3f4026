package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Hashing
import graft.pipeline.QualityPipeline
import graft.rules.Rules
import graft.sources.PagesGen

/** The 60-bit SimHash Hamming rule as a second opinion next to MinHash:
  * pigeonhole banding is exact for Hamming ≤ maxHamming, and a planted
  * near-dup (single-token mutation of a 120–300-token doc) moves only the
  * simhash bits whose token-vote margin was ≤ 2 — almost always ≤ 3 bits.
  */
class SimHashRuleSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val N = 3000L
  private lazy val pages = PagesGen.generate(spark, N, 8).toDF().cache()
  private lazy val feat = QualityPipeline.features(pages).cache()

  private def idOf(url: String): Long = url.split("/p/")(1).toLong

  test("identical docs share a simhash; planted near-dups sit within Hamming 3") {
    val rows = feat.select("url", "simhash").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val urlOfId = rows.keys.map(u => idOf(u) -> u).toMap
    val planted = rows.keys.filter(u => PagesGen.errorClass(idOf(u)) == "near_dup")
    assert(planted.nonEmpty)
    var within = 0
    var total = 0
    planted.foreach { u =>
      val id = idOf(u)
      val baseId = PagesGen.cleanBaseAtOrAbove(id - math.floorMod(id, 97L) + 2)
      urlOfId.get(baseId).foreach { bu =>
        total += 1
        val d = java.lang.Long.bitCount(rows(u) ^ rows(bu))
        if (d <= 3) within += 1
      }
    }
    info(s"planted near-dup pairs within Hamming 3: $within/$total")
    assert(total > 0)
    assert(within.toDouble / total >= 0.9,
      s"only $within/$total planted pairs within Hamming 3")
  }

  test("simHashNearDup recall on planted near-dup pairs is comparable to MinHash") {
    val sim = Rules.simHashNearDup(feat, col("url"), col("simhash"))
      .collect().map(_.getString(0)).toSet
    val mh = QualityPipeline.nearDupVerdicts(feat, QualityPipeline.defaultConfig)
      .collect().map(r => r.getAs[String]("url")).toSet
    val urls = feat.select("url").collect().map(_.getString(0))
    val urlOfId = urls.map(u => idOf(u) -> u).toMap
    def pairCaught(flagged: Set[String]): (Int, Int) = {
      var caught = 0; var total = 0
      urls.filter(u => PagesGen.errorClass(idOf(u)) == "near_dup").foreach { u =>
        val id = idOf(u)
        val baseId = PagesGen.cleanBaseAtOrAbove(id - math.floorMod(id, 97L) + 2)
        if (urlOfId.contains(baseId)) {
          total += 1
          // the pair is detected iff one of its two members was dropped
          if (flagged(u) || flagged(urlOfId(baseId))) caught += 1
        }
      }
      (caught, total)
    }
    val (simCaught, total) = pairCaught(sim)
    val (mhCaught, _) = pairCaught(mh)
    info(s"planted-pair recall: simhash=$simCaught/$total minhash=$mhCaught/$total")
    assert(simCaught.toDouble / total >= 0.9,
      s"simhash rule caught only $simCaught/$total planted near-dup pairs")
    // second-opinion contract: within 10% of the MinHash path on plants
    assert(simCaught >= mhCaught - (total / 10),
      s"simhash ($simCaught) lags minhash ($mhCaught) by more than 10%")
  }

  test("hot-bucket hub regime: maxBucket=1 forces hub pairing everywhere; precision holds, no detonation") {
    // the df-cap contract: when a chunk bucket exceeds maxBucket the rule
    // degrades to O(|bucket|) hub pairs (recall on that bucket is best
    // effort — documented), but it must NEVER emit a pair beyond
    // maxHamming nor do quadratic work. Forcing maxBucket=1 exercises the
    // hub path on every bucket.
    val hubOnly = Rules.simHashNearDup(feat, col("url"), col("simhash"),
      maxHamming = 3, maxBucket = 1)
    val all = Rules.simHashNearDup(feat, col("url"), col("simhash"),
      maxHamming = 3)
    val shOf = feat.select("url", "simhash").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val hubRows = hubOnly.collect()
    hubRows.foreach { r =>
      val d = java.lang.Long.bitCount(shOf(r.getString(0)) ^ shOf(r.getString(4)))
      assert(d <= 3, s"hub regime flagged ${r.getString(0)} at Hamming $d")
    }
    // hub verdicts are a SUBSET of the all-pairs regime's flagged urls
    val allSet = all.collect().map(_.getString(0)).toSet
    val hubSet = hubRows.map(_.getString(0)).toSet
    assert(hubSet.subsetOf(allSet),
      s"hub regime flagged urls the exact regime did not: ${(hubSet -- allSet).take(3)}")
  }

  // --- wide (128-bit) fingerprint: the 10⁹⁺-doc production regime ---

  private lazy val featWide = pages
    .withColumn("__ds", graft.functions.DocStats.docStats(
      coalesce(col("text"), lit("")), 0, wideSimHash = true))
    .select(col("url"),
      col("__ds.simhash_hi").as("sh_hi"), col("__ds.simhash_lo").as("sh_lo"))
    .cache()

  test("wide fingerprint: identical docs agree; planted near-dups within Hamming 6 of 128") {
    val rows = featWide.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val urlOfId = rows.keys.map(u => idOf(u) -> u).toMap
    val planted = rows.keys.filter(u => PagesGen.errorClass(idOf(u)) == "near_dup")
    var within = 0; var total = 0
    planted.foreach { u =>
      val id = idOf(u)
      val baseId = PagesGen.cleanBaseAtOrAbove(id - math.floorMod(id, 97L) + 2)
      urlOfId.get(baseId).foreach { bu =>
        total += 1
        val (h1, l1) = rows(u); val (h2, l2) = rows(bu)
        val d = java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
        if (d <= 6) within += 1
      }
    }
    info(s"planted near-dup pairs within Hamming 6/128: $within/$total")
    assert(total > 0)
    // a single-token edit flips a bit count proportional to fingerprint
    // width — 6/128 is the same dissimilarity level as 3/60
    assert(within.toDouble / total >= 0.9,
      s"only $within/$total planted pairs within Hamming 6 at 128 bits")
  }

  test("simHashNearDupWide recall >= the 60-bit rule on planted pairs; precision holds") {
    val wide = Rules.simHashNearDupWide(featWide, col("url"),
      col("sh_hi"), col("sh_lo")).collect()
    val narrow = Rules.simHashNearDup(feat, col("url"), col("simhash"))
      .collect().map(_.getString(0)).toSet
    val wideSet = wide.map(_.getString(0)).toSet
    val urls = feat.select("url").collect().map(_.getString(0))
    val urlOfId = urls.map(u => idOf(u) -> u).toMap
    def pairCaught(flagged: Set[String]): (Int, Int) = {
      var caught = 0; var total = 0
      urls.filter(u => PagesGen.errorClass(idOf(u)) == "near_dup").foreach { u =>
        val id = idOf(u)
        val baseId = PagesGen.cleanBaseAtOrAbove(id - math.floorMod(id, 97L) + 2)
        if (urlOfId.contains(baseId)) {
          total += 1
          if (flagged(u) || flagged(urlOfId(baseId))) caught += 1
        }
      }
      (caught, total)
    }
    val (wCaught, total) = pairCaught(wideSet)
    val (nCaught, _) = pairCaught(narrow)
    info(s"planted-pair recall: wide(128)=$wCaught/$total narrow(60)=$nCaught/$total")
    assert(wCaught >= nCaught,
      s"wide rule ($wCaught) must not lag the 60-bit rule ($nCaught) on plants")
    // precision of verify: nothing beyond maxHamming on the wide fingerprint
    val shOf = featWide.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    wide.foreach { r =>
      val (h1, l1) = shOf(r.getString(0)); val (h2, l2) = shOf(r.getString(4))
      val d = java.lang.Long.bitCount(h1 ^ h2) + java.lang.Long.bitCount(l1 ^ l2)
      assert(d <= 6, s"${r.getString(0)} flagged at wide Hamming $d")
      assert(r.getDouble(3) <= d.toDouble)
    }
  }

  test("wide kernel flag: off => zero hi/lo at zero cost; on => deterministic, distinct docs differ") {
    val a = graft.functions.DocStats.compute("the quick brown fox jumps over the lazy dog", 0)
    assert(a.simhashHi == 0L && a.simhashLo == 0L)
    val b1 = graft.functions.DocStats.compute("the quick brown fox jumps over the lazy dog", 0, wide = true)
    val b2 = graft.functions.DocStats.compute("the quick brown fox jumps over the lazy dog", 0, wide = true)
    assert(b1.simhashHi == b2.simhashHi && b1.simhashLo == b2.simhashLo)
    assert(b1.simhashHi != 0L || b1.simhashLo != 0L)
    val c = graft.functions.DocStats.compute("completely different content about ships and harbors", 0, wide = true)
    assert((b1.simhashHi, b1.simhashLo) != (c.simhashHi, c.simhashLo))
    val e = graft.functions.DocStats.compute("", 0, wide = true)
    assert(e.simhashHi == 0L && e.simhashLo == 0L)
  }

  test("pigeonhole banding emits no pair beyond maxHamming (precision of verify)") {
    val verdicts = Rules.simHashNearDup(feat, col("url"), col("simhash"),
      maxHamming = 3)
    val shOf = feat.select("url", "simhash").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    verdicts.collect().foreach { r =>
      val d = java.lang.Long.bitCount(shOf(r.getString(0)) ^ shOf(r.getString(4)))
      assert(d <= 3, s"${r.getString(0)} flagged at Hamming $d")
      // score = min distance over the url's verified partners ≤ the
      // distance to the reported (min-url) survivor
      assert(r.getDouble(3) <= d.toDouble)
    }
  }

  // --- the bucket walk against the composed join chain ---

  private def verdictRows(df: DataFrame) =
    df.collect().map(r => (r.get(0), r.getString(1), r.getBoolean(2),
      java.lang.Double.doubleToLongBits(r.getDouble(3)), r.getString(4)))
      .sortBy(_.toString).toSeq

  private def walkEqualsComposed(ex: DataFrame,
                                 dist: (Column, Column) => Column,
                                 maxHamming: Int, maxBucket: Int) = {
    val walk = verdictRows(Rules.nearDupCore(ex, dist, maxHamming, maxBucket, "r"))
    val ref = verdictRows(ComposedRefs.nearDupCoreComposed(ex, dist, maxHamming,
      maxBucket, "r"))
    assert(walk == ref, s"maxBucket=$maxBucket: walk ${walk.diff(ref).take(3)} " +
      s"vs composed ${ref.diff(walk).take(3)}")
    walk
  }

  test("bucket walk == composed join chain on the features (60 and 128 bits)") {
    val narrow = Rules.simHashBands(feat, col("url"), col("simhash"), 3, 60)
    val wide = Rules.wideBands(featWide, col("url"), col("sh_hi"), col("sh_lo"))
    for {
      (ex, dist, h) <- Seq((narrow, Hashing.hammingDist _, 3), (wide, Rules.wideDist, 6))
      maxBucket <- Seq(1, 2, 256)
    } assert(walkEqualsComposed(ex, dist, h, maxBucket).nonEmpty)
  }

  test("bucket walk == composed join chain on crafted buckets (nulls, repeats, bounds, hub tie)") {
    import spark.implicits._
    // (doc_id, simhash, bucket) rows, the query surface's Long-key shape
    val ex = Seq[(Option[Long], Option[Long], Option[Long])](
      (Some(1), Some(0x0), Some(10)), (Some(2), Some(0x1), Some(10)),
      (Some(3), Some(0x7), Some(10)),                    // exactly maxBucket rows
      (Some(5), Some(0xF0), Some(20)), (Some(5), Some(0x0F), Some(20)),
      (Some(6), Some(0x0E), Some(20)),                   // hub tie on url 5: the
      (Some(7), Some(0xF1), Some(20)),                   // hub is (5, 0x0F)
      (Some(8), Some(0x3), Some(30)), (Some(8), Some(0x3), Some(30)),
      (Some(9), Some(0x2), Some(30)),                    // one key twice, same sig
      (Some(11), Some(0x100), Some(40)), (Some(11), Some(0x0), Some(40)),
      (Some(12), Some(0x1), Some(40)),                   // one key twice, two sigs
      (None, Some(0x0), Some(50)), (Some(13), Some(0x0), Some(50)),
      (Some(14), Some(0x1), Some(50)),                   // null key, small bucket
      (None, Some(0x5), Some(60)), (Some(15), Some(0x5), Some(60)),
      (Some(16), Some(0x5), Some(60)), (Some(17), Some(0x4), Some(60)), // null hub
      (Some(18), Some(0x0), None), (Some(19), Some(0x0), None),
      (Some(20), None, None),                            // null buckets
      (Some(21), None, Some(70)), (Some(22), Some(0x0), Some(70)),
      (Some(23), Some(0x0), Some(80)),                   // one-row bucket
      (Some(24), Some(0x0), Some(90)), (Some(25), Some(0x1), Some(90)),
      (Some(26), Some(0x3), Some(90)), (Some(27), Some(0xFF), Some(90)),
      (Some(28), Some(0x7), Some(90)), (Some(29), Some(0x0), Some(90))  // streamed hub
    ).toDF("__url", "__sh", "bucket")
    val got = walkEqualsComposed(ex, Hashing.hammingDist, 3, maxBucket = 3)
    def v(drop: Long, keep: Long, d: Int) =
      (drop, "r", false, java.lang.Double.doubleToLongBits(d.toDouble), keep.toString)
    assert(got.toSet == Set[Any](
      v(2, 1, 1), v(3, 1, 2), v(6, 5, 1), v(9, 8, 1), v(12, 11, 1), v(14, 13, 1),
      v(25, 24, 1), v(26, 24, 2), v(28, 24, 3), v(29, 24, 0)))
    Seq(1, 2, 4, 256).foreach(m => walkEqualsComposed(ex, Hashing.hammingDist, 3, m))
  }
}
