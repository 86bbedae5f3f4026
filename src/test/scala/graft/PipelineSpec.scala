package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Scrub
import graft.pipeline.QualityPipeline
import graft.sources.PagesGen

class PipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val N = 3000L
  private lazy val pages = PagesGen.generate(spark, N, 8).toDF().cache()
  private lazy val result = QualityPipeline.run(pages)
  private lazy val dropped: Set[String] = result.verdicts
    .select("url").distinct().collect().map(_.getString(0)).toSet
  private lazy val keptUrls: Set[String] = result.kept
    .select("url").collect().map(_.getString(0)).toSet

  private def idOf(url: String): Long = url.split("/p/")(1).toLong

  /** Golden drop-set (FIXTURES.md §2), modeling the engine's documented
    * dedup semantics (SURVEY §2.3/§7.4): duplicate/near-duplicate docs
    * form CLUSTERS (exact-text groups ∪ near-dup edges to their anchors,
    * transitively) and only the MIN url of each cluster survives — so a
    * planted copy can legitimately be the survivor and displace its
    * clean anchor. All other planted drop-classes drop unconditionally.
    */
  private lazy val goldenDrop: Set[String] = {
    val rows = pages.select("url", "text").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val urlOfId = rows.map { case (u, _) => idOf(u) -> u }.toMap
    val clsOf = rows.map { case (u, _) => u -> PagesGen.errorClass(idOf(u)) }.toMap

    // union-find over dup clusters
    val parent = scala.collection.mutable.HashMap[String, String]()
    def find(u: String): String = {
      val p = parent.getOrElse(u, u)
      if (p == u) u else { val r = find(p); parent(u) = r; r }
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    // exact-text groups
    rows.groupBy(_._2).values.filter(_.length > 1)
      .foreach(g => g.map(_._1).reduceLeft { (a, b) => union(a, b); b })
    // near-dup edges to anchors
    rows.foreach { case (u, _) =>
      if (clsOf(u) == "near_dup") {
        val id = idOf(u)
        val baseId = PagesGen.cleanBaseAtOrAbove(id - math.floorMod(id, 97L) + 2)
        urlOfId.get(baseId).foreach(bu => union(u, bu))
      }
    }
    val clusters = rows.map(_._1).groupBy(find).values.filter(_.length > 1)
    val dedupDropped = clusters.flatMap(c => c.sorted.drop(1)).toSet

    rows.collect { case (u, _)
      if PagesGen.shouldDrop(clsOf(u)) &&
        clsOf(u) != "near_dup" && clsOf(u) != "duplication" => u }.toSet ++
      dedupDropped
  }

  test("keep/drop F1 >= 0.99 vs planted golden labels") {
    val all = pages.select("url").collect().map(_.getString(0)).toSet
    var tp = 0L; var fp = 0L; var fn = 0L; var tn = 0L
    val fpU = scala.collection.mutable.ArrayBuffer[String]()
    val fnU = scala.collection.mutable.ArrayBuffer[String]()
    all.foreach { u =>
      (goldenDrop.contains(u), dropped.contains(u)) match {
        case (true, true) => tp += 1
        case (false, true) => fp += 1; if (fpU.size < 10) fpU += u
        case (true, false) => fn += 1; if (fnU.size < 10) fnU += u
        case (false, false) => tn += 1
      }
    }
    val precision = tp.toDouble / math.max(1, tp + fp)
    val recall = tp.toDouble / math.max(1, tp + fn)
    val f1 = 2 * precision * recall / math.max(1e-12, precision + recall)
    info(f"drop-F1=$f1%.4f precision=$precision%.4f recall=$recall%.4f " +
      s"(tp=$tp fp=$fp fn=$fn tn=$tn)")
    if (fp > 0) info(s"sample false-drops: ${fpU.take(10).mkString(", ")}")
    if (fn > 0) info(s"sample missed-drops: ${fnU.take(10).mkString(", ")}")
    assert(f1 >= 0.99, f"F1 $f1%.4f below 0.99 (fp=$fp fn=$fn)")
  }

  test("kept ∪ dropped covers all pages; kept ∩ dropped = ∅") {
    val all = pages.select("url").collect().map(_.getString(0)).toSet
    assert((keptUrls intersect dropped).isEmpty)
    assert((keptUrls union dropped) == all)
  }

  test("PII and toxic docs are kept but scrubbed (byte-identical to golden)") {
    val piiRows = result.kept
      .select("url", "scrubbed_text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter { case (u, _) => PagesGen.errorClass(idOf(u)) == "pii" }
    assert(piiRows.nonEmpty, "no pii docs survived — scrub path untested")
    piiRows.foreach { case (url, scrubbed) =>
      assert(!scrubbed.contains("@example.com"), url)
      assert(scrubbed.contains("<EMAIL>"), url)
      assert(scrubbed.contains("<SSN>"), url)
      assert(scrubbed.contains("<IP>"), url)
      // golden: plain-JVM regex chain over the original text
      val orig = PagesGen.genRow(idOf(url)).text
      val golden = graft.functions.Scrub.Patterns.foldLeft(orig) {
        case (acc, (p, r)) => acc.replaceAll(p, r) }
      assert(scrubbed == golden, s"scrub not byte-identical for $url")
    }
    val toxRows = result.kept.select("url", "scrubbed_text").collect()
      .map(r => (r.getString(0), r.getString(1)))
      .filter { case (u, _) => PagesGen.errorClass(idOf(u)) == "toxic" }
    assert(toxRows.nonEmpty)
    toxRows.foreach { case (url, s) => assert(s.contains("<TOX>"), url) }
  }

  test("verdicts are deterministic under different input partitioning") {
    val r2 = QualityPipeline.run(pages.repartition(7))
    val d2 = r2.verdicts.select("url", "rule").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val d1 = result.verdicts.select("url", "rule").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(d1 == d2, "verdicts differ under repartitioning")
  }

  test("metrics rollup includes per-rule counts and grand total") {
    val m = result.metrics.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = m("__total__")
    assert(total == m.filter(_._1 != "__total__").values.sum)
    assert(m.contains("empty"))
  }

  test("connectedMin + driver union-find: transitive chains collapse to one component") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
      .toDF("uid1", "uid2")
    val dist = QualityPipeline.connectedMin(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(dist == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L))
    // the driver path must produce identical components
    val drv = ComposedRefs.connectedMinDriver(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(drv == dist)
  }

  test("near-dup transitivity: A~B~C chain where A~C cannot verify directly " +
    "still keeps exactly one survivor") {
    import spark.implicits._
    // deterministic 200-DISTINCT-word base (distinct so the shingle set is
    // maximal — a periodic text hides mutations because the original
    // shingles survive elsewhere); B mutates a 9-word block at the front,
    // C mutates B with a second 9-word block at the back — so
    // jaccard(A,B) ≈ jaccard(B,C) ≈ 0.88 (verifiable at 0.8) while
    // jaccard(A,C) carries BOTH mutation blocks and lands below the
    // verify bar: the A–C edge can only come from transitivity
    val base = (0 until 200).map(i => s"w$i")
    def mutate(ws: Seq[String], at: Int, tag: String): Seq[String] =
      (0 until 9).foldLeft(ws)((acc, j) => acc.updated(at + j, s"mut$tag$j"))
    val a = base
    val b = mutate(base, 40, "b")
    val c = mutate(b, 150, "c")
    // k=128 signature in this test: the default k=32 estimator's σ≈0.07
    // cannot reliably separate j(edge)=0.875 from j(A,C)=0.766 around the
    // 0.8 threshold; k=128 (σ≈0.037) can
    val cfg = QualityPipeline.defaultConfig.copy(
      minHashK = 128, bands = 16, rowsPerBand = 8)
    // precondition (asserted): the pairwise signature-estimated jaccards
    // straddle the verify threshold exactly as designed
    def est(x: Seq[String], y: Seq[String]): Double = {
      val sx = graft.functions.DocStats.compute(x.mkString(" "), cfg.minHashK).minhash
      val sy = graft.functions.DocStats.compute(y.mkString(" "), cfg.minHashK).minhash
      sx.zip(sy).count(p => p._1 == p._2).toDouble / cfg.minHashK
    }
    val (eab, ebc, eac) = (est(a, b), est(b, c), est(a, c))
    info(f"estimated jaccards: A~B=$eab%.3f B~C=$ebc%.3f A~C=$eac%.3f")
    assert(eab >= 0.8 && ebc >= 0.8, "fixture drifted: chain edges must verify")
    assert(eac < 0.8, "fixture drifted: A~C must NOT verify directly")
    val ts = new java.sql.Timestamp(1704067200000L)
    val chainPages = Seq(
      ("https://chain/p/1", ts, Array.empty[Byte], a.mkString(" "), "en"),
      ("https://chain/p/2", ts, Array.empty[Byte], b.mkString(" "), "en"),
      ("https://chain/p/3", ts, Array.empty[Byte], c.mkString(" "), "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    val feat = QualityPipeline.features(chainPages, cfg)
    val v = QualityPipeline.nearDupVerdicts(feat, cfg)
      .collect().map(r => r.getAs[String]("url") -> r.getAs[String]("detail")).toMap
    assert(v == Map("https://chain/p/2" -> "https://chain/p/1",
      "https://chain/p/3" -> "https://chain/p/1"),
      s"expected B and C dropped in favour of A, got $v")
  }

  test("near-dup crossover: driver and distributed verify paths agree, and " +
    "BOTH bounds (edges, members) can force the distributed path") {
    import spark.implicits._
    // 4 planted exact-near-dup pairs (8 members) + noise docs
    val ts = new java.sql.Timestamp(1704067200000L)
    val base = (0 until 40).map(i => s"word$i").mkString(" ")
    val rows = (0 until 4).flatMap { g =>
      val t = s"$base group$g " + (0 until 30).map(i => s"g${g}w$i").mkString(" ")
      Seq((s"https://x/p/${g}a", ts, Array.empty[Byte], t, "en"),
          (s"https://x/p/${g}b", ts, Array.empty[Byte], t + " tail", "en"))
    } ++ (0 until 10).map(i =>
      (s"https://x/n/$i", ts, Array.empty[Byte],
        (0 until 50).map(j => s"n${i}x$j").mkString(" "), "en"))
    val df = rows.toDF("url", "warc_ts", "html", "text", "lang")
    val cfg = QualityPipeline.defaultConfig
    val feat = QualityPipeline.features(df, cfg)
    def verdictsWith(maxEdges: Long = QualityPipeline.MaxDriverEdges,
                     maxMembers: Long = QualityPipeline.MaxDriverMembers)
        : Set[(String, String)] =
      QualityPipeline.nearDupResolve(QualityPipeline.nearDupCandidates(feat, cfg), cfg,
          maxEdges, maxMembers).collect()
        .map(r => (r.getAs[String]("url"), r.getAs[String]("detail"))).toSet
    val driver = verdictsWith() // small pair set → driver path
    val distByEdges = verdictsWith(maxEdges = 0L)
    val distByMembers = verdictsWith(maxMembers = 1L)
    assert(driver.nonEmpty, "fixture drifted: no near-dup pairs planted")
    assert(distByEdges == driver, "edge-bound distributed path diverged")
    assert(distByMembers == driver, "member-bound distributed path diverged")
  }

  test("simHashNearDupBits toggle: wide rule catches a multiset-preserving rewrite the MinHash path misses") {
    // the plant: REVERSE a clean page's token sequence — the token
    // MULTISET is unchanged (frequency-weighted simhash => Hamming 0) but
    // the normalized text differs (no exact-dup fingerprint match) and
    // every ordered 5-token shingle changes (MinHash Jaccard ~ 0), so
    // only the SimHash second opinion can catch it
    // the shared 3000-page fixture: large enough that the anchor's
    // (lang, tld) combo is dense — a small ad-hoc corpus trips the
    // rare-combo rule on the plant itself
    val base = pages
    val cleanUrl = base.select("url").collect().map(_.getString(0))
      .filter(u => PagesGen.errorClass(idOf(u)) == "clean").min
    val cleanText = base.filter(col("url") === cleanUrl)
      .select("text").head().getString(0)
    val toks = cleanText.trim.split("\\s+")
    val rotated = toks.reverse.mkString(" ")
    val copyUrl = cleanUrl + "x" // larger than the anchor ⇒ the dropped side
    val copy = base.filter(col("url") === cleanUrl)
      .withColumn("url", lit(copyUrl)).withColumn("text", lit(rotated))
    val pages2 = base.unionByName(copy)

    // toggle OFF (default): no simhash rule exists, the rewrite survives
    val off = QualityPipeline.run(pages2)
    val offRules = off.verdicts.filter(col("url") === copyUrl)
      .select("rule").collect().map(_.getString(0)).toSet
    val offKept = off.kept.filter(col("url") === copyUrl).count()
    off.unpersist()
    assert(offRules.isEmpty && offKept == 1L,
      s"rewrite unexpectedly flagged with toggle off: $offRules")

    // toggle ON (128): the wide rule's verdicts merge into pass 1 and the
    // rewrite drops, keeping the min-url anchor
    val on = QualityPipeline.run(pages2,
      QualityPipeline.defaultConfig.copy(simHashNearDupBits = Some(128)))
    val onRows = on.verdicts.filter(col("url") === copyUrl)
      .select("rule", "detail").collect()
    val onKeptCopy = on.kept.filter(col("url") === copyUrl).count()
    val onKeptAnchor = on.kept.filter(col("url") === cleanUrl).count()
    on.unpersist()
    assert(onRows.map(_.getString(0)).contains("near_dup_simhash_wide"),
      s"wide rule missing: ${onRows.toSeq}")
    assert(onRows.filter(_.getString(0) == "near_dup_simhash_wide")
      .forall(_.getString(1) == cleanUrl), s"wrong keeper: ${onRows.toSeq}")
    assert(onKeptCopy == 0L && onKeptAnchor == 1L)

    // the 60-bit regime catches the same plant with its own rule name
    val on60 = QualityPipeline.run(pages2,
      QualityPipeline.defaultConfig.copy(simHashNearDupBits = Some(60)))
    val rules60 = on60.verdicts.filter(col("url") === copyUrl)
      .select("rule").collect().map(_.getString(0)).toSet
    on60.unpersist()
    assert(rules60.contains("near_dup_simhash"), s"60-bit rule missing: $rules60")
  }

  test("gopherRepetition toggle: planted repetitive doc trips the Table A1 rules; off by default") {
    // plant: a standalone doc (copied row metadata, fresh text — NOT a
    // textual near-copy of anything, so the MinHash path stays silent)
    // whose text is a short unique preamble + a 2-word phrase repeated
    // 120× — top-2gram and masked dup-5/10-gram fractions all blow
    // through the published thresholds
    val base = pages
    val cleanUrl = base.select("url").collect().map(_.getString(0))
      .filter(u => PagesGen.errorClass(idOf(u)) == "clean").min
    val plantUrl = cleanUrl + "rep"
    val preamble = (1 to 35).map(i => "unique" + i).mkString(" ")
    val plantText = preamble + (" the data" * 120)
    val plant = base.filter(col("url") === cleanUrl)
      .withColumn("url", lit(plantUrl)).withColumn("text", lit(plantText))
    val pages2 = base.unionByName(plant)

    // toggle OFF (default): no rep_* columns, no gopher_* rules anywhere
    val featOff = QualityPipeline.features(pages2)
    assert(!featOff.columns.exists(_.startsWith("rep_")))
    val offRules = QualityPipeline.heuristicVerdicts(featOff, QualityPipeline.defaultConfig)
      .select("rule").distinct().collect().map(_.getString(0)).toSet
    assert(!offRules.exists(_.startsWith("gopher_")), s"unexpected: $offRules")

    // toggle ON: the battery fires on the plant with the published rules
    val cfgOn = QualityPipeline.defaultConfig.copy(gopherRepetition = true)
    val featOn = QualityPipeline.features(pages2, cfgOn)
    val plantRules = QualityPipeline.heuristicVerdicts(featOn, cfgOn)
      .filter(col("url") === plantUrl)
      .select("rule").collect().map(_.getString(0)).toSet
    assert(plantRules.contains("gopher_top_2gram") &&
      plantRules.contains("gopher_dup_5gram") &&
      plantRules.contains("gopher_dup_10gram"), s"got: $plantRules")

    // end-to-end: the plant drops under the toggle, and the battery does
    // not disturb the golden keep/drop — on the standard corpus it fires
    // ONLY on pages other rules already drop (repeated_lines /
    // symbol_junk / empty plants; clean pages measure top-2gram ≤ ~0.06,
    // far below the 0.20 threshold), so the kept set equals the golden
    // kept set exactly
    val on = QualityPipeline.run(pages2, cfgOn)
    val keptUrls = on.kept.select("url").collect().map(_.getString(0)).toSet
    val gopherOnClean = on.verdicts
      .filter(col("rule").startsWith("gopher_")).select("url").collect()
      .map(_.getString(0)).filter(u => u != plantUrl &&
        PagesGen.errorClass(idOf(u)) == "clean")
    on.unpersist()
    val allUrls = base.select("url").collect().map(_.getString(0)).toSet
    assert(!keptUrls.contains(plantUrl))
    assert(gopherOnClean.isEmpty,
      s"battery fired on clean pages: ${gopherOnClean.take(5).toSeq}")
    assert(keptUrls == (allUrls -- goldenDrop),
      s"golden keep set disturbed: extra=${(keptUrls -- (allUrls -- goldenDrop)).take(3)}, missing=${((allUrls -- goldenDrop) -- keptUrls).take(3)}")
  }

  test("fused scrub and chain scrub produce identical kept output") {
    // the pipeline scrubs kept text with the fused ScrubText kernel; the
    // reference is the Scrub.scrubCol regexp chain over the same urls'
    // source text
    val fused = result.kept.select("url", "scrubbed_text").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    val chain = pages.join(result.kept.select("url"), Seq("url"))
      .select(col("url"), Scrub.scrubCol(col("text"))).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(fused.nonEmpty)
    assert(fused == chain)
  }
}
