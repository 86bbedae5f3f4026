package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.{Decontam, Paragraphs, QualityModel, TextFns}
import graft.pipeline.QualityPipeline
import graft.rules.Rules

/** The text battery's per-document kernels against their composed
  * shuffle chains (the overflow regime): each kernel-regime rule must
  * emit exactly the composed rule's verdict rows, on hostile input and on
  * generated pages, and forcing the set bound to 0 — or repeating a key —
  * must select the composed chain. The decontamination kernel has no
  * such chain; it is diffed against the broadcast-join reference.
  */
class TextBatterySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private type Row5 = (String, String, Boolean, Double, String)

  private def rows(df: DataFrame): Set[Row5] =
    df.select("url", "rule", "keep", "score", "detail").collect()
      .map(r => (r.getString(0), r.getString(1), r.getBoolean(2),
        r.getDouble(3), r.getString(4)))
      .toSet

  /** Separator runs, leading/trailing separators, whitespace-only and
    * null/empty docs, non-BMP code points, within-doc repeats, short docs,
    * and paragraphs/spans shared by exactly two and exactly three docs.
    */
  private val hostile: DataFrame = Seq(
    ("null", null.asInstanceOf[String]),
    ("empty", ""),
    ("spaces", "   \t  "),
    ("sep3", "\n\n\n"),
    ("sep5", "\n\n\n\n\n"),
    ("lead", "\n\nshared footer para\n\nalpha beta gamma delta"),
    ("trail", "gamma delta epsilon zeta\n\nshared footer para\n\n"),
    ("odd", "\n\n\nshared footer para\n\n\n"),
    ("rep", "repeat me once\n\nrepeat me once\n\nrepeat me once\n\nunique tail words"),
    ("rep2", "repeat me once\n\nanother unique tail"),
    ("clef1", "𝄞𝄞 Clef Über straße\n\nshared footer para\n\nnon bmp 𝄞 tail words here"),
    ("clef2", "𝄞𝄞 clef über STRASSE\n\n𝄞𝄞 Clef Über straße\n\nx"),
    ("three1", "the three way span rides here now\n\nalpha one"),
    ("three2", "prefix words then the three way span rides here now and more"),
    ("three3", "the three way span rides here now"),
    ("selfgram", "loop loop loop loop loop loop loop loop"),
    ("short", "two words"),
    ("one", "single"),
    ("tabs", "tab\tseparated\ttokens\r\nand\u000Bvertical\fform feed")
  ).toDF("url", "text")

  private def url = col("url")
  private def text = col("text")

  private def paraStats(df: DataFrame) = df.collect().map(r =>
    (r.getAs[Any]("__k"), r.getAs[Long]("n_paras"), r.getAs[Long]("para_chars"),
      r.getAs[Long]("shared_chars"), r.getAs[Long]("n_shared_paras"))).toSeq
    .sortBy(_.toString)

  test("paragraph kernel == composed boilerplate chain on hostile input (minDocs 2 and 3)") {
    for (minDocs <- Seq(2L, 3L)) {
      // the per-doc stats, occurrence count included, in both regimes
      val composed = paraStats(Paragraphs.boilerplateStatsComposed(hostile, url, text, minDocs))
      assert(paraStats(Paragraphs.boilerplateStats(hostile, url, text, minDocs)) == composed,
        s"minDocs=$minDocs")
      assert(paraStats(Paragraphs.boilerplateStats(hostile, url, text, minDocs,
        maxBroadcastGrams = 0)) == composed, s"minDocs=$minDocs bound 0")
      val n = composed.map(r => r._1 -> r._2).toMap
      // "\n\n\n" and "\n\n\n\n\n" each hold the one paragraph "\n";
      // within-doc repeats count once per occurrence
      assert(n("sep3") == 1L && n("sep5") == 1L && n("rep") == 4L && n("lead") == 2L)
      assert(!n.contains("null") && !n.contains("empty"))
    }
    for (minDocs <- Seq(2L, 3L); maxFrac <- Seq(0.0, 0.3, 0.99)) {
      val composed = rows(Rules.boilerplateComposed(hostile, url, text, minDocs, maxFrac))
      val regime = Rules.boilerplateRegime(hostile, url, text, minDocs, maxFrac)
      assert(regime.isRight, "small set must take the kernel regime")
      val kernel = rows(Rules.textBattery(hostile, url, text, Seq(regime)))
      assert(kernel == composed, s"minDocs=$minDocs maxFrac=$maxFrac")
      val forced = Rules.boilerplateRegime(hostile, url, text, minDocs, maxFrac, cap = 0)
      assert(forced.isLeft, "bound 0 must overflow the shared-paragraph set")
      assert(rows(Rules.textBattery(hostile, url, text, Seq(forced))) == composed)
      if (maxFrac == 0.0) {
        // every doc with a paragraph is judged; only null and empty docs
        // have none — "\n\n\n" splits into "" and the paragraph "\n"
        assert(composed.map(_._1) == hostile.select("url").as[String].collect().toSet --
          Set("null", "empty"), s"minDocs=$minDocs")
      }
    }
    // within-doc repeats count once toward minDocs: "repeat me once" is in
    // 2 docs, so it is shared at minDocs 2 and not at 3
    val at2 = rows(Rules.boilerplateParagraphs(hostile, url, text, 2, 0.0))
      .map(r => r._1 -> r._5).toMap
    val at3 = rows(Rules.boilerplateParagraphs(hostile, url, text, 3, 0.0))
      .map(r => r._1 -> r._5).toMap
    assert(at2("rep") == "3/shared_paras" && at3("rep") == "0/shared_paras")
    // non-BMP: "𝄞𝄞 Clef Über straße" is 19 code points (each 𝄞 is one,
    // though two UTF-16 units and four UTF-8 bytes), shared by 2 docs
    val clef2 = rows(Rules.boilerplateParagraphs(hostile, url, text, 2, 0.0))
      .find(_._1 == "clef2").get
    assert(math.abs(clef2._4 - 19.0 / (20 + 19 + 1)) < 1e-12, clef2.toString)
  }

  test("eval-hit kernel == composed contamination chain on hostile input") {
    val passages = Seq("shared footer para alpha beta", "repeat me once",
      "𝄞𝄞 CLEF über", "the three way span rides", "loop loop")
    for (n <- Seq(1, 2, 3); minHits <- Seq(0L, 1L, 2L)) {
      val ev = Decontam.evalGrams(passages.toDF("p"), col("p"), n)
      val composed = rows(ComposedRefs.contaminationComposed(hostile, url, text, ev, n, minHits))
      assert(rows(Rules.contaminationRule(hostile, url, text, ev, n, minHits)) == composed,
        s"n=$n minHits=$minHits")
      // minHits 0 judges every doc, null and empty included
      if (minHits == 0L) assert(composed.size == hostile.count())
    }
    // an eval side over the bound fails instead of changing shape
    val ev = Decontam.evalGrams(passages.toDF("p"), col("p"), 2)
    intercept[IllegalArgumentException](Decontam.evalHashes(ev, cap = 0))
  }

  private def substrStats(df: DataFrame) = df.collect().map(r =>
    (r.getAs[Any]("__k"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_windows"),
      r.getAs[Long]("dup_tokens"), Option(r.getAs[java.lang.Double]("dup_frac")))).toSeq
    .sortBy(_.toString)

  test("coverage kernel == composed chain on hostile input (L = 1, 2, 5; minDocs 2 and 3)") {
    import graft.functions.ExactSubstr
    def stats(df: DataFrame) = substrStats(df).toSet
    for (l <- Seq(1, 2, 5); minDocs <- Seq(2L, 3L)) {
      val composed = stats(ExactSubstr.substrDupStatsComposed(hostile, url, text, l, minDocs))
      val kernel = stats(ExactSubstr.substrDupStats(hostile, url, text, l, minDocs))
      assert(kernel == composed, s"L=$l minDocs=$minDocs")
      assert(stats(ExactSubstr.substrDupStats(hostile, url, text, l, minDocs,
        maxBroadcastGrams = 0)) == composed)
      for (maxFrac <- Seq(0.0, 0.5)) {
        val v = rows(Rules.exactSubstrComposed(hostile, url, text, l, minDocs, maxFrac))
        val regime = Rules.exactSubstrRegime(hostile, url, text, l, minDocs, maxFrac)
        assert(regime.isRight)
        assert(rows(Rules.textBattery(hostile, url, text, Seq(regime))) == v,
          s"L=$l minDocs=$minDocs maxFrac=$maxFrac")
        val forced = Rules.exactSubstrRegime(hostile, url, text, l, minDocs, maxFrac, cap = 0)
        assert(forced.isLeft)
        assert(rows(Rules.textBattery(hostile, url, text, Seq(forced))) == v)
      }
    }
  }

  test("a repeated key counts once toward minDocs: a page crawled twice is not shared with itself") {
    import graft.functions.ExactSubstr
    val page = "a page crawled twice keeps its own words\n\nand its own footer too"
    val extra = Seq(
      ("recrawl", page), ("recrawl", page),
      // one key, two different texts: one shares a paragraph and a span
      // with other docs, the other does not
      ("mixed", "shared footer para\n\nthe three way span rides here now"),
      ("mixed", "second copy of the mixed page body"))
    val dup = hostile.unionByName(extra.toDF("url", "text"))
    for (minDocs <- Seq(2L, 3L)) {
      // a repeated key's rows merge into one stats row, as in the chain
      val st = paraStats(Paragraphs.boilerplateStats(dup, url, text, minDocs))
      assert(st == paraStats(Paragraphs.boilerplateStatsComposed(dup, url, text, minDocs)))
      assert(st.count(_._1 == "recrawl") == 1)
    }
    for (minDocs <- Seq(2L, 3L); maxFrac <- Seq(0.0, 0.3)) {
      val b = Rules.boilerplateRegime(dup, url, text, minDocs, maxFrac)
      assert(b.isLeft, "a repeated key must select the composed chain")
      val composed = rows(Rules.boilerplateComposed(dup, url, text, minDocs, maxFrac))
      assert(rows(Rules.boilerplateParagraphs(dup, url, text, minDocs, maxFrac)) == composed)
      for (l <- Seq(1, 5)) {
        assert(Rules.exactSubstrRegime(dup, url, text, l, minDocs, maxFrac).isLeft)
        assert(rows(Rules.exactSubstrDup(dup, url, text, l, minDocs, maxFrac)) ==
          rows(Rules.exactSubstrComposed(dup, url, text, l, minDocs, maxFrac)),
          s"L=$l minDocs=$minDocs maxFrac=$maxFrac")
        assert(substrStats(ExactSubstr.substrDupStats(dup, url, text, l, minDocs)) ==
          substrStats(ExactSubstr.substrDupStatsComposed(dup, url, text, l, minDocs)))
      }
    }
    def dropped(df: DataFrame) =
      (rows(Rules.boilerplateParagraphs(df, url, text, 2, 0.5)) ++
        rows(Rules.exactSubstrDup(df, url, text, l = 5, maxFrac = 0.2))).map(_._1)
    assert(!dropped(dup).contains("recrawl"))
    // under two different keys the same two rows ARE two documents
    val twoKeys = hostile.unionByName(
      Seq(("recrawl-a", page), ("recrawl-b", page)).toDF("url", "text"))
    assert(Set("recrawl-a", "recrawl-b").subsetOf(dropped(twoKeys)))
  }

  /** The pre-battery model rule, verbatim: score the normalised text,
    * flag below `minScore`.
    */
  private def modelComposed(df: DataFrame, minScore: Double): DataFrame =
    df.select(url.as("url"),
        QualityModel.scoreColumn(TextFns.normText(text)).as("__q"))
      .filter(col("__q") < minScore)
      .select(col("url"), lit("model_quality").as("rule"), lit(false).as("keep"),
        col("__q").as("score"),
        concat_ws("<", round(col("__q"), 4), lit(minScore.toString)).as("detail"))

  private def composedBattery(pages: DataFrame, cfg: QualityPipeline.Config): DataFrame = {
    val ev = Decontam.evalGrams(cfg.decontamPassages.toDF("p"), col("p"), cfg.decontamN)
    Seq(
      Rules.boilerplateComposed(pages, url, text, cfg.boilerplateMinDocs, cfg.maxBoilerplateFrac),
      ComposedRefs.contaminationComposed(pages, url, text, ev, cfg.decontamN,
        cfg.decontamMinHits),
      Rules.exactSubstrComposed(pages, url, text, cfg.exactSubstrTokens, 2L,
        cfg.maxSubstrDupFrac),
      modelComposed(pages, cfg.modelQualityMin.get)).reduce(_ unionByName _)
  }

  test("battery pass == union of the four composed rules on generated pages (full + stressed config, bound 4M and 0)") {
    val pages = graft.sources.PagesGen.generate(spark, 2000, 4).toDF().cache()
    try {
      val full = Bench.fullBatteryConfig
      val stressed = full.copy(boilerplateMinDocs = 3, maxBoilerplateFrac = 0.2,
        exactSubstrTokens = 5, maxSubstrDupFrac = 0.05, decontamMinHits = 0,
        modelQualityMin = Some(0.6))
      for ((name, cfg) <- Seq("full" -> full, "stressed" -> stressed)) {
        val expected = rows(composedBattery(pages, cfg))
        val battery = rows(QualityPipeline.textBatteryVerdicts(pages, cfg).get)
        assert(battery == expected, s"$name: battery vs composed")
        val overflow = rows(QualityPipeline.textBatteryVerdicts(pages, cfg, cap = 0).get)
        assert(overflow == expected, s"$name: bound-0 battery vs composed")
        // every rule fires on this corpus, so the comparison covers all four
        Seq("ccnet_boilerplate", "exact_substr_dup", "model_quality").foreach { r =>
          assert(expected.exists(_._2 == r), s"$name: $r silent")
        }
        if (cfg.decontamMinHits == 0L) assert(expected.count(_._2 == "decontam") == 2000)
        info(s"$name: ${expected.size} verdict rows match")
      }
    } finally pages.unpersist()
  }
}
