package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.pipeline.QualityPipeline
import graft.sources.PagesGen

/** Pass 2 (one bounded stats fetch plus one entry pass) against the
  * composed five-branch reference, row for row with doubles compared
  * bit for bit.
  */
class Pass2Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cfg = QualityPipeline.defaultConfig
  // low thresholds so every rule flags many rows and their scores are compared
  private val stressed = cfg.copy(zScoreK = 2.0, groupZK = 2.0, rareComboMin = 60)

  private val AllRules = Set("extreme_n_chars", "extreme_n_words",
    "group_extreme_perplexity", "rare_combo_lang_tld", "tendency_n_words_n_chars")

  /** (url, rule, score bits, detail) multiset of a verdict frame. */
  private def rows(v: DataFrame): Map[(String, String, Long, String), Int] =
    v.select("url", "rule", "score", "detail").collect().toSeq
      .map(r => (r.getString(0), r.getString(1),
        java.lang.Double.doubleToRawLongBits(r.getDouble(2)), r.getString(3)))
      .groupBy(identity).view.mapValues(_.size).toMap

  private def assertSame(survivors: DataFrame, c: QualityPipeline.Config) = {
    val got = rows(QualityPipeline.pass2(survivors, c))
    val want = rows(ComposedRefs.pass2Composed(survivors, c))
    assert(got == want, s"\nonly new: ${got.keySet -- want.keySet}" +
      s"\nonly composed: ${want.keySet -- got.keySet}")
    got.keySet.map(_._2)
  }

  private val schema = StructType(Seq(
    StructField("url", StringType), StructField("lang", StringType),
    StructField("n_chars", IntegerType), StructField("n_words", IntegerType),
    StructField("perplexity", DoubleType)))

  /** 5,000 rows over 3 languages × 4 TLDs (n_words < n_chars throughout),
    * plus planted edge rows. `distinctChars` makes every n_chars unique,
    * which closes that rule's uniqueness gate.
    */
  private def crafted(distinctChars: Boolean): DataFrame = {
    val base = (0 until 5000).map { i =>
      val nWords = 50 + (i * 7919) % 200
      Row(s"http://site${i % 37}.${Seq("com", "org", "de", "io")(i % 4)}/p/$i",
        Seq("en", "de", "fr")(i % 3),
        if (distinctChars) 100000 + i else nWords * 6 + i % 5,
        nWords, 5.0 + ((i * 104729) % 1000) / 100.0)
    }
    val planted = Seq(
      Row("http://a.com/null-lang", null, 900, 150, 9.0),
      Row("http://a.com/null-ppl", "en", 900, 150, null),
      Row("http://b.com/null-both", null, 901, 151, null),
      Row(null, "en", 902, 152, 100.0),              // null url ⇒ null tld; en outlier
      Row("http://localhost/no-tld", "de", 903, 153, 60.0), // empty tld
      Row("http://c.xyz/one-row-lang", "xx", 904, 154, 8.0),
      Row("http://d.com/flat1", "zz", 905, 155, 7.0), // zero-variance language
      Row("http://d.org/flat2", "zz", 906, 156, 7.0),
      Row("http://d.io/flat3", "zz", 907, 157, 7.0),
      Row("http://e.com/long-chars", "en", 60000, 5000, 9.5),  // extremes
      Row("http://e.org/long-words", "fr", 900, 1200, 9.5),    // tendency violator
      Row("http://e.de/violator", "de", 300, 400, 9.5),        // tendency violator
      Row("http://e.io/tie", "fr", 500, 500, 9.5),             // tie: exempt
      Row("http://f.com/null-words", "en", 900, null, 9.0),
      Row("http://f.org/null-chars", "en", null, 150, 9.0))
    spark.createDataFrame(java.util.Arrays.asList(base ++ planted: _*), schema)
  }

  test("pass 2 == the composed reference on PagesGen survivors (exact doubles)") {
    val pages = PagesGen.generate(spark, 2000, 4).toDF()
    val feat = QualityPipeline.features(pages).cache()
    try {
      val v1 = QualityPipeline.pass1(feat).localCheckpoint(true)
      val survivors = feat.join(v1.select("url").distinct(), Seq("url"), "left_anti")
      val rulesDefault = assertSame(survivors, cfg)
      assert(rulesDefault.contains("extreme_n_chars"), s"got $rulesDefault")
      val rulesStressed = assertSame(survivors, stressed)
      assert(Set("extreme_n_chars", "extreme_n_words", "group_extreme_perplexity",
        "rare_combo_lang_tld").subsetOf(rulesStressed), s"got $rulesStressed")
    } finally feat.unpersist()
  }

  test("pass 2 == the composed reference on crafted edge cases") {
    // nulls in lang, perplexity, url; an empty tld; a one-row and a
    // zero-variance language; tendency armed with planted violators and
    // a tie; an extreme row
    val open = crafted(distinctChars = false)
    assert(assertSame(open, cfg) == AllRules)
    assert(assertSame(open, stressed) == AllRules)
    val v = QualityPipeline.pass2(open, cfg)
    val flagged = v.select("url", "rule").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(flagged.contains((null, "group_extreme_perplexity")))
    assert(flagged.contains(("http://localhost/no-tld", "rare_combo_lang_tld")))
    assert(flagged.contains(("http://c.xyz/one-row-lang", "rare_combo_lang_tld")))
    assert(Set("http://e.org/long-words", "http://e.de/violator")
      .map(_ -> "tendency_n_words_n_chars").subsetOf(flagged))
    assert(!flagged.contains(("http://e.io/tie", "tendency_n_words_n_chars")))
    // all-distinct n_chars closes that rule's gate; n_words' stays open
    val closed = crafted(distinctChars = true)
    val rules = assertSame(closed, cfg)
    assert(!rules.contains("extreme_n_chars") && rules.contains("extreme_n_words"),
      s"got $rules")
    // empty survivors: null sums, no groups, no verdicts
    assert(QualityPipeline.pass2(open.limit(0), cfg).count() == 0)
    assert(assertSame(open.limit(0), cfg).isEmpty)
  }

  test("pass 2 group fetch: past its bound it fails loudly, at the bound it runs") {
    val small = crafted(distinctChars = false)
    val groups = small.groupBy(col("lang"),
      regexp_extract(col("url"), "https?://[^/]*?(\\.[a-z]+)(?:[:/]|$)", 1)).count().count()
    val e = intercept[IllegalArgumentException](
      QualityPipeline.pass2Verdicts(small, cfg, cap = 0))
    assert(e.getMessage.contains("(lang, tld) groups"), e.getMessage)
    intercept[IllegalArgumentException](
      QualityPipeline.pass2Verdicts(small, cfg, cap = groups - 1))
    assert(rows(QualityPipeline.pass2Verdicts(small, cfg, cap = groups)) ==
      rows(QualityPipeline.pass2(small, cfg)))
  }
}
