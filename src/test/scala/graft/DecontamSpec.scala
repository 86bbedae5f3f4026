package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.Decontam
import graft.rules.Rules

class DecontamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("wordNgrams: sliding grams, case folding, short and null docs") {
    val df = Seq(
      ("a", "Alpha beta  GAMMA delta"),
      ("b", "one two"),
      ("c", ""),
      ("d", null.asInstanceOf[String])
    ).toDF("k", "t")
    val out = df.select(col("k"), Decontam.wordNgrams(col("t"), 3).as("g"))
      .collect().map(r => r.getString(0) -> Option(r.getSeq[String](1))).toMap
    assert(out("a").get == Seq("alpha beta gamma", "beta gamma delta"))
    assert(out("b").get == Nil) // fewer than n tokens
    assert(out("c").get == Nil)
    assert(out("d").isEmpty)    // null text -> null grams
  }

  test("GramHash.gramHashes == xxhash64(wordNgrams) bit-for-bit") {
    import graft.functions.{Decontam, GramHash, TextFns}
    // real-ish pages + edge shapes: unicode, punctuation glued to words,
    // tabs/newlines, exactly-n tokens, n-1 tokens, empty, null
    val texts = graft.sources.PagesGen.generate(spark, 40, 2).toDF()
      .select("text").as[String].collect().toSeq ++ Seq(
      "Üñïçödé tökens müßen auch gehen ÉL NIÑO déjà vu",
      "a b c d e f g h", "a\tb\nc  d\r\ne", "one two", "one", "", null)
    for (n <- Seq(2, 3, 8)) {
      val df = texts.toDF("text")
      val composed = df.select(
        transform(Decontam.wordNgrams(col("text"), n), g => xxhash64(g))
          .as("hs")).collect().map(r => Option(r.getSeq[Long](0)))
      val fused = df
        .withColumn("__toks", TextFns.tokens(lower(col("text"))))
        .select(GramHash.gramHashes(col("__toks"), n).as("hs"))
        .collect().map(r => Option(r.getSeq[Long](0)))
      assert(fused.toSeq == composed.toSeq, s"n=$n")
    }
  }

  test("GramHash property: random unicode/whitespace text matches composed, n=1..9") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.functions.{Decontam, GramHash, TextFns}
    // deterministic sampling (the ScrubSpec pattern): mixed-script chars,
    // every Java-regex \s whitespace, empty runs, multi-codepoint text
    val fragGen: Gen[String] = Gen.frequency(
      6 -> Gen.alphaNumChar.map(_.toString),
      2 -> Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r"),
      1 -> Gen.oneOf("é", "ß", "Ж", "中", "𝄞", "ñ", "Ü"),
      1 -> Gen.oneOf(".", ",", "|", "-", "@"))
    val textGen = Gen.chooseNum(0, 80)
      .flatMap(k => Gen.listOfN(k, fragGen)).map(_.mkString)
    val texts = (0 until 120).flatMap(i =>
      textGen.apply(Gen.Parameters.default, Seed(9000L + i)))
    for (n <- Seq(1, 2, 5, 9)) {
      val df = texts.toDF("text")
      val composed = df.select(
        transform(Decontam.wordNgrams(col("text"), n), g => xxhash64(g))
          .as("hs")).collect().map(r => Option(r.getSeq[Long](0)))
      val fused = df
        .withColumn("__toks", TextFns.tokens(lower(col("text"))))
        .select(GramHash.gramHashes(col("__toks"), n).as("hs"))
        .collect().map(r => Option(r.getSeq[Long](0)))
      assert(fused.toSeq == composed.toSeq, s"n=$n")
    }
  }

  test("contamination: multiset doc-side counting against a distinct eval set") {
    val eval = Decontam.evalGrams(
      Seq("x y z", "p q r").toDF("p"), col("p"), 3)
    val docs = Seq(
      // contains "x y z" TWICE (multiset: both occurrences count) among 7 grams
      ("d1", "a x y z b x y z c"),
      // one collision with the second passage
      ("d2", "p q r s"),
      // no collision, grams exist
      ("d3", "u v w u v"),
      // too short for any gram
      ("d4", "u v")
    ).toDF("k", "t")
    val c = ComposedRefs.contamination(docs, col("k"), col("t"), eval, 3)
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.get(3)).map(_.asInstanceOf[Double]))))
      .toMap
    assert(c("d1") == ((7L, 2L, Some(0.285714))))
    assert(c("d2") == ((2L, 1L, Some(0.5))))
    assert(c("d3") == ((3L, 0L, Some(0.0))))
    assert(c("d4") == ((0L, 0L, None))) // gram-less doc still present, frac null
    assert(c.size == 4)
  }

  test("contaminationRule: one collision flags; clean and gram-less docs don't") {
    val eval = Decontam.evalGrams(Seq("x y z").toDF("p"), col("p"), 3)
    val docs = Seq(
      ("bad", "a x y z b"), ("clean", "u v w t"), ("tiny", "u")
    ).toDF("k", "t")
    val v = Rules.contaminationRule(docs, col("k"), col("t"), eval, 3)
      .collect().map(r => (r.getAs[String]("url"), r.getAs[String]("rule"),
        r.getAs[Boolean]("keep"), r.getAs[String]("detail")))
    assert(v.toSeq == Seq(("bad", "decontam", false, "1/eval_gram_hits")))
    // deterministic under repartitioning
    val v3 = Rules.contaminationRule(docs.repartition(3), col("k"), col("t"), eval, 3)
      .collect().map(_.getAs[String]("url")).toSet
    assert(v3 == Set("bad"))
  }

  test("decontamPassages pipeline toggle: off = no rule, on = leaked doc drops") {
    import graft.pipeline.QualityPipeline
    val passage = "the benchmark answer key sentence that must never appear in training"
    def body(i: Int) = (1 to 40).map(j => s"word${i}x$j").mkString(" ")
    val rows = (1 to 5).map { i =>
      val text = if (i == 1) s"${body(i)} $passage" else body(i)
      (s"http://t/d/$i", text, "en")
    }.toDF("url", "text", "lang")
      .withColumn("warc_ts", lit("2025-01-01T00:00:00Z"))
      .withColumn("html", col("text"))
    val cfg = QualityPipeline.defaultConfig.copy(decontamPassages = Seq(passage))
    val on = QualityPipeline.run(rows, cfg)
    val flagged = on.verdicts.filter(col("rule") === "decontam")
      .select("url").collect().map(_.getString(0)).toSet
    val kept1 = on.kept.filter(col("url") === "http://t/d/1").count()
    on.unpersist()
    assert(flagged == Set("http://t/d/1"), s"got $flagged")
    assert(kept1 == 0L)
    val off = QualityPipeline.run(rows)
    val offRules = off.verdicts.select("rule").distinct()
      .collect().map(_.getString(0)).toSet
    off.unpersist()
    assert(!offRules.contains("decontam"))
  }
}
