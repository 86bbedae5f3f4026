package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{CharLm, DocStats, LangIdModel, TextFns}

/** Cross-validates the fused DocStats expression against the Column-based
  * reference implementations (TextFns / LangIdModel / CharLm) field by
  * field — the fused path must be a pure optimisation, never a semantic
  * fork.
  */
class DocStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val samples = Seq(
    "the quick brown fox jumps over the lazy dog",
    "  leading and trailing   whitespace\t\tand\ttabs  ",
    "line one\nline two\nline one\n\n  \nline three",
    "UPPER Case MiXeD the of and",
    "symbols !@# $%^ &*() mixed with words",
    "a b c d e f g h i j k l m n o p q r s t",
    "oneword",
    "",
    "   ",
    "123 456 mixed 789 numbers",
    "damn this hell of a crap idiot test",
    (1 to 100).map(i => s"w$i").mkString(" "),
    // non-ASCII: the char fallback path must count CODE POINTS like
    // Spark's length()/regex (BMP accents, supplementary-plane emoji,
    // NBSP is not \s, vertical tab IS \s)
    "café naïve résumé über señor straße",
    "ÀÉÎÕÜ UPPER accents the and of",
    "emoji 🙂 mixed 🚀 content here",
    "tab\tand\u00A0nbsp\u000Bvt mixed   runs the of"
  )

  private lazy val fused = samples.toDF("t")
    .select(DocStats.docStats(col("t"), 8).as("d")).collect()

  private lazy val reference = {
    val t = col("t")
    val toks = col("__toks")
    samples.toDF("t")
      .withColumn("__norm", TextFns.normText(t))
      .withColumn("__toks", TextFns.tokens(col("__norm")))
      .select(
        coalesce(length(t), lit(0)).as("n_chars"),
        size(toks).as("n_words"),
        (aggregate(toks, lit(0L), (a, x) => a + length(x).cast("long"))
          .cast("double") / nullif(size(toks), lit(0))).as("mwl"),
        TextFns.symbolRatio(t).as("sym"),
        (TextFns.hitsIn(toks, TextFns.StopwordsEn).cast("double") /
          nullif(size(toks), lit(0))).as("stop"),
        TextFns.hitsIn(toks, TextFns.ToxicityLexicon).as("tox"))
      .collect()
  }

  test("n_chars / n_words match the Column reference") {
    fused.zip(reference).zip(samples).foreach { case ((f, r), s) =>
      val d = f.getStruct(0)
      assert(d.getAs[Int]("n_chars") == r.getAs[Int]("n_chars"), s"n_chars: '$s'")
      assert(d.getAs[Int]("n_words") == r.getAs[Int]("n_words"), s"n_words: '$s'")
    }
  }

  test("mean_word_len / symbol_ratio / stopword_ratio / toxicity match") {
    fused.zip(reference).zip(samples).foreach { case ((f, r), s) =>
      val d = f.getStruct(0)
      def close(a: Any, b: Any, what: String): Unit = (a, b) match {
        case (null, null) =>
        case (x: java.lang.Double, y: java.lang.Double) =>
          assert(math.abs(x - y) < 1e-12, s"$what: '$s' fused=$x ref=$y")
        case _ => fail(s"$what null mismatch on '$s': fused=$a ref=$b")
      }
      close(d.getAs[Any]("mean_word_len"), r.getAs[Any]("mwl"), "mean_word_len")
      close(d.getAs[Any]("symbol_ratio"), r.getAs[Any]("sym"), "symbol_ratio")
      close(d.getAs[Any]("stopword_ratio"), r.getAs[Any]("stop"), "stopword_ratio")
      assert(d.getAs[Int]("toxicity_hits") == r.getAs[Int]("tox"), s"tox: '$s'")
    }
  }

  test("lang / lang_score / perplexity match the model functions") {
    fused.zip(samples).foreach { case (f, s) =>
      val d = f.getStruct(0)
      val (lang, score) = ComposedRefs.classify(s)
      assert(d.getAs[String]("lang") == lang, s"lang: '$s'")
      assert(math.abs(d.getAs[Double]("lang_score") - score) < 1e-9, s"score: '$s'")
      assert(math.abs(d.getAs[Double]("perplexity") - CharLm.perplexity(s)) < 1e-9,
        s"ppl: '$s'")
    }
  }

  test("line stats: blank-line handling and dup-line ratio") {
    val d = fused(samples.indexOf("line one\nline two\nline one\n\n  \nline three"))
      .getStruct(0)
    assert(d.getAs[Int]("n_lines") == 4)
    assert(d.getAs[Int]("n_distinct_lines") == 3)
    assert(math.abs(d.getAs[Double]("dup_line_ratio") - 0.25) < 1e-12)
  }

  test("minhash: identical docs get identical sigs; empty gets nulls") {
    val two = Seq("the quick brown fox jumps over it", "the quick brown fox jumps over it", "")
      .toDF("t").select(DocStats.docStats(col("t"), 8).as("d")).collect()
    val idx = DocStats.schema.fieldIndex("minhash_sig")
    val s0 = two(0).getStruct(0).getSeq[Any](idx)
    val s1 = two(1).getStruct(0).getSeq[Any](idx)
    val s2 = two(2).getStruct(0).getSeq[Any](idx)
    assert(s0 == s1)
    assert(s2.forall(_ == null))
  }

  test("fused band_keys equal the composed Hashing.bandKeys reference") {
    val df = samples.filter(_.nonEmpty).toDF("t")
      .select(DocStats.docStats(col("t"), 32, 8, 4).as("d"))
      .select(col("d.minhash_sig").as("sig"), col("d.band_keys").as("fused"))
      .withColumn("composed",
        transform(ComposedRefs.bandKeys(col("sig"), 8, 4),
          s => s.getField("key")))
    df.collect().foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"band keys fork: fused=${r.getSeq[Long](1)} composed=${r.getSeq[Long](2)}")
    }
  }

  test("fingerprint is whitespace/case-normalised") {
    val two = Seq("The  Quick\nBrown", "the quick brown")
      .toDF("t").select(DocStats.docStats(col("t"), 4).as("d")).collect()
    assert(two(0).getStruct(0).getAs[Long]("fingerprint") ==
      two(1).getStruct(0).getAs[Long]("fingerprint"))
  }
}
