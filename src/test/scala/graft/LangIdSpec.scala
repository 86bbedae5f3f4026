package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{LangId, LangIdModel, CharLm, DocStats}

class LangIdSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sentences = Map(
    "en" -> "the people would know that this is a good test of common words from there",
    "fr" -> "les gens sont avec nous pour que cette langue soit bien dans tout cela",
    "de" -> "die leute haben nicht nur durch werden auch noch einer sprache vom zum",
    "es" -> "la gente para cuando donde tiempo muy solo pero tambien como otros desde",
    "it" -> "la gente sarebbe anche nella degli delle questi sono stati per non che piu"
  )

  test("CharLm fromText reproduces the built-in LM bit-for-bit") {
    // identical cnt/ctx tables and vocab from the same pairs
    val m1 = CharLm.fromText(LangIdModel.SeedCorpus.toSeq)
    val ref = CharLm.model
    assert(m1.vocab == ref.vocab)
    assert(m1.ctx == ref.ctx, "ctx count table differs")
    assert(m1.cnt == ref.cnt, "gram count table differs")
    // scoring under the rebuilt model is bit-identical to the default path
    val texts = Seq("the people would know that this is a good test",
      "xq zvkw jfp qqqz mxnv bbtk zzz qpw xvj kkz", "")
    texts.foreach { t =>
      assert(ComposedRefs.perplexityUnder(m1, t) == ComposedRefs.perplexity(t))
    }
    // a DIFFERENT corpus produces a genuinely different model
    val other = CharLm.fromText(Seq("xx" -> "zzz qqq kkk vvv www yyy xxx"))
    assert(other.cnt != ref.cnt)
    assert(ComposedRefs.perplexityUnder(other,
      "the people would know") != ComposedRefs.perplexity("the people would know"))
  }

  test("n-gram model classifies held-out-ish sentences per language") {
    sentences.foreach { case (lang, s) =>
      val (got, _) = ComposedRefs.classify(s)
      assert(got == lang, s"expected $lang got $got for: $s")
    }
  }

  // Genuinely HELD-OUT sentences (everyday narrative; most content words
  // do not appear in any seed list) across all 9 model languages,
  // including the close pairs es↔pt and de↔nl↔sv the broadened model must
  // separate on character patterns alone. ASCII-folded like the seeds.
  private val heldOut = Map(
    "en" -> "yesterday the children walked quietly across the old bridge while their friends waited near the river",
    "fr" -> "hier les enfants ont marche lentement sur le vieux pont pendant que leurs amis attendaient pres de la riviere",
    "de" -> "gestern gingen die kinder langsam ueber die alte bruecke waehrend ihre freunde am fluss warteten",
    "es" -> "ayer los ninos caminaron despacio por el puente viejo mientras sus amigos esperaban cerca del rio",
    "it" -> "ieri i bambini hanno camminato lentamente sul vecchio ponte mentre i loro amici aspettavano vicino al fiume",
    "pt" -> "ontem as criancas caminharam devagar pela ponte velha enquanto os seus amigos esperavam perto do rio",
    "nl" -> "gisteren liepen de kinderen langzaam over de oude brug terwijl hun vrienden bij de rivier wachtten",
    "sv" -> "igar gick barnen langsamt over den gamla bron och deras vanner vantade lange vid floden eftersom vadret var mycket vackert",
    "pl" -> "wczoraj dzieci szly powoli przez stary most podczas gdy ich przyjaciele czekali nad rzeka"
  )

  test("broadened model: held-out non-seed sentences classify correctly in all 9 languages") {
    heldOut.foreach { case (lang, s) =>
      val (got, margin) = ComposedRefs.classify(s)
      assert(got == lang, s"expected $lang got $got (margin $margin) for: $s")
    }
  }

  test("fixture-doc margins clear the lang_mismatch gate in every fixture language") {
    // the mismatch rule only fires at score > langIdMinMargin; a
    // corrupted-label doc whose margin sank below the gate would silently
    // stop being flagged — pin that fixture docs keep comfortable margins
    // now that pt/nl/sv/pl confusers are in the model (es↔pt is the
    // closest pair)
    val gate = graft.pipeline.QualityPipeline.defaultConfig.langIdMinMargin
    graft.sources.PagesGen.Langs.foreach { lang =>
      val margins = (0 until 20).map { i =>
        val r = new graft.sources.PagesGen.Rng(i * 7919L + 17)
        val doc = (0 until 150).map(_ => {
          val v = LangIdModel.SeedCorpus(lang).split("\\s+")
          v(r.nextInt(v.length))
        }).mkString(" ")
        val (got, margin) = ComposedRefs.classify(doc)
        assert(got == lang, s"fixture-style $lang doc classified $got")
        margin
      }
      val worst = margins.min
      assert(worst > gate,
        s"$lang worst margin $worst is under the mismatch gate $gate")
    }
  }

  test("classify is deterministic and handles degenerate input") {
    assert(ComposedRefs.classify("") == ("und", 0.0))
    assert(ComposedRefs.classify("ab") == ("und", 0.0))
    val a = ComposedRefs.classify("the quick brown fox")
    assert(a == ComposedRefs.classify("the quick brown fox"))
  }

  test("LangIdExpr works as a Column and matches driver-side classify") {
    val df = sentences.values.toSeq.toDF("text")
    val got = df.select(col("text"), ComposedRefs.langIdLang(col("text")).as("l"),
        DocStats.docStats(col("text"), 0).getField("lang").as("fused"))
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // the fused kernel's language is the per-row classifier's
    sentences.foreach { case (lang, s) => assert(got(s) == ((lang, lang))) }
  }

  test("perplexity: clean seed-like text scores far below gibberish") {
    val clean = ComposedRefs.perplexity("the people would know that this is a good test")
    val junk = ComposedRefs.perplexity("xq zvkw jfp qqqz mxnv bbtk zzz qpw xvj kkz")
    assert(clean < 12, s"clean ppl $clean")
    assert(junk > 30, s"junk ppl $junk")
    assert(ComposedRefs.perplexity("") == 1.0)
  }

  test("perplexity expression matches driver-side function") {
    val texts = Seq("the quick brown fox", "zzz qqq xxx jjj")
    val got = texts.toDF("t").select(ComposedRefs.perplexityCol(col("t")),
        DocStats.docStats(col("t"), 0).getField("perplexity"))
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    assert(got.toSeq.map(_._1) == texts.map(ComposedRefs.perplexity))
    // the fused kernel scores as the composed reference does
    assert(got.forall { case (a, b) => math.abs(a - b) < 1e-9 }, got.toSeq)
  }

  test("markerLang SQL-portable scorer: argmax with asc tie-break, und on zero") {
    val df = Seq(
      "the cat and the dog with that",   // en
      "le chien et la vache dans les",   // fr
      "zzz qqq",                          // none → und
      "der die und das"                   // de
    ).toDF("t")
    val got = df.select(LangId.markerLang(col("t"))).collect().map(_.getString(0))
    assert(got.toSeq == Seq("en", "fr", "und", "de"))
  }

  test("fused marker scorer equals the composed Column version everywhere") {
    // the fixture corpus + adversarial edge cases (ties, empties, case,
    // whitespace zoo); the fused expression must be a pure optimisation
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("text"))
    val edge = Seq("", "   ", "\t\n", "THE AND OF", "the la", "la the",
      "le der el the le der el the", "does-not-match anything here",
      "withvt\tand nbsp the").toDF("text")
    Seq(docs, edge.toDF()).foreach { d =>
      val mismatch = d.select(
          LangId.markerLang(col("text")).as("f"),
          ComposedRefs.markerLangComposed(col("text")).as("c"))
        .filter(!(col("f") <=> col("c")))
      assert(mismatch.count() == 0,
        mismatch.collect().take(5).mkString("; "))
    }
    // tie goes to the lexicographically earlier language (de<en<es<fr)
    val tie = Seq("the der").toDF("text")
      .select(LangId.markerLang(col("text"))).head().getString(0)
    assert(tie == "de")
  }

  test("fused marker scorer matches lower() semantics on non-ASCII tokens") {
    // U+0130 'İ' full-string-lowercases to "i̇" (1-to-N mapping): lower("İS")
    // is NOT "is", so the composed path scores no marker hit — the fused
    // per-char path must agree (it poisons any token containing a char
    // ≥ 0x80 rather than guessing its lowercase form). U+212A Kelvin → 'k'
    // is the lone non-ASCII→ASCII mapping; no marker contains 'k'.
    val docs = Seq(
      "İS İST zzz",            // İS İST — must NOT hit en "is"
      "the İS and of",              // en hits come from ASCII tokens only
      "thé lès dés",      // accented near-markers — no hits
      "Kel els",                    // Kelvin-sign token
      "DER DİE UND"                 // DİE poisoned; der+und still de
    ).toDF("text")
    val mismatch = docs.select(
        LangId.markerLang(col("text")).as("f"),
        ComposedRefs.markerLangComposed(col("text")).as("c"))
      .filter(!(col("f") <=> col("c")))
    assert(mismatch.count() == 0, mismatch.collect().take(5).mkString("; "))
    val got = docs.select(LangId.markerLang(col("text")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("und", "en", "und", "und", "de"), got)
  }
}
