package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.HtmlExtract
import graft.sources.PagesGen
import graft.pipeline.QualityPipeline

/** [[graft.functions.HtmlExtract]] — the specified transform chain on
  * hand cases, the PagesGen byte-identity invariant across every error
  * class, and the `extractHtml` pipeline toggle producing the SAME
  * verdicts and kept bytes as the text-given run.
  */
class HtmlExtractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ex(html: String): String =
    Seq(html).toDF("h").select(HtmlExtract.extract(col("h"))).head.getString(0)

  test("dropped subtrees, comments, block newlines, tag strip") {
    assert(ex("<html><head><title>T</title><script>var a='<p>x</p>';" +
      "</script></head><body><p>one</p><div>two</div></body></html>")
      == "one\n\ntwo") // close-p + open-div = paragraph break (capped at 2)
    assert(ex("a<!-- hidden\nlines -->b") == "ab")
    assert(ex("<ul><li>x</li><li>y</li></ul>") == "x\n\ny")
    assert(ex("keep <span class=\"s\">inline</span> text")
      == "keep inline text")
    assert(ex("<STYLE>p{}</STYLE>ok<NOSCRIPT>no</NOSCRIPT>") == "ok")
  }

  test("entity decode: after tag strip, &amp; last, data never re-parsed") {
    // &amp;lt; is the literal text "&lt;" — decoding &amp; last keeps it
    assert(ex("a &amp;lt; b") == "a &lt; b")
    // a decoded '<' is data, not markup
    assert(ex("x &lt;p&gt; y") == "x <p> y")
    assert(ex("A&nbsp;B &quot;q&quot; it&#39;s &apos;z&apos;")
      == "A B \"q\" it's 'z'")
    // unknown entities pass through untouched
    assert(ex("&copy; &bogus;") == "&copy; &bogus;")
  }

  test("whitespace: runs, newline trim, paragraph cap, outer trim") {
    assert(ex("  a\t\tb\r\nc  ") == "a b\nc")
    assert(ex("<p>a</p><p></p><p></p><p>b</p>") == "a\n\nb")
    assert(ex("") == "" && ex("<p></p>") == "")
    // malformed: unclosed '<' survives as data
    assert(ex("5 < 6 but <b>bold") == "5 < 6 but bold")
  }

  test("fused kernel == regex chain: adversarial cases + seeded fuzz") {
    // edge pool: boundary failures (\b), unclosed opens/closes, nested
    // same-tag subtrees, tag-prefix alternation (p vs pre, th vs thead),
    // entity adjacency/overlap bait, stray '<'/'&', vertical tab, CRLF,
    // non-ASCII, comments with embedded openers
    val pieces = Seq(
      "<script>", "</script>", "<script a=\"<b>\">", "</script >",
      "</script\t\n>", "<ScRiPt>", "<scripts>", "</scriptx>", "<script",
      "<style>", "</style>", "<head>", "</head>", "<noscript>",
      "</noscript>", "<template>", "</template>", "<!--", "-->",
      "<!-- c -->", "<!---->", "<!--->", "<p>", "</p>", "<pre>", "</pre>",
      "<p", "<p/>", "<//p>", "<div class='x'>", "<br/>", "<th>", "<them>",
      "<thead>", "<table>", "<tracking>", "<h1>", "<h2>", "<h7>", "<b>",
      "</b>", "<span>", "<!x>", "<!y", "</", "&nbsp;", "&lt;", "&gt;",
      "&quot;", "&#39;", "&apos;", "&amp;", "&amp;lt;", "&amp;amp;", "&",
      "&am", "&nbsp", ";", "<", ">", "< 6", "<6", "text", "word", " ",
      "  ", "\t", "\n", "\n\n\n\n", "\r\n", "\f", "", "é", "日本",
      "😀", "<p日本>", "<pré>", "𝒜", "<p𝒜>")
    val rnd = new scala.util.Random(20260822L)
    val fuzz = (0 until 400).map { _ =>
      (0 until (2 + rnd.nextInt(30)))
        .map(_ => pieces(rnd.nextInt(pieces.length))).mkString
    }
    val hand = Seq(
      "", "<script a <script b </script>", "<script><style></script></style>",
      "<style><script></style></script>x", "a<!-- <script> -->b<script>c",
      "<p><pre>x</pre></p>", "<SCRIPT>UP</SCRIPT>low",
      "<script>no close", "text </script> only close",
      "&amp;nbsp; &lt;script&gt;", "  \n x  ")
    val df = (fuzz ++ hand).toDF("h")
      .select(col("h"), HtmlExtract.extract(col("h")).as("fused"),
        ComposedRefs.extractChain(col("h")).as("chain"))
    val bad = df.filter(not(col("fused") <=> col("chain"))).collect()
    assert(bad.isEmpty, bad.take(3).map(r =>
      s"input=${r.getString(0)}\n fused=${r.getString(1)}\n chain=${r.getString(2)}")
      .mkString("\n---\n"))
  }

  test("PagesGen invariant: extract(html) == text, every error class") {
    val n = 2200L // covers every class many times over (moduli ≤ 101)
    val pages = PagesGen.generate(spark, n, partitions = 4)
    val bad = pages.toDF()
      .withColumn("extracted", HtmlExtract.extractBinary(col("html")))
      .filter(col("extracted") =!= col("text"))
    assert(bad.count() == 0)
    // and the corpus is normalizeWs-fixed (what makes byte-identity
    // possible: extraction's ws phase is identity on generated text)
    val unnorm = pages.toDF()
      .filter(HtmlExtract.normalizeWs(col("text")) =!= col("text"))
    assert(unnorm.count() == 0)
  }

  test("extractHtml toggle: html-derived run == text-given run, bytes") {
    val pages = PagesGen.generate(spark, 1500, partitions = 4).toDF().cache()
    pages.count()
    // the html-only frame: text column poisoned so any read of it fails
    // the comparison — extraction must supply every downstream byte
    val htmlOnly = pages.withColumn("text", lit(null).cast("string"))
    val a = QualityPipeline.run(pages)
    val b = QualityPipeline.run(htmlOnly,
      QualityPipeline.defaultConfig.copy(extractHtml = true))
    def verdictSet(r: QualityPipeline.Result) =
      r.verdicts.select("url", "rule").as[(String, String)].collect().toSet
    def keptSet(r: QualityPipeline.Result) =
      r.kept.select("url", "scrubbed_text").as[(String, String)]
        .collect().toSet
    assert(verdictSet(a) == verdictSet(b))
    assert(keptSet(a) == keptSet(b))
    a.unpersist(); b.unpersist(); pages.unpersist()
  }

  test("extractHtml + text-reading opt-in rules: rules judge the DERIVED text") {
    // regression: the opt-in text rules (model quality, decontam, substr,
    // boilerplate) used to read the RAW text column — under extractHtml
    // with a null/stale text column they scored nothing while the
    // heuristics judged the extracted text (two corpus views in one run)
    import org.apache.spark.sql.functions.{col, lit}
    val pages = graft.sources.PagesGen.generate(spark, 400, 4).toDF()
    val htmlOnly = pages.withColumn("text", lit(null).cast("string"))
    val cfg = QualityPipeline.defaultConfig.copy(modelQualityMin = Some(0.45))
    val a = QualityPipeline.run(pages, cfg)
    val b = QualityPipeline.run(htmlOnly, cfg.copy(extractHtml = true))
    def mq(r: QualityPipeline.Result) =
      r.verdicts.filter(col("rule") === "model_quality")
        .select("url").as[String].collect().toSet
    val (ma, mb) = (mq(a), mq(b))
    a.unpersist(); b.unpersist()
    assert(ma.nonEmpty, "fixture must trip the model rule for the test to bite")
    assert(ma == mb)
  }
}
