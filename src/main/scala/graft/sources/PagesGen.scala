package graft.sources

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import graft.model.Page

/** Deterministic synthetic `pages` table (BASELINE.json input_hint shape):
  * (url, warc_ts, html, text, lang). Every row is a PURE function of its
  * id — the generator is distributed via `spark.range(n)` (splittable: any
  * partitioning of the id space yields identical rows), uses no wall
  * clock and no RNG state shared across rows, so the same (n) produces
  * byte-identical tables at any parallelism. That determinism is what
  * makes the golden keep/drop labels a real oracle.
  *
  * Planted error classes (FIXTURES.md §1) mirror the reference's errtype
  * taxonomy (`/root/reference/src/improve_data_quality.py:297-456`):
  * exact dups ("duplication"), near-dups, empty/boilerplate ("empty"),
  * extreme length / symbol junk ("extreme"), corrupted lang labels +
  * rare (lang, tld) combos ("Logic error"), gibberish perplexity
  * outliers ("Outlier"), planted PII/toxic tokens (scrub targets).
  *
  * Hosts are Zipf-skewed so a few hosts dominate — this is the skew the
  * salted dedup/groupBy stages must survive (SURVEY §7.4).
  */
object PagesGen {

  // ---- deterministic per-id PRNG (splittable: seeded by id only) ----
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  final class Rng(seed: Long) {
    private var s = mix(seed)
    def nextLong(): Long = { s = mix(s); s }
    def nextInt(bound: Int): Int = math.floorMod(nextLong(), bound.toLong).toInt
    def nextDouble(): Double = (nextLong() >>> 11) * 1.1102230246251565e-16
  }

  /** Page languages, and the cumulative shares that pick one per id: an
    * en-heavy mixture, like the web (en 55%, fr 15%, de 12%, es 10%,
    * it 8%).
    */
  val Langs: Array[String] = Array("en", "fr", "de", "es", "it")
  private val LangCdf: Array[Double] = Array(0.55, 0.70, 0.82, 0.92)
  val Tlds: Array[String] = Array(".com", ".org", ".net", ".io", ".edu")
  val NHosts = 1000

  /** Per-language vocabulary = tokens of the langid seed corpus, so clean
    * docs score well under the langid/perplexity models by construction.
    */
  private lazy val vocab: Map[String, Array[String]] =
    graft.functions.LangIdModel.SeedCorpus.map { case (l, c) =>
      l -> c.split("\\s+").filter(_.nonEmpty)
    }

  val ToxicWords: Array[String] = graft.functions.TextFns.ToxicityLexicon.toArray

  // error-class predicates — each id belongs to at most one class
  // (checked in order), clean otherwise
  def errorClass(id: Long): String = {
    if (id % 101 == 13) "duplication"
    else if (id % 97 == 11) "near_dup"
    else if (id % 89 == 7) "empty"
    else if (id % 83 == 5) "symbol_junk"
    else if (id % 79 == 3) "extreme_length"
    else if (id % 73 == 2) "gibberish"
    else if (id % 71 == 1) "pii"
    else if (id % 67 == 1) "toxic"
    else if (id % 61 == 1) "repeated_lines"
    else if (id % 59 == 1) "bad_lang_label"
    else "clean"
  }

  /** True iff the planted class should lead to a DROP verdict. PII and
    * toxic docs are kept-but-scrubbed; the rest are dropped.
    */
  def shouldDrop(cls: String): Boolean = cls match {
    case "clean" | "pii" | "toxic" => false
    case _ => true
  }

  private def words(r: Rng, lang: String, n: Int): String = {
    val v = vocab(lang)
    val sb = new StringBuilder(n * 6)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(if (i % 13 == 0) "\n" else " ")
      sb.append(v(r.nextInt(v.length)))
      i += 1
    }
    sb.toString
  }

  private def gibberish(r: Rng, n: Int): String = {
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) {
      sb.append(('a' + r.nextInt(26)).toChar)
      if (r.nextInt(7) == 0) sb.append(' ')
      i += 1
    }
    sb.toString
  }

  /** Base (clean) text for an id — also used as the dup/near-dup source. */
  private def baseText(id: Long, lang: String): String = {
    val r = new Rng(id * 7919L + 17)
    words(r, lang, 120 + r.nextInt(180))
  }

  /** Smallest clean-class id ≥ start — anchor for dup/near-dup plants, so
    * the copied text provably equals the anchor row's own text.
    */
  def cleanBaseAtOrAbove(start: Long): Long = {
    var i = start
    while (errorClass(i) != "clean") i += 1
    i
  }

  private def langOf(id: Long): String = {
    val d = new Rng(id * 104729L + 5).nextDouble()
    Langs(LangCdf.count(d >= _))
  }

  def genRow(id: Long): Page = {
    val cls = errorClass(id)
    val r = new Rng(id)
    // Zipf-ish host skew: cubing the uniform pushes mass to low host ids —
    // host 0 alone gets ~10% of all pages.
    val host = (math.pow(r.nextDouble(), 3) * NHosts).toInt
    val tld = Tlds(r.nextInt(Tlds.length))
    val lang = langOf(id)
    val url = s"https://host$host.example$tld/p/$id"
    // fixed epoch base (2024-01-01T00:00:00Z), spread over ~30 days
    val ts = new Timestamp(1704067200000L + (id % 30) * 86400000L +
      (mix(id) >>> 40))

    val (text: String, labelLang: String) = cls match {
      case "duplication" =>
        val base = cleanBaseAtOrAbove(id - math.floorMod(id, 101L) + 1)
        (baseText(base, langOf(base)), langOf(base))
      case "near_dup" =>
        val base = cleanBaseAtOrAbove(id - math.floorMod(id, 97L) + 2)
        val t = baseText(base, langOf(base))
        (t.replaceFirst("\\w+", "changed"), langOf(base))
      case "empty" =>
        (if (id % 3 == 0) "" else "home | about | contact", lang)
      case "symbol_junk" =>
        val t = baseText(id, lang)
        // trim: take(80) can land just past a space — the corpus keeps
        // the invariant normalizeWs(text) == text (HtmlExtractSpec)
        (t.take(80).trim + " " + Seq.fill(60)("#$%&*@!^~").mkString(" "), lang)
      case "extreme_length" =>
        (words(r, lang, 3000), lang)
      case "gibberish" =>
        (gibberish(r, 800).trim, lang) // trim: generator can end on ' '
      case "pii" =>
        val t = baseText(id, lang)
        (t + s"\ncontact: user$id@example.com or 555-${100 + id % 900}-${1000 + id % 9000}" +
          s" ssn ${100 + id % 900}-${10 + id % 90}-${1000 + id % 9000} ip 192.168.${id % 256}.${(id / 7) % 256}",
          lang)
      case "toxic" =>
        val t = baseText(id, lang)
        val tox = ToxicWords((id % ToxicWords.length).toInt)
        (t + s" this is $tox honestly $tox", lang)
      case "repeated_lines" =>
        val line = words(new Rng(id * 31 + 3), lang, 10)
        (Seq.fill(20)(line).mkString("\n"), lang)
      case "bad_lang_label" =>
        (baseText(id, lang), "xx") // corrupted label: text/lang mismatch
      case _ =>
        (baseText(id, lang), lang)
    }
    Page(url, ts, wrapHtml(id, text).getBytes("UTF-8"), text, labelLang)
  }

  /** Realistic page chrome around the body text, composed so that
    * `HtmlExtract.extract(html) == text` BYTE-IDENTICALLY: every piece
    * of chrome text lives inside a dropped subtree (head/script/
    * noscript) or a comment, the visible chrome (nav/footer) carries
    * only whitespace/entities that normalize away, and the body escapes
    * `&` so entity decode restores the original bytes. HtmlExtractSpec
    * pins the invariant across every error class; the `extractHtml`
    * pipeline toggle rests on it.
    */
  private[graft] def wrapHtml(id: Long, text: String): String = {
    val esc = text.replace("&", "&amp;")
    s"""<html>
       |<head><meta charset="utf-8"><title>p$id</title>
       |<style>body{margin:0;font:14px sans-serif}</style>
       |<script>var nav = "<p>not content</p>";</script></head>
       |<body><!-- crawl $id --><header><nav>&nbsp;</nav></header>
       |<div id="main"><p>$esc</p></div>
       |<noscript>JS disabled</noscript>
       |<footer>&nbsp;</footer></body>
       |</html>""".stripMargin
  }

  def generate(spark: SparkSession, n: Long,
               partitions: Int = 32): Dataset[Page] = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).map(id => genRow(id))
  }
}
