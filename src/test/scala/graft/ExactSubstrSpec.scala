package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.ExactSubstr
import graft.rules.Rules

/** Cross-document exact-substring duplication (Lee et al. 2021 shape):
  * substrDupStats vs an independent in-memory brute force (tokenize →
  * L-grams → cross-doc shared grams → interval union), partitioning
  * determinism, rule thresholding, and the pipeline toggle.
  */
class ExactSubstrSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val L = 4

  /** Independent brute force: (ntok, dupWindows, dupTokens) per key. */
  private def brute(rows: Seq[(String, String)], l: Int, minDocs: Int = 2)
      : Map[String, (Long, Long, Long)] = {
    def toks(t: String): Seq[String] =
      if (t == null) Nil
      else t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty).toSeq
    val grams: Map[String, Seq[(Int, String)]] = rows.map { case (k, t) =>
      val w = toks(t)
      k -> (if (w.length < l) Nil
            else (0 to w.length - l).map(i => (i + 1, w.slice(i, i + l).mkString(" "))))
    }.toMap
    val ndocs = grams.toSeq.flatMap { case (k, gs) => gs.map(_._2 -> k) }
      .distinct.groupBy(_._1).view.mapValues(_.size).toMap
    rows.map { case (k, t) =>
      val shared = grams(k).filter(g => ndocs(g._2) >= minDocs).map(_._1).sorted
      val cover = shared.foldLeft((0L, -1000000)) { case ((acc, prev), p) =>
        (acc + math.min(l, p - prev), p)
      }._1
      k -> (toks(t).length.toLong, shared.length.toLong, cover)
    }.toMap
  }

  // two docs sharing a 6-word span (3 overlapping 4-grams ⇒ 6-token
  // cover), a doc repeating ITS OWN span (not cross-doc), an unrelated
  // doc, a short doc, a null doc
  private val rows = Seq(
    ("a", "unique lead in THE SHARED span of six words trailing bit alpha"),
    ("b", "different opening here the shared span of six words and then more original content"),
    ("c", "self copy self copy self copy self copy self copy self copy"),
    ("d", "completely unrelated document content with no overlap at all whatsoever"),
    ("e", "too short"),
    ("f", null.asInstanceOf[String]))

  test("substrDupStats == independent brute force (cover union, counts, fraction)") {
    val got = ExactSubstr.substrDupStats(rows.toDF("k", "t"), col("k"), col("t"), L)
      .collect()
      .map(r => r.getAs[String]("__k") ->
        (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_windows"),
         r.getAs[Long]("dup_tokens"),
         Option(r.getAs[java.lang.Double]("dup_frac")).map(_.doubleValue)))
      .toMap
    val exp = brute(rows, L)
    assert(got.keySet == rows.map(_._1).toSet) // every doc exactly once
    rows.map(_._1).foreach { k =>
      val (ntok, nw, cover) = exp(k)
      assert(got(k)._1 == ntok, s"$k ntok")
      assert(got(k)._2 == nw, s"$k windows")
      assert(got(k)._3 == cover, s"$k cover")
      val frac = got(k)._4
      if (ntok == 0) assert(frac.isEmpty, s"$k frac should be null")
      else assert(math.abs(frac.get - cover.toDouble / ntok) < 1e-6, s"$k frac")
    }
    // the planted 6-word span: exactly 3 windows, 6 covered tokens, both docs
    assert(got("a")._2 == 3 && got("a")._3 == 6)
    assert(got("b")._2 == 3 && got("b")._3 == 6)
    // within-doc repetition alone is NOT cross-document duplication
    assert(got("c")._3 == 0)
    assert(got("d")._3 == 0 && got("e")._3 == 0 && got("f") == (0L, 0L, 0L, None))
  }

  test("both regimes == brute force on hostile input (L = 1..5, minDocs 2 and 3)") {
    // short docs, L = 1, within-doc repeats (count once toward minDocs),
    // spans shared by exactly 2 and exactly 3 docs, non-BMP and
    // case-folded tokens, blank/separator-only/null docs
    val hostile = rows ++ Seq(
      ("g", "Shared Three Way span of words 𝄞 here"),
      ("h", "the shared three way SPAN of words 𝄞 here too"),
      ("i", "prefix shared three way span of words 𝄞"),
      ("j", "loop loop loop loop loop loop"),
      ("k", "loop loop"),
      ("l", "   \t  "),
      ("m", "\n\n\n"),
      ("n", "x"))
    val df = hostile.toDF("k", "t")
    for (l <- 1 to 5; minDocs <- Seq(2, 3); bound <- Seq(4000000L, 0L)) {
      val got = ExactSubstr.substrDupStats(df, col("k"), col("t"), l, minDocs.toLong,
          maxBroadcastGrams = bound)
        .collect()
        .map(r => r.getAs[String]("__k") ->
          (r.getAs[Long]("n_tokens"), r.getAs[Long]("n_dup_windows"),
           r.getAs[Long]("dup_tokens")))
        .toMap
      assert(got == brute(hostile, l, minDocs), s"L=$l minDocs=$minDocs bound=$bound")
    }
  }

  test("a repeated key counts once toward minDocs, as in the distributed chain") {
    // "a" crawled twice: its span is shared with "b" (2 keys), and its own
    // words are not shared with any OTHER key
    val dup = (rows :+ rows.head).toDF("k", "t")
    def stats(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[String]("__k"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_dup_windows"), r.getAs[Long]("dup_tokens")))
      .toSeq.sortBy(_.toString)
    for (l <- Seq(1, L); minDocs <- Seq(2L, 3L)) {
      val got = stats(ExactSubstr.substrDupStats(dup, col("k"), col("t"), l, minDocs))
      assert(got == stats(ExactSubstr.substrDupStatsComposed(dup, col("k"), col("t"), l, minDocs)),
        s"L=$l minDocs=$minDocs")
      assert(got.count(_._1 == "a") == 2, "one stats row per input row")
    }
    // at L = 4 the two copies of "a" cover the same 6 span tokens as one
    // copy does (not all 12 of its tokens, as two documents would)
    val a = stats(ExactSubstr.substrDupStats(dup, col("k"), col("t"), L)).filter(_._1 == "a")
    assert(a.forall(r => r._2 == 12L && r._4 == 6L), a.toString)
  }

  test("deterministic across repartitioning") {
    def run(parts: Int) =
      ExactSubstr.substrDupStats(rows.toDF("k", "t").repartition(parts),
          col("k"), col("t"), L)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSet
    assert(run(3) == run(7))
  }

  test("exactSubstrDup rule: flags by fraction threshold with cross-doc spans only") {
    // doc "a": 12 tokens, 6 covered = 0.50; doc "b": 14 tokens, 6 ≈ 0.43
    val v = Rules.exactSubstrDup(rows.toDF("k", "t"), col("k"), col("t"),
        l = L, maxFrac = 0.45)
      .collect().map(_.getAs[String]("url")).toSet
    assert(v == Set("a"), s"got $v")
    val v2 = Rules.exactSubstrDup(rows.toDF("k", "t"), col("k"), col("t"),
        l = L, maxFrac = 0.35)
      .collect().map(_.getAs[String]("url")).toSet
    assert(v2 == Set("a", "b"), s"got $v2")
  }

  test("exactSubstrTokens pipeline toggle: off = no rule, on = long-shared-span doc drops") {
    import graft.pipeline.QualityPipeline
    val span = (1 to 12).map(i => s"sharedword$i").mkString(" ")
    def body(i: Int) = (1 to 40).map(j => s"word${i}x$j").mkString(" ")
    // docs 1 and 2 share a 12-word span; doc 1 is mostly that span
    val pages = (1 to 6).map { i =>
      val text = if (i == 1) s"tiny bit $span"
      else if (i == 2) s"${body(2)} $span ${body(20)}"
      else body(i)
      (s"http://t/s/$i", text, "en")
    }.toDF("url", "text", "lang")
      .withColumn("warc_ts", lit("2025-01-01T00:00:00Z"))
      .withColumn("html", col("text"))
    val off = QualityPipeline.run(pages, QualityPipeline.defaultConfig)
    val offRules = off.verdicts.filter(col("rule") === "exact_substr_dup").count()
    off.unpersist()
    assert(offRules == 0L)
    val cfg = QualityPipeline.defaultConfig.copy(
      exactSubstrTokens = 8, maxSubstrDupFrac = 0.5)
    val on = QualityPipeline.run(pages, cfg)
    val flagged = on.verdicts.filter(col("rule") === "exact_substr_dup")
      .select("url").collect().map(_.getString(0)).toSet
    val kept1 = on.kept.filter(col("url") === "http://t/s/1").count()
    on.unpersist()
    // doc 1 (span dominates) drops; doc 2 (span is a small fraction) survives the rule
    assert(flagged.contains("http://t/s/1"), s"got $flagged")
    assert(!flagged.contains("http://t/s/2"), s"got $flagged")
    assert(kept1 == 0L)
  }
}
