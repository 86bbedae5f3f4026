package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{QualityModel, TextFns}
import graft.pipeline.QualityPipeline
import graft.rules.Rules

/** Model-based quality scorer ([[graft.functions.QualityModel]]):
  * transfer onto PagesGen's planted classes (the built-in model never
  * sees PagesGen text — its negatives are the junk FAMILY distributions
  * re-drawn from different seeds), kernel/driver parity, deterministic
  * training, training on a labeled frame's bounded sample, and the
  * pipeline toggle.
  */
class QualityModelSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val clsOf = udf((u: String) =>
    graft.sources.PagesGen.errorClass(u.split("/p/")(1).toLong))

  private lazy val pages =
    graft.sources.PagesGen.generate(spark, 4000, 8).toDF()
      .withColumn("cls", clsOf(col("url")))

  /** Train from a (text, label∈{0,1}) frame on a BOUNDED deterministic
    * sample — content-hash bottom-k (the [[graft.embed.Ann.trainCentroids]]
    * pattern: partition-independent, unbiased by file order, no corpus
    * shuffle), so training cost is independent of corpus size.
    */
  private def fromFrame(df: org.apache.spark.sql.DataFrame, textCol: String,
                        labelCol: String, sampleN: Int, iters: Int): QualityModel.Model = {
    val rows = df
      .select(col(textCol).cast("string").as("__t"), col(labelCol).cast("double").as("__y"))
      .filter(col("__t").isNotNull && col("__y").isNotNull)
      .orderBy(xxhash64(col("__t")), col("__t"), col("__y"))
      .limit(sampleN)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    QualityModel.train(rows.toSeq, iters, lr = 2.0, l2 = 1e-4)
  }

  /** The FineWeb-style "keep the top X% by score" operating point: the
    * (1 − keepRate) quantile of the built-in model's scores, via
    * `percentile_approx` (one pass, mergeable sketch).
    */
  private def thresholdForKeepRate(df: org.apache.spark.sql.DataFrame, textCol: String,
                                   keepRate: Double): Double =
    df.select(percentile_approx(
        QualityModel.scoreColumn(TextFns.normText(col(textCol))),
        lit(1.0 - keepRate), lit(10000)))
      .head().getDouble(0)

  private lazy val scored = pages
    .withColumn("q", QualityModel.scoreColumn(TextFns.normText(col("text"))))
    .select("cls", "q").collect()
    .map(r => (r.getString(0), r.getDouble(1)))

  test("diagnostic: per-class score quantiles") {
    scored.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (cls, xs) =>
      val s = xs.map(_._2).sorted
      def q(p: Double) = s((p * (s.length - 1)).toInt)
      info(f"$cls%-16s n=${s.length}%4d min=${s.head}%.3f p10=${q(0.1)}%.3f med=${q(0.5)}%.3f p90=${q(0.9)}%.3f max=${s.last}%.3f")
    }
    assert(scored.nonEmpty)
  }

  test("transfer: threshold 0.45 separates junk families from keepable text") {
    // classes the bag-of-trigrams model is FOR: character-level junk.
    // (repeated_lines is excluded by design — a mean-pooled bag cannot
    // see repetition; that is the Gopher repetition battery's job.)
    val junk = Set("gibberish", "symbol_junk", "empty")
    val keepable = Set("clean", "pii", "toxic", "bad_lang_label",
      "duplication", "near_dup", "extreme_length")
    val (j, k) = (scored.filter(x => junk(x._1)).map(_._2),
      scored.filter(x => keepable(x._1)).map(_._2))
    assert(j.nonEmpty && k.nonEmpty)
    // measured margins on the built-in model: junk max ≈ 0.245,
    // keepable min ≈ 0.615 — 0.45 sits ±0.17 from both edges
    assert(j.max < 0.45, f"junk max ${j.max}%.3f")
    assert(k.min > 0.45, f"keepable min ${k.min}%.3f")
  }

  test("fused expression == driver-side Model.score (ASCII corpus)") {
    val rows = pages.limit(300)
      .withColumn("q", QualityModel.scoreColumn(TextFns.normText(col("text"))))
      .select("text", "q").collect()
    rows.foreach { r =>
      assert(r.getDouble(1) == QualityModel.Default.score(r.getString(0)))
    }
  }

  test("shingling is CODE-POINT based: surrogate pairs never split") {
    // "a😀b" = 3 code points (4 UTF-16 units) → exactly ONE 3-shingle:
    // the whole string. A code-unit shingler would emit two windows,
    // each splitting the emoji's surrogate pair.
    val s = "a😀b"
    val m = QualityModel.Default
    // hand-derive: bucket = first 60 bits of md5(utf8(s)) % Buckets
    val md = java.security.MessageDigest.getInstance("MD5")
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    (0 until 8).foreach(j => v = (v << 8) | (d(j) & 0xffL))
    val bucket = ((v >>> 4) % QualityModel.Buckets).toInt
    val expected = 1.0 / (1.0 + math.exp(-(m.w(bucket) / 1.0 + m.b)))
    assert(m.score(s) == expected, "driver-side scorer")
    // the fused expression path agrees (non-ASCII branch)
    val got = Seq(s).toDF("t")
      .select(QualityModel.scoreColumn(TextFns.normText(col("t"))).as("r"))
      .head().getDouble(0)
    assert(got == expected, "expression scorer")
    // < 3 code points (but ≥ 3 UTF-16 units) → no windows → sigmoid(b)
    val short = "😀😁" // 2 code points, 4 units
    assert(m.score(short) == 1.0 / (1.0 + math.exp(-m.b)))
  }

  test("training is deterministic: same corpus, same bits") {
    val m1 = QualityModel.train(QualityModel.trainingCorpus())
    val m2 = QualityModel.train(QualityModel.trainingCorpus())
    assert(m1.b == m2.b && m1.w.sameElements(m2.w))
    assert(m1.b == QualityModel.Default.b &&
      m1.w.sameElements(QualityModel.Default.w))
  }

  test("fromFrame: partition-independent sample, learns from labels, transfers") {
    val junk = Set("gibberish", "symbol_junk")
    val labeled = graft.sources.PagesGen.generate(spark, 3000, 8).toDF()
      .withColumn("cls", clsOf(col("url")))
      .filter(col("cls") === "clean" || col("cls").isin(junk.toSeq: _*))
      .withColumn("label", when(col("cls") === "clean", 1.0).otherwise(0.0))
    val mA = fromFrame(labeled.repartition(3), "text", "label",
      sampleN = 1024, iters = 1500)
    val mB = fromFrame(labeled.repartition(7), "text", "label",
      sampleN = 1024, iters = 1500)
    assert(mA.b == mB.b && mA.w.sameElements(mB.w),
      "fromFrame must be partition-independent")
    // held-out transfer: ids 4000..5000 were never in the training frame
    val held = graft.sources.PagesGen.generate(spark, 5000, 8).toDF()
      .filter(col("url").rlike("/p/4[0-9]{3}$"))
      .withColumn("cls", clsOf(col("url")))
      .filter(col("cls") === "clean" || col("cls").isin(junk.toSeq: _*))
      .withColumn("q", QualityModel.scoreColumn(
        TextFns.normText(col("text")), mA))
      .select("cls", "q").collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val c = held.filter(_._1 == "clean").map(_._2)
    val jj = held.filter(_._1 != "clean").map(_._2)
    assert(c.nonEmpty && jj.nonEmpty)
    info(f"held-out: clean min=${c.min}%.3f med=${c.sorted.apply(c.length / 2)}%.3f; " +
      f"junk max=${jj.max}%.3f med=${jj.sorted.apply(jj.length / 2)}%.3f")
    assert(jj.max < c.min,
      f"label-trained model must separate held-out classes (junk max ${jj.max}%.3f vs clean min ${c.min}%.3f)")
  }

  test("thresholdForKeepRate: the calibrated θ keeps ≈ the target rate") {
    val n = pages.count().toDouble
    for (rate <- Seq(0.80, 0.95)) {
      val theta = thresholdForKeepRate(pages, "text", rate)
      val kept = pages
        .withColumn("q", QualityModel.scoreColumn(TextFns.normText(col("text"))))
        .filter(col("q") >= theta).count().toDouble
      info(f"rate=$rate θ=$theta%.4f kept=${kept / n}%.4f")
      assert(math.abs(kept / n - rate) < 0.03,
        f"keepRate $rate calibrated to ${kept / n}%.4f")
    }
  }

  test("modelQualityRule flags exactly the sub-threshold docs") {
    val v = Rules.modelQualityRule(pages, col("url"), col("text"), 0.45)
      .select("url").as[String].collect().toSet
    val expect = pages
      .withColumn("q", QualityModel.scoreColumn(TextFns.normText(col("text"))))
      .filter(col("q") < 0.45).select("url").as[String].collect().toSet
    assert(v == expect && v.nonEmpty)
  }

  test("pipeline toggle: off = no rule; on = junk flagged, kept set unchanged") {
    val p = graft.sources.PagesGen.generate(spark, 2000, 8).toDF()
    val off = QualityPipeline.run(p)
    val offRules = off.verdicts.select("rule").distinct()
      .as[String].collect().toSet
    val offKept = off.kept.select("url").as[String].collect().toSet
    off.unpersist()
    assert(!offRules.contains("model_quality"))
    val on = QualityPipeline.run(p,
      QualityPipeline.defaultConfig.copy(modelQualityMin = Some(0.45)))
    val flagged = on.verdicts.filter(col("rule") === "model_quality")
      .select("url").as[String].collect().toSet
    val onKept = on.kept.select("url").as[String].collect().toSet
    on.unpersist()
    val flaggedCls = flagged.map(u =>
      graft.sources.PagesGen.errorClass(u.split("/p/")(1).toLong))
    assert(flagged.nonEmpty)
    // the model's verdicts land only on genuine drop classes…
    assert(flaggedCls.forall(graft.sources.PagesGen.shouldDrop),
      s"model flagged keep-classes: $flaggedCls")
    // …all already caught by the heuristic battery: the kept set (and so
    // the F1 goldens and scrubbed bytes) is byte-stable under the toggle
    assert(onKept == offKept)
  }
}
