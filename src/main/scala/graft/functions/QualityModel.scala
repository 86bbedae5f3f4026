package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, DoubleType}
import org.apache.spark.unsafe.types.UTF8String

/** Model-based quality scoring — the fastText-shaped linear classifier
  * the modern webtext-filter stack puts next to the heuristic batteries
  * (fastText: Joulin et al. 2016 "Bag of Tricks for Efficient Text
  * Classification"; as a pretraining-data quality filter: the CCNet/
  * GPT-3-style reference-vs-crawl classifiers, DCLM (Li et al. 2024)
  * and FineWeb-Edu (Penedo et al. 2024)). The reference engine
  * (/root/reference) has no learned scorer — this is part of the
  * LLM-pipeline surface beyond it.
  *
  * Shape: mean-pooled bag of hashed character 3-grams of the NORMALIZED
  * text (lower, trim, whitespace collapsed — [[TextFns.normText]]) →
  * logistic regression. score = σ(Σ w[h(g)] / nGrams + b) ∈ (0, 1),
  * higher = cleaner. The bucket hash is the portable md5-prefix map
  * (`('0x'||substr(md5(g),1,15))::BIGINT % Buckets` in DuckDB terms),
  * so a trained model renders as BOTH a fused Spark expression and a
  * DuckDB SQL formula with the weights interpolated as a list literal —
  * the `dq_quality_score` oracle checks the two engines bit-for-bit
  * through the md5 → bucket → mean → round(σ, 4) chain.
  *
  * Scale shape: training is DRIVER-side over a BOUNDED sample (a
  * labeled frame's content-hash bottom-k — the IVF-centroid pattern,
  * partition-independent — as QualityModelSpec trains one); the
  * trained weights are ~32 KB that ride inside the expression to every
  * executor; inference is one codegen'd narrow map
  * over the corpus — no shuffle, no UDF, no model server. That is
  * exactly how the published pipelines run their quality models at
  * 10¹²-doc scale: tiny model, embarrassingly parallel scoring.
  *
  * Weights are quantized to 1e-6 after training so the JVM kernel and
  * the SQL literal carry the SAME values exactly.
  */
object QualityModel {

  val Buckets = 4096

  final case class Model(w: Array[Double], b: Double) {
    require(w.length == Buckets, s"weight table must be $Buckets wide")

    /** Score of an ALREADY-normalized string (the kernel's contract —
      * callers on the Spark side stage [[TextFns.normText]]).
      */
    def scoreNormalized(nm: String): Double =
      sigmoid(meanWeight(nm) + b)

    /** Convenience for driver-side use on raw text. */
    def score(text: String): Double = scoreNormalized(normalizeJvm(text))

    private[functions] def meanWeight(nm: String): Double = {
      val offs = cpOffsets(nm)
      val cp = offs.length - 1
      if (cp < 3) return 0.0
      val md = java.security.MessageDigest.getInstance("MD5")
      var sum = 0.0
      var i = 0
      while (i + 3 <= cp) {
        sum += w(md5BucketRange(md, nm, offs(i), offs(i + 3)))
        i += 1
      }
      sum / (cp - 2)
    }
  }

  @inline private def sigmoid(z: Double): Double = 1.0 / (1.0 + math.exp(-z))

  /** JVM twin of [[TextFns.normText]] — exact on ASCII (training corpora
    * here are ASCII; the Spark scoring path normalizes with the Spark
    * built-ins themselves, so cross-engine parity never rests on this).
    */
  def normalizeJvm(text: String): String =
    if (text == null) null
    else text.trim.toLowerCase(java.util.Locale.ROOT).replaceAll("\\s+", " ")

  /** Bucket of the k-char shingle at `off`: first 60 bits of md5 of its
    * UTF-8 bytes, mod Buckets — the [[Md5MinHashExpr]] hash convention,
    * equal to DuckDB `('0x'||substr(md5(s),1,15))::BIGINT % Buckets`.
    */
  private[functions] def md5Bucket(md: java.security.MessageDigest,
                                   s: String, off: Int, k: Int): Int =
    md5BucketRange(md, s, off, off + k)

  /** Bucket of the shingle spanning chars [from, until). Callers pass
    * CODE-POINT window boundaries ([[cpOffsets]]) so the shingle set
    * matches the DuckDB twin's substr semantics — iterating UTF-16
    * units would split surrogate pairs on non-BMP text (round-6 review
    * finding; ASCII/BMP behavior identical).
    */
  private[functions] def md5BucketRange(md: java.security.MessageDigest,
                                        s: String, from: Int, until: Int): Int = {
    md.reset()
    md.update(s.substring(from, until)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val d = md.digest()
    var v = 0L
    var b = 0
    while (b < 8) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
    ((v >>> 4) % Buckets).toInt
  }

  /** Code-point start offsets of s plus the end offset — window i of 3
    * code points spans [offs(i), offs(i+3)).
    */
  private[functions] def cpOffsets(s: String): Array[Int] = {
    val n = s.length
    val offs = new Array[Int](s.codePointCount(0, n) + 1)
    var i = 0
    var k = 0
    while (i < n) {
      offs(k) = i
      k += 1
      i += (if (Character.isHighSurrogate(s.charAt(i)) && i + 1 < n &&
                Character.isLowSurrogate(s.charAt(i + 1))) 2 else 1)
    }
    offs(k) = n
    offs
  }

  // =====================================================================
  // Training — deterministic full-batch logistic regression
  // =====================================================================

  /** Full-batch gradient descent on log loss + L2. Deterministic: fixed
    * iteration count, fixed order, pure double math — the same samples
    * produce the same model on every JVM. Cost is samples × grams ×
    * iters driver-side flops (< 1 s at the 4k-sample bound); weights
    * are quantized to 1e-6 so the model renders identically into the
    * JVM kernel and the SQL literal.
    */
  def train(samples: Seq[(String, Double)], iters: Int = 3000,
            lr: Double = 8.0, l2: Double = 1e-6): Model = {
    require(samples.nonEmpty, "empty training set")
    val md = java.security.MessageDigest.getInstance("MD5")
    // pre-hash every sample once: (bucket list, label)
    val feats = samples.map { case (text, y) =>
      val nm = normalizeJvm(if (text == null) "" else text)
      val offs = cpOffsets(nm)
      val cp = offs.length - 1
      val bs = if (cp < 3) Array.empty[Int]
      else Array.tabulate(cp - 2)(i =>
        md5BucketRange(md, nm, offs(i), offs(i + 3)))
      (bs, y)
    }
    val nS = feats.length
    // class-balanced log loss: a production frame is heavily imbalanced
    // (a mostly-clean crawl sample), and unweighted GD then converges to
    // "predict the majority" with a hairline margin — weight each class
    // by nS / (2 · classN) so both classes pull equally regardless of mix
    val nPos = feats.count(_._2 >= 0.5)
    val nNeg = nS - nPos
    val wPos = if (nPos == 0) 1.0 else nS / (2.0 * nPos)
    val wNeg = if (nNeg == 0) 1.0 else nS / (2.0 * nNeg)
    val w = new Array[Double](Buckets)
    var b = 0.0
    var it = 0
    while (it < iters) {
      val gw = new Array[Double](Buckets)
      var gb = 0.0
      feats.foreach { case (bs, y) =>
        val inv = if (bs.length == 0) 0.0 else 1.0 / bs.length
        var z = b
        var i = 0
        while (i < bs.length) { z += w(bs(i)) * inv; i += 1 }
        val e = (sigmoid(z) - y) * (if (y >= 0.5) wPos else wNeg)
        gb += e
        i = 0
        while (i < bs.length) { gw(bs(i)) += e * inv; i += 1 }
      }
      var j = 0
      while (j < Buckets) {
        w(j) -= lr * (gw(j) / nS + l2 * w(j))
        j += 1
      }
      b -= lr * gb / nS
      it += 1
    }
    var j = 0
    while (j < Buckets) { w(j) = quant(w(j)); j += 1 }
    Model(w, quant(b))
  }

  private def quant(x: Double): Double = math.rint(x * 1e6) / 1e6

  // =====================================================================
  // Built-in model — trained at class load from a deterministic in-JVM
  // corpus (no Spark, no IO): positives from the langid seed corpus +
  // vocab word salads (what clean pages look like), negatives from the
  // junk families a crawl actually contains (uniform gibberish, symbol
  // runs, single-token spam, consonant mash, menu-chrome stubs). The
  // families are the PagesGen error-class DISTRIBUTIONS re-drawn from a
  // different seed — the spec measures transfer onto PagesGen's planted
  // classes, not memorization.
  // =====================================================================

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private final class Rng(seed: Long) {
    private var s = mix(seed)
    def nextLong(): Long = { s = mix(s); s }
    def nextInt(bound: Int): Int = math.floorMod(nextLong(), bound.toLong).toInt
  }

  private[graft] def trainingCorpus(): Seq[(String, Double)] = {
    val out = Seq.newBuilder[(String, Double)]
    val vocabs = LangIdModel.SeedCorpus.toSeq.sortBy(_._1)
      .map { case (l, t) => l -> t.split("\\s+").filter(_.nonEmpty) }
    // positives: sliding windows over the seed corpora…
    vocabs.foreach { case (_, toks) =>
      var i = 0
      while (i + 18 <= toks.length) {
        out += ((toks.slice(i, i + 18).mkString(" "), 1.0))
        i += 9
      }
    }
    // …plus vocab word salads (the clean-page generator's distribution)
    vocabs.zipWithIndex.foreach { case ((_, v), li) =>
      for (d <- 0 until 8) {
        val r = new Rng(li * 1000003L + d * 7919L + 11)
        out += ((Seq.fill(40)(v(r.nextInt(v.length))).mkString(" "), 1.0))
      }
    }
    // negatives
    val allVocab = vocabs.flatMap(_._2).toArray
    val symbols = "#$%&*@!^~<>+=|/".toCharArray
    val consonants = "bcdfghjklmnpqrstvwxz".toCharArray
    for (d <- 0 until 60) { // uniform letter gibberish, space ~1/7
      val r = new Rng(900000L + d)
      val sb = new StringBuilder(220)
      var i = 0
      while (i < 200) {
        sb.append(('a' + r.nextInt(26)).toChar)
        if (r.nextInt(7) == 0) sb.append(' ')
        i += 1
      }
      out += ((sb.toString, 0.0))
    }
    for (d <- 0 until 40) { // symbol runs
      val r = new Rng(910000L + d)
      val toks = Seq.fill(30)(
        (0 until (3 + r.nextInt(6))).map(_ => symbols(r.nextInt(symbols.length))).mkString)
      out += ((toks.mkString(" "), 0.0))
    }
    for (d <- 0 until 40) { // single-token spam
      val r = new Rng(920000L + d)
      val wd = allVocab(r.nextInt(allVocab.length))
      out += ((Seq.fill(25)(wd).mkString(" "), 0.0))
    }
    for (d <- 0 until 40) { // consonant mash
      val r = new Rng(930000L + d)
      val toks = Seq.fill(25)(
        (0 until (4 + r.nextInt(5))).map(_ => consonants(r.nextInt(consonants.length))).mkString)
      out += ((toks.mkString(" "), 0.0))
    }
    for (d <- 0 until 20) { // menu-chrome stubs
      val r = new Rng(940000L + d)
      val menu = Array("home", "about", "contact", "login", "register",
        "privacy", "terms", "sitemap", "faq", "search")
      out += ((Seq.fill(4 + r.nextInt(4))(menu(r.nextInt(menu.length)))
        .mkString(" | "), 0.0))
    }
    out.result()
  }

  /** The built-in model (deterministic — same bits on every JVM). */
  lazy val Default: Model = train(trainingCorpus())

  // =====================================================================
  // Spark surface
  // =====================================================================

  /** Quality score of an ALREADY-normalized text column (stage
    * [[TextFns.normText]] first — keeps normalization Spark-native and
    * oracle-proven). Null text ⇒ null score.
    */
  def scoreColumn(normText: Column, m: Model = Default): Column =
    GraftExpr.column(QualityScoreExpr(GraftExpr.expr(normText), m.w, m.b))

  /** Static kernel (called from interpreted eval and generated code).
    * ASCII fast path: one UTF-8 materialization per row and
    * `md.update(bytes, i, 3)` per shingle — no substring/getBytes
    * allocation pair per window (the [[Md5MinHashExpr]] pattern;
    * measured ~2× on the pipeline's model_quality battery).
    */
  def scoreEval(nm: UTF8String, w: Array[Double], b: Double): Double = {
    val s = nm.toString
    val n = s.length
    val ascii = {
      var i = 0; var ok = true
      while (i < n && ok) { if (s.charAt(i) >= 0x80) ok = false; i += 1 }
      ok
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    if (ascii) {
      // byte fast path: ASCII chars are their own code points
      if (n < 3) return sigmoid(b)
      val allBytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var sum = 0.0
      var i = 0
      while (i + 3 <= n) {
        md.reset()
        md.update(allBytes, i, 3)
        val d = md.digest()
        var v = 0L
        var j = 0
        while (j < 8) { v = (v << 8) | (d(j) & 0xffL); j += 1 }
        sum += w(((v >>> 4) % Buckets).toInt)
        i += 1
      }
      sigmoid(sum / (n - 2) + b)
    } else {
      // code-point windows — matches the training shingler and the
      // DuckDB twin's substr semantics on non-BMP text
      val offs = cpOffsets(s)
      val cp = offs.length - 1
      if (cp < 3) return sigmoid(b)
      var sum = 0.0
      var i = 0
      while (i + 3 <= cp) {
        sum += w(md5BucketRange(md, s, offs(i), offs(i + 3)))
        i += 1
      }
      sigmoid(sum / (cp - 2) + b)
    }
  }
}

/** Fused quality-score expression: one pass over the normalized string —
  * md5-bucket every char trigram, mean the weights, sigmoid. The weight
  * table rides in the expression (addReferenceObj in codegen), the same
  * pattern as [[graft.embed.SrpBucketsExpr]]'s hyperplanes.
  */
case class QualityScoreExpr(child: Expression, w: Array[Double], b: Double)
    extends UnaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    QualityModel.scoreEval(input.asInstanceOf[UTF8String], w, b)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val wRef = ctx.addReferenceObj("qualityW", w, "double[]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.QualityModel.scoreEval($c, $wRef, ${b}D);")
  }

  override protected def withNewChildInternal(newChild: Expression): QualityScoreExpr =
    copy(child = newChild)
}
