package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, LongType, StringType,
  StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String
import graft.embed.Ann
import graft.functions.{CharLm, Decontam, GramHash, GraftExpr, Hashing, HtmlExtract,
  LangId, LangIdModel, TextFns}
import graft.pipeline.QualityPipeline
import graft.rules.Rules

/** Semantic references of fused kernels and rules: Column-composed
  * chains (interpreted higher-order lambdas per element, codegen fallback
  * for the enclosing stage) and driver-side scorers. Only the specs diff
  * against them, so they live in test scope.
  */
object ComposedRefs {

  /** The composed HOF formulation of [[graft.embed.Ann.cosine]] — the
    * oracle-portable reference (DuckDB's list_cosine_similarity agrees on
    * non-degenerate inputs).
    */
  def cosineComposed(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p.cast(DoubleType) * q.cast(DoubleType)),
        lit(0.0), (acc, v) => acc + v)
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  /** Array of per-table SRP bucket signatures for a vector column — the
    * reference for [[graft.embed.Ann.srpBuckets]] (~tables×nBits×dim
    * interpreted HOF evaluations per vector).
    */
  def srpSignaturesComposed(vec: Column, dim: Int, nBits: Int, tables: Int): Column = {
    val planes = Ann.hyperplanes(dim, nBits, tables)
    array(planes.zipWithIndex.map { case (tbl, t) =>
      val sig = tbl.zipWithIndex.map { case (p, b) =>
        val pl = array(p.map(lit): _*)
        val d = aggregate(zip_with(vec, pl, (x, h) => x.cast(DoubleType) * h),
          lit(0.0), (acc, v) => acc + v)
        when(d >= 0, lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _)
      struct(lit(t).as("table"), sig.as("bucket"))
    }: _*)
  }

  /** Reference for [[graft.functions.LangId.markerLang]] (and the shape
    * the SQL oracle mirrors): per-language marker-hit counts over
    * lowercased tokens, argmax with tie-break on lang asc, all-zero →
    * "und".
    */
  def markerLangComposed(c: Column): Column = {
    val toks = transform(TextFns.tokens(c), t => lower(t))
    val scored = LangId.Markers.toSeq.sortBy(_._1).map { case (l, ws) =>
      val set = array(ws.map(lit): _*)
      (l, size(filter(toks, t => array_contains(set, t))))
    }
    // argmax with deterministic tie-break on lang name asc; all-zero -> "und"
    val best = scored.map { case (l, s) =>
      struct(s.as("hits"), lit(l).as("lang"))
    }.reduceLeft((a, b) =>
      when(b.getField("hits") > a.getField("hits"), b).otherwise(a))
    when(best.getField("hits") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Per-document contamination as a broadcast-join chain: (__k,
    * n_grams, n_contaminated, contam_frac), every document of `df`
    * exactly once (`explode_outer` keeps gram-less docs), `contam_frac`
    * null for a doc with no n-grams. The corpus side hashes its windows
    * with [[GramHash]] over staged tokens; the eval side hashes its gram
    * strings with the xxhash64 built-in, which [[GramHash]] matches
    * bit-for-bit. The reference [[Decontam.hitStats]] is diffed against.
    */
  def contamination(df: DataFrame, key: Column, text: Column,
                    eval: DataFrame, n: Int): DataFrame = {
    val ev = broadcast(eval).select(xxhash64(col("gram")).as("__h"), lit(1).as("__hit"))
    val grams = df
      .select(key.as("__k"), TextFns.tokens(lower(text)).as("__toks"))
      .select(col("__k"), GramHash.gramHashes(col("__toks"), n).as("__hs"))
      .select(col("__k"), size(col("__hs")).as("__n"),
        explode_outer(col("__hs")).as("__h"))
    grams.join(ev, Seq("__h"), "left")
      .groupBy("__k")
      // __n is constant per key; max() just carries it through the agg
      .agg(greatest(max(col("__n")), lit(0)).cast("long").as("n_grams"),
        sum(coalesce(col("__hit"), lit(0))).cast("long").as("n_contaminated"))
      .select(col("__k"), col("n_grams"), col("n_contaminated"),
        Decontam.contamFrac(col("n_contaminated"), col("n_grams")).as("contam_frac"))
  }

  /** The contamination rule over [[contamination]] — the reference the
    * rule's eval-hit kernel is diffed against.
    */
  def contaminationComposed(df: DataFrame, key: Column, text: Column,
                            eval: DataFrame, n: Int, minHits: Long): DataFrame = {
    val c = contamination(df, key, text, eval, n)
    Rules.explodeEntries(c, col("__k"),
      Seq(Rules.contaminationEntry(col("n_grams"), col("n_contaminated"), minHits)))
  }

  private def verdict(df: DataFrame, key: Column, rule: String,
                      score: Column, detail: Column): DataFrame =
    df.select(key.as("url"), lit(rule).as("rule"), lit(false).as("keep"),
      score.cast(DoubleType).as("score"), detail.cast("string").as("detail"))

  /** Pass 2 as five unioned rule branches over one stats row — the
    * reference [[QualityPipeline.pass2]]'s single entry pass is diffed
    * against. The z-score extremes and tendency are narrow filters; the
    * per-class z-score joins grouped exact moments back (mean and sample
    * stddev derived Spark-side); rare combos join a groupBy back.
    */
  def pass2Composed(survivors: DataFrame,
                    cfg: QualityPipeline.Config): DataFrame = {
    val statCols = survivors.select("url", "lang", "n_chars", "n_words", "perplexity")
    def dec(c: Column) = c.cast(DecimalType(38, 10))
    def decSq(c: Column) = c.cast(DecimalType(19, 5)) * c.cast(DecimalType(19, 5))
    val row = statCols.agg(
      count(col("n_chars")).as("nc_n"), countDistinct(col("n_chars")).as("nc_d"),
      sum(dec(col("n_chars"))).as("nc_s"), sum(decSq(col("n_chars"))).as("nc_s2"),
      count(col("n_words")).as("nw_n"), countDistinct(col("n_words")).as("nw_d"),
      sum(dec(col("n_words"))).as("nw_s"), sum(decSq(col("n_words"))).as("nw_s2"),
      sum((col("n_words") < col("n_chars")).cast("long")).as("tend_lt"),
      count(lit(1)).as("total")).head()
    val extremes = Seq("n_chars" -> "nc", "n_words" -> "nw").flatMap { case (c, p) =>
      val n = row.getAs[Long](s"${p}_n")
      val uniq = if (n == 0) 0.0 else row.getAs[Long](s"${p}_d").toDouble / n
      val m = graft.profile.Stats.fromSums(n,
        row.getAs[java.math.BigDecimal](s"${p}_s"),
        row.getAs[java.math.BigDecimal](s"${p}_s2"))
      val x = col(c)
      if (!(uniq > 0.0001 && uniq < 0.99)) None
      else if (m.n < 2 || m.stddevSamp.isNaN || m.stddevSamp == 0.0) None
      else {
        val k = cfg.zScoreK
        val (lo, hi) = (m.mean - k * m.stddevSamp, m.mean + k * m.stddevSamp)
        Some(verdict(statCols.filter(x.isNotNull && !(x > lit(lo) && x < lit(hi))),
          col("url"), s"extreme_$c", abs(x - lit(m.mean)) / lit(m.stddevSamp), x))
      }
    }
    val base = statCols.select(col("url"), col("lang").as("__cls"),
        col("perplexity").as("__x"))
      .filter(col("__x").isNotNull && col("__cls").isNotNull)
    val moments = base.groupBy(col("__cls"))
      .agg(count(lit(1)).as("__n"), sum(dec(col("__x"))).as("__s"),
        sum(decSq(col("__x"))).as("__s2"))
    val (nD, sD) = (col("__n").cast("double"), col("__s").cast("double"))
    val stats = moments
      .withColumn("__m", sD / col("__n"))
      .withColumn("__sd", sqrt(greatest(lit(0.0),
        (col("__s2").cast("double") - sD * sD / nD) / (nD - lit(1.0)))))
      .select("__cls", "__n", "__m", "__sd")
    val k = cfg.groupZK
    val groupZ = verdict(base.join(broadcast(stats), Seq("__cls"))
        .filter(col("__n") >= 2 && col("__sd") > 0 &&
          !(col("__x") > col("__m") - lit(k) * col("__sd") &&
            col("__x") < col("__m") + lit(k) * col("__sd"))),
      col("url"), "group_extreme_perplexity",
      abs(col("__x") - col("__m")) / col("__sd"),
      concat_ws("=", col("__cls"), col("__x").cast("string")))
    val pairs = statCols.select(col("url"), col("lang").as("__c1"),
        regexp_extract(col("url"), "https?://[^/]*?(\\.[a-z]+)(?:[:/]|$)", 1).as("__c2"))
      .filter(col("__c1").isNotNull && col("__c2").isNotNull)
    val rare = pairs.groupBy(col("__c1"), col("__c2")).count()
      .filter(col("count") < cfg.rareComboMin)
    val rareV = verdict(pairs.join(broadcast(rare), Seq("__c1", "__c2")),
      col("url"), "rare_combo_lang_tld", col("count"),
      concat_ws(",", col("__c1"), col("__c2")))
    val total = row.getAs[Long]("total")
    val lt = Option(row.getAs[Any]("tend_lt")).map(_.asInstanceOf[Long]).getOrElse(0L)
    val tend =
      if (total == 0 || lt.toDouble / total <= 0.999) None
      else Some(verdict(statCols.filter(col("n_words").isNotNull &&
          col("n_chars").isNotNull && col("n_words") > col("n_chars")),
        col("url"), "tendency_n_words_n_chars", lit(lt.toDouble / total),
        concat_ws(">", col("n_words"), col("n_chars"))))
    (extremes ++ Seq(groupZ, rareV) ++ tend).reduce(_ unionByName _)
  }

  /** The SimHash rules' bucket resolution as a join chain — the reference
    * [[Rules.nearDupCore]]'s one-exchange bucket walk is diffed against:
    * a bucket-size aggregate joined back and checkpointed, a self-join of
    * the buckets of ≤ maxBucket rows, a min(struct(__url, __sh)) hub
    * joined to every bigger bucket, then the same verify and groupBy.
    */
  def nearDupCoreComposed(ex: DataFrame, dist: (Column, Column) => Column,
                          maxHamming: Int, maxBucket: Int,
                          rule: String): DataFrame = {
    val sizes = ex.groupBy(col("bucket")).agg(count(lit(1)).as("__n"))
    val exS = ex.join(sizes, Seq("bucket")).filter(col("__n") > 1)
      .localCheckpoint(true)
    val small = exS.filter(col("__n") <= maxBucket)
    val pairsSmall = small.as("a").join(small.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.__url") < col("b.__url"))
      .select(col("a.__url").as("__u1"), col("a.__sh").as("__s1"),
        col("b.__url").as("__u2"), col("b.__sh").as("__s2"))
    val big = exS.filter(col("__n") > maxBucket)
    val hubs = big.groupBy(col("bucket"))
      .agg(min(struct(col("__url"), col("__sh"))).as("__h"))
      .select(col("bucket"), col("__h.__url").as("__hub_url"),
        col("__h.__sh").as("__hub_sh"))
    val pairsBig = big.join(hubs, Seq("bucket"))
      .filter(col("__url") =!= col("__hub_url"))
      .select(least(col("__url"), col("__hub_url")).as("__u1"),
        when(col("__url") < col("__hub_url"), col("__sh"))
          .otherwise(col("__hub_sh")).as("__s1"),
        greatest(col("__url"), col("__hub_url")).as("__u2"),
        when(col("__url") < col("__hub_url"), col("__hub_sh"))
          .otherwise(col("__sh")).as("__s2"))
    val flagged = pairsSmall.unionByName(pairsBig)
      .filter(dist(col("__s1"), col("__s2")) <= maxHamming)
      .select(col("__u2").as("__drop"), col("__u1").as("__keep"),
        dist(col("__s1"), col("__s2")).as("__dist"))
      .groupBy(col("__drop"))
      .agg(min(col("__keep")).as("__keep"), min(col("__dist")).as("__dist"))
    verdict(flagged, col("__drop"), rule, col("__dist"), col("__keep"))
  }

  /** Driver-side union-find over a small edge set, parallelized back out
    * as (uid, label) — the reference [[QualityPipeline.connectedMin]] is
    * diffed against (exact on any diameter: no LabelRounds truncation).
    */
  def connectedMinDriver(pairs: DataFrame): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val edges = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
    val find = QualityPipeline.unionFindLocal(edges)
    val nodes = edges.iterator.flatMap { case (a, b) => Iterator(a, b) }.toSet
    // the label is only a component id — the survivor is picked by min
    // URL downstream, so root choice carries no semantics
    val labels = nodes.iterator.map(n => (n, find(n))).toSeq
    spark.createDataset(labels).toDF("uid", "label")
  }

  /** The html extraction as the chain of Spark built-ins
    * (`regexp_replace`/`replace`) over [[HtmlExtract]]'s ordered steps —
    * the semantic reference the DuckDB oracle ([[HtmlExtract.sqlExpr]])
    * mirrors and the differential target of the fused kernel.
    */
  def extractChain(html: Column): Column = {
    var c = html
    HtmlExtract.tagSteps.foreach { case (p, r) => c = regexp_replace(c, p, r) }
    HtmlExtract.entitySteps.foreach { case (a, b) => c = replace(c, lit(a), lit(b)) }
    HtmlExtract.wsSteps.foreach { case (p, r) => c = regexp_replace(c, p, r) }
    c
  }

  /** Whitespace token count: the reference of the fused word counts. */
  def wordCount(c: Column): Column = size(TextFns.tokens(c))

  /** Count of symbol characters (not alnum, not whitespace). */
  def symbolCount(c: Column): Column =
    length(c) - length(regexp_replace(c, "[^A-Za-z0-9\\s]", ""))

  /** Gopher-style symbol-to-char ratio, null-safe on empty text. */
  def symbolRatio(c: Column): Column =
    (symbolCount(c).cast(DoubleType) / nullif(length(c), lit(0))).cast(DoubleType)

  /** Mean token length; null for empty docs. */
  def meanWordLen(c: Column): Column = {
    val toks = TextFns.tokens(c)
    aggregate(toks, lit(0L), (acc, t) => acc + length(t).cast(LongType))
      .cast(DoubleType) / nullif(size(toks), lit(0))
  }

  /** Count of tokens (lowercased) appearing in `words`. */
  def hitsIn(toks: Column, words: Seq[String]): Column = {
    val set = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(set, lower(t))))
  }

  /** Fraction of tokens that are English stopwords (C4/Gopher heuristic). */
  def stopwordRatio(c: Column): Column = {
    val toks = TextFns.tokens(c)
    hitsIn(toks, TextFns.StopwordsEn).cast(DoubleType) / nullif(size(toks), lit(0))
  }

  def toxicityHits(c: Column): Column = hitsIn(TextFns.tokens(c), TextFns.ToxicityLexicon)

  /** Character k-shingles of the (already normalised) string; empty array
    * when the string is shorter than k.
    */
  def charShingles(c: Column, k: Int): Column =
    when(length(c) >= k,
      transform(sequence(lit(1), length(c) - lit(k - 1)),
        i => substr(c, i, lit(k))))
      .otherwise(array().cast("array<string>"))

  /** Perplexity of `text` under the char LM `m`: exp(−mean log P(c | ctx))
    * over the trigrams of the normalised text, add-alpha smoothed.
    * Short/empty text ⇒ 1.0. The reference of the fused DocStats
    * perplexity, which scores under [[CharLm.model]].
    */
  def perplexityUnder(m: CharLm.Model, text: String): Double = {
    val grams = LangIdModel.trigrams(text).toArray
    if (grams.isEmpty) return 1.0
    var logSum = 0.0
    grams.foreach { gram =>
      val c = m.cnt.get(gram)
      val cc = m.ctx.get(gram.substring(0, CharLm.Order - 1))
      val num = (if (c == null) 0.0 else c.doubleValue()) + CharLm.Alpha
      val den = (if (cc == null) 0.0 else cc.doubleValue()) + CharLm.Alpha * m.vocab
      logSum += math.log(num / den)
    }
    math.exp(-logSum / grams.length)
  }

  def perplexity(text: String): Double = perplexityUnder(CharLm.model, text)

  /** [[perplexity]] as a Column (one driver-side scorer call per row) —
    * the reference the fused DocStats perplexity is diffed against.
    */
  def perplexityCol(c: Column): Column =
    GraftExpr.column(CharNgramPerplexity(GraftExpr.expr(c)))

  /** [[LangIdModel]]'s driver-side classifier, the reference the fused
    * DocStats language is diffed against: returns (bestLang,
    * normalizedScore). Score = best mean per-trigram
    * log-likelihood margin over the runner-up (≥ 0; higher = more
    * confident). Empty/too-short text ⇒ ("und", 0.0).
    */
  def classify(text: String): (String, Double) = {
    val m = LangIdModel.model
    val grams = LangIdModel.trigrams(text).toArray
    if (grams.isEmpty) return ("und", 0.0)
    val scores = new Array[Double](m.langs.length)
    var i = 0
    while (i < m.langs.length) {
      val hm = m.logProb(i); val d = m.defaultLogProb(i)
      var s = 0.0; var j = 0
      while (j < grams.length) {
        val v = hm.get(grams(j))
        s += (if (v == null) d else v.doubleValue())
        j += 1
      }
      scores(i) = s / grams.length
      i += 1
    }
    var best = 0; var second = -1
    i = 1
    while (i < scores.length) {
      if (scores(i) > scores(best)) { second = best; best = i }
      else if (second < 0 || scores(i) > scores(second)) second = i
      i += 1
    }
    val margin = if (second < 0) 0.0 else scores(best) - scores(second)
    (m.langs(best), margin)
  }

  /** [[classify]]'s language as a Column (one driver-side
    * classifier call per row) — the reference the fused DocStats
    * language is diffed against.
    */
  def langIdLang(c: Column): Column =
    GraftExpr.column(LangIdExpr(GraftExpr.expr(c))).getField("lang")

  /** Base hash of each array element into [0, P), md5-portable. */
  def baseHashes(items: Column): Column =
    transform(items, s => pmod(TextFns.md5Long(s), lit(Hashing.P)))

  /** MinHash signature (k longs) over an array of string features — the
    * composed reference of [[graft.functions.Md5MinHash]]. Empty input ⇒
    * array of nulls.
    */
  def minHashSig(items: Column, k: Int): Column = {
    val base = baseHashes(items)
    array(Hashing.hashParams(k).map { case (a, b) =>
      array_min(transform(base, h => pmod(lit(a) * h + lit(b), lit(Hashing.P))))
    }: _*)
  }

  /** LSH band keys: the signature split into `bands` rows of
    * `rowsPerBand`, each band hashed to one long key — the composed
    * reference of DocStats's band keys.
    */
  def bandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map { b =>
      val slice_ = slice(sig, b * rowsPerBand + 1, rowsPerBand)
      struct(
        lit(b).as("band"),
        aggregate(slice_, lit(0L),
          (acc, h) => pmod(acc * lit(31L) + coalesce(h, lit(0L)), lit(Hashing.P))).as("key")
      )
    }: _*)

  /** SimHash over an array of string tokens, `bits` wide (≤ 60): bit b
    * is 1 iff at least half the token hashes have bit b set — the
    * composed reference of the fused simhash kernels. Empty input ⇒ 0.
    */
  def simHash(tokens: Column, bits: Int): Column = {
    val hs = transform(tokens, t => TextFns.md5Long(t))
    val n = size(hs)
    val sum = (0 until bits).map { b =>
      val ones = aggregate(hs, lit(0L),
        (acc, h) => acc + shiftright(h, b).bitwiseAND(lit(1L)))
      // votes = ones - (n - ones) >= 0  ⇔  2*ones >= n
      when(lit(2L) * ones >= n.cast(LongType), lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    when(n > 0, sum).otherwise(lit(0L)) // empty input ⇒ 0, not all-ones
  }

  /** Exact moments of one numeric column (nulls excluded): decimal sums,
    * derived by [[graft.profile.Stats.fromSums]] as pass 2 derives them.
    */
  def moments(df: DataFrame, x: Column): graft.profile.Stats.Moments = {
    val row = df.agg(
      count(x).as("n"),
      sum(x.cast(DecimalType(38, 10))).as("s"),
      sum(x.cast(DecimalType(19, 5)) * x.cast(DecimalType(19, 5))).as("s2")
    ).head()
    graft.profile.Stats.fromSums(row.getAs[Long]("n"),
      row.getAs[java.math.BigDecimal]("s"), row.getAs[java.math.BigDecimal]("s2"))
  }
}

/** `char_ngram_perplexity(text)` → double, one [[ComposedRefs.perplexity]] call
  * per row ([[ComposedRefs.perplexityCol]]).
  */
case class CharNgramPerplexity(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = child.nullable
  override def nullSafeEval(input: Any): Any =
    ComposedRefs.perplexity(input.asInstanceOf[UTF8String].toString)
  override protected def withNewChildInternal(newChild: Expression): CharNgramPerplexity =
    copy(child = newChild)
}

/** `lang_id(text)` → struct<lang: string, score: double>, one
  * [[ComposedRefs.classify]] call per row ([[ComposedRefs.langIdLang]]).
  */
case class LangIdExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("score", DoubleType, nullable = false)))
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any = {
    val (lang, score) = ComposedRefs.classify(input.asInstanceOf[UTF8String].toString)
    InternalRow(UTF8String.fromString(lang), score)
  }
  override protected def withNewChildInternal(newChild: Expression): LangIdExpr =
    copy(child = newChild)
}
