package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{DocStats, TextFns}
import graft.sources.PagesGen

/** Cross-validates the fused DocStats expression against the composed
  * reference implementations ([[ComposedRefs]]) field by field — the
  * fused path must be a pure optimisation, never a semantic fork — and
  * pins every field of a few documents to fixed values.
  */
class DocStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val texts = Seq(
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

  /** Hostile inputs (ROADMAP aim 3): invalid UTF-8 (a lone 0xFF, a
    * truncated 0xC3), a line of `\x0B\f\r` only, and a ~1 MB document.
    */
  private val hostile: Seq[Array[Byte]] = Seq(
    Array(0xff.toByte),
    "caf".getBytes("UTF-8") :+ 0xc3.toByte,
    "one\n\u000B\f\r\ntwo".getBytes("UTF-8"),
    {
      val sb = new StringBuilder
      var id = 0L
      while (sb.length < (1 << 20)) { sb ++= PagesGen.genRow(id).text += '\n'; id += 1 }
      sb.toString.getBytes("UTF-8")
    })

  /** Every sample as UTF-8 bytes, cast to a string column as a binary
    * source column would be: invalid UTF-8 reaches the kernel as is.
    */
  private val bytes: Seq[Array[Byte]] = texts.map(_.getBytes("UTF-8")) ++ hostile
  /** What the driver-side references see: Java's decoding of the bytes. */
  private val samples: Seq[String] =
    bytes.map(b => new String(b, java.nio.charset.StandardCharsets.UTF_8))
  private def frame = bytes.toDF("b").select(col("b").cast("string").as("t"))

  private lazy val fused = frame
    .select(DocStats.docStats(col("t"), 8).as("d")).collect()

  private lazy val reference = {
    val t = col("t")
    val toks = col("__toks")
    frame
      .withColumn("__norm", TextFns.normText(t))
      .withColumn("__toks", TextFns.tokens(col("__norm")))
      .select(
        coalesce(length(t), lit(0)).as("n_chars"),
        size(toks).as("n_words"),
        (aggregate(toks, lit(0L), (a, x) => a + length(x).cast("long"))
          .cast("double") / nullif(size(toks), lit(0))).as("mwl"),
        ComposedRefs.symbolRatio(t).as("sym"),
        (ComposedRefs.hitsIn(toks, TextFns.StopwordsEn).cast("double") /
          nullif(size(toks), lit(0))).as("stop"),
        ComposedRefs.hitsIn(toks, TextFns.ToxicityLexicon).as("tox"))
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
      assert(math.abs(d.getAs[Double]("perplexity") - ComposedRefs.perplexity(s)) < 1e-9,
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
    val df = frame.filter(length(col("t")) > 0)
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

  /** All 18 fields of six documents, pinned to the values of the kernel
    * that still had a separate byte walk for ASCII documents (minHashK 8,
    * so 2 bands of 4 rows; wide SimHash on): two PagesGen rows, ASCII with
    * controls and a repeated line, accented Latin-1, emoji (surrogate
    * pairs) and the empty document. Any drift of a hash, a count or a
    * model score shows here.
    */
  private val pinned: Seq[(String, String)] = Seq(
    PagesGen.genRow(3L).text ->
      """{"n_chars":17740,"n_words":3000,"mean_word_len":4.913666666666667,"symbol_ratio":0.0,"stopword_ratio":0.07433333333333333,"toxicity_hits":0,"n_lines":231,"n_distinct_lines":231,"dup_line_ratio":0.0,"lang":"en","lang_score":0.8444226974967314,"perplexity":8.747153070028446,"fingerprint":-2162257307456334726,"simhash":1041911638135267661,"minhash_sig":[587923,310863,11407,108409,168717,1337726,2639413,267105],"band_keys":[634146286,2098924447],"simhash_hi":8627191886108428449,"simhash_lo":-3569774380292120243}""",
    PagesGen.genRow(8L).text ->
      """{"n_chars":1550,"n_words":256,"mean_word_len":5.05859375,"symbol_ratio":0.0,"stopword_ratio":0.08203125,"toxicity_hits":0,"n_lines":20,"n_distinct_lines":20,"dup_line_ratio":0.0,"lang":"en","lang_score":0.8515207434809485,"perplexity":8.482859280374123,"fingerprint":-4606486784417577426,"simhash":1113965521052951245,"minhash_sig":[16034336,1257657,607842,45981,14625801,2584601,22112146,6008105],"band_keys":[17547955,805859795],"simhash_hi":6138670479111620772,"simhash_lo":-1191877488160742707}""",
    "Hello\u0000 World\u007f THE end\nrepeat me\nrepeat me\u000b\nrepeat me\r\nrepeat me\n  \n\tdamn idiot of the\f" ->
      """{"n_chars":86,"n_words":16,"mean_word_len":4.0,"symbol_ratio":0.023255813953488372,"stopword_ratio":0.1875,"toxicity_hits":2,"n_lines":6,"n_distinct_lines":5,"dup_line_ratio":0.16666666666666663,"lang":"en","lang_score":0.26433967615102794,"perplexity":22.8011643569198,"fingerprint":5581476276821556463,"simhash":196285937671491630,"minhash_sig":[157727055,94372362,59784088,195359841,167572231,15872605,217319812,136772828],"band_keys":[551185499,2044762028],"simhash_hi":-433596947622566813,"simhash_lo":4807971956098879534}""",
    "Café naïve résumé über señor straße\nÀ LA CARTE été Ÿ ÿ" ->
      """{"n_chars":54,"n_words":12,"mean_word_len":3.5833333333333335,"symbol_ratio":0.2222222222222222,"stopword_ratio":0.0,"toxicity_hits":0,"n_lines":2,"n_distinct_lines":2,"dup_line_ratio":0.0,"lang":"pt","lang_score":0.0777281431051401,"perplexity":27.367868869071305,"fingerprint":635413633645139737,"simhash":1116042083128486910,"minhash_sig":[58627181,104173785,188930345,177161711,572946252,241410685,73272025,702238277],"band_keys":[1576455248,1335388790],"simhash_hi":-9080734661554572333,"simhash_lo":-5801486944512594946}""",
    "emoji 🙂 mixed 🚀 content 🚀\n😀😀 here" ->
      """{"n_chars":33,"n_words":8,"mean_word_len":3.25,"symbol_ratio":0.15151515151515152,"stopword_ratio":0.0,"toxicity_hits":0,"n_lines":2,"n_distinct_lines":2,"dup_line_ratio":0.0,"lang":"fr","lang_score":0.06977419058481853,"perplexity":26.201771887197,"fingerprint":4016247517072897616,"simhash":571921462103564120,"minhash_sig":[319544603,357769286,177468574,102986070,844441358,453273205,31163047,125244704],"band_keys":[1286705718,1876724045],"simhash_hi":-186901465512553481,"simhash_lo":-1733921547110129832}""",
    "" ->
      """{"n_chars":0,"n_words":0,"toxicity_hits":0,"n_lines":0,"n_distinct_lines":0,"dup_line_ratio":0.0,"lang":"und","lang_score":0.0,"perplexity":1.0,"fingerprint":-3750763034362895579,"simhash":0,"minhash_sig":[null,null,null,null,null,null,null,null],"band_keys":[0,0],"simhash_hi":0,"simhash_lo":0}""")

  test("all 18 fields are pinned on six documents") {
    val got = pinned.map(_._1).toDF("t")
      .select(to_json(DocStats.docStats(col("t"), 8, wideSimHash = true)))
      .collect().map(_.getString(0))
    assert(got.length == pinned.length)
    pinned.zip(got).foreach { case ((doc, want), g) =>
      assert(g == want, s"doc '${doc.take(40)}'")
    }
    assert(DocStats.schema.fieldNames.forall(f => pinned(0)._2.contains(s"\"$f\":")))
  }
}
