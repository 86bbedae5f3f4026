package graft.functions

/** KenLM-style per-document perplexity from a character n-gram LM.
  *
  * Reimagines the reference's outlier scoring (`/root/reference/src/
  * improve_data_quality.py:482-528`, LOF) and z-score extremes
  * (`src/utils.py:190-232`) as a per-document language-model score: a
  * document whose character distribution is far from the corpus model
  * (gibberish, binary junk, boilerplate soup) gets high perplexity and is
  * dropped by a threshold rule. Unlike LOF (kNN over all rows — not
  * distributable), the LM score is embarrassingly parallel: the model is
  * small and identical on every JVM (built from the embedded seed corpus,
  * like [[LangIdModel]]), so scoring is a narrow map with zero shuffle —
  * the only shape that works at 10¹² documents.
  *
  * Model: order-3 char LM, add-alpha smoothing, trained on the combined
  * LangIdModel seed corpus. Deterministic by construction.
  */
object CharLm {
  val Order = 3
  val Alpha = 0.1

  final case class Model(ctx: java.util.HashMap[String, java.lang.Double], // context -> total+αV
                         cnt: java.util.HashMap[String, java.lang.Double], // context+char -> count+α
                         vocab: Double)

  lazy val model: Model = fromText(LangIdModel.SeedCorpus.toSeq)

  /** Build the LM from (lang, text) pairs: sort by lang, join with " ",
    * normalize, count order-3 grams, vocab = distinct final chars + 1.
    * LangIdSpec pins that a different corpus gives a different model.
    */
  def fromText(pairs: Seq[(String, String)]): Model = {
    val corpus = pairs.sortBy(_._1).map(_._2).mkString(" ")
    val n = TextNorm.norm(corpus)
    val ctxCount = new java.util.HashMap[String, java.lang.Double]()
    val gramCount = new java.util.HashMap[String, java.lang.Double]()
    val chars = scala.collection.mutable.HashSet[Char]()
    var i = 0
    while (i + Order <= n.length) {
      val ctx = n.substring(i, i + Order - 1)
      val gram = n.substring(i, i + Order)
      ctxCount.merge(ctx, 1.0, (a, b) => a + b)
      gramCount.merge(gram, 1.0, (a, b) => a + b)
      chars += n.charAt(i + Order - 1)
      i += 1
    }
    Model(ctxCount, gramCount, chars.size.toDouble + 1.0)
  }

  /** Hash-keyed LOG-prob defaults for the zero-allocation scorer
    * ([[DocStats]]): `math.log` per trigram was ~1500 log() calls per
    * document — precomputing the per-context unseen-gram default and the
    * global default (seen grams' log P(c|ctx) live in DocStats's merged
    * gram table) removes every log from the hot loop. Values are built
    * with the IDENTICAL expression the reference path uses, so the
    * summed doubles match bit-for-bit.
    */
  lazy val fastCtxDefaultLogProb: LongDoubleMap = {
    val t = new LongDoubleMap(model.ctx.size() + 1)
    model.ctx.forEach { (g, c) =>
      t.put(DocStats.fnv1a(g),
        math.log(Alpha / (c + Alpha * model.vocab)))
    }
    t
  }
  lazy val globalDefaultLogProb: Double =
    math.log(Alpha / (Alpha * model.vocab))
}
