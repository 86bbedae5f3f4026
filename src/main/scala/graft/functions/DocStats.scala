package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** THE fused per-document scorer (SURVEY §4.2 "fused per-doc scorer"):
  * one custom Catalyst expression computing every per-doc feature —
  * counts, ratios, langid, perplexity, fingerprint, MinHash signature —
  * in a single tight JVM pass over the text.
  *
  * Why not compose built-ins: higher-order array functions
  * (`transform`/`filter`/`aggregate`) are interpreted per element in
  * Spark (no codegen), and every Column subtree inside a lambda
  * re-evaluates per element. The composed version measured ~16 ms/doc;
  * this expression does the same work in ~10 µs/doc — the difference
  * between 2k docs/sec and 100k+ docs/sec per core, which at 10¹² docs
  * is the difference between a feasible job and an impossible one.
  *
  * One walk for every document: [[compute]] reads the UTF-16 code units
  * of `UTF8String.toString`, whatever the script, and takes counts,
  * lines, the normalised text, the fingerprint and the token hashes in
  * one pass. A second walk over the UTF-8 bytes of pure-ASCII documents
  * used to sit beside it. The two gave equal outputs on all 18 fields of
  * 142,032 rows (a 10k-page PagesGen window, the sf0.01 and sf0.1
  * documents, 20k random strings with ASCII controls, Latin-1, BMP,
  * surrogate pairs and invalid UTF-8; minHashK 32 and 0, wide on and
  * off). On one JVM (PagesGen pages, 4-vCPU VM, medians of 11
  * interleaved reps) this walk, `toString` included, cost 77 µs/doc
  * against the byte walk's 91 (full kernel, 1 thread), 81 vs 94 (full,
  * 4 threads), 59 vs 71 and 63 vs 76 (lite, k = 0). The byte walk won
  * no regime, so it is gone.
  *
  * Unicode semantics: `n_chars`, `symbol_ratio` and `mean_word_len`
  * count CODE POINTS, matching Spark's `length()`/regex semantics.
  * Lowercasing is per-code-unit `Character.toLowerCase` —
  * locale-independent, but it diverges from full-string lowercase for the
  * handful of chars with 1→N lowercase mappings (e.g. U+0130); those feed
  * only engine-internal hashes (fingerprint/langid/minhash), never the
  * SQL-oracle surface.
  *
  * The composed Column equivalents (test scope, over [[TextFns]] tokens)
  * remain the semantic reference; DocStatsSpec cross-validates the two
  * field by field, including non-ASCII and invalid UTF-8 inputs, and pins
  * every field of six documents.
  *
  * Hash notes: all hashes here (FNV-1a 64) are engine-internal — used
  * only for dedup bucketing within a run — so they need determinism, not
  * SQL portability (the portable md5 path lives in TextFns.md5Long).
  */
object DocStats {

  val schema: StructType = StructType(Seq(
    StructField("n_chars", IntegerType, nullable = false),
    StructField("n_words", IntegerType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = true),
    StructField("symbol_ratio", DoubleType, nullable = true),
    StructField("stopword_ratio", DoubleType, nullable = true),
    StructField("toxicity_hits", IntegerType, nullable = false),
    StructField("n_lines", IntegerType, nullable = false),
    StructField("n_distinct_lines", IntegerType, nullable = false),
    StructField("dup_line_ratio", DoubleType, nullable = false),
    StructField("lang", StringType, nullable = false),
    StructField("lang_score", DoubleType, nullable = false),
    StructField("perplexity", DoubleType, nullable = false),
    StructField("fingerprint", LongType, nullable = false),
    StructField("simhash", LongType, nullable = false),
    StructField("minhash_sig", ArrayType(LongType, containsNull = true), nullable = false),
    StructField("band_keys", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("simhash_hi", LongType, nullable = false),
    StructField("simhash_lo", LongType, nullable = false)
  ))

  val ShingleSize = 5

  // \s of Java regex: [ \t\n\x0B\f\r] — keep EXACTLY in sync with
  // TextFns.tokens (cross-validated in DocStatsSpec)
  @inline private def isWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'
  @inline private def isAlnum(c: Int): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  private val FnvBasis = 0xcbf29ce484222325L
  private val FnvPrime = 0x100000001b3L

  /** FNV-1a 64 over the UTF-16 code units `s(from until until)`. */
  @inline private def fnv1a(s: Array[Char], from: Int, until: Int): Long = {
    var h = FnvBasis
    var i = from
    while (i < until) { h ^= s(i); h *= FnvPrime; i += 1 }
    h
  }

  /** FNV-1a 64 of a whole string: the key of every gram and word table
    * the kernel probes.
    */
  def fnv1a(s: String): Long = fnv1a(s.toCharArray, 0, s.length)

  final case class Result(
      nChars: Int, nWords: Int, meanWordLen: java.lang.Double,
      symbolRatio: java.lang.Double, stopwordRatio: java.lang.Double,
      toxicityHits: Int, nLines: Int, nDistinctLines: Int,
      dupLineRatio: Double, lang: String, langScore: Double,
      perplexity: Double, fingerprint: Long, simhash: Long,
      minhash: Array[java.lang.Long],
      simhashHi: Long = 0L, simhashLo: Long = 0L) {
    /** LSH band keys over the signature — same formula as the composed
      * band-key reference in test scope (pmod rolling hash of each row
      * group), but computed in a tight loop. The composed slice+aggregate HOFs are
      * interpreted PER ELEMENT per band and measured ~190 s CPU at 300k
      * docs — the single hottest non-kernel cost in the pipeline.
      */
    def bandKeysOf(bands0: Int, rowsPerBand: Int): Array[Any] = {
      // never index past the signature (tests run narrow k for speed)
      val bands = math.min(bands0, minhash.length / rowsPerBand)
      val out = new Array[Any](bands)
      var b = 0
      while (b < bands) {
        var acc = 0L
        var r = 0
        while (r < rowsPerBand) {
          val h = minhash(b * rowsPerBand + r)
          val hv = if (h == null) 0L else h.longValue()
          acc = java.lang.Math.floorMod(acc * 31L + hv, Hashing.P)
          r += 1
        }
        out(b) = acc
        b += 1
      }
      out
    }
  }

  // token membership by sorted-hash binary search: zero-alloc lookups
  private val stopHashes: Array[Long] =
    TextFns.StopwordsEn.map(w => fnv1a(w)).sorted.toArray
  private val toxHashes: Array[Long] =
    TextFns.ToxicityLexicon.map(w => fnv1a(w)).sorted.toArray

  /** One-probe fused score table: trigram FNV → (logprob per language,
    * LM logprob). The split per-language tables + LM map cost ~6 random
    * memory probes per gram × ~1,300 grams/doc — the dominant kernel
    * cost; this pays ONE. A language missing a gram stores that
    * language's DEFAULT in its cell (no per-lang branch on the hit
    * path); a +1.0 sentinel in the LM cell routes to the
    * context-fallback (real logprobs are strictly negative). Cell values
    * are the IDENTICAL doubles the split tables hold — scores match
    * bit-for-bit (DocStatsSpec cross-validates against the String-keyed
    * reference models).
    */
  private lazy val fusedTable: LongPackedMap = {
    val lidM = LangIdModel.model
    val nLangs = lidM.langs.length
    val grams = scala.collection.mutable.HashSet[String]()
    lidM.logProb.foreach(hm => hm.keySet().forEach(g => grams += g))
    CharLm.model.cnt.keySet().forEach(g => grams += g)
    // packed rows: 9 float32 lang scores (2/long) + 1 double LM log-prob
    // = 48 B/row vs the previous 80 — the model quantizes lang scores to
    // float32 at build ([[LangIdModel.model]]), so packing is LOSSLESS
    // and the unpacked sums are bit-identical to the all-double table
    val t = new LongPackedMap(grams.size, nLangs)
    grams.foreach { g =>
      val off = t.slotFor(fnv1a(g))
      var l = 0
      while (l < nLangs) {
        val v = lidM.logProb(l).get(g)
        t.putFloat(off, l,
          (if (v == null) lidM.defaultLogProb(l) else v.doubleValue()).toFloat)
        l += 1
      }
      val c = CharLm.model.cnt.get(g)
      t.putDouble(off,
        if (c == null) 1.0
        else {
          // same expression as the perplexity reference — identical doubles
          val ctx = g.substring(0, CharLm.Order - 1)
          val cc = CharLm.model.ctx.get(ctx)
          val den = (if (cc == null) 0.0 else cc.doubleValue()) +
            CharLm.Alpha * CharLm.model.vocab
          math.log((c.doubleValue() + CharLm.Alpha) / den)
        })
    }
    t
  }

  /** The kernel: ONE walk over the UTF-16 code units of `text` computes
    * the code-point counts, the line set, the normalised text, the
    * fingerprint and the token hashes; a second loop over the normalised
    * text scores its trigrams. Every document takes this walk — see the
    * cost note in the object scaladoc.
    */
  def compute(text: String, minHashK: Int, wide: Boolean = false): Result = {
    val t = text.toCharArray
    val n = t.length
    var nChars = 0; var symbols = 0
    // lines: FNV of each line's raw chars; a line of spaces only is
    // blank (Spark trim strips ' ' only, so a tab-only line is NOT blank)
    var nLines = 0; var nDistinct = 0
    val lineHashes = new java.util.HashSet[java.lang.Long]()
    var lineHash = FnvBasis; var blank = true
    // normalised text (lowercase, \s+ → single space, trimmed) + its FNV
    val norm = new Array[Char](n)
    var m = 0
    var fingerprint = FnvBasis
    // tokens = the non-whitespace runs of the normalised text
    var nWords = 0; var sumLen = 0L; var stopHits = 0; var toxHits = 0
    var toks = new Array[Long](64); var nTok = 0
    var inTok = false; var tokHash = FnvBasis
    var tokCp = 0 // code points in the current token
    def endToken(): Unit = {
      nWords += 1
      sumLen += tokCp
      if (java.util.Arrays.binarySearch(stopHashes, tokHash) >= 0) stopHits += 1
      if (java.util.Arrays.binarySearch(toxHashes, tokHash) >= 0) toxHits += 1
      if (nTok == toks.length) toks = java.util.Arrays.copyOf(toks, 2 * nTok)
      toks(nTok) = tokHash; nTok += 1
      inTok = false; tokHash = FnvBasis; tokCp = 0
    }
    def endLine(): Unit = {
      if (!blank) {
        nLines += 1
        if (lineHashes.add(lineHash)) nDistinct += 1
      }
      lineHash = FnvBasis; blank = true
    }
    var i = 0
    while (i < n) {
      val c = t(i)
      if (c == '\n') endLine()
      else {
        lineHash = (lineHash ^ c) * FnvPrime
        if (c != ' ') blank = false
      }
      if (isWs(c)) {
        nChars += 1
        if (inTok) endToken()
      } else {
        // a low surrogate is the second half of an already-counted code
        // point; a surrogate pair is never alnum/ws → one symbol
        if (!Character.isLowSurrogate(c)) {
          nChars += 1
          if (!isAlnum(c)) symbols += 1
        }
        if (!inTok && m > 0) {
          norm(m) = ' '; m += 1
          fingerprint = (fingerprint ^ ' ') * FnvPrime
        }
        inTok = true
        val lc = Character.toLowerCase(c)
        norm(m) = lc; m += 1
        fingerprint = (fingerprint ^ lc) * FnvPrime
        tokHash = (tokHash ^ lc) * FnvPrime
        if (!Character.isLowSurrogate(lc)) tokCp += 1
      }
      i += 1
    }
    endLine()
    if (inTok) endToken()
    val dupLineRatio = if (nLines > 0) 1.0 - nDistinct.toDouble / nLines else 0.0

    // --- langid + perplexity over norm trigrams: ONE probe per gram ---
    val fused = fusedTable
    val fvals = fused.values
    val lid = LangIdModel.model
    val dflts = lid.defaultLogProb
    val lmCtxDflt = CharLm.fastCtxDefaultLogProb
    val lmGlobalDflt = CharLm.globalDefaultLogProb
    val nLangs = dflts.length
    val lidScores = new Array[Double](nLangs)
    var lmLogSum = 0.0
    var grams = 0
    i = 0
    while (i + 3 <= m) {
      val off = fused.find(fnv1a(norm, i, i + 3))
      var lp = 1.0
      if (off >= 0) {
        var l = 0
        while (l + 1 < nLangs) {
          val bits = fvals(off + (l >> 1))
          lidScores(l) += java.lang.Float.intBitsToFloat(bits.toInt)
          lidScores(l + 1) += java.lang.Float.intBitsToFloat((bits >>> 32).toInt)
          l += 2
        }
        if (l < nLangs)
          lidScores(l) += java.lang.Float.intBitsToFloat(fvals(off + (l >> 1)).toInt)
        lp = java.lang.Double.longBitsToDouble(fvals(off + fused.tailSlot))
      } else {
        var l = 0
        while (l < nLangs) { lidScores(l) += dflts(l); l += 1 }
      }
      if (lp > 0) lp = lmCtxDflt.getOrDefault(fnv1a(norm, i, i + 2), lmGlobalDflt)
      lmLogSum += lp
      grams += 1
      i += 1
    }
    val (lang, langScore) = argmaxLang(lidScores, grams, lid.langs)
    val perplexity = if (grams == 0) 1.0 else math.exp(-lmLogSum / grams)
    val sh128 = if (wide) simhash128Of(toks, nTok) else Zero128

    Result(
      nChars = nChars,
      nWords = nWords,
      meanWordLen = if (nWords > 0) sumLen.toDouble / nWords else null,
      symbolRatio = if (nChars > 0) symbols.toDouble / nChars else null,
      stopwordRatio = if (nWords > 0) stopHits.toDouble / nWords else null,
      toxicityHits = toxHits,
      nLines = nLines, nDistinctLines = nDistinct, dupLineRatio = dupLineRatio,
      lang = lang, langScore = langScore, perplexity = perplexity,
      fingerprint = fingerprint,
      simhash = simhash60Of(toks, nTok),
      minhash = minhashOf(toks, nTok, minHashK),
      simhashHi = sh128(0),
      simhashLo = sh128(1))
  }

  // ---------------------------------------------------------------------
  // shared tails
  // ---------------------------------------------------------------------
  private def argmaxLang(lidScores: Array[Double], grams: Int,
                         langs: Array[String]): (String, Double) =
    if (grams == 0) ("und", 0.0)
    else {
      var best = 0; var second = -1
      var l = 1
      while (l < lidScores.length) {
        if (lidScores(l) > lidScores(best)) { second = best; best = l }
        else if (second < 0 || lidScores(l) > lidScores(second)) second = l
        l += 1
      }
      val margin =
        if (second < 0) 0.0
        else (lidScores(best) - lidScores(second)) / grams
      (langs(best), margin)
    }

  /** 60-bit SimHash over the document's FNV token hashes (frequency-
    * weighted: repeated tokens vote repeatedly — cheaper than building a
    * distinct set in the kernel, and a legitimate simhash variant;
    * documented contract of the `simhash` feature column). Bit b is set
    * iff at least half the token hashes have bit b set — the same vote
    * rule as the composed simhash reference in test scope. Empty input ⇒ 0.
    * 60 bits keeps the value portable (same bound as md5Long) and leaves
    * headroom for 4×15-bit pigeonhole bands (Hamming ≤ 3 candidate
    * discovery — [[graft.rules.Rules.simHashNearDup]]).
    */
  private def simhash60Of(tokHashes: Array[Long], nTok: Int): Long = {
    if (nTok == 0) return 0L
    val votes = new Array[Int](60)
    var t = 0
    while (t < nTok) {
      val h = tokHashes(t)
      var b = 0
      // branchless: the bit IS the increment (a data-dependent branch here
      // mispredicts ~50% on hash bits — measured as a large share of the
      // voting cost at ~9k votes/doc)
      while (b < 60) { votes(b) += ((h >>> b) & 1L).toInt; b += 1 }
      t += 1
    }
    var sh = 0L
    var b = 0
    while (b < 60) { if (2 * votes(b) >= nTok) sh |= (1L << b); b += 1 }
    sh
  }

  private val Zero128 = Array(0L, 0L)

  /** SplitMix64 finalizer — expands each 64-bit token hash into a second,
    * statistically independent 64 bits for the wide fingerprint (the
    * standard trick when the base hash is narrower than the fingerprint;
    * same mixer as java.util.SplittableRandom).
    */
  @inline private def mix64(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** 128-bit SimHash (frequency-weighted, same vote rule as
    * [[simhash60Of]]): bits 0–63 vote on the raw FNV token hash, bits
    * 64–127 on its SplitMix64 remix. Returns Array(hi, lo). This is the
    * production fingerprint for the 10⁹⁺-doc near-dup regime
    * ([[graft.rules.Rules.simHashNearDupWide]]): 60 bits only offer
    * 15-bit pigeonhole chunks (32k values — saturated buckets at 10⁹
    * docs), while 128 bits band into 32-bit block-pair keys that stay
    * discriminating at any web-corpus size. Opt-in (`wide` flag): +128
    * votes/token on top of the 60 the narrow fingerprint already pays,
    * only in the regime that needs them.
    */
  private def simhash128Of(tokHashes: Array[Long], nTok: Int): Array[Long] = {
    if (nTok == 0) return Zero128
    val votes = new Array[Int](128)
    var t = 0
    while (t < nTok) {
      val lo = tokHashes(t)
      val hi = mix64(lo)
      var b = 0
      while (b < 64) {
        votes(b) += ((lo >>> b) & 1L).toInt
        votes(64 + b) += ((hi >>> b) & 1L).toInt
        b += 1
      }
      t += 1
    }
    var shLo = 0L; var shHi = 0L
    var b = 0
    while (b < 64) {
      if (2 * votes(b) >= nTok) shLo |= (1L << b)
      if (2 * votes(64 + b) >= nTok) shHi |= (1L << b)
      b += 1
    }
    Array(shHi, shLo)
  }

  private def minhashOf(tokHashes: Array[Long], nTok: Int,
                        minHashK: Int): Array[java.lang.Long] = {
    // k=0 is the "lite" kernel (kept-side output recompute): skip the
    // shingle/minhash machinery entirely — the caller only reads the
    // scalar features
    if (minHashK == 0) return new Array[java.lang.Long](0)
    val shingleHashes: Array[Long] =
      if (nTok >= ShingleSize) {
        val out = new Array[Long](nTok - ShingleSize + 1)
        var s = 0
        while (s + ShingleSize <= nTok) {
          var h = FnvBasis
          var j = 0
          while (j < ShingleSize) {
            val th = tokHashes(s + j)
            h ^= th; h *= FnvPrime
            j += 1
          }
          out(s) = h
          s += 1
        }
        out
      } else {
        java.util.Arrays.copyOf(tokHashes, nTok)
      }
    val params = Hashing.hashParamsArray(minHashK)
    val sig = new Array[java.lang.Long](minHashK)
    if (shingleHashes.nonEmpty) {
      // hoist the perm-independent floorMod out of the k-loop: it is a
      // full 64-bit division per (perm, shingle) otherwise — at k=32 the
      // single hottest arithmetic in the kernel
      var s = 0
      while (s < shingleHashes.length) {
        shingleHashes(s) = java.lang.Math.floorMod(shingleHashes(s), Hashing.P)
        s += 1
      }
      var p = 0
      while (p < minHashK) {
        val a = params(p)(0); val b = params(p)(1)
        var mn = Long.MaxValue
        s = 0
        while (s < shingleHashes.length) {
          val v = (a * shingleHashes(s) + b) % Hashing.P
          if (v < mn) mn = v
          s += 1
        }
        sig(p) = mn
        p += 1
      }
    } // else: array of nulls (matches array_min over empty = null)
    sig
  }

  /** Band-count clamp, applied at the API boundary: [[Result.bandKeysOf]]
    * emits only bands whose `rowsPerBand` rows all exist in the signature,
    * which DIFFERS from the composed band-key reference whenever
    * `minHashK < bands*rowsPerBand` (there, an out-of-range slice is empty
    * and aggregates to key 0 — co-bucketing every short-sig doc, a
    * degenerate LSH). Clamping here makes the truncation the DECLARED
    * semantics of this entry point (narrow-k test configs included);
    * [[graft.pipeline.QualityPipeline.Config]] rejects the mismatched
    * regime outright for the production pipeline.
    */
  def docStats(c: Column, minHashK: Int, bands: Int = 8,
               rowsPerBand: Int = 4, wideSimHash: Boolean = false): Column =
    GraftExpr.column(DocStatsExpr(GraftExpr.expr(c), minHashK,
      math.min(bands, minHashK / rowsPerBand), rowsPerBand, wideSimHash))

  /** Kernel → InternalRow, callable as a STATIC from generated code (the
    * Scala object emits a static forwarder): [[DocStatsExpr.doGenCode]]
    * compiles to one direct call per row inside whole-stage codegen
    * instead of the CodegenFallback boxed-expression dispatch.
    */
  def evalRow(u: UTF8String, minHashK: Int, bands: Int, rowsPerBand: Int,
              wideSimHash: Boolean): InternalRow = {
    val r = compute(u.toString, minHashK, wideSimHash)
    InternalRow(
      r.nChars, r.nWords, r.meanWordLen, r.symbolRatio, r.stopwordRatio,
      r.toxicityHits, r.nLines, r.nDistinctLines, r.dupLineRatio,
      UTF8String.fromString(r.lang), r.langScore, r.perplexity,
      r.fingerprint, r.simhash,
      new GenericArrayData(r.minhash.asInstanceOf[Array[Any]]),
      new GenericArrayData(r.bandKeysOf(bands, rowsPerBand)),
      r.simhashHi, r.simhashLo)
  }
}

case class DocStatsExpr(child: Expression, minHashK: Int,
                        bands: Int = 8, rowsPerBand: Int = 4,
                        wideSimHash: Boolean = false)
    extends UnaryExpression {
  override def dataType: DataType = DocStats.schema
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    DocStats.evalRow(input.asInstanceOf[UTF8String], minHashK, bands,
      rowsPerBand, wideSimHash)

  /** Codegen = ONE static call into the kernel per row: the expression
    * stays inside whole-stage codegen (no CodegenFallback boxed-eval
    * dispatch / InternalRow null-boxing per row). Measured delta at the
    * 50k-doc expr micro-bench: small (the ~100 µs kernel dominates the
    * ~µs dispatch) — kept because it also removes the fallback's
    * allocation of the input-row wrapper on the hottest path.
    */
  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.DocStats.evalRow($c, $minHashK, " +
        s"$bands, $rowsPerBand, $wideSimHash);")

  override protected def withNewChildInternal(newChild: Expression): DocStatsExpr =
    copy(child = newChild)
}
