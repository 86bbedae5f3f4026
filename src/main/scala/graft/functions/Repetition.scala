package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The Gopher repetition battery (Rae et al. 2021, "Scaling Language
  * Models: Methods, Analysis & Insights from Training Gopher", Table A1)
  * as ONE fused per-document pass — the published webtext quality rules
  * the reference's heuristics don't cover (`/root/reference/src/
  * assess_data_quality.py` stops at per-column stats; the north-star
  * battery for LLM corpus filtering is this):
  *
  *  - `dup_line_frac` / `dup_para_frac`: fraction of non-empty line /
  *    paragraph occurrences beyond the first of each distinct value.
  *  - `dup_line_char_frac` / `dup_para_char_frac`: same, weighted by
  *    code-point length (chars in repeated occurrences / total chars).
  *  - `top_{2,3,4}gram_char_frac`: chars covered by ALL occurrences of
  *    the single most frequent word n-gram / total word chars. Ties on
  *    count break to the UTF-8-byte-smallest n-gram — the same order as
  *    DuckDB's binary varchar collation, which keeps the SQL oracle twin
  *    (`ORDER BY count DESC, gram ASC`) bit-compatible.
  *  - `dup_{5,10}gram_char_frac`: chars of word POSITIONS covered by any
  *    n-gram occurring ≥ 2 times / total word chars — the masked variant
  *    public Gopher replications use (overlapping duplicate n-grams never
  *    double-count a word), bounded in [0, 1].
  *
  * Segmentation contract (shared with the DuckDB oracle `dq_repetition`):
  * lines split on `\n`, paragraphs on literal `\n\n` (leftmost,
  * non-overlapping — `"a\n\n\nb"` → `["a", "\nb"]`, exactly DuckDB
  * `string_split`), empty segments dropped AFTER splitting (no trim, so
  * a whitespace-only line still counts); words are the whitespace tokens
  * of [[TextFns.tokens]]; all char counts are Unicode CODE POINTS
  * (DuckDB `length()`).
  *
  * Scale shape: one pass, no shuffle, ~O(n_words) time and memory per
  * document. Grams are counted as SPANS of one normalized word buffer
  * (Rabin-Karp prefix hashes + open-addressing tables with exact span
  * comparison — a hash collision can never merge two distinct grams),
  * so the whole battery allocates a handful of arrays per doc instead
  * of one string per gram: measured 256 → 88 µs/doc single-thread
  * (perfbench's traced run reports it as
  * `functions.Repetition_us_per_doc`). This is an OPT-IN second scan
  * column (`QualityPipeline.Config.gopherRepetition`), not part of the
  * always-on DocStats kernel (~100 µs/doc), because the battery roughly
  * doubles per-doc CPU when enabled.
  */
object Repetition {

  val schema: StructType = StructType(Seq(
    StructField("n_paras", IntegerType, nullable = false),
    StructField("dup_line_frac", DoubleType, nullable = false),
    StructField("dup_para_frac", DoubleType, nullable = false),
    StructField("dup_line_char_frac", DoubleType, nullable = false),
    StructField("dup_para_char_frac", DoubleType, nullable = false),
    StructField("top_2gram_char_frac", DoubleType, nullable = false),
    StructField("top_3gram_char_frac", DoubleType, nullable = false),
    StructField("top_4gram_char_frac", DoubleType, nullable = false),
    StructField("dup_5gram_char_frac", DoubleType, nullable = false),
    StructField("dup_10gram_char_frac", DoubleType, nullable = false)))

  /** Raw (unrounded) battery values; fractions are exact int/int double
    * divisions so the SQL twin reproduces them bit-for-bit.
    */
  final case class Result(
      nParas: Int,
      dupLineFrac: Double, dupParaFrac: Double,
      dupLineCharFrac: Double, dupParaCharFrac: Double,
      top2: Double, top3: Double, top4: Double,
      dup5: Double, dup10: Double)

  // same \s set as TextFns.tokens / DocStats (Java regex \s)
  @inline private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  @inline private def cpLen(s: String): Int = s.codePointCount(0, s.length)

  /** (dup_frac, dup_char_frac, n_segments) over non-empty segments. */
  private def segStats(segs: java.util.ArrayList[String]): (Double, Double, Int) = {
    val n = segs.size
    if (n == 0) return (0.0, 0.0, 0)
    val counts = new java.util.HashMap[String, Int](n * 2)
    var i = 0
    while (i < n) {
      counts.merge(segs.get(i), 1, (a: Int, b: Int) => a + b)
      i += 1
    }
    var totChars = 0L
    var dupChars = 0L
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val len = cpLen(e.getKey).toLong
      totChars += e.getValue * len
      dupChars += (e.getValue - 1) * len
    }
    val dupFrac = (n - counts.size).toDouble / n
    val dupCharFrac = if (totChars == 0) 0.0 else dupChars.toDouble / totChars
    (dupFrac, dupCharFrac, n)
  }

  /** Split on a literal separator, leftmost non-overlapping, keeping only
    * non-empty segments — DuckDB `string_split` + `x <> ''` semantics.
    */
  private def splitLiteral(s: String, sep: String): java.util.ArrayList[String] = {
    val out = new java.util.ArrayList[String]()
    var from = 0
    while (from <= s.length) {
      val idx = s.indexOf(sep, from)
      val end = if (idx < 0) s.length else idx
      if (end > from) out.add(s.substring(from, end))
      if (idx < 0) from = s.length + 1 else from = idx + sep.length
    }
    out
  }

  
  
  /** Normalized word buffer: the document's whitespace tokens joined by
    * single spaces, as one char[] — every n-gram (words joined by ' ',
    * the same key the SQL twin builds) is then a CONTIGUOUS SPAN of this
    * buffer, so gram counting needs zero per-gram allocation. `off(i)` is
    * word i's start; word i spans `[off(i), off(i+1) - 1)`; the n-gram at
    * window i spans `[off(i), off(i + n) - 1)` (with a sentinel
    * `off(nWords) = len + 1`).
    */
  private final class WordBuf(s: String) {
    val (buf, off, nWords) = {
      val b = new java.lang.StringBuilder(s.length)
      val offs = new java.util.ArrayList[Integer]()
      var i = 0
      var ts = -1
      val len = s.length
      while (i <= len) {
        if (i == len || isWs(s.charAt(i))) {
          if (ts >= 0) {
            offs.add(b.length())
            b.append(s, ts, i).append(' ')
            ts = -1
          }
        } else if (ts < 0) ts = i
        i += 1
      }
      val n = offs.size
      val o = new Array[Int](n + 1)
      var k = 0
      while (k < n) { o(k) = offs.get(k); k += 1 }
      o(n) = b.length() // sentinel: one past the trailing space
      val arr = new Array[Char](b.length())
      b.getChars(0, b.length(), arr, 0)
      (arr, o, n)
    }
    @inline def gramStart(i: Int): Int = off(i)
    @inline def gramEnd(i: Int, n: Int): Int = off(i + n) - 1
    /** total code points over all words (spaces excluded) */
    def totalWordChars: Long = {
      var cp = 0L
      var i = 0
      while (i < buf.length) {
        if (!Character.isLowSurrogate(buf(i)) && buf(i) != ' ') cp += 1
        else if (buf(i) == ' ') () // joiner
        i += 1
      }
      cp
    }
    /** code points in span [a, b) of buf */
    def cpCount(a: Int, b: Int): Int = {
      var cp = 0
      var i = a
      while (i < b) { if (!Character.isLowSurrogate(buf(i))) cp += 1; i += 1 }
      cp
    }
    // Rabin-Karp prefix hashes: h(a, b) in O(1) per span
    val (ph, pw) = {
      val m = buf.length
      val h = new Array[Long](m + 1)
      val p = new Array[Long](m + 1)
      p(0) = 1L
      var i = 0
      while (i < m) {
        h(i + 1) = h(i) * 1099511628211L + buf(i)
        p(i + 1) = p(i) * 1099511628211L
        i += 1
      }
      (h, p)
    }
    @inline def spanHash(a: Int, b: Int): Long = ph(b) - ph(a) * pw(b - a)
    def spanEq(a1: Int, b1: Int, a2: Int): Boolean = {
      // lengths already matched by caller
      var i = a1
      var j = a2
      while (i < b1) {
        if (buf(i) != buf(j)) return false
        i += 1; j += 1
      }
      true
    }
    /** code-point lexicographic compare of two spans — equals UTF-8 byte
      * order (UTF-8 byte order is code-point order). UTF-16 char order
      * diverges only where surrogates meet [E000, FFFF]; compare code
      * points to stay exactly on the SQL twin's binary collation.
      */
    def spanCpLess(a1: Int, b1: Int, a2: Int, b2: Int): Boolean = {
      var i = a1
      var j = a2
      while (i < b1 && j < b2) {
        val c1 = Character.codePointAt(buf, i, b1)
        val c2 = Character.codePointAt(buf, j, b2)
        if (c1 != c2) return c1 < c2
        i += Character.charCount(c1)
        j += Character.charCount(c2)
      }
      (b1 - a1) < (b2 - a2)
    }
  }

  /** Open-addressing span-count table (power-of-two capacity, linear
    * probing, exact span equality on hash match — collisions can never
    * merge distinct grams).
    */
  private final class SpanCounts(wb: WordBuf, windows: Int) {
    private val cap = java.lang.Integer.highestOneBit(math.max(4, windows * 2) - 1) << 1
    private val mask = cap - 1
    val hashes = new Array[Long](cap)
    val firstIdx = new Array[Int](cap) // first window index with this gram
    val counts = new Array[Int](cap)  // 0 = empty slot
    /** add window i (span [a,b)), return its slot */
    def add(i: Int, a: Int, b: Int): Int = {
      val h = wb.spanHash(a, b)
      var slot = (h ^ (h >>> 32)).toInt & mask
      while (counts(slot) != 0) {
        if (hashes(slot) == h) {
          val fa = firstIdx(slot)
          val fStart = wb.gramStart(fa)
          if (b - a == wb.gramEnd(fa, gramN) - fStart &&
            wb.spanEq(a, b, fStart)) {
            counts(slot) += 1
            return slot
          }
        }
        slot = (slot + 1) & mask
      }
      hashes(slot) = h
      firstIdx(slot) = i
      counts(slot) = 1
      slot
    }
    var gramN: Int = 0
    def capacity: Int = cap
  }

  /** top + masked-dup for one n over the word buffer, allocation-free:
    * returns (topChars, dupMaskedChars) with `covered` reused across
    * calls (caller clears it).
    */
  private def gramStats(wb: WordBuf, n: Int, covered: Array[Boolean],
                        slots: Array[Int]): (Long, Long) = {
    val windows = wb.nWords - n + 1
    if (windows <= 0) return (0L, 0L)
    val t = new SpanCounts(wb, windows)
    t.gramN = n
    var i = 0
    while (i < windows) {
      slots(i) = t.add(i, wb.gramStart(i), wb.gramEnd(i, n))
      i += 1
    }
    // top gram: max count, code-point-min (== UTF-8-byte-min) tie-break
    var bestSlot = -1
    i = 0
    while (i < t.capacity) {
      if (t.counts(i) > 0) {
        if (bestSlot < 0 || t.counts(i) > t.counts(bestSlot)) bestSlot = i
        else if (t.counts(i) == t.counts(bestSlot)) {
          val ca = t.firstIdx(i); val cb = t.firstIdx(bestSlot)
          if (wb.spanCpLess(wb.gramStart(ca), wb.gramEnd(ca, n),
            wb.gramStart(cb), wb.gramEnd(cb, n))) bestSlot = i
        }
      }
      i += 1
    }
    val bi = t.firstIdx(bestSlot)
    val topChars = t.counts(bestSlot).toLong *
      (wb.cpCount(wb.gramStart(bi), wb.gramEnd(bi, n)) - (n - 1))
    // masked dup: mark word positions covered by any window with count >= 2
    var any = false
    i = 0
    while (i < windows) {
      if (t.counts(slots(i)) >= 2) {
        any = true
        var j = i
        while (j < i + n) { covered(j) = true; j += 1 }
      }
      i += 1
    }
    var dupChars = 0L
    if (any) {
      i = 0
      while (i < wb.nWords) {
        if (covered(i)) {
          dupChars += wb.cpCount(wb.off(i), wb.off(i + 1) - 1)
          covered(i) = false // reset for the next n
        }
        i += 1
      }
    }
    (topChars, dupChars)
  }

  def compute(s: String): Result = {
    val (dlf, dlcf, _) = segStats(splitLiteral(s, "\n"))
    val (dpf, dpcf, nParas) = segStats(splitLiteral(s, "\n\n"))
    val wb = new WordBuf(s)
    val wChars = wb.totalWordChars
    def frac(chars: Long): Double = if (wChars == 0) 0.0 else chars.toDouble / wChars
    val covered = new Array[Boolean](math.max(1, wb.nWords))
    val slots = new Array[Int](math.max(1, wb.nWords))
    val (t2, _) = gramStats(wb, 2, covered, slots)
    val (t3, _) = gramStats(wb, 3, covered, slots)
    val (t4, _) = gramStats(wb, 4, covered, slots)
    val (_, d5) = gramStats(wb, 5, covered, slots)
    val (_, d10) = gramStats(wb, 10, covered, slots)
    Result(nParas, dlf, dpf, dlcf, dpcf,
      frac(t2), frac(t3), frac(t4), frac(d5), frac(d10))
  }

  /** Kernel → InternalRow, callable as a STATIC from generated code (see
    * [[DocStats.evalRow]] for the pattern).
    */
  def evalRow(u: UTF8String): InternalRow = {
    val r = compute(u.toString)
    InternalRow(r.nParas, r.dupLineFrac, r.dupParaFrac,
      r.dupLineCharFrac, r.dupParaCharFrac,
      r.top2, r.top3, r.top4, r.dup5, r.dup10)
  }

  def repetition(c: Column): Column = GraftExpr.column(RepetitionExpr(GraftExpr.expr(c)))
}

case class RepetitionExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = Repetition.schema
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    Repetition.evalRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.Repetition.evalRow($c);")

  override protected def withNewChildInternal(newChild: Expression): RepetitionExpr =
    copy(child = newChild)
}
