package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic HTML → text extraction — the north rule's "byte-identical
  * extracted text per url" step (the first operator of any web-scale
  * pipeline: the trafilatura/resiliparse slot, reduced to a fully
  * specified, engine-portable transform).
  *
  * The extraction IS the ordered transform chain below — defined once and
  * rendered twice: as the fused kernel [[extract]] (each step
  * hand-compiled with the chain's exact match semantics) and as the
  * identical DuckDB SQL ([[sqlExpr]], the `dq_html_extract` oracle); the
  * specs diff the kernel against the chain composed of Spark's
  * `regexp_replace`/`replace` built-ins. Patterns are
  * restricted to the dialect Java regex and RE2 share: inline `(?is)`
  * flags, non-greedy `.*?`, `(?:…)` groups, `\A`/`\z` anchors — no
  * backreferences (RE2 has none), no `\x0B`-class divergences (Java `\s`
  * includes vertical tab, RE2's does not, so character classes are
  * spelled out).
  *
  * Steps, in order:
  *  1. drop invisible subtrees wholesale: `<script>`, `<style>`,
  *     `<head>`, `<noscript>`, `<template>` (content and all), then
  *     `<!-- comments -->`;
  *  2. block-level tags become `\n` (paragraph structure survives as
  *     line structure);
  *  3. every remaining tag is stripped;
  *  4. the six ubiquitous named entities + `&#39;` decode — `&amp;`
  *     LAST, so `&amp;lt;` correctly yields the literal text `&lt;`;
  *     decoding happens AFTER tag-stripping, so a decoded `<` is data,
  *     never re-parsed as markup;
  *  5. whitespace normalization: horizontal runs → one space, spaces
  *     trimmed around newlines, ≥3 newlines → 2 (paragraph break),
  *     outer trim.
  *
  * Scale shape: a per-row narrow map; zero shuffle, zero state. At
  * 100 TB this runs at scan speed on the source partitions.
  *
  * PagesGen composes its html so that `extract(html) == text` holds
  * byte-identically on every generated page (HtmlExtractSpec pins it,
  * and the `extractHtml` pipeline toggle rests on it).
  */
object HtmlExtract {

  /** Subtrees removed wholesale, content included. */
  val DropSubtrees: Seq[String] =
    Seq("script", "style", "head", "noscript", "template")

  /** Tags whose open/close both read as a line break. */
  val BlockTags: Seq[String] = Seq(
    "p", "div", "br", "hr", "li", "ul", "ol", "dl", "dt", "dd",
    "h1", "h2", "h3", "h4", "h5", "h6", "tr", "td", "th", "table",
    "thead", "tbody", "tfoot", "caption", "blockquote", "pre",
    "section", "article", "header", "footer", "nav", "aside",
    "figure", "figcaption", "form", "fieldset", "address")

  /** Ordered regex steps, phase 1: structure (pattern → replacement). */
  val tagSteps: Seq[(String, String)] =
    DropSubtrees.map(t => (s"(?is)<$t\\b[^>]*>.*?</$t[ \\t\\r\\n]*>", "")) ++ Seq(
      ("(?s)<!--.*?-->", ""),
      (s"(?i)</?(?:${BlockTags.mkString("|")})\\b[^>]*/?>", "\n"),
      // tag-like starts only (letter after optional / or !): a stray
      // '< 6' in prose is DATA and must not eat text to the next '>'
      ("<[/!]?[a-zA-Z][^>]*>", ""))

  /** Literal entity decodes (plain `replace`, not regex) — `&amp;` last. */
  val entitySteps: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&apos;" -> "'", "&amp;" -> "&")

  /** Ordered regex steps, phase 2: whitespace normalization. */
  val wsSteps: Seq[(String, String)] = Seq(
    ("[ \\t\\r\\f]+", " "),
    (" *\\n *", "\n"),
    ("\\n{3,}", "\n\n"),
    ("\\A[\\n ]+|[\\n ]+\\z", ""))

  /** The extraction as a Spark Column over an html STRING column —
    * the fused single-expression kernel ([[HtmlExtractKernel]]): each
    * ordered step of the chain hand-compiled to an indexOf-driven
    * scanner with the IDENTICAL match semantics (HtmlExtractSpec pins
    * fused == chain on the hand cases, the PagesGen corpus and a seeded
    * adversarial fuzz pool). The regex chain re-entered the regex
    * engine and re-materialised the string ~17× per document; the
    * kernel allocates only on passes that actually rewrite.
    */
  def extract(html: Column): Column =
    GraftExpr.column(HtmlExtractExpr(GraftExpr.expr(html)))

  /** Same over a BINARY column (UTF-8 page bytes, the lake schema). */
  def extractBinary(html: Column): Column = extract(decode(html, "UTF-8"))

  /** Whitespace normalization alone (phase 2) — the fixpoint class of
    * [[extract]]: extract(wrap(t)) == normalizeWs(t) for markup-free t.
    */
  def normalizeWs(text: Column): Column =
    wsSteps.foldLeft(text) { case (c, (p, r)) => regexp_replace(c, p, r) }

  /** The identical chain as a DuckDB SQL expression over `expr` (the
    * `dq_html_extract` oracle side). DuckDB standard strings keep
    * backslashes literally, so the pattern strings interpolate verbatim;
    * only single quotes need escaping. `\n` replacements embed a real
    * newline character in the literal (Verify JSON-escapes it).
    */
  def sqlExpr(expr: String): String = {
    def lit(s: String) = "'" + s.replace("'", "''") + "'"
    var e = expr
    tagSteps.foreach { case (p, r) =>
      e = s"regexp_replace($e, ${lit(p)}, ${lit(r)}, 'g')" }
    entitySteps.foreach { case (a, b) =>
      e = s"replace($e, ${lit(a)}, ${lit(b)})" }
    wsSteps.foreach { case (p, r) =>
      e = s"regexp_replace($e, ${lit(p)}, ${lit(r)}, 'g')" }
    e
  }
}

/** Hand-compiled scanners for the [[HtmlExtract]] transform chain — one
  * function per chain step, each replicating its regex/replace pass
  * EXACTLY (left-to-right non-overlapping matches, resume after each
  * match), so composing them in chain order is byte-equivalent to the
  * built-in chain while never entering the regex engine. Match-semantics
  * notes the scanners encode:
  *
  *  - drop-subtree `(?is)<t\b[^>]*>.*?</t[ \t\r\n]*>`: an open whose
  *    `[^>]*>` finds no '>' fails for the whole remainder (no later
  *    open can close either) — scan ends; an open with no close fails
  *    only locally — scanning resumes at the next candidate.
  *  - `\b` = next char not [A-Za-z0-9_] (Java default word class);
  *    case-insensitivity is ASCII-only (Java CASE_INSENSITIVE without
  *    UNICODE_CASE), correct here since tag names are ASCII.
  *  - block-tag alternation: at most ONE alternative can match with a
  *    boundary (names are all word chars, so a prefix name matching
  *    with boundary excludes its extensions), and every successful
  *    alternative ends at the same first '>' — so existence-testing the
  *    name set is equivalent to Java's ordered alternation.
  *  - entity decode: the seven literal passes are mutually non-prefix
  *    and single-'&' patterns whose replacements contain no '&' (amp is
  *    last), so matches in the ORIGINAL string are disjoint and
  *    independent — one left-to-right scan testing all seven per '&'
  *    equals the seven sequential passes.
  *  - whitespace phase (4 regex passes) folds to: each maximal run of
  *    [ \t\r\f\n] with k newlines becomes "\n"×min(k,2) (k ≥ 1) or one
  *    space (k = 0), then outer [\n ]+ trim. U+000B is NOT whitespace
  *    in these patterns and passes through — preserved.
  *
  * Every pass returns the input instance untouched when it matched
  * nothing, so clean documents allocate only in the final ws pass.
  */
object HtmlExtractKernel {
  import org.apache.spark.unsafe.types.UTF8String

  private val DropLower: Array[String] = HtmlExtract.DropSubtrees.toArray
  private val BlockLower: Array[String] = HtmlExtract.BlockTags.toArray
  private val EntPats: Array[String] = HtmlExtract.entitySteps.map(_._1).toArray
  private val EntReps: Array[Char] =
    HtmlExtract.entitySteps.map { case (_, r) =>
      require(r.length == 1); r.charAt(0)
    }.toArray

  @inline private def isLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  /** Java-regex `\b` word test at index i: unlike `\w` (ASCII-only by
    * default), `Pattern`'s boundary matcher uses
    * `ch == '_' || Character.isLetterOrDigit(ch)` over CODE POINTS even
    * without UNICODE_CHARACTER_CLASS — a CJK char after a tag name
    * suppresses the boundary. (RE2's `\b` is ASCII; the oracle corpus
    * never exercises the divergence — this kernel replicates the Spark
    * side.)
    */
  @inline private def isWordCp(s: String, i: Int): Boolean = {
    val cp = Character.codePointAt(s, i)
    cp == '_' || Character.isLetterOrDigit(cp)
  }
  @inline private def ciEq(a: Char, b: Char): Boolean =
    (if (a >= 'A' && a <= 'Z') (a + 32).toChar else a) == b

  /** s at i matches lowercase `tag` ASCII-case-insensitively. */
  private def tagAt(s: String, i: Int, tag: String): Boolean = {
    if (i + tag.length > s.length) return false
    var j = 0
    while (j < tag.length) {
      if (!ciEq(s.charAt(i + j), tag.charAt(j))) return false
      j += 1
    }
    true
  }

  /** End index (exclusive) of the earliest `</tag[ \t\r\n]*>` starting
    * at ≥ from, or -1.
    */
  private def findClose(s: String, from: Int, tag: String): Int = {
    val n = s.length
    var p = from
    while (p < n) {
      val lt = s.indexOf('<', p)
      if (lt < 0) return -1
      if (lt + 1 < n && s.charAt(lt + 1) == '/' && tagAt(s, lt + 2, tag)) {
        var q = lt + 2 + tag.length
        while (q < n && { val c = s.charAt(q)
          c == ' ' || c == '\t' || c == '\r' || c == '\n' }) q += 1
        if (q < n && s.charAt(q) == '>') return q + 1
      }
      p = lt + 1
    }
    -1
  }

  /** One `(?is)<tag\b[^>]*>.*?</tag[ \t\r\n]*>` → "" pass. */
  def dropSubtree(s: String, tag: String): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var pos = 0
    while (pos < n) {
      val lt = s.indexOf('<', pos)
      if (lt < 0) pos = n
      else if (tagAt(s, lt + 1, tag) &&
               (lt + 1 + tag.length >= n ||
                 !isWordCp(s, lt + 1 + tag.length))) {
        val gt = s.indexOf('>', lt + 1 + tag.length)
        if (gt < 0) pos = n // no '>' left: no open can complete
        else {
          val ce = findClose(s, gt + 1, tag)
          if (ce < 0) pos = lt + 1 // this open never closes; later may
          else {
            if (sb == null) sb = new java.lang.StringBuilder(n)
            sb.append(s, copied, lt)
            copied = ce
            pos = ce
          }
        }
      } else pos = lt + 1
    }
    if (sb == null) s else { sb.append(s, copied, n); sb.toString }
  }

  /** `(?s)<!--.*?-->` → "" pass. */
  def dropComments(s: String): String = {
    var idx = s.indexOf("<!--")
    if (idx < 0) return s
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    while (idx >= 0) {
      val close = s.indexOf("-->", idx + 4)
      if (close < 0) idx = -1 // unterminated: nothing more matches
      else {
        if (sb == null) sb = new java.lang.StringBuilder(n)
        sb.append(s, copied, idx)
        copied = close + 3
        idx = s.indexOf("<!--", copied)
      }
    }
    if (sb == null) s else { sb.append(s, copied, n); sb.toString }
  }

  /** The block-tag pass: `(?i)</?(?:block-tags)\b[^>]* /? >` (spaces
    * inserted here only to keep the scaladoc lexer happy) → "\n".
    */
  def blockToNewline(s: String): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var pos = 0
    while (pos < n) {
      val lt = s.indexOf('<', pos)
      if (lt < 0) pos = n
      else {
        var j = lt + 1
        if (j < n && s.charAt(j) == '/') j += 1
        var nameEnd = -1
        var t = 0
        while (nameEnd < 0 && t < BlockLower.length) {
          val tag = BlockLower(t)
          if (tagAt(s, j, tag) &&
              (j + tag.length >= n || !isWordCp(s, j + tag.length)))
            nameEnd = j + tag.length
          t += 1
        }
        if (nameEnd >= 0) {
          val gt = s.indexOf('>', nameEnd)
          if (gt < 0) pos = n // no '>' left: no block tag can complete
          else {
            if (sb == null) sb = new java.lang.StringBuilder(n)
            sb.append(s, copied, lt).append('\n')
            copied = gt + 1
            pos = gt + 1
          }
        } else pos = lt + 1
      }
    }
    if (sb == null) s else { sb.append(s, copied, n); sb.toString }
  }

  /** `<[/!]?[a-zA-Z][^>]*>` → "" pass. */
  def stripTags(s: String): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    var pos = 0
    while (pos < n) {
      val lt = s.indexOf('<', pos)
      if (lt < 0) pos = n
      else {
        var j = lt + 1
        if (j < n && (s.charAt(j) == '/' || s.charAt(j) == '!')) j += 1
        if (j < n && isLetter(s.charAt(j))) {
          val gt = s.indexOf('>', j + 1)
          if (gt < 0) pos = n
          else {
            if (sb == null) sb = new java.lang.StringBuilder(n)
            sb.append(s, copied, lt)
            copied = gt + 1
            pos = gt + 1
          }
        } else pos = lt + 1
      }
    }
    if (sb == null) s else { sb.append(s, copied, n); sb.toString }
  }

  /** The seven sequential literal entity passes as one scan (see the
    * object scaladoc for the equivalence argument).
    */
  def decodeEntities(s: String): String = {
    var amp = s.indexOf('&')
    if (amp < 0) return s
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var copied = 0
    while (amp >= 0) {
      var hit = -1
      var t = 0
      while (hit < 0 && t < EntPats.length) {
        if (s.startsWith(EntPats(t), amp)) hit = t
        t += 1
      }
      if (hit >= 0) {
        if (sb == null) sb = new java.lang.StringBuilder(n)
        sb.append(s, copied, amp).append(EntReps(hit))
        copied = amp + EntPats(hit).length
        amp = s.indexOf('&', copied)
      } else amp = s.indexOf('&', amp + 1)
    }
    if (sb == null) s else { sb.append(s, copied, n); sb.toString }
  }

  /** The four ws regex passes + outer trim as one scan. */
  def normalizeWs(s: String): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\r' || c == '\f' || c == '\n') {
        var nl = 0
        var j = i
        var run = true
        while (j < n && run) {
          val d = s.charAt(j)
          if (d == '\n') { nl += 1; j += 1 }
          else if (d == ' ' || d == '\t' || d == '\r' || d == '\f') j += 1
          else run = false
        }
        if (nl == 0) sb.append(' ')
        else if (nl == 1) sb.append('\n')
        else sb.append("\n\n")
        i = j
      } else { sb.append(c); i += 1 }
    }
    var a = 0
    var b = sb.length
    while (a < b && { val c = sb.charAt(a); c == '\n' || c == ' ' }) a += 1
    while (b > a && { val c = sb.charAt(b - 1); c == '\n' || c == ' ' }) b -= 1
    sb.substring(a, b)
  }

  /** The full ordered chain. */
  def extract(s: String): String = {
    var t = s
    var i = 0
    while (i < DropLower.length) { t = dropSubtree(t, DropLower(i)); i += 1 }
    t = dropComments(t)
    t = blockToNewline(t)
    t = stripTags(t)
    t = decodeEntities(t)
    normalizeWs(t)
  }

  /** Static entry point for generated code ([[HtmlExtractExpr]]). */
  def evalU(u: UTF8String): UTF8String =
    UTF8String.fromString(extract(u.toString))
}

/** `html_extract(html)` — the fused chain; see [[HtmlExtractKernel]]. */
case class HtmlExtractExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  override def dataType: DataType = StringType
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    HtmlExtractKernel.evalU(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override protected def doGenCode(
      ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
      ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
      : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HtmlExtractKernel.evalU($c);")

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): HtmlExtractExpr =
    copy(child = newChild)
}
