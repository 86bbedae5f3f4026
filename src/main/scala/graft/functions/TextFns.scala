package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Per-document text features as pure `Column` expressions.
  *
  * Everything here stays inside whole-stage codegen (built-in Catalyst
  * expressions only — no UDFs), so a projection computing all features is
  * one narrow pass over `text` with zero shuffle. These are the scaled
  * analogues of the reference's per-column scans
  * (`/root/reference/src/improve_data_quality.py:300-396`): where the
  * reference re-walks the pandas column once per rule, the engine computes
  * all features in one fused projection and lets every rule read from it.
  *
  * Each feature has a DuckDB-SQL twin in [[graft.OracleFrags]] used by the
  * correctness oracle — keep semantics in sync (tokenisation = split on
  * `\s+` of trimmed text, empties dropped; symbols = non-alnum, non-space).
  * The composed per-doc heuristics the fused [[DocStats]] kernel replaced
  * (word count, symbol ratio, mean word length, stopword ratio, toxicity
  * hits, char shingles) are its references in test scope.
  */
object TextFns {

  /** English stopword core — used for both the Gopher-style stopword-ratio
    * heuristic and the stopword-profile language scorer. Fixed and
    * versioned: changing it changes keep/drop labels.
    */
  val StopwordsEn: Seq[String] =
    Seq("the", "a", "an", "and", "of", "to", "in", "is", "it", "that",
      "for", "on", "with", "as", "was", "at", "by", "be", "this", "are")

  /** Deterministic "toxicity" lexicon placeholder (mild terms; the real
    * deployment swaps in a curated list — the machinery is identical).
    */
  val ToxicityLexicon: Seq[String] =
    Seq("damn", "hell", "crap", "idiot", "stupid", "moron")

  /** Whitespace tokens of trimmed text, empty strings dropped.
    * `tokens("") == []`, `tokens(null) == null`.
    */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => t =!= lit(""))

  /** Fused whitespace word count — identical value to `size(tokens(c))`
    * (TextFnsSpec pins equality with the composed reference) without the interpreted
    * split/filter HOF pipeline (~4 s → ~0.5 s on the sf0.1 corpus).
    */
  def wordCountFast(c: Column): Column =
    GraftExpr.column(WordCountExpr(GraftExpr.expr(c)))

  /** Fused sum of token lengths in code points — identical value to
    * `aggregate(tokens(c), 0L, (acc, t) => acc + length(t))`: every
    * non-whitespace code point belongs to exactly one token, so the sum
    * is the count of non-whitespace code points (TextFnsSpec pins
    * equality incl. non-ASCII and null/empty inputs). Removes the
    * interpreted split/filter/aggregate HOF chain from hot paths.
    */
  def sumTokLenFast(c: Column): Column =
    GraftExpr.column(TokenLenSumExpr(GraftExpr.expr(c)))

  /** Canonical text normalisation used before fingerprint/shingle hashing:
    * lowercase, trim, collapse whitespace runs to single spaces.
    */
  def normText(c: Column): Column =
    regexp_replace(lower(trim(c)), "\\s+", " ")

  /** BPE-ish token count: alpha runs, digit runs, and single symbols each
    * count as one token (a cheap proxy for subword-tokeniser cost).
    */
  def bpeishTokenCount(c: Column): Column =
    size(regexp_extract_all(c, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Portable 60-bit hash: first 15 hex chars of md5 as a non-negative
    * long. Identical in DuckDB as `('0x' || substr(md5(s),1,15))::BIGINT`.
    * Used wherever a hash must agree with the SQL oracle; hot paths that
    * don't need oracle parity should prefer `xxhash64`.
    */
  def md5Long(c: Column): Column =
    conv(substring(md5(c.cast("binary")), 1, 15), 16, 10).cast(LongType)

  /** Rolling document fingerprint = md5Long of normalised text. */
  def fingerprint(c: Column): Column = md5Long(normText(c))
}

/** Whitespace-token count over UTF-8 bytes (Java `\s` whitespace set;
  * multi-byte UTF-8 units have the high bit set so they can never be
  * mistaken for a delimiter).
  */
case class WordCountExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = child.nullable

  @inline private def isWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    var n = 0
    var inTok = false
    var i = 0
    while (i < b.length) {
      val ws = b(i) >= 0 && isWs(b(i))
      if (!ws && !inTok) { n += 1; inTok = true }
      else if (ws) inTok = false
      i += 1
    }
    n
  }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): WordCountExpr =
    copy(child = newChild)
}

/** Sum of whitespace-token lengths in CODE POINTS over UTF-8 bytes =
  * count of non-whitespace code points (see [[TextFns.sumTokLenFast]]).
  * UTF-8 continuation bytes (10xxxxxx) are skipped so a multi-byte
  * code point counts once; delimiter bytes are ASCII, so they can never
  * appear inside a multi-byte sequence.
  */
case class TokenLenSumExpr(child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types._
  override def dataType: DataType = LongType
  override def nullable: Boolean = child.nullable

  @inline private def isWs(c: Int): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == 0x0B || c == '\f' || c == '\r'

  override def nullSafeEval(input: Any): Any = {
    val b = input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
    var n = 0L
    var i = 0
    while (i < b.length) {
      val c = b(i)
      if ((c & 0xC0) != 0x80 && !(c >= 0 && isWs(c))) n += 1
      i += 1
    }
    n
  }
  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): TokenLenSumExpr =
    copy(child = newChild)
}
