package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{Hashing, TextFns}

class TextFnsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def one[T](c: org.apache.spark.sql.Column, s: String): T =
    Seq(s).toDF("t").select(c.as("r")).head().getAs[T]("r")

  private def oneSeq(c: org.apache.spark.sql.Column, s: String): List[String] =
    Seq(s).toDF("t").select(c.as("r")).head().getSeq[String](0).toList

  test("tokens drops empties, trims, splits on whitespace runs") {
    assert(oneSeq(TextFns.tokens(col("t")), "  a  b\t c \n") == List("a", "b", "c"))
    assert(oneSeq(TextFns.tokens(col("t")), "") == Nil)
  }

  test("wordCount/symbolRatio/meanWordLen on hand-computed strings") {
    assert(one[Int](ComposedRefs.wordCount(col("t")), "one two three") == 3)
    // "ab!@#" → 3 symbols / 5 chars
    assert(one[Double](ComposedRefs.symbolRatio(col("t")), "ab!@#") == 0.6)
    assert(one[Double](ComposedRefs.meanWordLen(col("t")), "ab abcd") == 3.0)
  }

  test("sumTokLenFast/wordCountFast equal the HOF formulations (incl. non-ASCII, ws classes, null)") {
    import org.apache.spark.sql.types.LongType
    val hof = (c: org.apache.spark.sql.Column) =>
      aggregate(TextFns.tokens(c), lit(0L), (acc, t) => acc + length(t).cast(LongType))
    val cases = Seq(
      "one two three", "", "  ", "\t\na bc\f d\r", "héllo wörld",
      "emoji 😀 pair", "日本語 テスト", " trailing  ", "x",
      "a\u000Bb", "mixed  \t tabs\nand lines \f ff", "vt\u000Bsplit")
    val df = cases.toDF("t")
    val got = df.select(
      hof(col("t")).as("h"), TextFns.sumTokLenFast(col("t")).as("f"),
      ComposedRefs.wordCount(col("t")).as("wc"), TextFns.wordCountFast(col("t")).as("wcf"))
      .collect()
    got.zip(cases).foreach { case (r, s) =>
      assert(r.getLong(0) == r.getLong(1), s"sumTokLen mismatch on '$s'")
      assert(r.getInt(2) == r.getInt(3), s"wordCount mismatch on '$s'")
    }
    // null input → null on both sides
    val n = Seq[Option[String]](None).toDF("t")
      .select(hof(col("t")).as("h"), TextFns.sumTokLenFast(col("t")).as("f")).head()
    assert(n.isNullAt(0) && n.isNullAt(1))
  }

  test("stopwordRatio counts case-insensitive stopword hits") {
    // "The cat of doom" → the, of = 2/4
    assert(one[Double](ComposedRefs.stopwordRatio(col("t")), "The cat of doom") == 0.5)
  }

  test("normText collapses whitespace and lowercases") {
    assert(one[String](TextFns.normText(col("t")), "  A  B\n\tC ") == "a b c")
  }

  test("charShingles: k-grams; short string yields empty") {
    assert(oneSeq(ComposedRefs.charShingles(col("t"), 3), "abcd") == List("abc", "bcd"))
    assert(oneSeq(ComposedRefs.charShingles(col("t"), 3), "ab") == Nil)
  }

  test("md5Long is deterministic and matches the documented formula") {
    // md5("abc") = 900150983cd24fb0... → 0x900150983cd24fb = 648541476951500027
    assert(one[Long](TextFns.md5Long(col("t")), "abc") == 648541476951500027L)
  }

  test("bpeish token count: alpha runs, digit runs, single symbols") {
    assert(one[Int](TextFns.bpeishTokenCount(col("t")), "ab12 cd!") == 4)
  }

  test("minhash signature: stable, bounded, sensitive to content") {
    val df = Seq("the quick brown fox jumps over the lazy dog",
      "the quick brown fox jumps over the lazy cat").toDF("t")
    val sigs = df.select(ComposedRefs.minHashSig(
      ComposedRefs.charShingles(TextFns.normText(col("t")), 4), 8).as("s"))
      .collect().map(_.getSeq[Long](0).toList)
    assert(sigs(0).size == 8)
    assert(sigs(0).forall(h => h >= 0 && h < Hashing.P))
    assert(sigs(0) != sigs(1))                  // different docs differ
    assert(sigs(0).zip(sigs(1)).count { case (a, b) => a == b } >= 4) // but mostly agree
  }

  test("Md5MinHashExpr equals the composed md5 minhash column exactly") {
    val texts = Seq("the quick brown fox", "abcd", "ab", "",
      "many words of text for a larger shingle set here today")
    val df = texts.toDF("t")
    val composed = df.select(ComposedRefs.minHashSig(
        ComposedRefs.charShingles(col("t"), 4), 4).as("s"))
      .collect().map(_.getSeq[Any](0).toList)
    val fused = df.select(graft.functions.Md5MinHash.md5MinHash(col("t"), 4, 4).as("s"))
      .collect().map(_.getSeq[Any](0).toList)
    assert(composed.toSeq == fused.toSeq)
  }

  test("Md5SimHashExpr equals the composed md5 simhash column exactly") {
    val texts = Seq("the quick brown Fox fox THE", "", "  ", "one",
      "a b c d e f g h repeated repeated words here")
    val df = texts.toDF("t")
    val composed = df.select(ComposedRefs.simHash(
        array_distinct(transform(TextFns.tokens(col("t")), t => lower(t))), 16).as("h"))
      .collect().map(_.getLong(0))
    val fused = df.select(graft.functions.Md5SimHash.md5SimHash(col("t"), 16).as("h"))
      .collect().map(_.getLong(0))
    assert(composed.toSeq == fused.toSeq)
  }

  test("Md5SimHashWideExpr matches the documented md5 hex-slice formula") {
    // single distinct token ⇒ majority vote degenerates to the token's
    // own bits, so the fingerprint halves must equal the DuckDB twin's
    // ('0x'||substr(md5('abc'),1,15))::BIGINT and substr(...,17,15):
    // md5("abc") = 900150983cd24fb0 d6963f7d28e17f72
    val r = Seq("abc").toDF("t")
      .select(graft.functions.Md5SimHash.md5SimHashWide(col("t")).as("w"))
      .select(col("w.hi"), col("w.lo")).head()
    assert(r.getLong(1) == 0x900150983cd24fbL, "lo ≠ md5 hex chars 1-15")
    assert(r.getLong(0) == 0xd6963f7d28e17f7L, "hi ≠ md5 hex chars 17-31")
    // empty text → (0, 0), matching the SQL len(hs)=0 guard
    val z = Seq("").toDF("t")
      .select(graft.functions.Md5SimHash.md5SimHashWide(col("t")).as("w"))
      .select(col("w.hi"), col("w.lo")).head()
    assert(z.getLong(0) == 0L && z.getLong(1) == 0L)
    // dedup + lowercase: same distinct-token multiset ⇒ same fingerprint
    val two = Seq("Abc ABC abc", "abc").toDF("t")
      .select(graft.functions.Md5SimHash.md5SimHashWide(col("t")).as("w"))
      .select(col("w.hi"), col("w.lo")).collect()
    assert(two(0) == two(1))
  }

  test("simHash: near docs within small hamming distance, empty → 0") {
    val df = Seq(
      ("a", "the quick brown fox jumps over the lazy dog entirely today"),
      ("b", "the quick brown fox jumps over the lazy cat entirely today"),
      ("c", "")).toDF("id", "t")
    val hs = df.select(col("id"), ComposedRefs.simHash(
        array_distinct(TextFns.tokens(col("t"))), 16).as("h"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(hs("c") == 0L)
    val d = java.lang.Long.bitCount(hs("a") ^ hs("b"))
    assert(d <= 6, s"hamming distance $d too large for near-identical docs")
  }
}
