package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.rules.Rules
import graft.sources.{PageSource, PagesGen}

/** Specs for the SURVEY §2 coverage operators added late in round 1:
  * source dispatch/schema guard (S1-S3/P1), fractional year (P3),
  * value-uniqueness sanity (D4), shared-encoding correlation (G3),
  * multimodal plumbing.
  */
class CoverageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("PageSource: extension dispatch accepts lake formats, rejects others") {
    assert(PageSource.formatOf("/data/pages.parquet") == "parquet")
    assert(PageSource.formatOf("/data/pages.JSON") == "json")
    intercept[IllegalArgumentException](PageSource.formatOf("/data/pages.xlsx"))
  }

  test("PageSource: schema guard names missing/mismatched columns") {
    val ok = PagesGen.generate(spark, 10, 2).toDF()
    assert(PageSource.validate(ok).count() == 10)
    val bad = ok.drop("html").withColumn("lang", lit(1))
    val e = intercept[IllegalArgumentException](PageSource.validate(bad))
    assert(e.getMessage.contains("html") && e.getMessage.contains("lang"))
  }

  test("PageSource: round-trips pages through parquet") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pages").toString + "/pages.parquet"
    PagesGen.generate(spark, 50, 2).toDF().write.mode("overwrite").parquet(dir)
    val back = PageSource.load(spark, dir)
    assert(back.count() == 50)
    assert(back.head().url.startsWith("https://"))
  }

  test("yearFraction matches the reference formula") {
    val got = Seq("2006-11-16").toDF("d")
      .select(graft.functions.DateFns.yearFraction(col("d").cast("timestamp")))
      .head().getDouble(0)
    assert(math.abs(got - (2006.0 + 11.0 / 12 + 16.0 / 365)) < 1e-12)
  }

  test("nonUniqueValues: both regimes and the gate in between") {
    val mostlyUnique = (1 to 100).map(i => (s"u$i", s"v$i")) :+ (("u101", "v1"))
    val df1 = mostlyUnique.toDF("url", "v")
    val r1 = Rules.nonUniqueValues(df1, col("url"), col("v"), "v",
      uniqueness = 100.0 / 101).get.collect()
    assert(r1.map(_.getAs[String]("url")).sorted.toSeq == Seq("u1", "u101"))

    val mostlyRepeated = (1 to 100).map(i => (s"u$i", "same")) :+ (("u101", "odd"))
    val df2 = mostlyRepeated.toDF("url", "v")
    val r2 = Rules.nonUniqueValues(df2, col("url"), col("v"), "v",
      uniqueness = 0.0005).get.collect()
    assert(r2.map(_.getAs[String]("url")).toSeq == Seq("u101"))

    assert(Rules.nonUniqueValues(df1, col("url"), col("v"), "v", 0.5).isEmpty)
  }

  test("corrStr: perfectly correlated encoded columns found, independents not") {
    val rows = (1 to 60).map { i =>
      val a = Seq("x", "y", "z")(i % 3)
      (s"u$i", a, a.toUpperCase, Seq("p", "q")(i % 2))
    }
    val df = rows.toDF("url", "c1", "c2", "c3")
    val m = Rules.corrStr(df, Seq("c1", "c2", "c3"))
    assert(m.keySet == Set(("c1", "c2"), ("c1", "c3"), ("c2", "c3")))
    // one shared encoding: x,y,z and X,Y,Z rank in the same order
    assert(math.abs(m(("c1", "c2")).get - 1.0) < 1e-12)
    assert(math.abs(m(("c1", "c3")).get) < 0.5)
    assert(Rules.corrStr(df, Seq("c1")).isEmpty)
  }

  test("multimodal: meta extraction plumbing") {
    val df = Seq((1L, "hello world this is payload data".getBytes("UTF-8")),
      (2L, Array.fill[Byte](1024)(7))).toDF("doc_id", "payload")
    val meta = graft.multimodal.Multimodal.extractMeta(df).collect()
      .map(m => m.doc_id -> m).toMap
    assert(meta(1L).n_bytes == 32 && meta(1L).magic_hex == "68656C6C".toUpperCase)
    assert(meta(2L).n_bytes == 1024)
    assert(meta(1L).width > 0 && meta(1L).height > 0)
  }

  test("multimodal: ISO BMFF video header decode round-trips makeMp4 and rejects junk") {
    import graft.multimodal.Multimodal
    // round-trip: every field of the parsed header equals the mux input
    for ((w, h, ts, dur, nf) <- Seq((320, 240, 1000, 5000, 24),
      (1920, 1080, 90000, 90000 * 3, 72), (160, 120, 600, 600, 1))) {
      val bytes = Multimodal.makeMp4(w, h, ts, dur, nf)
      val got = Multimodal.decodeVideo(bytes)
      assert(got.contains((w, h, ts.toLong, dur.toLong, nf.toLong, "isom")),
        s"decode mismatch for ($w,$h,$ts,$dur,$nf): $got")
    }
    // junk, truncated and non-video payloads are rejected, not crashed
    assert(Multimodal.decodeVideo(Array[Byte]()).isEmpty)
    assert(Multimodal.decodeVideo("not a video".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.decodeVideo(Multimodal.makePng(8, 8, 1L)).isEmpty)
    assert(Multimodal.decodeVideo(
      Multimodal.makeMp4(320, 240, 1000, 5000, 24).take(40)).isEmpty)
    // typed extraction surfaces unknowns as the sentinel row
    val df = Seq(
      (1L, Multimodal.makeMp4(640, 480, 1000, 2000, 48)),
      (2L, Array.fill[Byte](64)(9))).toDF("doc_id", "payload")
    val vm = Multimodal.extractVideoMeta(df).collect().map(m => m.doc_id -> m).toMap
    assert(vm(1L).width == 640 && vm(1L).height == 480 &&
      vm(1L).n_frames == 48 && vm(1L).brand == "isom")
    assert(vm(2L).n_frames == -1L && vm(2L).brand == "unknown")
  }
}
