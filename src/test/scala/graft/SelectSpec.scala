package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.curation.Select
import graft.functions.TextFns

class SelectSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // 3 langs × uneven sizes, distinct deterministic scores, token counts
  // 5-50 — every language fills three buckets and crosses the budget line
  private lazy val corpus = {
    val r = new scala.util.Random(43)
    val rows = (1 to 900).map { i =>
      val lang = Seq("en", "de", "zh")(i % 3)
      val n = if (lang == "zh" && i > 600) 0 else 1 // zh smaller
      (s"doc$i", lang, i * 0.001 + (i % 7) * 10.0, 5L + r.nextInt(46), n)
    }.filter(_._5 == 1).map(t => (t._1, t._2, t._3, t._4))
    rows.toDF("key", "lang", "score", "tokens")
      .withColumn("h", TextFns.md5Long(col("key")))
  }

  test("ntileBuckets: per-lang bucket sizes differ by <= 1, ordered by score") {
    val b = Select.ntileBuckets(corpus, col("key"), col("lang"), col("score"), 3)
      .select("key", "lang", "score", "bucket").collect()
    val byLang = b.groupBy(_.getString(1))
    byLang.foreach { case (lang, rows) =>
      val sizes = rows.groupBy(_.getInt(3)).view.mapValues(_.length).toMap
      assert(sizes.keySet == Set(1, 2, 3), lang)
      assert(sizes.values.max - sizes.values.min <= 1, lang)
      // every bucket-1 score <= every bucket-3 score
      assert(rows.filter(_.getInt(3) == 1).map(_.getDouble(2)).max <=
        rows.filter(_.getInt(3) == 3).map(_.getDouble(2)).min, lang)
    }
  }

  test("tokenBudget: keeps best-first until the budget line; crossing doc kept") {
    val b = Select.ntileBuckets(corpus, col("key"), col("lang"), col("score"), 3)
    val kept = Select.tokenBudget(b, col("key"), col("lang"), col("bucket"),
        col("h"), col("tokens"), budget = 800L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
    // brute-force twin
    val all = b.select("key", "lang", "bucket", "h", "tokens").collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3), r.getLong(4)))
    val expect = all.groupBy(_._2).toSeq.flatMap { case (_, rows) =>
      val sorted = rows.toSeq.sortBy(t => (t._3, t._4, t._1))
      var acc = 0L
      sorted.takeWhile { t => val keep = acc < 800L; acc += t._5; keep }
    }.map(t => (t._1, t._2, t._3, t._5)).toSet
    assert(kept.toSet == expect)
    // budget is crossed, not undershot: per lang, kept sum >= 800 (or whole lang)
    kept.groupBy(_._2).foreach { case (lang, rows) =>
      val total = all.filter(_._2 == lang).map(_._5).sum
      assert(rows.map(_._4).sum >= math.min(800L, total), lang)
    }
  }
}
