package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.profile.Profiler
import graft.rules.Rules

class RulesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("profiler: uniqueness, null mean, sample stddev") {
    val df = Seq(
      (Some(1.0), Some("a"), None: Option[String]), (Some(2.0), Some("a"), None),
      (Some(3.0), None, None), (None, Some("b"), None)
    ).toDF("x", "s", "e")
    val p = Profiler.profile(df)
    assert(p("x").nonNull == 3 && p("x").distinct == 3)
    assert(p("x").uniqueness == 1.0)
    assert(p("x").nullMean == 0.25)
    assert(p("s").uniqueness == 2.0 / 3)
    // the sample stddev (pandas ddof=1, utils.py:224-225) comes from the
    // exact moments pass 2 derives: 1, 2, 3 → 1
    assert(math.abs(ComposedRefs.moments(df, col("x")).stddevSamp - 1.0) < 1e-12)
    // an all-null column: no values, uniqueness 0 (utils.py:159-187)
    assert(p("e").nonNull == 0 && p("e").uniqueness == 0.0 && p("e").nullMean == 1.0)
  }

  test("exactDup flags all-but-first by key asc, detail = first key") {
    val df = Seq(("u1", 10L), ("u3", 10L), ("u2", 10L), ("u4", 20L)).toDF("url", "h")
    val v = Rules.exactDup(df, col("url"), col("h")).collect()
    assert(v.map(_.getAs[String]("url")).sorted.toSeq == Seq("u2", "u3"))
    assert(v.forall(_.getAs[String]("detail") == "u1"))
  }

  test("exactDup: salted join-back == unsalted on a hot-key corpus") {
    // a mega-duplicated document (planted hot hash) plus distinct tail —
    // the north-rule skew scenario; salting must change the plan (salt
    // column in the join), never the output
    val hot = (0 until 5000).map(i => (f"hot$i%05d", 777L))
    val tail = (0 until 200).map(i => (s"t$i", 1000L + i))
    val df = (hot ++ tail).toDF("url", "h").repartition(8)
    val unsalted = Rules.exactDup(df, col("url"), col("h"), saltBuckets = 1)
    val salted = Rules.exactDup(df, col("url"), col("h"), saltBuckets = 16)
    val a = unsalted.collect().map(r =>
      (r.getAs[String]("url"), r.getAs[String]("detail"))).toSet
    val b = salted.collect().map(r =>
      (r.getAs[String]("url"), r.getAs[String]("detail"))).toSet
    assert(a == b)
    assert(a.size == 4999 && a.forall(_._2 == "hot00000"))
    assert(salted.queryExecution.executedPlan.toString.contains("__salt"))
  }

  test("zScoreExtreme: boundary-equal values flagged (reference quirk)") {
    // values 0..10 mean 5, choose k s.t. hi lands exactly on a value
    val df = (0 to 10).map(_.toDouble).toDF("x").withColumn("url", col("x").cast("string"))
    val m = graft.profile.Stats.Moments(11, 5.0, 1.0)
    // k=5 → lo=0, hi=10: values 0 and 10 sit ON the boundary → flagged
    val e = Rules.zScoreExtremeEntry(col("x"), "x", 0.5, m, 5.0).get
    val v = Rules.explodeEntries(df, col("url"), Seq(e)).collect()
    assert(v.map(_.getAs[String]("url")).sorted.toSeq == Seq("0.0", "10.0"))
  }

  test("zScoreExtreme: uniqueness gate skips rule outside (0.0001, 0.99)") {
    val df = Seq(1.0).toDF("x").withColumn("url", lit("u"))
    val m = graft.profile.Stats.Moments(2, 0.0, 1.0)
    assert(Rules.zScoreExtremeEntry(col("x"), "x", 1.0, m).isEmpty)
    assert(Rules.zScoreExtremeEntry(col("x"), "x", 0.99, m).isEmpty)
  }

  test("Stats.moments: exact and order-independent") {
    val xs = Seq(1.0, 2.0, 3.0, 4.0, 100.5)
    val a = ComposedRefs.moments(xs.toDF("x"), col("x"))
    val b = ComposedRefs.moments(
      xs.reverse.toDF("x").repartition(5), col("x"))
    assert(a == b)
    assert(a.n == 5 && math.abs(a.mean - 22.1) < 1e-9)
  }

  test("groupZScore flags within-class outliers only") {
    val rows = (1 to 20).map(i => ("a", 10.0 + (i % 3))) ++ Seq(("a", 1000.0)) ++
      (1 to 20).map(i => ("b", 500.0 + (i % 5)))
    val df = rows.zipWithIndex.map { case ((c, x), i) => (s"u$i", c, x) }
      .toDF("url", "cls", "x")
    // per-class exact moments, joined to the rows as the entry's columns
    val stats = Seq("a", "b").map { c =>
      val m = ComposedRefs.moments(df.filter(col("cls") === c), col("x"))
      (c, m.n, m.mean, m.stddevSamp)
    }.toDF("cls", "n", "mean", "sd")
    val v = Rules.explodeEntries(df.join(stats, Seq("cls")), col("url"),
      Seq(Rules.groupZScoreEntry(col("x"), col("cls"), "x",
        col("n"), col("mean"), col("sd"), 3.0))).collect()
    assert(v.length == 1)
    assert(v.head.getAs[String]("detail").startsWith("a=1000"))
  }

  test("rareCombo flags member rows of groups under minCount") {
    val df = (1 to 20).map(i => (s"u$i", "en", "com")) ++ Seq(("ux", "xx", "com"))
    val rows = df.toDF("url", "c1", "c2")
    val counted = rows.join(rows.groupBy("c1", "c2").count(), Seq("c1", "c2"))
    val v = Rules.explodeEntries(counted, col("url"), Seq(Rules.rareComboEntry(
      col("c1"), col("c2"), "c1", "c2", col("count"), 3))).collect()
    assert(v.map(_.getAs[String]("url")).toSeq == Seq("ux"))
  }

  test("tendency arms only above threshold and exempts ties") {
    val df = ((1 to 1999).map(i => (s"u$i", 1.0, 2.0)) ++ Seq(("uv", 5.0, 3.0)))
      .toDF("url", "a", "b")
    def armed(d: org.apache.spark.sql.DataFrame) = Rules.tendencyEntry(
      col("a"), col("b"), "a", "b", d.filter(col("a") < col("b")).count(), d.count())
    val v = Rules.explodeEntries(df, col("url"), armed(df).toSeq).collect()
    assert(v.map(_.getAs[String]("url")).toSeq == Seq("uv"))
    // 50/50 split → not armed
    val df2 = Seq(("u1", 1.0, 2.0), ("u2", 2.0, 1.0)).toDF("url", "a", "b")
    assert(armed(df2).isEmpty)
  }

  test("boilerplateParagraphs: cross-doc shared paragraphs flag by char fraction") {
    val footer = "subscribe to our newsletter"
    val df = Seq(
      // mostly boilerplate: short unique para + the shared footer
      ("u1", s"tiny\n\n$footer"),
      // mostly original: long unique para + the same shared footer
      ("u2", s"a much longer unique paragraph with plenty of original characters in it\n\n$footer"),
      // no shared paragraphs at all
      ("u3", "completely original text\n\nanother original paragraph"),
      // within-doc repetition is NOT cross-doc boilerplate (1 distinct doc)
      ("u4", "self repeated para\n\nself repeated para"),
      // null text never flags
      ("u5", null.asInstanceOf[String])
    ).toDF("url", "text")
    val v = Rules.boilerplateParagraphs(df, col("url"), col("text"),
      minDocs = 2, maxFrac = 0.5)
      .collect().map(r => r.getAs[String]("url") -> r.getAs[Double]("score")).toMap
    assert(v.keySet == Set("u1"), s"got $v") // 27/31 > 0.5; u2's footer frac < 0.5
    assert(math.abs(v("u1") - footer.length.toDouble / (4 + footer.length)) < 1e-12)
    // deterministic under repartitioning (hash-grouped distributed path)
    val v3 = Rules.boilerplateParagraphs(df.repartition(3), col("url"), col("text"))
      .collect().map(_.getAs[String]("url")).toSet
    val v7 = Rules.boilerplateParagraphs(df.repartition(7), col("url"), col("text"))
      .collect().map(_.getAs[String]("url")).toSet
    assert(v3 == v7 && v3 == Set("u1"))
  }

  test("ccnetBoilerplate pipeline toggle: off = no rule, on = boilerplate doc drops") {
    import graft.pipeline.QualityPipeline
    val footer = "follow us on social media for updates and exclusive offers"
    // sentence-free word soup bodies so only the boilerplate rule differs
    def body(i: Int) = (1 to 40).map(j => s"word${i}x$j").mkString(" ")
    val rows = (1 to 6).map { i =>
      val text = if (i == 1) s"small unique bit\n\n$footer\n\n$footer"
      else s"${body(i)}\n\n$footer"
      (s"http://t/p/$i", text, "en")
    }.toDF("url", "text", "lang")
      .withColumn("warc_ts", lit("2025-01-01T00:00:00Z"))
      .withColumn("html", col("text"))
    val cfg = QualityPipeline.defaultConfig.copy(ccnetBoilerplate = true)
    val on = QualityPipeline.run(rows, cfg)
    val flagged = on.verdicts.filter(col("rule") === "ccnet_boilerplate")
      .select("url").collect().map(_.getString(0)).toSet
    val kept1 = on.kept.filter(col("url") === "http://t/p/1").count()
    on.unpersist()
    assert(flagged.contains("http://t/p/1"), s"got $flagged")
    assert(!flagged.contains("http://t/p/3"))
    assert(kept1 == 0L)
    val off = QualityPipeline.run(rows)
    val offRules = off.verdicts.select("rule").distinct()
      .collect().map(_.getString(0)).toSet
    off.unpersist()
    assert(!offRules.contains("ccnet_boilerplate"))
  }
}
