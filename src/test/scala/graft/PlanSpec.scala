package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.QueryExecution

/** Plan-shape assertions (SURVEY §5.2.4): the 100 TB contract is about
  * what reaches the scan and where shuffles happen, not just row values.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val dir = "/root/testdata/sf0.01"

  private def physical(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("column pruning: unused columns never reach the parquet scan") {
    val df = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), length(col("text")).as("len"))
    val scan = df.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\n]*".r.findFirstIn(scan).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"))
    assert(!readSchema.contains("lang") && !readSchema.contains("source"),
      s"scan reads pruned columns: $readSchema")
  }

  test("predicate pushdown reaches the parquet scan") {
    val df = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > 49.0)
      .select("l_orderkey")
    val scan = physical(df)
    assert(scan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,49.0)]")
      || scan.contains("GreaterThan(l_quantity"), s"no pushdown in: ${scan.take(800)}")
  }

  test("feature projection is shuffle-free (no Exchange)") {
    val pages = graft.sources.PagesGen.generate(spark, 100, 2).toDF()
    val feat = graft.pipeline.QualityPipeline.features(pages)
    val plan = physical(feat)
    assert(!plan.contains("Exchange"), s"feature stage shuffles: ${plan.take(800)}")
  }

  test("emb_cosine_dedup: no cartesian product — SRP-bucketed equi-join") {
    val plan = physical(Queries.embCosineDedup(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in emb_cosine_dedup: ${plan.take(800)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in emb_cosine_dedup: ${plan.take(800)}")
  }

  test("dq_exact_dup: groupBy partial-agg plan, no window sort") {
    val plan = physical(Queries.dqExactDup(spark, dir))
    assert(!plan.contains("Window"), s"window in dq_exact_dup: ${plan.take(800)}")
    assert(plan.contains("HashAggregate"), plan.take(400))
  }

  test("dq_exact_dup, dq_boilerplate, dq_decontam run the rule code with no checkpoint leaf") {
    import org.apache.spark.sql.execution.RDDScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    object Adaptive extends AdaptiveSparkPlanHelper
    // each query is its rule's own code over the documents scan: the
    // final adaptive plan reads no materialised leaf
    Seq("dq_exact_dup" -> Queries.dqExactDup, "dq_boilerplate" -> Queries.dqBoilerplate,
        "dq_decontam" -> Queries.dqDecontam).foreach { case (name, q) =>
      val df = q(spark, dir)
      assert(df.collect().nonEmpty, name)
      val root = df.queryExecution.executedPlan
      val plan = s"$name: ${root.toString.take(3000)}"
      assert(!plan.contains("ExistingRDD"), plan)
      assert(Adaptive.collect(root) { case r: RDDScanExec => r }.isEmpty, plan)
    }
  }

  test("dq_profile restacks ONE aggregate scan (no per-column union of scans)") {
    // the returned frame is the driver-side restack of a single multi-agg
    // row — it must contain no parquet scan of its own
    val plan = physical(Queries.dqProfile(spark, dir))
    assert(!plan.contains("Scan parquet"), plan.take(400))
    assert(plan.contains("LocalTableScan"), plan.take(400))
  }


  test("dq_simhash_neardup(_wide): one documents scan, no join, no checkpoint leaf") {
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Adaptive extends AdaptiveSparkPlanHelper
    // the banding rule resolves its buckets in one sorted walk: the final
    // adaptive plan holds no join at all (so no cartesian or nested-loop
    // all-pairs formulation), reads documents once (the md5 kernel runs
    // once, with no checkpoint leaf to pin it), and hash-shuffles twice:
    // once on the bucket, once on the dropped doc
    Seq("dq_simhash_neardup" -> Queries.dqSimHashNearDup,
        "dq_simhash_neardup_wide" -> Queries.dqSimHashNearDupWide).foreach {
      case (name, q) =>
        val df = q(spark, dir)
        assert(df.collect().nonEmpty, name)
        val root = df.queryExecution.executedPlan
        val plan = s"$name: ${root.toString.take(3000)}"
        assert(!plan.contains("CartesianProduct") &&
          !plan.contains("BroadcastNestedLoopJoin") && !plan.contains("ExistingRDD"), plan)
        assert(Adaptive.collect(root) { case j: BaseJoinExec => j }.isEmpty, plan)
        assert(Adaptive.collect(root) { case r: RDDScanExec => r }.isEmpty, plan)
        val scans = Adaptive.collect(root) { case f: FileSourceScanExec => f }
        assert(scans.map(_.relation.location.rootPaths.map(_.getName)) ==
          Seq(Seq("documents.parquet")), plan)
        assert(Adaptive.collect(root) {
          case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
        }.size == 2, plan)
    }
  }

  test("ev_sessionize: ONE shuffle — the session agg reuses the window's user_id partitioning") {
    // HashPartitioning(user_id) satisfies ClusteredDistribution(user_id,
    // session_no), so the groupBy after the per-user window must NOT add
    // a second Exchange: sessionization at 100 TB is one narrow shuffle
    // on the session key, full stop. (orderBy adds a range exchange for
    // presentation only — assert on the unsorted core.)
    val core = graft.streaming.EventStream.sessionizeBatch(
      spark.read.parquet(s"$dir/events.parquet"))
    val plan = physical(core)
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 hash exchange, got $exchanges:\n${plan.take(1200)}")
  }

  test("emb_ann_ivf: cell-probe equi-join — no cartesian, broadcast query side") {
    val plan = physical(Queries.embAnnIvf(spark, dir))
    assert(!plan.contains("CartesianProduct"),
      s"cartesian product in emb_ann_ivf: ${plan.take(800)}")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in emb_ann_ivf: ${plan.take(800)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"cell probe join is not broadcast: ${plan.take(800)}")
  }

  test("whole-stage codegen covers the scalar feature expressions") {
    // NOTE: higher-order array functions (filter/transform/aggregate) are
    // interpreted in Spark — only scalar expression chains codegen. The
    // scan + scalar features must be inside a WholeStageCodegen span.
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val f = d.select(ComposedRefs.symbolRatio(col("text")),
      graft.functions.TextFns.fingerprint(col("text")))
    // codegen'd spans print as "*(n) Project ..." in the physical plan
    assert(physical(f).contains("*(1)"), physical(f).take(500))
  }

  test("dq_decontam: broadcast eval probe; no shuffle carries gram text") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    object Adaptive extends AdaptiveSparkPlanHelper
    val q = Queries.dqDecontam(spark, dir)
    assert(q.collect().nonEmpty)
    val root = q.queryExecution.executedPlan
    val plan = root.toString.take(3000)
    // the eval set is a broadcast hash set probed inside the per-doc
    // kernel: the final plan joins nothing, and its one exchange is the
    // presentation sort, which carries neither text nor tokens
    assert(plan.contains("evalhitsexpr"), s"eval probe is not the kernel: $plan")
    assert(Adaptive.collect(root) { case j: BaseJoinExec => j }.isEmpty, plan)
    val exchanges = Adaptive.collect(root) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, plan)
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("text") && !names.contains("__toks"),
        s"shuffle carries corpus text/tokens: ${names.mkString(",")}")
    }
  }

  test("boilerplateParagraphs: no shuffle carries paragraph text (8-byte hash only)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val pages = graft.sources.PagesGen.generate(spark, 200, 2).toDF()
    // the OVERFLOW regime (set bound 0 — the 200 pages share paragraphs,
    // so the set overflows): the composed shuffle chain. The below-bound
    // regime has no exchange at all (see the text battery tests below).
    val regime = graft.rules.Rules.boilerplateRegime(
      pages, col("url"), col("text"), 2, 0.5, cap = 0)
    assert(regime.isLeft, "bound 0 must select the composed chain")
    val v = graft.rules.Rules.textBattery(
      pages, col("url"), col("text"), Seq(regime))
    // Walk the physical tree: every Exchange must ship only (__h, __k,
    // __len)-shaped rows — the exploded paragraph STRING `__p` must be
    // projected away before any shuffle boundary. At 10^8 docs a shuffle
    // carrying paragraph bodies is the difference between an 8-byte-key
    // shuffle and re-shipping the corpus.
    val root = v.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = root.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, "expected at least one shuffle in the rule")
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("__p"),
        s"shuffle carries paragraph text: ${names.mkString(",")}")
    }
  }

  test("substrDupStats: no shuffle carries gram text (8-byte hash + position only)") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val pages = graft.sources.PagesGen.generate(spark, 200, 2).toDF()
    // the OVERFLOW regime (set bound 0): the composed shuffle chain
    val st = graft.functions.ExactSubstr.substrDupStats(
      pages, col("url"), col("text"), l = 8, maxBroadcastGrams = 0)
    // Same contract as boilerplateParagraphs: the exploded L-gram STRING
    // `__g` must die in the scan partition (projected to xxhash64) —
    // every Exchange ships only (__h, __k, __pos)-shaped rows. An
    // L-gram-text shuffle would ship ~L copies of the corpus.
    val root = st.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val exchanges = root.collect { case e: ShuffleExchangeExec => e }
    assert(exchanges.nonEmpty, "expected at least one shuffle in the operator")
    exchanges.foreach { e =>
      val names = e.output.map(_.name)
      assert(!names.contains("__g"),
        s"shuffle carries gram text: ${names.mkString(",")}")
      // post-GramHash shape: the gram string never exists; the staged
      // text/token columns must die in the scan partition too
      assert(!names.contains("__t") && !names.contains("__toks"),
        s"shuffle carries doc text/tokens: ${names.mkString(",")}")
    }
  }

  private def shuffles(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val root = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    (root, root.collect { case e: ShuffleExchangeExec => e })
  }

  test("text battery set aggregates: exchanges carry only the key flag, 8-byte hash and count") {
    import org.apache.spark.sql.types.{BooleanType, LongType}
    import graft.functions.{ExactSubstr, Paragraphs}
    val pages = graft.sources.PagesGen.generate(spark, 200, 2).toDF()
    // the shared-paragraph and shared-L-gram set aggregates are the only
    // shuffles of the below-bound battery: one map-side-combined
    // (key flag, hash, partial count) exchange each — never text, tokens,
    // gram or paragraph strings, nor the document key itself (only its
    // 8-byte hash, counted to check that keys are unique)
    Seq("paragraphs" -> Paragraphs.sharedFrame(pages, col("url"), col("text"), 2),
        "l-grams" -> ExactSubstr.sharedGramFrame(pages, col("url"), col("text"), 8, 2))
      .foreach { case (name, agg) =>
        val (_, exchanges) = shuffles(agg)
        assert(exchanges.nonEmpty, s"$name: expected the aggregate's exchange")
        exchanges.foreach { e =>
          val names = e.output.map(_.name)
          Seq("__p", "__g", "__t", "__toks", "__k", "url", "text").foreach { c =>
            assert(!names.contains(c), s"$name: shuffle carries $c: ${names.mkString(",")}")
          }
          assert(e.output.map(_.dataType) == Seq(BooleanType, LongType, LongType),
            s"$name: shuffle is not (flag, hash, count): ${e.output.mkString(",")}")
        }
      }
  }

  test("text battery below the bound: per-document plans, zero shuffles and no window") {
    import graft.rules.Rules
    import spark.implicits._
    val pages = graft.sources.PagesGen.generate(spark, 200, 2).toDF()
    val ev = graft.functions.Decontam.evalGrams(
      Seq("the quick brown fox jumps over the lazy dog near the river").toDF("p"),
      col("p"), 8)
    val plans = Seq(
      "boilerplate" -> Rules.boilerplateParagraphs(pages, col("url"), col("text")),
      "decontam" -> Rules.contaminationRule(pages, col("url"), col("text"), ev, 8),
      "substr" -> Rules.exactSubstrDup(pages, col("url"), col("text"), l = 8),
      "substr stats" -> graft.functions.ExactSubstr.substrDupStats(
        pages, col("url"), col("text"), l = 8),
      "battery" -> Rules.textBattery(pages, col("url"), col("text"), Seq(
        Rules.boilerplateRegime(pages, col("url"), col("text"), 2, 0.5),
        Right(Rules.contaminationKernel(ev, 8, 1)),
        Rules.exactSubstrRegime(pages, col("url"), col("text"), 8, 2, 0.5),
        Right(Rules.modelQualityKernel(0.45)))))
    val sharedParas = graft.functions.Paragraphs.sharedFrame(pages, col("url"), col("text"), 2)
      .filter(!col("__key")).select("__h").as[Long].collect()
    assert(sharedParas.nonEmpty)
    plans.foreach { case (name, df) =>
      val (root, exchanges) = shuffles(df)
      assert(exchanges.isEmpty,
        s"$name: below-bound plan shuffles: ${root.toString.take(1200)}")
      assert(!root.toString.contains("Window"),
        s"$name: below-bound plan sorts a window: ${root.toString.take(1200)}")
      // the broadcast set is named by its size only, never its contents
      assert("<\\d+ hashes>".r.findFirstIn(df.queryExecution.toString).isDefined,
        s"$name: plan does not name its hash set: ${root.toString.take(1200)}")
      val planText = df.queryExecution.toString
      assert(!sharedParas.exists(h => planText.contains(h.toString)),
        s"$name: plan string carries set contents")
    }
  }

  test("pass 2: one entry pass — one Generate, no cache of its own, no shuffle join") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec,
      ShuffledHashJoinExec, SortMergeJoinExec}
    import graft.pipeline.QualityPipeline
    val pages = graft.sources.PagesGen.generate(spark, 200, 2).toDF()
    val v = QualityPipeline.pass2Verdicts(QualityPipeline.features(pages),
      QualityPipeline.defaultConfig)
    val (root, _) = shuffles(v)
    val plan = root.toString.take(1500)
    assert(root.collect { case g: GenerateExec => g }.size == 1, plan)
    assert(root.collect { case m: InMemoryTableScanExec => m }.isEmpty, plan)
    assert(root.collect {
      case j: SortMergeJoinExec => j
      case j: ShuffledHashJoinExec => j
    }.isEmpty, plan)
    assert(root.collect { case j: BroadcastHashJoinExec => j }.size == 1, plan)
  }

  test("local verdict sets: the survivor and kept anti-joins are broadcasts " +
    "of local relations in the initial plan") {
    import scala.jdk.CollectionConverters._
    import org.apache.spark.ListenerBusDrain
    import org.apache.spark.sql.catalyst.plans.LeftAnti
    import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, Exchange}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.pipeline.QualityPipeline
    val pages = graft.sources.PagesGen.generate(spark, 500, 2).toDF()
    // the survivor anti-join runs inside run(): capture the plans of the
    // actions it takes
    val executed = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        executed.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val r = try {
      val r = QualityPipeline.run(pages)
      ListenerBusDrain.drain(spark.sparkContext)
      r
    } finally spark.listenerManager.unregister(l)
    // the plan AQE starts from, before any stage runs
    def initial(p: SparkPlan) = p.collect { case a: AdaptiveSparkPlanExec => a.initialPlan }
    def antiJoins(p: SparkPlan) = p.collect {
      case j: BaseJoinExec if j.joinType == LeftAnti => j
    }
    try {
      // pass 2's group fetch, stats fetch and entry pass each read the
      // survivors of the feature cache
      val survivorJoins = executed.asScala.toSeq.flatMap(initial).flatMap(antiJoins)
      val keptJoins = initial(r.kept.queryExecution.executedPlan).flatMap(antiJoins)
      assert(survivorJoins.size == 3, survivorJoins.mkString("\n"))
      assert(survivorJoins.forall(_.left.collect { case m: InMemoryTableScanExec => m }.nonEmpty))
      assert(keptJoins.size == 1, keptJoins.mkString("\n"))
      (survivorJoins ++ keptJoins).foreach { j =>
        val plan = j.toString.take(2000)
        assert(j.isInstanceOf[BroadcastHashJoinExec], plan)
        // the build side is the broadcast of local relations: no shuffle
        // map stage runs to learn its size
        assert(j.right.isInstanceOf[BroadcastExchangeExec], plan)
        assert(j.right.collect { case e: Exchange => e }.size == 1, plan)
        assert(j.right.collect { case t: LocalTableScanExec => t }.nonEmpty, plan)
      }
    } finally r.unpersist()
  }
}
