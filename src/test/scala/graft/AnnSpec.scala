package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.embed.Ann

class AnnSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("cosine column matches hand-computed value") {
    val df = Seq((Seq(1.0f, 0.0f, 1.0f), Seq(1.0f, 1.0f, 0.0f))).toDF("a", "b")
    val got = df.select(Ann.cosine(col("a"), col("b"))).head().getDouble(0)
    assert(math.abs(got - 0.5) < 1e-12) // dot=1, norms=sqrt2*sqrt2
  }

  test("fused cosine == composed HOF cosine, bit-identical incl. degenerates") {
    // float/float: the ANN paths' shape — random-ish values exercise
    // accumulation order (any reordering would flip low mantissa bits)
    val ff = Seq(
      (Seq(1.0f, 0.0f, 1.0f), Seq(1.0f, 1.0f, 0.0f)),
      (Seq(0.123f, -9.75f, 3.3e-5f, 7.1f), Seq(-2.5f, 0.004f, 81.25f, -0.33f)),
      (Seq(1.0f, 2.0f), Seq(1.0f)))                // length mismatch: NULL
      .toDF("a", "b")
    val both = ff.select(Ann.cosine(col("a"), col("b")).as("f"),
      ComposedRefs.cosineComposed(col("a"), col("b")).as("c")).collect()
    both.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch: $r")
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)),
          s"bit mismatch: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
    assert(both(2).isNullAt(0), "length mismatch must be NULL")
    // zero-norm / empty arrays: 0/0 — the fused kernel keeps IEEE double
    // semantics (NaN — what DuckDB's list_cosine_similarity and the
    // pre-ANSI composed form give); under Spark 4's ANSI default the
    // composed Divide THROWS here instead, so no differential is possible
    // (query paths never reach this: fixtures are clean and embCluster
    // guards zero-norm before calling cosine)
    val degen = Seq(
      (Seq(0.0f, 0.0f), Seq(1.0f, 2.0f)),
      (Seq.empty[Float], Seq.empty[Float])).toDF("a", "b")
    degen.select(Ann.cosine(col("a"), col("b")).as("f")).collect()
      .foreach(r => assert(!r.isNullAt(0) && r.getDouble(0).isNaN,
        s"0/0 must stay NaN, got $r"))
    // mixed float/double (the embCluster shape: vector vs literal centroid)
    val fd = Seq((Seq(0.6f, -1.25f, 4.5f))).toDF("a")
      .select(col("a"), array(lit(0.25), lit(-3.5), lit(0.875)).as("b"))
    val r2 = fd.select(Ann.cosine(col("a"), col("b")).as("f"),
      ComposedRefs.cosineComposed(col("a"), col("b")).as("c")).head()
    assert(java.lang.Double.doubleToRawLongBits(r2.getDouble(0)) ==
      java.lang.Double.doubleToRawLongBits(r2.getDouble(1)))
    // null element poisons the fold on either side
    val ne = Seq((Seq(Some(1.0f), None, Some(2.0f)), Seq(Some(1.0f), Some(1.0f), Some(1.0f))))
      .toDF("a", "b")
    val r3 = ne.select(Ann.cosine(col("a"), col("b")).as("f"),
      ComposedRefs.cosineComposed(col("a"), col("b")).as("c")).head()
    assert(r3.isNullAt(0) && r3.isNullAt(1), "null element must yield NULL on both")
  }

  test("fused normSq == composed aggregate fold, bit-identical") {
    val df = Seq(
      Seq(0.123f, -9.75f, 3.3e-5f, 7.1f),
      Seq(0.0f, 0.0f),
      Seq.empty[Float]).toDF("a")
    val composed = aggregate(col("a"), lit(0.0),
      (acc, v) => acc + v.cast("double") * v.cast("double"))
    df.select(Ann.normSq(col("a")).as("f"), composed.as("c")).collect().foreach { r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"bit mismatch: $r")
    }
    // null array and null element both yield NULL on both paths
    val nulls = Seq(
      (None: Option[Seq[Option[Float]]]),
      Some(Seq(Some(1.0f), None))).toDF("a")
    nulls.select(Ann.normSq(col("a")).as("f"), composed.as("c")).collect().foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1), s"must be NULL on both: $r")
    }
  }

  test("normSq: an array<int> input fails analysis") {
    val ints = Seq(Seq(1, 2, 3)).toDF("a")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      ints.select(Ann.normSq(col("a"))))
    assert(e.getMessage.contains("array<float|double>"), e.getMessage)
  }

  test("bruteForceTopK: exact neighbors, deterministic tie-break") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec")).cache()
    val queries = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val topk = Ann.bruteForceTopK(corpus, queries, 5).collect()
    assert(topk.length == 25)
    // driver-side verification for qid=0
    val vecs = corpus.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val q0 = vecs(0L)
    val expect = vecs.toSeq.filter(_._1 != 0L)
      .map { case (id, v) => (id, cos(q0, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(5).map(_._1)
    val got = topk.filter(_.getAs[Long]("qid") == 0L)
      .sortBy(_.getAs[Int]("rank")).map(_.getAs[Long]("id")).toSeq
    assert(got == expect)
  }

  test("lshTopK: bucketed candidates, recall vs brute force reported") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet")
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec")).cache()
    val q2 = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val exact = Ann.bruteForceTopK(corpus, q2, 5).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val approx = Ann.lshTopK(corpus, q2, 5, dim = 64, nBits = 6, tables = 12)
      .collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    assert(approx.nonEmpty)
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"LSH recall@5 = $recall%.3f (${approx.size} results returned)")
    // NOTE: the fixture embeddings are pure random vectors (top-5 cos
    // ≈ 0.32, no cluster structure) — the hardest case for LSH. On real
    // clustered embeddings recall is far higher; here we assert the
    // multi-table union beats chance by a wide margin.
    assert(recall > 0.25, f"recall $recall%.3f suspiciously low")
    // every approx hit must share the query's bucket AND be a true vector
    assert(approx.forall { case (q, i) => q != i })
  }

  test("fused srpBuckets equal the composed reference (and mismatched dim → 0)") {
    val e = spark.read.parquet(s"$dir/embeddings.parquet").limit(100)
      .select(col("vec_id"), col("embedding").as("vec"))
    val both = e.select(
      Ann.srpBuckets(col("vec"), 64, 6, 4).as("fused"),
      transform(ComposedRefs.srpSignaturesComposed(col("vec"), 64, 6, 4),
        s => s.getField("bucket")).as("composed"))
    both.collect().foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
    // wrong-dim vector → all-zero buckets on both paths
    val bad = Seq(Seq(1.0f, 2.0f)).toDF("vec").select(
      Ann.srpBuckets(col("vec"), 64, 6, 4).as("fused"))
    assert(bad.head().getSeq[Long](0).forall(_ == 0L))
  }

  test("autoNBits sizes buckets to the corpus (occupancy ≈ targetBucket)") {
    // buckets/table = 2^nBits ⇒ expected occupancy n/2^nBits ≤ target
    assert(Ann.autoNBits(2000, 64) == 5) //  2k/32  = 62 ≤ 64
    assert(Ann.autoNBits(1000000000L, 64) == 24) // 1e9/2^24 ≈ 60
    assert(Ann.autoNBits(10, 64) == 4) // floor
    Seq(1000L, 100000L, 10000000L).foreach { n =>
      val bits = Ann.autoNBits(n, 64)
      assert(n.toDouble / (1L << bits) <= 64.0, s"occupancy blown at n=$n")
    }
  }

  // deterministic clustered corpus at a NON-fixture scale: 200 centers ×
  // 100 members, dim 32 — shared by the LSH grid and the IVF test.
  private lazy val corpus20k = {
    var seed = 0x9e3779b97f4a7c15L
    def next(): Double = {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      (seed >>> 11) * 1.1102230246251565e-16 * 2.0 - 1.0
    }
    val centers = Array.fill(200, 32)(next())
    val rows = (0 until 20000).map { i =>
      val c = centers(i % 200)
      (i.toLong, c.map(x => (x + 0.2 * next()).toFloat).toSeq)
    }
    val df = rows.toDF("id", "vec").repartition(8).cache()
    df.count()
    df
  }
  private lazy val queries20k = corpus20k.filter(col("id") < 10)
    .select(col("id").as("qid"), col("vec").as("qvec")).cache()
  private lazy val exact20k = Ann.bruteForceTopK(corpus20k, queries20k, 5).collect()
    .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet

  test("ANN recall grid at 20k vectors: auto settings clear 0.6; tradeoffs pinned") {
    // the regime autoNBits' occupancy math targets
    // (auto = ⌈log₂(20000/64)⌉ = 9 bits ⇒ ~39 vectors/bucket/table)
    val df = corpus20k
    val queries = queries20k
    val exact = exact20k
    val auto = Ann.autoNBits(20000, 64)
    assert(auto == 9)
    val grid = (for {
      nBits <- Seq(auto - 2, auto, auto + 2)
      tables <- Seq(6, 12)
      mp <- Seq(false, true)
    } yield {
      val approx = Ann.lshTopK(df, queries, 5, dim = 32, nBits = nBits,
          tables = tables, multiProbe = mp).collect()
        .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
      val recall = (exact intersect approx).size.toDouble / exact.size
      info(f"nBits=$nBits%2d tables=$tables%2d multiProbe=$mp%-5s recall@5=$recall%.3f")
      ((nBits, tables, mp), recall)
    }).toMap
    // the auto operating point must clear the bound
    assert(grid((auto, 12, true)) >= 0.6,
      f"auto settings recall ${grid((auto, 12, true))}%.3f < 0.6")
    // pinned tradeoffs — these are STRUCTURAL, not statistical:
    // (a) tables are prefix-nested (hyperplanes(·, nBits, 6) is the first
    //     half of hyperplanes(·, nBits, 12)), so more tables ⇒ candidate
    //     superset ⇒ recall can only go up;
    // (b) multi-probe only ADDS query-side probes ⇒ same.
    for (nBits <- Seq(auto - 2, auto, auto + 2); mp <- Seq(false, true))
      assert(grid((nBits, 12, mp)) >= grid((nBits, 6, mp)),
        s"more tables lowered recall at nBits=$nBits mp=$mp")
    for (nBits <- Seq(auto - 2, auto, auto + 2); tables <- Seq(6, 12))
      assert(grid((nBits, tables, true)) >= grid((nBits, tables, false)),
        s"multi-probe lowered recall at nBits=$nBits tables=$tables")
  }

  test("IVF ANN at 20k vectors: trained quantizer recall ≥ 0.8; assignment deterministic; planted copy exact") {
    val k = Ann.autoCells(20000) // 141 cells ≈ √n
    val cents = Ann.trainCentroids(corpus20k, "vec", 32, k)
    assert(cents.length == k)
    val approx = Ann.ivfTopK(corpus20k, queries20k, 5, cents, nProbe = 4)
      .collect().map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val recall = (exact20k intersect approx).size.toDouble / exact20k.size
    info(f"IVF recall@5 = $recall%.3f (k=$k cells, nProbe=4)")
    // the corpus IS clustered (200 true centers); a trained quantizer
    // should track them far better than the 0.6 LSH floor
    assert(recall >= 0.8, f"IVF recall $recall%.3f below 0.8")
    // deterministic training + assignment: identical call, identical cells
    val cents2 = Ann.trainCentroids(corpus20k, "vec", 32, k)
    assert(cents.zip(cents2).forall { case (a, b) => a.sameElements(b) })
    // planted-copy guarantee (the emb_ann_ivf oracle's soundness): an
    // identical vector computes the identical argmax cell
    val cells = corpus20k.limit(50)
      .select(col("id"), element_at(Ann.ivfCells(col("vec"), cents, 1), 1).as("cell"),
        element_at(Ann.ivfCells(col("vec"), cents, 1), 1).as("cell2"))
      .collect()
    cells.foreach(r => assert(r.getLong(1) == r.getLong(2) && r.getLong(1) >= 0))
    // wrong-dim vector → cell -1 (never joins)
    val bad = Seq(Seq(1.0f, 2.0f)).toDF("vec")
      .select(element_at(Ann.ivfCells(col("vec"), cents, 1), 1)).head().getLong(0)
    assert(bad == -1L)
  }

  test("IVF training sample is partition-independent: identical centroids at any repartitioning") {
    // the production determinism contract: centroids are a pure function
    // of the corpus CONTENT, never of split sizing / parallelism / file
    // order (a bare limit() sample changes whenever partitions do)
    val k = 32
    val layouts = Seq(corpus20k.repartition(3), corpus20k.repartition(7),
      corpus20k.coalesce(1))
    val all = layouts.map(df => Ann.trainCentroids(df, "vec", 32, k))
    all.foreach(c => assert(c.length == k))
    all.sliding(2).foreach { case Seq(a, b) =>
      assert(a.zip(b).forall { case (x, y) => x.sameElements(y) },
        "centroids differ across repartitionings")
    }
  }

  test("IVF cell assignment tie-break: equal cosines keep the LOWEST cell") {
    // duplicate centroids force an EXACT tie (identical float math, not
    // an epsilon coincidence) — the argmax must keep the first/lowest
    // cell, the contract the emb_cluster oracle's >= CASE chain replays
    val c = Array.tabulate(4)(_.toFloat + 1f)
    val d = Array.tabulate(4)(i => 4f - i)
    val cents = Array(c, c.clone(), d, d.clone())
    val vs = Seq(
      Seq(1f, 2f, 3f, 4f),   // ties cells 0/1 exactly → 0
      Seq(4f, 3f, 2f, 1f),   // ties cells 2/3 exactly → 2
      Seq(1f, 1f, 1f, 1f))
    val out = vs.toDF("vec")
      .select(element_at(Ann.ivfCells(col("vec"), cents, 1), 1).as("cell"))
      .as[Long].collect().toSeq
    assert(out(0) == 0L && out(1) == 2L, s"tie-break broke: $out")
    assert(out(2) == 0L || out(2) == 2L) // whichever wins, never the clone
  }

  test("ivfTopK: malformed (dim-mismatched) vectors never join, not even with each other") {
    val k = 16
    val cents = Ann.trainCentroids(corpus20k, "vec", 32, k)
    val badCorpus = corpus20k.limit(100).unionByName(
      Seq((900001L, Seq(1.0f, 2.0f)), (900002L, Seq(3.0f))).toDF("id", "vec"))
    val badQueries = queries20k.unionByName(
      Seq((800001L, Seq(1.0f, 2.0f))).toDF("qid", "qvec"))
    val res = Ann.ivfTopK(badCorpus, badQueries, 5, cents, nProbe = 4).collect()
    // no malformed id on either side of any result row, and no null cosine
    assert(res.forall(r => r.getAs[Long]("qid") < 800000L &&
      r.getAs[Long]("id") < 900000L && !r.isNullAt(r.fieldIndex("cos"))),
      s"malformed vectors leaked into results: ${res.filter(r =>
        r.getAs[Long]("qid") >= 800000L || r.getAs[Long]("id") >= 900000L).toSeq}")
  }

  test("lshTopK with autoNBits + multi-probe: recall ≥ 0.6 on CLUSTERED vectors") {
    // deterministic clustered fixture: 20 centers × 50 members, dim 16 —
    // the realistic ANN regime (random vectors, tested above, are the
    // degenerate worst case). Neighbors of a query are its cluster mates.
    var seed = 0x243f6a8885a308dL
    def next(): Double = {
      seed ^= seed << 13; seed ^= seed >>> 7; seed ^= seed << 17
      (seed >>> 11) * 1.1102230246251565e-16 * 2.0 - 1.0
    }
    val centers = Array.fill(20, 16)(next())
    val rows = (0 until 1000).map { i =>
      val c = centers(i % 20)
      (i.toLong, c.map(x => (x + 0.15 * next()).toFloat).toSeq)
    }
    val df = rows.toDF("id", "vec").cache()
    val queries = df.filter(col("id") < 5)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val exact = Ann.bruteForceTopK(df, queries, 10).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val nBits = Ann.autoNBits(1000, 64) // = 4
    val approx = Ann.lshTopK(df, queries, 10, dim = 16, nBits = nBits,
        tables = 12, multiProbe = true).collect()
      .map(r => (r.getAs[Long]("qid"), r.getAs[Long]("id"))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    info(f"clustered LSH recall@10 = $recall%.3f (nBits=$nBits, 12 tables, multiprobe)")
    assert(recall >= 0.6, f"clustered recall $recall%.3f below 0.6")
  }

  test("embCluster degenerate vectors: zero → (cell 0, cos -1.0), NULL → (NULL, NULL), wrong dim → (-1, NULL)") {
    // the rows the query plants itself (negative vec_id); the DuckDB twin
    // replays the same guards — this pins the Spark half independently
    val out = Queries.embCluster(spark, dir)
      .filter(col("vec_id") < 0).orderBy("vec_id").collect()
    assert(out.length == 3)
    val byId = out.map(r => r.getAs[Long]("vec_id") ->
      (Option(r.get(1)), Option(r.get(2)))).toMap
    assert(byId(-1L) == (Some(0L), Some(-1.0)),
      s"zero vector: ${byId(-1L)} (zero-norm cosine must read -1.0, keep-first cell 0)")
    assert(byId(-2L) == (None, None), s"NULL embedding: ${byId(-2L)}")
    assert(byId(-3L) == (Some(-1L), None),
      s"dim-mismatched vector: ${byId(-3L)} (kernel sentinel cell -1)")
  }
}
