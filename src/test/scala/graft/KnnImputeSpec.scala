package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.KnnImpute

/** [[graft.functions.KnnImpute]] — sklearn `KNNImputer(k, uniform)`
  * semantics (`/root/reference/src/improve_data_quality.py:459-480`)
  * re-derived by hand on small frames: nan_euclidean shared-coordinate
  * scaling, donors-with-gaps, the column-mean fallback, the pinned
  * (dist, donor id) tie-break, and partition-independence.
  */
class KnnImputeSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def cells(df: org.apache.spark.sql.DataFrame, k: Int) =
    KnnImpute.imputeCells(df, col("id"), Seq("f1", "f2"), k)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .toSet

  /** The sklearn return shape over [[KnnImpute.imputeCells]]: the
    * input frame with every missing feature cell filled (6-dp);
    * non-feature columns pass through.
    */
  private def impute(df: org.apache.spark.sql.DataFrame, key: org.apache.spark.sql.Column,
                     features: Seq[String], k: Int) = {
    val patch = KnnImpute.imputeCells(df, key, features, k)
      .groupBy(col("__k"))
      .agg(map_from_entries(collect_list(struct(col("col"), col("imputed"))))
        .as("__patch"))
    df.withColumn("__k", key.cast("long"))
      .join(broadcast(patch), Seq("__k"), "left")
      .select(df.columns.map(c =>
        (if (features.contains(c))
           coalesce(col(c).cast("double"), element_at(col("__patch"), lit(c)))
         else col(c)).as(c)): _*)
  }

  // (id, f1, f2): r1 misses f1; r4 misses f2; r4 still donates nothing
  // to r1 (no shared coordinate) while r2/r3/r5 do.
  private val base = Seq(
    (1L, None, Some(10d)),
    (2L, Some(0d), Some(10d)),
    (3L, Some(3d), Some(10d)),
    (4L, Some(6d), None),
    (5L, Some(100d), Some(200d))
  ).toDF("id", "f1", "f2")

  test("nan_euclidean distances + uniform k-mean, hand-computed") {
    // r1/f1: donors r2 (dist 0 via f2), r3 (dist 0), r5 (dist 190²·2);
    //        r4 shares no coord → excluded. k=2 ⇒ mean(0, 3) = 1.5.
    // r4/f2: donors via f1 — r3 (3²·2=18), r2 (6²·2=72), r5 (94²·2);
    //        r1 shares no coord. k=2 ⇒ mean(10, 10) = 10.
    assert(cells(base, k = 2) ==
      Set((1L, "f1", 1.5), (4L, "f2", 10.0)))
  }

  test("equal-distance tie-break is (dist, donor id) ascending") {
    // k=1: r2 and r3 are both at distance 0 from r1 — the pinned
    // tie-break keeps donor id 2 (value 0.0), never 3 (value 3.0).
    val got = cells(base, k = 1)
    assert(got.contains((1L, "f1", 0.0)))
  }

  test("fewer donors than k → mean of available; k cap holds") {
    // k=10 but only 3 usable donors for r1/f1 (r2, r3, r5) ⇒
    // mean(0, 3, 100) = 34.333333 (6 dp).
    val got = cells(base, k = 10)
    assert(got.contains((1L, "f1", 34.333333)))
  }

  test("zero shared-coordinate donors → observed column mean fallback") {
    // receiver 1 misses f1; every f1 donor misses f2, so no pair shares
    // a coordinate ⇒ sklearn falls back to the observed mean (7+9)/2.
    val df = Seq(
      (1L, None, Some(5d)),
      (2L, Some(7d), None),
      (3L, Some(9d), None)
    ).toDF("id", "f1", "f2")
    // rows 2/3 miss f2 themselves: their only f2 donor (row 1) shares
    // no coordinate either, so all three cells take column means.
    assert(cells(df, k = 3) ==
      Set((1L, "f1", 8.0), (2L, "f2", 5.0), (3L, "f2", 5.0)))
  }

  test("impute() fills every gap, passes observed cells through") {
    val out = impute(base, col("id"), Seq("f1", "f2"), k = 2)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(out.forall { case (_, a, b) => !a.isNaN && !b.isNaN })
    assert(out(0) == ((1L, 1.5, 10.0)))   // imputed f1
    assert(out(3) == ((4L, 6.0, 10.0)))   // imputed f2
    assert(out(4) == ((5L, 100.0, 200.0))) // untouched
  }

  test("partition-independent: repartition(3) == repartition(7) == 1") {
    // integral features ⇒ exact doubles ⇒ bit-identical across plans
    val rows = (0L until 240L).map { i =>
      (i,
       if (i % 11 == 3) None else Some((i * 7 % 101).toDouble),
       if (i % 13 == 5) None else Some((i * 5 % 97).toDouble))
    }
    val df = rows.toDF("id", "f1", "f2")
    val a = cells(df.repartition(3), k = 10)
    val b = cells(df.repartition(7), k = 10)
    val c = cells(df.coalesce(1), k = 10)
    assert(a.nonEmpty && a == b && b == c)
  }

  test("partition-independent for FRACTIONAL values (heap mean sums in sorted order)") {
    // float addition isn't associative: with non-integral payloads the
    // mean over the k donors must not depend on the heap-array layout
    // left behind by insertion/merge order — the mean sorts by
    // (dist, donor id) before summing
    val rows = (0L until 240L).map { i =>
      (i,
       if (i % 11 == 3) None else Some((i * 7 % 101).toDouble / 7.0 + 0.1),
       if (i % 13 == 5) None else Some((i * 5 % 97).toDouble / 3.0 + 0.2))
    }
    val df = rows.toDF("id", "f1", "f2")
    val a = cells(df.repartition(2), k = 10)
    val b = cells(df.repartition(5), k = 10)
    val c = cells(df.coalesce(1), k = 10)
    assert(a.nonEmpty && a == b && b == c)
  }

  test("receiver bound: cap receivers run, cap + 1 raise the named error") {
    // base has two receivers (r1 misses f1, r4 misses f2)
    val ok = KnnImpute.imputeCells(base, col("id"), Seq("f1", "f2"), 2, cap = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(ok == cells(base, k = 2))
    val e = intercept[IllegalArgumentException] {
      KnnImpute.imputeCells(base, col("id"), Seq("f1", "f2"), 2, cap = 1)
    }
    assert(e.getMessage.contains("knn_impute: more than 1 rows have missing feature"),
      e.getMessage)
  }
}
