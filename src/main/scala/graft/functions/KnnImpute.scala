package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate

/** KNN imputation of missing numeric values — the reference's C8
  * (`/root/reference/src/improve_data_quality.py:459-480`:
  * `sklearn.KNNImputer(n_neighbors=10, weights="uniform")` over the
  * deduplicated numeric frame, feeding LOF). Re-expressed distributed:
  *
  *  - metric = sklearn's `nan_euclidean`: over the coordinates PRESENT
  *    IN BOTH rows, `dist² = (n_features / n_shared) · Σ (xᵢ − yᵢ)²`;
  *    pairs sharing no coordinate are not neighbors.
  *  - donors for a receiver's missing column c = rows with c present
  *    (other rows with their own gaps still donate — their missing
  *    coords simply drop out of the distance), the receiver excluded.
  *  - imputed value = uniform mean of the k nearest donors' c; fewer
  *    than k donors ⇒ mean of those available; zero ⇒ the column's
  *    observed mean (sklearn's fallback).
  *  - tie-break: sklearn's argpartition leaves equal-distance order
  *    UNSPECIFIED; this operator pins (dist, donor key) ascending so
  *    results are deterministic and oracle-checkable. With distinct
  *    distances it equals sklearn exactly.
  *
  * Scale shape (the reason this is not a crossJoin-and-Window):
  *  - receivers (rows with ≥ 1 missing value) are few — web-scale
  *    missingness on derived features is a small fraction — so they are
  *    fetched once under a named-error count gate ([[MaxReceivers]])
  *    and shipped INSIDE one [[KnnExactAll]] aggregate. The candidate
  *    pass is then ONE narrow scan of the donors: O(n · r) distance
  *    work against an in-memory receiver array, zero corpus shuffle,
  *    zero join/row machinery per pair, the
  *    [[graft.embed.Ann.bruteForceTopK]] relationship (the exact
  *    baseline; an IVF-bucketed variant is the scale path when r
  *    explodes — see `Ann.ivfTopK`'s cell-probe pattern).
  *  - top-k per (receiver, column) via [[KnnMeanHeap]]: the aggregation
  *    buffer is a BOUNDED max-heap of k (dist, donor, value) triples
  *    per missing cell — map-side partials carry ≤ k triples per cell
  *    per partition whatever the donor count, the `UrlFns.kthSmallest`
  *    shape (never `collect_list` + sort: that materialises every donor
  *    in one buffer).
  *  - the previous formulation (broadcast-NLJ pair stream → broadcast
  *    miss join → per-pair map build → ObjectHashAggregate) computed
  *    the same numbers through ~4 jobs and an n·r-row intermediate;
  *    the fused aggregate is 2 jobs (receiver fetch + scan) and was
  *    measured ~5× faster at the oracle scale (OPTIMIZATION_r06.md).
  *
  * Exact-arithmetic note (oracle parity): with integer-valued features
  * every squared diff, partial sum and `· n_features / n_shared`
  * product is exactly representable, so Spark and DuckDB compute
  * IDENTICAL doubles — ordering, means and 6-dp roundings cannot
  * diverge (see the `dq_knn_impute` oracle).
  *
  * The engine's own pipeline never needs this operator: its numeric
  * features are derived total functions of text (DocStats), never
  * null. The reference needed C8 because its input tabular numerics
  * carried NaNs. It ships as a standalone surface operator; callers
  * dedup first to mirror the reference (`_is_duplicated` at :471).
  */
object KnnImpute {

  /** Receiver-count gate for [[imputeCells]]: every partition's
    * aggregation buffer holds one bounded k-heap per missing cell
    * (≤ k·24 B each) and the receiver table itself is shipped inside the
    * aggregate expression — both are O(receivers). 200k receivers ×
    * k=10 ≈ 50 MB/task buffer at one missing cell each; past that the
    * exact O(n·r) all-pairs pass is the wrong algorithm anyway (the
    * IVF cell-probe shape of [[graft.embed.Ann.ivfTopK]] is the scale
    * path), so the gate fails with a named error instead of an OOM —
    * the same contract as nearDupResolve's MaxDriverEdges and
    * ExactSubstr's broadcast gate.
    */
  val MaxReceivers: Int = 200000

  /** One row per missing cell: (__k, col, imputed) — `imputed` rounded
    * to 6 dp. `key` must be LONG (the deterministic tie-break).
    * `features` are numeric columns (cast to double internally).
    *
    * Plan shape: ONE narrow donor scan. The receiver rows (those with
    * ≥ 1 missing value) are collected under [[MaxReceivers]] and shipped
    * inside a single [[KnnExactAll]] aggregate whose buffer keeps a
    * bounded (dist, donor, value) k-heap per missing cell — O(n·r)
    * distance work with zero shuffle and zero join machinery. The
    * column-mean fallback rides the same buffer (per-column sum/count),
    * so the whole operator is TWO jobs: the receiver fetch and the
    * aggregate. Arithmetic is performed in the exact order of the
    * previous join formulation (feature-order left-fold of the squared
    * diffs, then `· n_features / n_shared`), so results are
    * bit-identical — KnnImputeSpec pins hand-computed values,
    * tie-breaks, fallbacks and partition-independence.
    *
    * Cost of the global `f.agg(...)`: it has no grouping key, so every
    * partition's partial buffer (one k-heap per missing cell) merges in
    * ONE final task — O(partitions × cells × k) heap merges and the whole
    * result array on one executor. At the [[MaxReceivers]] bound that
    * single merge, not the distance pass, is the serial tail.
    */
  def imputeCells(df: DataFrame, key: Column, features: Seq[String],
                  k: Int = 10): DataFrame =
    imputeCells(df, key, features, k, MaxReceivers)

  /** [[imputeCells]] with the receiver bound as a parameter. */
  private[graft] def imputeCells(df: DataFrame, key: Column, features: Seq[String],
                                 k: Int, cap: Int): DataFrame = {
    require(features.nonEmpty, "need at least one feature column")
    require(k >= 1, s"k must be >= 1, got $k")
    val spark = df.sparkSession
    val f = df.select(
      key.cast(LongType).as("__k") +:
        features.map(c => col(c).cast(DoubleType).as(c)): _*)
    val recvRows = f.filter(features.map(col(_).isNull).reduce(_ || _))
      .limit(cap + 1).collect()
    if (recvRows.length > cap)
      throw new IllegalArgumentException(
        s"knn_impute: more than $cap rows have missing feature " +
          "values; the exact all-pairs kNN pass is O(donors x receivers) " +
          "and its per-task heap state is O(receivers). Pre-bucket donors " +
          "and receivers (the Ann.ivfTopK cell-probe pattern) or impute " +
          "per partition instead.")
    val nf = features.length
    // driver-side receiver table, sorted by (key-null-last, key) so the
    // expression is identical whatever order limit+collect returned
    val sorted = recvRows.sortBy(r =>
      (r.isNullAt(0), if (r.isNullAt(0)) 0L else r.getLong(0)))
    val rKeys = new Array[Long](sorted.length)
    val rKeyNull = new Array[Boolean](sorted.length)
    val rVals = new Array[Double](sorted.length * nf)
    val rMask = new Array[Boolean](sorted.length * nf)
    val missStart = new Array[Int](sorted.length + 1)
    val missColB = Array.newBuilder[Int]
    var i = 0
    var cells = 0
    while (i < sorted.length) {
      val r = sorted(i)
      rKeyNull(i) = r.isNullAt(0)
      rKeys(i) = if (rKeyNull(i)) 0L else r.getLong(0)
      missStart(i) = cells
      var c = 0
      while (c < nf) {
        if (r.isNullAt(c + 1)) { missColB += c; cells += 1 }
        else { rVals(i * nf + c) = r.getDouble(c + 1); rMask(i * nf + c) = true }
        c += 1
      }
      i += 1
    }
    missStart(sorted.length) = cells
    import org.apache.spark.sql.types._
    val outSchema = StructType(Seq(
      StructField("__k", LongType, nullable = true),
      StructField("col", StringType, nullable = false),
      StructField("imputed", DoubleType, nullable = true)))
    if (cells == 0)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    val recv = KnnReceivers(rKeys, rKeyNull, rVals, rMask, missStart,
      missColB.result(), features.toArray)
    val agg = GraftExpr.column(KnnExactAll(
      GraftExpr.expr(col("__k")) +: features.map(c => GraftExpr.expr(col(c))),
      recv, k).toAggregateExpression())
    f.agg(agg.as("__cells"))
      .select(explode(col("__cells")).as("__c"))
      .select(col("__c.__k").as("__k"), col("__c.col").as("col"),
        round(col("__c.imputed"), 6).as("imputed"))
  }
}

/** Bounded max-heap of the k smallest (dist, id) pairs with a payload
  * value each; lexicographic (dist, id) order makes ties deterministic.
  */
final class KnnMeanHeap(val k: Int) {
  private[functions] val d = new Array[Double](k)
  private[functions] val id = new Array[Long](k)
  private[functions] val v = new Array[Double](k)
  private[functions] var n = 0
  @inline private def gt(i: Int, j: Int): Boolean =
    d(i) > d(j) || (d(i) == d(j) && id(i) > id(j))
  @inline private def gtv(dd: Double, ii: Long, j: Int): Boolean =
    dd > d(j) || (dd == d(j) && ii > id(j))
  @inline private def swap(i: Int, j: Int): Unit = {
    val td = d(i); d(i) = d(j); d(j) = td
    val ti = id(i); id(i) = id(j); id(j) = ti
    val tv = v(i); v(i) = v(j); v(j) = tv
  }
  def offer(dd: Double, ii: Long, vv: Double): Unit = {
    if (n < k) {
      var i = n; d(i) = dd; id(i) = ii; v(i) = vv; n += 1
      while (i > 0 && gt(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
    } else if (!gtv(dd, ii, 0)) {
      d(0) = dd; id(0) = ii; v(0) = vv
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1; val r = l + 1
        var m = i
        if (l < n && gt(l, m)) m = l
        if (r < n && gt(r, m)) m = r
        if (m == i) done = true else { swap(i, m); i = m }
      }
    }
  }
  /** Uniform mean of the kept values, summed in (dist, donor id) order.
    * The heap-array layout depends on insertion/merge order (partition
    * layout!), so a raw array-order sum is partition-dependent for
    * NON-integral values — the selected donor SET is deterministic, but
    * float addition isn't associative. Sorting the ≤ k kept triples
    * before summing makes the mean a pure function of the set (k ≤ ~10;
    * cost is noise). Integral values were exact either way — which is
    * why the oracle, built on integer features, never caught this.
    */
  def mean: Double = {
    val idx = Array.range(0, n)
    // insertion sort by (dist, id) — n ≤ k, tiny
    var i = 1
    while (i < n) {
      val key = idx(i)
      var j = i - 1
      while (j >= 0 && (d(idx(j)) > d(key) ||
          (d(idx(j)) == d(key) && id(idx(j)) > id(key)))) {
        idx(j + 1) = idx(j); j -= 1
      }
      idx(j + 1) = key
      i += 1
    }
    var s = 0d
    i = 0
    while (i < n) { s += v(idx(i)); i += 1 }
    s / n
  }
}

/** Driver-built receiver table shipped inside [[KnnExactAll]] (bounded
  * by [[KnnImpute.MaxReceivers]]): flattened (key, feature values,
  * present mask) plus each receiver's missing-column index list
  * (CSR layout: cell i of receiver r lives at missStart(r) ≤ i <
  * missStart(r+1), missCol(i) = feature index).
  */
final case class KnnReceivers(
    keys: Array[Long], keyNull: Array[Boolean],
    vals: Array[Double], mask: Array[Boolean],
    missStart: Array[Int], missCol: Array[Int],
    colNames: Array[String]) {
  def nRecv: Int = keys.length
  def nCells: Int = missCol.length
  def nf: Int = colNames.length
}

/** Buffer of [[KnnExactAll]]: one bounded k-heap per missing cell plus
  * per-feature (sum, count) for the observed-column-mean fallback.
  * `sv`/`sm` are per-row evaluation scratch (not merged, not serialized).
  */
final class KnnExactBuf(k: Int, nCells: Int, nf: Int) {
  val heaps: Array[KnnMeanHeap] = Array.fill(nCells)(new KnnMeanHeap(k))
  val colSum = new Array[Double](nf)
  val colCnt = new Array[Long](nf)
  val sv = new Array[Double](nf)
  val sm = new Array[Boolean](nf)
}

/** Exact kNN imputation over ALL receivers in one pass — see
  * [[KnnImpute.imputeCells]]. Children are (key, feature...) of the
  * donor scan; the receiver table arrives as constructor data. Output:
  * array of (__k, col, imputed) structs, one per missing cell, in
  * receiver-table order. Distance arithmetic replicates the Column
  * formulation exactly: feature-order left-fold of the shared squared
  * diffs, `· n_features / n_shared` as (ss · nf) / ns, heap mean summed
  * in (dist, donor id) order — bit-identical doubles.
  */
case class KnnExactAll(
    children: Seq[Expression], recv: KnnReceivers, k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KnnExactBuf] {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.unsafe.types.UTF8String

  private val nf = recv.nf
  private val nfD = nf.toDouble

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("__k", LongType, nullable = true),
    StructField("col", StringType, nullable = false),
    StructField("imputed", DoubleType, nullable = true))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "knn_exact_all"

  override def createAggregationBuffer(): KnnExactBuf =
    new KnnExactBuf(k, recv.nCells, nf)

  override def update(buf: KnnExactBuf, input: InternalRow): KnnExactBuf = {
    val keyE = children.head.eval(input)
    var c = 0
    while (c < nf) {
      val v = children(c + 1).eval(input)
      if (v == null) buf.sm(c) = false
      else {
        val d = v.asInstanceOf[Double]
        buf.sm(c) = true
        buf.sv(c) = d
        // observed-column mean accumulates over EVERY row (receivers and
        // null-key rows included) — the avg(f) semantics of the fallback
        buf.colSum(c) += d
        buf.colCnt(c) += 1
      }
      c += 1
    }
    if (keyE == null) return buf // null donor key: __k =!= __rk is null
    val rowKey = keyE.asInstanceOf[Long]
    val sv = buf.sv
    val sm = buf.sm
    var r = 0
    while (r < recv.nRecv) {
      // null-key receivers never collect donors (null-safe filter
      // semantics of the join formulation); their cells fall back
      if (!recv.keyNull(r) && recv.keys(r) != rowKey) {
        val base = r * nf
        var ns = 0
        var ss = 0.0
        c = 0
        while (c < nf) {
          if (sm(c) && recv.mask(base + c)) {
            ns += 1
            val d = sv(c) - recv.vals(base + c)
            ss += d * d
          }
          c += 1
        }
        if (ns > 0) {
          val wd = ss * nfD / ns
          var cell = recv.missStart(r)
          val end = recv.missStart(r + 1)
          while (cell < end) {
            val mc = recv.missCol(cell)
            if (sm(mc)) buf.heaps(cell).offer(wd, rowKey, sv(mc))
            cell += 1
          }
        }
      }
      r += 1
    }
    buf
  }

  override def merge(buf: KnnExactBuf, other: KnnExactBuf): KnnExactBuf = {
    var c = 0
    while (c < nf) {
      buf.colSum(c) += other.colSum(c)
      buf.colCnt(c) += other.colCnt(c)
      c += 1
    }
    var cell = 0
    while (cell < recv.nCells) {
      val h = other.heaps(cell)
      val t = buf.heaps(cell)
      var i = 0
      while (i < h.n) { t.offer(h.d(i), h.id(i), h.v(i)); i += 1 }
      cell += 1
    }
    buf
  }

  override def eval(buf: KnnExactBuf): Any = {
    val out = new Array[Any](recv.nCells)
    var r = 0
    while (r < recv.nRecv) {
      val key: Any = if (recv.keyNull(r)) null else recv.keys(r)
      var cell = recv.missStart(r)
      val end = recv.missStart(r + 1)
      while (cell < end) {
        val mc = recv.missCol(cell)
        val h = buf.heaps(cell)
        val imputed: Any =
          if (h.n > 0) h.mean
          else if (buf.colCnt(mc) > 0) buf.colSum(mc) / buf.colCnt(mc)
          else null
        out(cell) = InternalRow(key,
          UTF8String.fromString(recv.colNames(mc)), imputed)
        cell += 1
      }
      r += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: KnnExactBuf): Array[Byte] = {
    var bytes = 4 + nf * 16
    var cell = 0
    while (cell < recv.nCells) { bytes += 4 + 24 * buf.heaps(cell).n; cell += 1 }
    val bb = java.nio.ByteBuffer.allocate(bytes)
    bb.putInt(recv.nCells)
    var c = 0
    while (c < nf) { bb.putDouble(buf.colSum(c)); bb.putLong(buf.colCnt(c)); c += 1 }
    cell = 0
    while (cell < recv.nCells) {
      val h = buf.heaps(cell)
      bb.putInt(h.n)
      var i = 0
      while (i < h.n) {
        bb.putDouble(h.d(i)); bb.putLong(h.id(i)); bb.putDouble(h.v(i))
        i += 1
      }
      cell += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KnnExactBuf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val buf = new KnnExactBuf(k, recv.nCells, nf)
    val nCells = bb.getInt()
    var c = 0
    while (c < nf) { buf.colSum(c) = bb.getDouble(); buf.colCnt(c) = bb.getLong(); c += 1 }
    var cell = 0
    while (cell < nCells) {
      var n = bb.getInt()
      val h = buf.heaps(cell)
      while (n > 0) { h.offer(bb.getDouble(), bb.getLong(), bb.getDouble()); n -= 1 }
      cell += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(o: Int): KnnExactAll =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): KnnExactAll =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): KnnExactAll =
    copy(children = newChildren)
}
