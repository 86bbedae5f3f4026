package graft.embed

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DoubleType

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact cosine top-k. The query set is broadcast
  *    (it is always the small side); the corpus is scanned once, narrow.
  *    This is the correctness baseline and the right plan whenever
  *    |queries| × |corpus| work fits the cluster (it's embarrassingly
  *    parallel — no shuffle except the final per-query top-k).
  *  - [[lshTopK]]: sign-random-projection LSH. Deterministic hyperplanes
  *    (seeded xorshift) bucket vectors by an nBits-bit signature; search
  *    touches only the query's bucket (+ optional multi-probe neighbors).
  *    At 10⁹+ vectors this turns a full scan into a bucket-local scan —
  *    the scale path; recall vs brute force is property-tested.
  *
  * Dot products ride the fused [[CosineSimExpr]] kernel: the composed
  * `aggregate(zip_with(...))` formulation (kept in test scope as
  * `ComposedRefs.cosineComposed`, the semantic reference AnnSpec pins
  * bit-equality against) is a Catalyst higher-order function — its
  * lambda is INTERPRETED per element and its presence disables
  * whole-stage codegen for the whole plan span
  * (plans/r06/emb_knn_before.txt: zero WholeStageCodegen nodes).
  */
object Ann {

  /** Cosine similarity of two array<float/double> columns (double math).
    * Bit-identical to the composed HOF fold (`ComposedRefs.cosineComposed`,
    * test scope) on every non-degenerate input (same per-index fold
    * order, same null semantics) — AnnSpec's differential pins it.
    * Zero-norm and empty inputs (0/0) yield NaN by design, as DuckDB's
    * list_cosine_similarity does, where the composed Divide gives NULL
    * (non-ANSI) or throws (ANSI).
    */
  def cosine(a: Column, b: Column): Column =
    graft.functions.GraftExpr.column(CosineSimExpr(
      graft.functions.GraftExpr.expr(a), graft.functions.GraftExpr.expr(b)))

  /** Kernel behind [[CosineSimExpr]]: one pass computes the three dot
    * products with the SAME per-index accumulation order as the composed
    * formulation (each accumulator starts at 0.0 and adds in ascending
    * index order — exactly the zip_with/aggregate fold), so doubles are
    * bit-identical. Null semantics replicated: zip_with null-pads a
    * length mismatch and a null element poisons the fold, so either
    * yields SQL NULL (boxed null here). Empty arrays give 0/0 = NaN,
    * zero vectors 0/0 = NaN — both exactly as composed.
    */
  def cosineSimEval(a: org.apache.spark.sql.catalyst.util.ArrayData,
                    b: org.apache.spark.sql.catalyst.util.ArrayData,
                    aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      i += 1
    }
    var dab = 0.0; var daa = 0.0; var dbb = 0.0
    i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dab += x * y; daa += x * x; dbb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dab / (math.sqrt(daa) * math.sqrt(dbb)))
  }

  /** Squared-norm column (fused [[NormSqExpr]]). Bit-identical to the
    * composed `aggregate(v, lit(0.0), (acc, x) => acc + x.castD * x.castD)`.
    */
  def normSq(v: Column): Column =
    graft.functions.GraftExpr.column(NormSqExpr(graft.functions.GraftExpr.expr(v)))

  /** Kernel behind [[NormSqExpr]]: ascending-index fold from 0.0 (the
    * composed aggregate's order) ⇒ bit-identical; null element ⇒ null.
    */
  def normSqEval(a: org.apache.spark.sql.catalyst.util.ArrayData,
                 isFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)
      acc += x * x
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** Exact top-k neighbors for each query vector.
    * queries: (qid, qvec); corpus: (id, vec). Output (qid, id, cos, rank).
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                     excludeSelf: Boolean = true): DataFrame = {
    val joined = corpus.crossJoin(broadcast(queries))
      .filter(if (excludeSelf) col("id") =!= col("qid") else lit(true))
      .withColumn("cos", cosine(col("qvec"), col("vec")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("id").asc)
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "cos", "rank")
  }

  /** Deterministic hyperplane components for sign-random-projection;
    * `tables * nBits` planes from a fixed xorshift stream.
    */
  def hyperplanes(dim: Int, nBits: Int, tables: Int): Array[Array[Array[Double]]] = {
    var s = 0x5deece66dL
    def next(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    Array.tabulate(tables, nBits, dim) { (_, _, _) =>
      // uniform in [-1, 1) — direction-only use, no need for gaussian
      (next() >>> 11) * 2.2204460492503131e-16 - 1.0
    }
  }

  /** Fused SRP buckets: array<long> of length `tables`, element t = the
    * nBits-bit bucket of table t (index IS the table id — pair them with
    * `posexplode`). One tight loop per vector instead of
    * tables×nBits×dim interpreted HOF evaluations; AnnSpec asserts
    * equality with the composed reference
    * (`ComposedRefs.srpSignaturesComposed`, test scope).
    */
  def srpBuckets(vec: Column, dim: Int, nBits: Int, tables: Int): Column =
    graft.functions.GraftExpr.column(SrpBucketsExpr(
      graft.functions.GraftExpr.expr(vec), dim, nBits, tables))

  /** Signature width sized to the corpus: buckets/table = 2^nBits, so
    * expected occupancy = n / 2^nBits. A FIXED nBits is a fixture-sized
    * default that stops pruning as n grows (at n=10⁹ with nBits=6 every
    * query scans n/64 candidates/table); sizing nBits = ⌈log₂(n/target)⌉
    * keeps per-bucket work O(target) at any n — 5 bits at the 2k test
    * corpus, 24 bits at 10⁹ vectors with target 64.
    */
  def autoNBits(corpusSize: Long, targetBucket: Long = 64): Int = {
    val raw = math.ceil(
      math.log(math.max(1.0, corpusSize.toDouble / targetBucket)) / math.log(2.0)).toInt
    math.min(62, math.max(4, raw))
  }

  // =====================================================================
  // IVF (inverted-file) ANN — the second scale path next to LSH
  // =====================================================================

  /** Driver-side Lloyd's k-means over a BOUNDED corpus sample — the IVF
    * coarse quantizer. The trained structure is tiny (k × dim floats,
    * ~16 KB at k=64/dim=64) and ships to executors inside the
    * [[IvfCellsExpr]] closure exactly like the SRP hyperplanes — no
    * broadcast bookkeeping, deterministic on every JVM (fixed sample,
    * fixed init: evenly spaced sample vectors, fixed iteration count).
    * Assignment metric is COSINE (matches the search metric — Lloyd's
    * update with mean centroids + cosine assignment is spherical k-means
    * with unnormalized means, fine for a coarse quantizer). At 10⁹
    * vectors the sample stays 4k rows — training cost is independent of
    * corpus size; only assignment scales, and that is one narrow map.
    */
  def trainCentroids(corpus: DataFrame, vecCol: String, dim: Int, k: Int,
                     iters: Int = 5, sampleN: Int = 4096): Array[Array[Float]] = {
    // DETERMINISTIC, PARTITION-INDEPENDENT sample: bottom-sampleN rows by
    // a content hash (ties broken by the vector itself, so identical rows
    // can't reorder). A bare `limit(sampleN)` takes whatever partitions
    // schedule first — at cluster scale that sample (a) silently changes
    // with split sizing/parallelism, so centroids and every downstream
    // cell assignment differ between otherwise-identical runs, and (b) is
    // biased to the FIRST files of the corpus (one day/shard of a
    // date-partitioned lake) — the wrong sample for a coarse quantizer
    // under drift. Hash-order bottom-k is a uniform draw over the whole
    // corpus, Catalyst plans it as TakeOrderedAndProject (per-partition
    // top-k + driver merge of sampleN rows — no global sort, no shuffle
    // of the corpus), and the result is a pure function of the corpus
    // CONTENT. AnnSpec pins centroid equality across repartitionings.
    val sample = corpus.select(col(vecCol).as("__v"))
      .orderBy(xxhash64(col("__v")), col("__v"))
      .limit(sampleN).collect()
      .map(_.getSeq[Float](0).toArray).filter(_.length == dim)
    require(sample.nonEmpty, "empty training sample for IVF centroids")
    val k2 = math.max(1, math.min(k, sample.length))
    // evenly spaced init over the hash-ordered sample (64-bit product —
    // safe for any future sampleN, though i*len stays < 2^31 at the
    // current 4096 bound)
    var cents = Array.tabulate(k2)(i => sample(((i.toLong * sample.length) / k2).toInt).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k2)(new Array[Double](dim))
      val cnt = new Array[Int](k2)
      sample.foreach { v =>
        val c = nearestCellOf(v, cents)
        cnt(c) += 1
        var j = 0
        while (j < dim) { sums(c)(j) += v(j); j += 1 }
      }
      cents = Array.tabulate(k2) { c =>
        if (cnt(c) == 0) cents(c) // empty cell keeps its centroid
        else {
          val a = new Array[Float](dim)
          var j = 0
          while (j < dim) { a(j) = (sums(c)(j) / cnt(c)).toFloat; j += 1 }
          a
        }
      }
      it += 1
    }
    cents
  }

  private[embed] def nearestCellOf(v: Array[Float],
                                   cents: Array[Array[Float]]): Int = {
    var best = 0
    var bestCos = -2.0
    var c = 0
    while (c < cents.length) {
      val cos = cosineOf(v, cents(c))
      if (cos > bestCos) { bestCos = cos; best = c }
      c += 1
    }
    best
  }

  private[embed] def cosineOf(a: Array[Float], b: Array[Float]): Double = {
    var d = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) -1.0 else d / math.sqrt(na * nb)
  }

  /** `nProbe` nearest IVF cells for a vector column (fused expression;
    * nProbe=1 for corpus assignment, >1 for query-side multi-probing).
    */
  def ivfCells(vec: Column, cents: Array[Array[Float]], nProbe: Int): Column =
    graft.functions.GraftExpr.column(IvfCellsExpr(
      graft.functions.GraftExpr.expr(vec), cents, nProbe))

  /** Cell count sized to the corpus: k ≈ √n keeps cells ≈ √n vectors, so
    * a query at nProbe probes touches ~nProbe·√n candidates — the
    * classic IVF balance point (train cost k·sample, probe cost
    * nProbe·n/k; k=√n minimizes their product's growth).
    */
  def autoCells(corpusSize: Long): Int =
    math.max(4, math.min(4096, math.round(math.sqrt(corpusSize.toDouble)).toInt))

  // ---- static kernels for generated code (Scala objects emit static
  // forwarders, so whole-stage codegen calls these directly — see
  // SrpBucketsExpr/IvfCellsExpr.doGenCode) ----

  def srpBucketsEval(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                     planes: Array[Array[Array[Double]]], dim: Int,
                     nBits: Int, tables: Int, elemIsFloat: Boolean)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val n = arr.numElements()
    val out = new Array[Any](tables)
    if (n != dim) {
      var t = 0
      while (t < tables) { out(t) = 0L; t += 1 }
      return new GenericArrayData(out)
    }
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      v(i) = if (elemIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
      i += 1
    }
    var t = 0
    while (t < tables) {
      val tbl = planes(t)
      var sig = 0L
      var b = 0
      while (b < nBits) {
        val p = tbl(b)
        var d = 0.0
        var j = 0
        while (j < dim) { d += v(j) * p(j); j += 1 }
        if (d >= 0) sig |= (1L << b)
        b += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }

  def ivfCellsEval(arr: org.apache.spark.sql.catalyst.util.ArrayData,
                   cents: Array[Array[Float]], nProbe: Int)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val dim = if (cents.isEmpty) 0 else cents(0).length
    val p = math.min(nProbe, cents.length)
    if (arr.numElements() != dim || p == 0)
      return new GenericArrayData(Array.fill[Any](math.max(1, p))(-1L))
    val v = new Array[Float](dim)
    var i = 0
    while (i < dim) { v(i) = arr.getFloat(i); i += 1 }
    // partial selection of the top-p cells by cosine (p is tiny)
    val bestIdx = new Array[Int](p)
    val bestCos = new Array[Double](p)
    java.util.Arrays.fill(bestCos, -3.0)
    var c = 0
    while (c < cents.length) {
      val cos = cosineOf(v, cents(c))
      var j = 0
      var ins = -1
      while (j < p && ins < 0) { if (cos > bestCos(j)) ins = j; j += 1 }
      if (ins >= 0) {
        var m = p - 1
        while (m > ins) { bestCos(m) = bestCos(m - 1); bestIdx(m) = bestIdx(m - 1); m -= 1 }
        bestCos(ins) = cos; bestIdx(ins) = c
      }
      c += 1
    }
    val out = new Array[Any](p)
    i = 0
    while (i < p) { out(i) = bestIdx(i).toLong; i += 1 }
    new GenericArrayData(out)
  }

  /** IVF ANN: corpus vectors live in ONE cell each (inverted file —
    * a single narrow column, shuffle-free assignment); each query probes
    * its `nProbe` nearest cells via a broadcast equi-join on the cell id;
    * candidates are exact-cosine ranked. Versus [[lshTopK]]: IVF adapts
    * to the DATA distribution (cells follow the corpus's cluster
    * structure; LSH's hyperplanes are oblivious), costs one int per
    * corpus row instead of `tables` longs, and probes ~nProbe·n/k
    * candidates; LSH wins when the corpus is unclusterable or the
    * quantizer would need retraining under drift. An identical planted
    * vector lands in the query's own top cell (same deterministic
    * argmax), which makes the exact planted-copy oracle sound.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              cents: Array[Array[Float]], nProbe: Int = 4,
              excludeSelf: Boolean = true): DataFrame = {
    // cell >= 0 on BOTH sides: IvfCellsExpr assigns dim-mismatched
    // vectors the -1 sentinel, and without the filter two malformed
    // vectors would equi-join with EACH OTHER on the shared sentinel
    // (producing candidates with null cosine from the unequal-length
    // zip_with) — the filter makes the documented "never joins" contract
    // true
    val cCell = corpus.withColumn("cell",
        element_at(ivfCells(col("vec"), cents, 1), 1))
      .filter(col("cell") >= 0)
    val qCell = queries.withColumn("cell",
        explode(ivfCells(col("qvec"), cents, nProbe)))
      .filter(col("cell") >= 0)
    val cands = cCell.join(broadcast(qCell), Seq("cell"))
      .filter(if (excludeSelf) col("id") =!= col("qid") else lit(true))
      .select("qid", "qvec", "id", "vec")
      .dropDuplicates("qid", "id")
    val scored = cands.withColumn("cos", cosine(col("qvec"), col("vec")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "cos", "rank")
  }

  /** Multi-table bucketed ANN: a corpus vector is a candidate for a query
    * iff they share a bucket in ANY of the `tables` hash tables (standard
    * LSH union amplification); exact cosine rank over the deduped
    * candidate set. Candidates are found by an equi-join on
    * (table, bucket) — at 10⁹+ vectors this is a hash-partitioned join on
    * uniform keys, never a full scan per query.
    *
    * `multiProbe=true` additionally probes, per table, every bucket at
    * Hamming distance 1 from the QUERY's signature (nBits extra probes on
    * the small query side only — the corpus keeps one bucket per table),
    * recovering the near-misses where exactly one hyperplane separates
    * query and neighbor. This buys the recall of ~nBits extra tables for
    * one table's worth of corpus-side storage/shuffle.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
              nBits: Int = 6, tables: Int = 12,
              excludeSelf: Boolean = true,
              multiProbe: Boolean = false): DataFrame = {
    def withBuckets(df: DataFrame, vecCol: String) =
      df.select(df.columns.map(col) :+
        posexplode(srpBuckets(col(vecCol), dim, nBits, tables))
          .as(Seq("table", "bucket")): _*)
    val cb = withBuckets(corpus, "vec")
    val qb0 = withBuckets(queries, "qvec")
    val qb =
      if (!multiProbe) qb0
      else qb0
        .withColumn("__flip", explode(array((lit(0L) +:
          (0 until nBits).map(b => lit(1L << b))): _*)))
        .withColumn("bucket", col("bucket").bitwiseXOR(col("__flip")))
        .drop("__flip")
    val cands = cb.join(broadcast(qb), Seq("table", "bucket"))
      .filter(if (excludeSelf) col("id") =!= col("qid") else lit(true))
      .select("qid", "qvec", "id", "vec")
      .dropDuplicates("qid", "id")
    val scored = cands.withColumn("cos", cosine(col("qvec"), col("vec")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("qid", "id", "cos", "rank")
  }
}

/** Fused SRP bucketing: one pass over the vector computes every table's
  * bucket. Mirrors the composed reference's null semantics: a vector
  * whose length ≠ dim yields all-zero buckets (the composed zip_with
  * null-pads and the null dot product sets no bits).
  */
case class SrpBucketsExpr(child: org.apache.spark.sql.catalyst.expressions.Expression,
                          dim: Int, nBits: Int, tables: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  @transient private lazy val planes = Ann.hyperplanes(dim, nBits, tables)
  @transient private lazy val elemIsFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(input: Any): Any =
    Ann.srpBucketsEval(input.asInstanceOf[ArrayData], planes, dim, nBits,
      tables, elemIsFloat)

  /** Whole-stage codegen: the hyperplane table rides in the references
    * array (addReferenceObj), the per-row work is one static call.
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("srpPlanes", planes, "double[][][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.embed.Ann.srpBucketsEval($c, $planesRef, " +
        s"$dim, $nBits, $tables, $elemIsFloat);")
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): SrpBucketsExpr =
    copy(child = newChild)
}

/** Fused IVF cell assignment: array<long> of the `nProbe` nearest cell
  * ids by cosine (one tight loop; the composed per-centroid Column
  * version would be k interpreted HOF dot products per vector). The
  * centroid table rides in the expression exactly like SrpBucketsExpr's
  * hyperplanes. A vector whose length ≠ the centroid dim yields cell -1,
  * which [[Ann.ivfTopK]] filters on both sides so malformed vectors never
  * join (not even with each other via the shared sentinel).
  */
case class IvfCellsExpr(child: org.apache.spark.sql.catalyst.expressions.Expression,
                        cents: Array[Array[Float]], nProbe: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = child.nullable

  override def nullSafeEval(input: Any): Any =
    Ann.ivfCellsEval(input.asInstanceOf[ArrayData], cents, nProbe)

  /** Whole-stage codegen: the centroid table rides in the references
    * array, the per-row work is one static call (same pattern as
    * [[SrpBucketsExpr]]).
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val centsRef = ctx.addReferenceObj("ivfCents", cents, "float[][]")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.embed.Ann.ivfCellsEval($c, $centsRef, $nProbe);")
  }

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): IvfCellsExpr =
    copy(child = newChild)
}

/** Fused squared L2 norm of an array<float/double> column — replaces the
  * composed `aggregate(v, 0.0, acc + x²)` (interpreted lambda per
  * element, codegen fallback for the enclosing span). Same fold order
  * (ascending index from 0.0) ⇒ bit-identical doubles; a null element
  * poisons the fold to SQL NULL exactly as the composed form; empty
  * array ⇒ 0.0. AnnSpec pins the differential. Element type is checked
  * at analysis: the kernel reads floats or doubles, so any other array
  * (e.g. array<int>) would be read at the wrong width.
  */
case class NormSqExpr(
    child: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val elemIsFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"norm_sq needs an array<float|double> input, got ${t.catalogString}")
  }

  override def nullSafeEval(input: Any): Any =
    Ann.normSqEval(input.asInstanceOf[ArrayData], elemIsFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val tmp = ctx.freshName("nsqTmp")
      s"""java.lang.Double $tmp = graft.embed.Ann.normSqEval($c, $elemIsFloat);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
         |""".stripMargin
    })

  override protected def withNewChildInternal(
      newChild: org.apache.spark.sql.catalyst.expressions.Expression): NormSqExpr =
    copy(child = newChild)
}

/** Fused cosine similarity (see [[Ann.cosineSimEval]] for the exact
  * bit/null parity contract with the composed HOF formulation). The
  * result is nullable even for non-null inputs (length mismatch / null
  * element), so codegen boxes through the kernel's java.lang.Double.
  */
case class CosineSimExpr(
    left: org.apache.spark.sql.catalyst.expressions.Expression,
    right: org.apache.spark.sql.catalyst.expressions.Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  import org.apache.spark.sql.types._
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val leftFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  @transient private lazy val rightFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType | DoubleType, _),
            ArrayType(FloatType | DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"cosine_sim needs array<float|double> inputs, got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    Ann.cosineSimEval(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
      leftFloat, rightFloat)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val tmp = ctx.freshName("cosTmp")
      s"""java.lang.Double $tmp =
         |  graft.embed.Ann.cosineSimEval($a, $b, $leftFloat, $rightFloat);
         |if ($tmp == null) { ${ev.isNull} = true; }
         |else { ${ev.value} = $tmp.doubleValue(); }
         |""".stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: org.apache.spark.sql.catalyst.expressions.Expression,
      newRight: org.apache.spark.sql.catalyst.expressions.Expression): CosineSimExpr =
    copy(left = newLeft, right = newRight)
}
