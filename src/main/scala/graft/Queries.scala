package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.functions.{Decontam, Hashing, LangId, Scrub, TextFns, UrlFns}
import graft.embed.Ann

/** The driver-checked query surface: every operator family from SURVEY §2
  * exposed as a (Spark implementation, DuckDB oracle SQL) pair over the
  * driver's parquet tables. The SQL strings are assembled from the SAME
  * constants as the Spark code (hash seeds, thresholds, stopword lists),
  * so the two sides cannot drift silently.
  *
  * Conventions for oracle parity:
  *  - every float column is `round(x, N)`; sums of doubles round to ≤4dp,
  *    except sums whose exact value can sit on a rounding tie (money
  *    products), which sum exact decimals on both sides
  *  - every count is BIGINT on both sides
  *  - tokenisation/normalisation fragments mirror TextFns exactly
  *
  * A result is a bag of rows. Both comparators (`table_hash` in
  * `tools/check_oracle.py` and in `perfbench/oracle.py`) sort the
  * canonical row lines before hashing, so row order carries nothing, and
  * a presentation sort would only add a range repartition of a
  * corpus-sized output. A sort appears only where it changes the rows:
  * the top-k of [[q3TopRevenue]] and the `Window` specs. The SQL twins
  * keep their ORDER BY, which changes no hash.
  */
object Queries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")
  private def tbl(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  // ======================================================================
  // SQL fragments (DuckDB dialect) mirroring TextFns
  // ======================================================================
  object Frag {
    /** Whitespace class written EXPLICITLY as the Java-regex `\s` set
      * `[ \t\n\x0B\f\r]`: the Spark side tokenizes with Java regexes
      * (`split("\\s+")`, the fused kernels' isWs), whose `\s` INCLUDES
      * vertical tab — DuckDB's RE2 `\s` does not. Real crawled text
      * contains U+000B, so a bare `\s` in the twin is a latent
      * hash-mismatch; the explicit class is identical in both dialects.
      */
    /** The class BODY (single source of truth — every negated class
      * below derives from it; a hand-spelled copy is exactly the drift
      * this constant exists to prevent). */
    val WsChars: String = " \\t\\n\\x0b\\f\\r"
    val Ws: String = s"[$WsChars]"
    /** whitespace tokens of trimmed text, empties dropped (TextFns.tokens) */
    def toks(c: String): String =
      s"list_filter(regexp_split_to_array(trim($c), '$Ws+'), x -> x <> '')"
    def nWords(c: String): String = s"len(${toks(c)})"
    def norm(c: String): String =
      s"regexp_replace(lower(trim($c)), '$Ws+', ' ', 'g')"
    def md5Long(c: String): String =
      s"(('0x' || substr(md5($c), 1, 15))::BIGINT)"
    def symbolCount(c: String): String =
      s"(length($c) - length(regexp_replace($c, '[^A-Za-z0-9$WsChars]', '', 'g')))"
    def sumTokLen(c: String): String =
      s"list_sum(list_transform(${toks(c)}, t -> length(t)))"
    def stopHits(c: String, words: Seq[String]): String = {
      val set = words.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(${toks(c)}, t -> lower(t) IN ($set)))"
    }
    def charShingles(c: String, k: Int): String =
      s"(CASE WHEN length($c) >= $k THEN list_transform(generate_series(1, length($c) - ${k - 1}), i -> substr($c, CAST(i AS INT), $k)) ELSE [] END)"
    /** word n-grams of lowercased text (Decontam.wordNgrams twin):
      * n consecutive whitespace tokens joined by single spaces */
    def wordGrams(c: String, n: Int): String = {
      val t = toks(s"lower($c)")
      s"(CASE WHEN len($t) >= $n THEN list_transform(generate_series(1, len($t) - ${n - 1}), i -> array_to_string(($t)[CAST(i AS INT):CAST(i + ${n - 1} AS INT)], ' ')) ELSE [] END)"
    }
  }

  // ======================================================================
  // Relational core (TPC-H-ish: aggregate, join+topk, window, rollup)
  // ======================================================================

  /** Σ price·(1 − discount), rounded to cents, as a double. Prices and
    * discounts carry 2 dp, so each product has 4 dp and a sum can sit
    * exactly on a half-cent tie; a double sum then lands either side of
    * the tie depending on summation order, and Spark and DuckDB round it
    * differently. Summing exact decimals makes the tie exact on both
    * sides, and both round it half-up. `revenueSql` is the DuckDB twin.
    */
  private def revenue(price: Column, discount: Column): Column =
    round(sum(price.cast("decimal(15,2)") *
      (lit(1) - discount.cast("decimal(15,2)"))), 2).cast(DoubleType)
  private def revenueSql(price: String, discount: String): String =
    s"CAST(round(sum(CAST($price AS DECIMAL(15,2)) * " +
      s"(1 - CAST($discount AS DECIMAL(15,2)))), 2) AS DOUBLE)"

  val q1Agg: (SparkSession, String) => DataFrame = (s, dir) =>
    tbl(s, dir, "lineitem")
      // string→timestamp cast uses the SESSION tz (UTC) — never
      // Timestamp.valueOf, which silently uses the JVM default tz
      .filter(col("l_shipdate") <= lit("1998-09-01 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        revenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        round(avg(col("l_quantity")), 4).as("avg_qty"),
        count(lit(1)).as("count_order"))

  val q1AggSql: String =
    s"""SELECT l_returnflag, l_linestatus,
      | round(sum(l_quantity), 2) AS sum_qty,
      | round(sum(l_extendedprice), 2) AS sum_base_price,
      | ${revenueSql("l_extendedprice", "l_discount")} AS sum_disc_price,
      | round(avg(l_quantity), 4) AS avg_qty,
      | count(*) AS count_order
      |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  val q3TopRevenue: (SparkSession, String) => DataFrame = (s, dir) => {
    val c = tbl(s, dir, "customer"); val o = tbl(s, dir, "orders")
    val l = tbl(s, dir, "lineitem")
    // dimension side broadcast: customer is tiny at every SF relative to lineitem
    l.join(o, l("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .groupBy(col("o_orderkey"), col("c_mktsegment"))
      .agg(revenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(20)
  }

  val q3TopRevenueSql: String =
    s"""SELECT o_orderkey, c_mktsegment,
      | ${revenueSql("l_extendedprice", "l_discount")} AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      | JOIN customer ON o_custkey = c_custkey
      |GROUP BY o_orderkey, c_mktsegment
      |ORDER BY revenue DESC, o_orderkey LIMIT 20""".stripMargin

  val qWindowRunning: (SparkSession, String) => DataFrame = (s, dir) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    tbl(s, dir, "orders")
      .withColumn("rn", row_number().over(w))
      .withColumn("running_total",
        round(sum(col("o_totalprice")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2))
      .select("o_custkey", "o_orderkey", "rn", "running_total")
  }

  val qWindowRunningSql: String =
    """SELECT o_custkey, o_orderkey,
      | row_number() OVER w AS rn,
      | round(sum(o_totalprice) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, rn""".stripMargin

  val qRollup: (SparkSession, String) => DataFrame = (s, dir) =>
    tbl(s, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(
        coalesce(col("o_orderpriority"), lit("__all__")).as("o_orderpriority"),
        coalesce(col("o_orderstatus"), lit("__all__")).as("o_orderstatus"),
        col("n"), col("total"))

  val qRollupSql: String =
    """SELECT coalesce(o_orderpriority, '__all__') AS o_orderpriority,
      | coalesce(o_orderstatus, '__all__') AS o_orderstatus,
      | count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin

  // ======================================================================
  // Profiling (G1/G2/G5): one-pass per-column stats
  // ======================================================================

  /** [[graft.profile.Profiler.profile]]'s one aggregate pass, restacked
    * to one row per column; the fetched ratios are rounded by Spark's
    * `round(_, 6)`, and an empty column's uniqueness is null, as the
    * twin's `nullif` gives.
    */
  val dqProfile: (SparkSession, String) => DataFrame = (s, dir) => {
    val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
    val prof = graft.profile.Profiler.profile(docs(s, dir).select(cols.map(col): _*))
    val rows = cols.map { c =>
      val p = prof(c)
      (c, p.nonNull, p.distinct,
        Option.when(p.nonNull > 0)(p.uniqueness), p.nullMean)
    }
    import s.implicits._
    rows.toDF("column_name", "non_null", "distinct_cnt", "uniqueness", "null_mean")
      .select(col("column_name"), col("non_null"), col("distinct_cnt"),
        round(col("uniqueness"), 6).as("uniqueness"),
        round(col("null_mean"), 6).as("null_mean"))
  }

  val dqProfileSql: String = {
    val cols = Seq("doc_id", "lang", "n_chars", "source", "text")
    cols.map { c =>
      s"""SELECT '$c' AS column_name, count($c) AS non_null,
         | count(DISTINCT $c) AS distinct_cnt,
         | round(count(DISTINCT $c)::DOUBLE / nullif(count($c), 0), 6) AS uniqueness,
         | round(avg(CASE WHEN $c IS NULL THEN 1.0 ELSE 0.0 END), 6) AS null_mean
         |FROM documents""".stripMargin
    }.mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // ======================================================================
  // Dedup family (D1-D4 + MinHash/SimHash/Jaccard near-dup)
  // ======================================================================

  /** Exact dedup over a deterministically augmented corpus (documents ∪
    * copies of every 50th doc under new ids): all-but-first flagged,
    * first = min doc_id (SURVEY §2.3 tie-break). [[graft.rules.Rules.exactDup]]
    * over md5 of the RAW text (60-bit prefix), as the oracle groups raw
    * `text`; like its `a.text = g.text`, the rule never matches a null.
    */
  val dqExactDup: (SparkSession, String) => DataFrame = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val aug = d.unionByName(
      d.filter(col("doc_id") % 50 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    graft.rules.Rules.exactDup(aug, col("doc_id"), TextFns.md5Long(col("text")))
      .select(col("url").as("doc_id"), col("rule"),
        col("detail").cast(LongType).as("first_id"))
  }

  val dqExactDupSql: String =
    """WITH aug AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 50 = 0
      |), g AS (
      |  SELECT text, min(doc_id) AS first_id, count(*) AS c FROM aug GROUP BY text
      |)
      |SELECT a.doc_id, 'duplication' AS rule, g.first_id
      |FROM aug a JOIN g ON a.text = g.text
      |WHERE g.c > 1 AND a.doc_id <> g.first_id
      |ORDER BY a.doc_id""".stripMargin

  /** MinHash signatures (k=4 for the oracle; the engine uses k=32). */
  private val mhParams = Hashing.hashParams(4)

  val dqMinHash: (SparkSession, String) => DataFrame = (s, dir) => {
    val d = docs(s, dir)
    val norm = TextFns.normText(col("text"))
    // fused expression, byte-identical to the md5 SQL-oracle formula
    // (TextFnsSpec cross-validates it against the composed Column
    // version in test scope)
    val sig = graft.functions.Md5MinHash.md5MinHash(norm, 4, 4)
    d.select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id"),
        element_at(col("sig"), 1).as("mh0"), element_at(col("sig"), 2).as("mh1"),
        element_at(col("sig"), 3).as("mh2"), element_at(col("sig"), 4).as("mh3"))
  }

  val dqMinHashSql: String = {
    val P = Hashing.P
    val base = s"list_transform(${Frag.charShingles("n", 4)}, s -> ${Frag.md5Long("s")} % $P)"
    val mhs = mhParams.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(base, h -> ($a * h + $b) % $P)) AS mh$i"
    }.mkString(",\n ")
    s"""WITH nt AS (SELECT doc_id, ${Frag.norm("text")} AS n FROM documents),
       |bh AS (SELECT doc_id, $base AS base FROM nt)
       |SELECT doc_id, $mhs
       |FROM bh ORDER BY doc_id""".stripMargin
  }

  /** SimHash (16-bit) over distinct lowercase tokens. */
  val dqSimHash: (SparkSession, String) => DataFrame = (s, dir) =>
    // fused expression; TextFnsSpec asserts it equals the composed
    // simhash over array_distinct(lower(tokens))
    docs(s, dir)
      .select(col("doc_id"),
        graft.functions.Md5SimHash.md5SimHash(col("text"), 16).as("simhash"))

  val dqSimHashSql: String = {
    val bits = (0 until 16).map { b =>
      s"(CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> $b) & 1)) >= len(hs) THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id,
       |  list_distinct(list_transform(${Frag.toks("text")}, t -> lower(t))) AS toks
       | FROM documents),
       |h AS (SELECT doc_id, list_transform(toks, t -> ${Frag.md5Long("t")}) AS hs FROM t)
       |SELECT doc_id,
       | (CASE WHEN len(hs) > 0 THEN $bits ELSE 0 END)::BIGINT AS simhash
       |FROM h ORDER BY doc_id""".stripMargin
  }

  /** SimHash Hamming near-dup verdicts ([[graft.rules.Rules.simHashNearDup]]
    * — the engine's cheap second opinion next to MinHash/LSH) over a
    * 60-bit md5 token simhash, oracle-checked against a brute-force
    * all-pairs DuckDB twin. The engine path's pigeonhole banding (4 ×
    * 15-bit chunks) is EXACT for Hamming ≤ 3 only while every chunk
    * bucket holds at most `maxBucket` = 256 rows; past that the walk
    * pairs each row with the bucket's hub only. The oracle boards' text
    * is biased enough to break that bound: at sf0.01 the query matches
    * its twin, but at sf0.1 (5,000 docs) the largest chunk bucket holds
    * 1,371 rows and the query returns 2,277 rows against the twin's
    * 2,366, so sf0.1 reads 49/51 until ROADMAP item 1 makes the walk
    * exact past the bound. Exact-duplicate documents in the fixture
    * guarantee Hamming-0 pairs (rows > 0).
    */
  val dqSimHashNearDup: (SparkSession, String) => DataFrame = (s, dir) => {
    val sh = docs(s, dir).select(col("doc_id"),
      graft.functions.Md5SimHash.md5SimHash(col("text"), 60).as("sh"))
    graft.rules.Rules.simHashNearDup(sh, col("doc_id"), col("sh"),
        maxHamming = 3, bits = 60)
      .select(col("url").cast(LongType).as("doc_id"), col("rule"),
        col("score").cast(LongType).as("hamming"),
        col("detail").cast(LongType).as("keep_id"))
  }

  val dqSimHashNearDupSql: String = {
    // brute-force twin of the banded plan: same 60-bit md5 simhash (the
    // dq_simhash formula at 60 bits), all pairs at Hamming <= 3, each
    // dropped (larger) id reports its min distance and min keeper
    // independently — mirroring the rule's groupBy(min, min)
    val bits = (0 until 60).map { b =>
      s"(CASE WHEN 2 * list_sum(list_transform(hs, h -> (h >> $b) & 1)) >= len(hs) THEN ${1L << b} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH t AS (SELECT doc_id,
       |  list_distinct(list_transform(${Frag.toks("text")}, t -> lower(t))) AS toks
       | FROM documents),
       |h AS (SELECT doc_id, list_transform(toks, t -> ${Frag.md5Long("t")}) AS hs FROM t),
       |s AS (SELECT doc_id, (CASE WHEN len(hs) > 0 THEN $bits ELSE 0 END)::BIGINT AS sh FROM h),
       |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |        bit_count(xor(a.sh, b.sh)) AS dist
       |      FROM s a JOIN s b ON a.doc_id < b.doc_id
       |      WHERE bit_count(xor(a.sh, b.sh)) <= 3)
       |SELECT d2 AS doc_id, 'near_dup_simhash' AS rule,
       | min(dist)::BIGINT AS hamming, min(d1)::BIGINT AS keep_id
       |FROM p GROUP BY d2 ORDER BY doc_id""".stripMargin
  }

  /** WIDE (2 × 60-bit) SimHash near-dup verdicts
    * ([[graft.rules.Rules.simHashNearDupWide]] — the production regime
    * for 10⁹⁺-doc corpora, Manku/WWW'07 block-pair banding) over a
    * portable md5 wide fingerprint, oracle-checked against a brute-force
    * all-pairs DuckDB twin at `bit_count(xor(hi,hi)) +
    * bit_count(xor(lo,lo)) <= 6`. The banding is EXACT for Hamming ≤ 6
    * (≤ 6 flipped bits touch ≤ 6 of the 8 blocks, so ≥ 2 blocks — hence
    * ≥ 1 of the C(8,2) block-pair keys — match exactly) only while
    * every pair bucket holds at most `maxBucket` = 256 rows. At sf0.01
    * the query matches its twin; at sf0.1 the largest block-pair bucket
    * holds 496 rows and the query returns 1,860 rows against the twin's
    * 1,863 — with [[dqSimHashNearDup]], the two sf0.1 mismatches, until
    * ROADMAP item 1 lands. Exact-duplicate documents in the fixture
    * guarantee Hamming-0 pairs (rows > 0).
    */
  val dqSimHashNearDupWide: (SparkSession, String) => DataFrame = (s, dir) => {
    val sh = docs(s, dir).select(col("doc_id"),
      graft.functions.Md5SimHash.md5SimHashWide(col("text")).as("w"))
      .select(col("doc_id"), col("w.hi").as("hi"), col("w.lo").as("lo"))
    graft.rules.Rules.simHashNearDupWide(sh, col("doc_id"), col("hi"), col("lo"),
        maxHamming = 6)
      .select(col("url").cast(LongType).as("doc_id"), col("rule"),
        col("score").cast(LongType).as("hamming"),
        col("detail").cast(LongType).as("keep_id"))
  }

  val dqSimHashNearDupWideSql: String = {
    // brute-force twin: the same per-bit majority over md5 hex chars 1-15
    // (lo) and 17-31 (hi) of each distinct lowercase token, all pairs at
    // combined Hamming <= 6
    def half(name: String, off: Int) = {
      val bits = (0 until 60).map { b =>
        s"(CASE WHEN 2 * list_sum(list_transform($name, h -> (h >> $b) & 1)) >= len($name) THEN ${1L << b} ELSE 0 END)"
      }.mkString(" + ")
      s"(CASE WHEN len($name) > 0 THEN $bits ELSE 0 END)::BIGINT"
    }
    s"""WITH t AS (SELECT doc_id,
       |  list_distinct(list_transform(${Frag.toks("text")}, t -> lower(t))) AS toks
       | FROM documents),
       |h AS (SELECT doc_id,
       |  list_transform(toks, t -> ('0x' || substr(md5(t), 1, 15))::BIGINT) AS hlo,
       |  list_transform(toks, t -> ('0x' || substr(md5(t), 17, 15))::BIGINT) AS hhi
       | FROM t),
       |s AS (SELECT doc_id, ${half("hhi", 17)} AS hi, ${half("hlo", 1)} AS lo FROM h),
       |p AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
       |        (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))) AS dist
       |      FROM s a JOIN s b ON a.doc_id < b.doc_id
       |      WHERE (bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo))) <= 6)
       |SELECT d2 AS doc_id, 'near_dup_simhash_wide' AS rule,
       | min(dist)::BIGINT AS hamming, min(d1)::BIGINT AS keep_id
       |FROM p GROUP BY d2 ORDER BY doc_id""".stripMargin
  }

  /** Shingles with document frequency above this carry no near-dup signal
    * (web boilerplate) and are exactly the O(df²) hot keys that detonate a
    * shingle self-join at scale — they are dropped from the Jaccard
    * universe on BOTH the Spark and the oracle side (the cap is part of
    * the query's semantics). NgramJaccardSpec proves the bound on a
    * planted 1k-copy boilerplate corpus.
    */
  val MaxShingleDf = 64

  /** N-gram (3-word shingle) Jaccard near-dup pairs over an augmented
    * corpus (every 100th doc gets a mutated copy — first word changed).
    * Jaccard is computed over the df ≤ [[MaxShingleDf]] shingle universe.
    */
  val dqNgramJaccard: (SparkSession, String) => DataFrame = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "text")
    val mut = d.filter(col("doc_id") % 100 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"),
        regexp_replace(col("text"), "^\\S+", "changed").as("text"))
    val aug = d.unionByName(mut)
    ngramJaccardPairs(aug)
  }

  /** Core of [[dqNgramJaccard]] over any (doc_id, text) corpus — exposed
    * so NgramJaccardSpec can prove the hot-key bound on a planted
    * boilerplate corpus. Fused distinct-shingle-hash expression: the
    * shingle is only a JOIN key, so FNV hashes replace the composed
    * string-building pipeline (same pair/jaccard output; the DuckDB
    * oracle keeps the string form).
    */
  def ngramJaccardPairs(aug: DataFrame): DataFrame = {
    // LINEAGE TRUNCATION (eager localCheckpoint — the pipeline's
    // candidate-pair pattern): the exploded shingle universe feeds the
    // hot-shingle aggregate, the anti-join input, the per-doc sizes and
    // BOTH self-join sides; left lazy, every reference re-expands the
    // whole tokenize+shingle+explode lineage — the r5 executed plan held
    // 32 source scans / 32 shingleHashes evaluations / 30 exchanges
    // (plans/r06/dq_ngram_jaccard_before.txt). One materialised
    // (doc_id, tok) leaf makes that a single pass. Two alternatives were
    // measured and rejected (OPTIMIZATION_r06.md): a count-window df cap
    // over one tok exchange (wall-equal, but its reuse exists only in
    // the runtime AQE plan — the compile-time plan still duplicates the
    // subtree) and a fold-everything bounded collect-doc-ids
    // TypedImperativeAggregate (slower: ObjectHashAggregate's sort-based
    // fallback at ~10⁶ distinct keys serializes a typed buffer per key).
    val ex0 = aug
      .withColumn("sh", graft.functions.ShingleHashes.shingleHashes(col("text"), 3))
      .select(col("doc_id"), explode(col("sh")).as("tok"))
      .localCheckpoint(true)
    // df cap: drop hot shingles BEFORE the self-join; per-doc sizes are
    // recomputed over the capped universe so the Jaccard denominator and
    // the shared count agree
    // NO second leaf on the capped universe: measured slower (1.7 vs
    // 1.5 s) — its three references (sizes, both self-join sides) ride
    // AQE exchange reuse over the ex0 leaf, and materialising the
    // ~docs×shingles rows costs more than the reused recompute
    val ex = cappedShingles(ex0)
    val sizes = ex.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // the self-join sides are the full capped universe (~docs × shingles
    // rows): AQE's broadcast conversion would single-thread a
    // megarow-scale hash-relation build on the driver; a shuffled hash
    // join partitions both sides by tok instead (hash-uniform keys, df
    // ≤ MaxShingleDf per key — skew-free by construction)
    val pairs = ex.as("a").join(ex.as("b").hint("shuffle_hash"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
      .agg(count(lit(1)).as("shared"))
    pairs
      .join(sizes.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
      .join(sizes.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
      .withColumn("jaccard", round(col("shared").cast(DoubleType) /
        (col("n1") + col("n2") - col("shared")), 6))
      .filter(col("jaccard") >= 0.5)
      .select("id1", "id2", "jaccard")
  }

  /** The df-capped (doc_id, tok) universe — every downstream join key has
    * at most [[MaxShingleDf]] occurrences, so the self-join emits at most
    * df·(df−1)/2 ≤ 2016 rows per shingle instead of O(corpus²).
    *
    * Implemented as a broadcast ANTI-join against the hot-shingle
    * BLACKLIST (df > cap): the blacklist is tiny by construction — a
    * shingle enters it only by appearing in >64 documents, so its size is
    * bounded by corpus/65 and in practice is the handful of boilerplate
    * shingles — while the previous equi-join against the `allowed` set
    * shuffled the ENTIRE exploded universe a second time just to keep
    * almost all of it (the df groupBy shuffle is unavoidable; the
    * allowed-side join shuffle was not).
    */
  def cappedShingles(ex0: DataFrame): DataFrame = {
    val hot = ex0.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df") > MaxShingleDf).select("tok")
    ex0.join(broadcast(hot), Seq("tok"), "left_anti")
  }

  val dqNgramJaccardSql: String = {
    val toksNorm = Frag.toks(Frag.norm("text"))
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, regexp_replace(text, '^\\S+', 'changed') AS text
       |  FROM documents WHERE doc_id % 100 = 0
       |), t AS (
       |  SELECT doc_id, $toksNorm AS toks FROM aug
       |), sh AS (
       |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 3
       |    THEN list_transform(generate_series(0, len(toks) - 3),
       |         i -> concat_ws(' ', toks[CAST(i+1 AS INT)], toks[CAST(i+2 AS INT)], toks[CAST(i+3 AS INT)]))
       |    ELSE toks END) AS sh
       |  FROM t
       |), ex0 AS (SELECT doc_id, unnest(sh) AS tok FROM sh),
       |allowed AS (
       |  SELECT tok FROM (SELECT tok, count(*) AS df FROM ex0 GROUP BY tok)
       |  WHERE df <= $MaxShingleDf
       |),
       |ex AS (SELECT doc_id, tok FROM ex0 JOIN allowed USING (tok)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM ex GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS shared
       |  FROM ex a JOIN ex b ON a.tok = b.tok AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT id1, id2,
       | round(shared::DOUBLE / (s1.n + s2.n - shared), 6) AS jaccard
       |FROM pairs JOIN sizes s1 ON id1 = s1.doc_id JOIN sizes s2 ON id2 = s2.doc_id
       |WHERE round(shared::DOUBLE / (s1.n + s2.n - shared), 6) >= 0.5
       |ORDER BY id1, id2""".stripMargin
  }

  // ======================================================================
  // Statistical rules (A1-A6 analogues)
  // ======================================================================

  val dqCompleteness: (SparkSession, String) => DataFrame = (s, dir) =>
    docs(s, dir)
      .withColumn("n_words", TextFns.wordCountFast(col("text")).cast(LongType))
      .filter(col("text").isNull || col("n_words") < 40)
      .select(col("doc_id"), lit("empty").as("rule"), col("n_words"))

  val dqCompletenessSql: String =
    s"""SELECT doc_id, 'empty' AS rule, ${Frag.nWords("text")}::BIGINT AS n_words
       |FROM documents
       |WHERE text IS NULL OR ${Frag.nWords("text")} < 40
       |ORDER BY doc_id""".stripMargin

  /** Corpus z-score extremes on n_chars, k=2; boundary-EQUAL values are
    * flagged — the reference's `~((x>lo)&(x<hi))` quirk (utils.py:229-231),
    * judged by the pipeline rule's own predicate ([[graft.rules.Rules.zEntry]]).
    * The twin has no uniqueness gate, so none is armed here, and the
    * moments are the twin's double `avg`/`stddev_samp`.
    *
    * The driver corpus is well-behaved at every SF (n_chars ∈ [48, 577],
    * sd ≈ 138 — everything inside ±2sd), so three extreme rows are
    * PLANTED (the [[dqExactDup]] augmentation pattern) to make the rule
    * fire on nonzero rows: at 30k/55k/80k chars the planted rows dominate
    * the variance (sd ≈ 1.4–3.8k ⇒ hi-bound ≈ 3.2–8.3k ≪ 30k) while the
    * base corpus stays inside the widened band — exactly the 3 planted
    * rows flag, at sf0.001 through sf0.1 alike.
    *
    * SCALE LIMIT of the exact-3-rows property: the planted magnitudes are
    * fixed, so sd-from-plants shrinks ~1/√n — past roughly sf1 the 2·sd
    * band tightens below the base max n_chars (577) and base rows start
    * flagging too. Oracle PARITY is unaffected (both engines see the same
    * augmented corpus); only the "exactly 3" documentation is bounded to
    * the stated sf0.001–sf0.1 range. A scale-proof plant would grow the
    * magnitudes with √rowcount.
    */
  val dqExtremeZscore: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = docs(s, dir).select(col("doc_id"), col("n_chars"))
    val planted = s.range(3).select(
      (col("id") + lit(998001L)).as("doc_id"),
      (lit(30000L) + col("id") * lit(25000L)).as("n_chars"))
    val d = base.unionByName(planted)
    val st = d.agg(avg(col("n_chars").cast(DoubleType)).as("m"),
      stddev_samp(col("n_chars").cast(DoubleType)).as("sd"))
    d.crossJoin(broadcast(st))
      .filter(graft.rules.Rules.zEntry("extreme_n_chars", col("n_chars"),
        col("m"), col("sd"), k = 2.0, gate = lit(true), col("n_chars")).isNotNull)
      .select(col("doc_id"), col("n_chars"),
        round((col("n_chars") - col("m")) / col("sd"), 6).as("z"))
  }

  val dqExtremeZscoreSql: String =
    """WITH aug AS (
      |  SELECT doc_id, n_chars FROM documents
      |  UNION ALL
      |  SELECT 998001 + i AS doc_id, 30000 + i * 25000 AS n_chars FROM range(3) t(i)
      |), s AS (SELECT avg(n_chars::DOUBLE) AS m, stddev_samp(n_chars::DOUBLE) AS sd FROM aug)
      |SELECT doc_id, n_chars, round((n_chars - s.m) / s.sd, 6) AS z
      |FROM aug, s
      |WHERE NOT (n_chars > s.m - 2 * s.sd AND n_chars < s.m + 2 * s.sd)
      |ORDER BY doc_id""".stripMargin

  /** Per-language z-score (A6 analogue), k=1.5: the pass-2 rule's entry
    * ([[graft.rules.Rules.groupZScoreEntry]]) over per-class n/mean/sd
    * from one `groupBy(lang)`, broadcast-joined back on `lang` — the
    * twin's `JOIN s USING (lang)`, so a null-`lang` class never joins.
    * `z` keeps its sign.
    */
  val dqGroupZscore: (SparkSession, String) => DataFrame = (s, dir) => {
    val d = docs(s, dir)
    val st = d.groupBy("lang").agg(count(lit(1)).as("n"),
      avg(col("n_chars").cast(DoubleType)).as("m"),
      stddev_samp(col("n_chars").cast(DoubleType)).as("sd"))
    d.join(broadcast(st), Seq("lang"))
      .filter(graft.rules.Rules.groupZScoreEntry(col("n_chars"), col("lang"),
        "n_chars", col("n"), col("m"), col("sd"), k = 1.5).isNotNull)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round((col("n_chars") - col("m")) / col("sd"), 6).as("z"))
  }

  val dqGroupZscoreSql: String =
    """WITH s AS (SELECT lang, avg(n_chars::DOUBLE) AS m, stddev_samp(n_chars::DOUBLE) AS sd
      |           FROM documents GROUP BY lang)
      |SELECT d.doc_id, d.lang, d.n_chars, round((d.n_chars - s.m) / s.sd, 6) AS z
      |FROM documents d JOIN s USING (lang)
      |WHERE s.sd IS NOT NULL AND s.sd > 0
      |  AND NOT (d.n_chars > s.m - 1.5 * s.sd AND d.n_chars < s.m + 1.5 * s.sd)
      |ORDER BY d.doc_id""".stripMargin

  /** Rare (lang, source) combinations (A5 analogue), minCount=3, judged
    * by the pass-2 rule's entry ([[graft.rules.Rules.rareComboEntry]]).
    */
  val dqRareCombo: (SparkSession, String) => DataFrame = (s, dir) => {
    val d = docs(s, dir)
    val g = d.groupBy("lang", "source").agg(count(lit(1)).as("combo_count"))
    d.join(broadcast(g), Seq("lang", "source"))
      .filter(graft.rules.Rules.rareComboEntry(col("lang"), col("source"),
        "lang", "source", col("combo_count"), 3).isNotNull)
      .select("doc_id", "lang", "source", "combo_count")
  }

  val dqRareComboSql: String =
    """WITH g AS (SELECT lang, source, count(*) AS combo_count
      |           FROM documents GROUP BY lang, source)
      |SELECT d.doc_id, d.lang, d.source, g.combo_count
      |FROM documents d JOIN g USING (lang, source)
      |WHERE g.combo_count < 3
      |ORDER BY d.doc_id""".stripMargin

  /** Tendency invariant (A4): arm when P(n_chars < 8·n_words) > 0.999
    * over the corpus (denominator = all rows — the reference's quirk),
    * then flag violators — the pass-2 rule's entry
    * ([[graft.rules.Rules.tendencyEntry]]) over one (lt, n) fetch. An
    * unarmed gate gives no rows.
    */
  val dqTendency: (SparkSession, String) => DataFrame = (s, dir) => {
    val f = docs(s, dir)
      .withColumn("n_words", TextFns.wordCountFast(col("text")).cast(LongType))
      .select(col("doc_id"), col("n_chars"), col("n_words"))
    // The driver corpus is 100% conforming at every SF — the gate arms at
    // p = 1.0 but has zero violators, and ONE violator in 500 rows drops
    // p to 0.998 and DISARMS the rule (denominator = all rows, the
    // reference's quirk). So the conforming feature rows are replicated
    // 8× (cheap: features are computed once, replication is an 8-row
    // explode of 3 longs) and TWO violators planted:
    // p = 4000/4002 ≈ 0.9995 > 0.999 ⇒ armed, 2 rows flag.
    val rep = f.withColumn("k", explode(sequence(lit(0L), lit(7L))))
      .select((col("doc_id") + col("k") * lit(1000000L)).as("doc_id"),
        col("n_chars"), col("n_words"))
    val planted = s.range(2).select(
      (col("id") + lit(998001L)).as("doc_id"),
      (lit(1000L) + col("id") * lit(1000L)).as("n_chars"),
      lit(1L).as("n_words"))
    val d = rep.unionByName(planted)
    val bound = lit(8) * col("n_words")
    val st = d.agg(count(when(col("n_chars") < bound, lit(1))), count(lit(1))).head()
    val cols = Seq(col("doc_id"), col("n_chars"), col("n_words"))
    graft.rules.Rules.tendencyEntry(col("n_chars"), bound, "n_chars", "8n_words",
        st.getLong(0), st.getLong(1)) match {
      case Some(e) => d.select(cols :+ e.as("__e"): _*).filter(col("__e").isNotNull)
        .select(cols :+ round(col("__e.score"), 6).as("p"): _*)
      case None => d.select(cols :+ lit(null).cast(DoubleType).as("p"): _*).limit(0)
    }
  }

  val dqTendencySql: String =
    s"""WITH f AS (SELECT doc_id, n_chars, ${Frag.nWords("text")}::BIGINT AS n_words FROM documents),
       |rep AS (SELECT f.doc_id + r.k * 1000000 AS doc_id, f.n_chars, f.n_words
       |        FROM f CROSS JOIN (SELECT unnest(range(0, 8)) AS k) r),
       |aug AS (
       |  SELECT * FROM rep
       |  UNION ALL
       |  SELECT 998001 + i AS doc_id, 1000 + i * 1000 AS n_chars, 1 AS n_words FROM range(2) t(i)
       |),
       |s AS (SELECT sum(CASE WHEN n_chars < 8 * n_words THEN 1 ELSE 0 END)::DOUBLE / count(*) AS p FROM aug)
       |SELECT doc_id, n_chars, n_words, round(s.p, 6) AS p
       |FROM aug, s
       |WHERE s.p > 0.999 AND n_chars > 8 * n_words
       |ORDER BY doc_id""".stripMargin

  // ======================================================================
  // Text analysis (heuristics, langid, token counting, fingerprint)
  // ======================================================================

  val dqHeuristics: (SparkSession, String) => DataFrame = (s, dir) =>
    // the fused DocStats kernel supplies the features: its counts are the
    // SAME integers as the composed TextFns columns (DocStatsSpec pins
    // equality incl. non-ASCII), so the divisions and 6-dp roundings are
    // bit-identical to the oracle — and the interpreted HOF pipeline
    // (ratio lambdas per token) drops out of the plan
    docs(s, dir)
      .withColumn("__ds", graft.functions.DocStats.docStats(col("text"), 4))
      .select(
        col("doc_id"),
        col("__ds.n_words").cast(LongType).as("n_words"),
        round(col("__ds.symbol_ratio"), 6).as("symbol_ratio"),
        round(col("__ds.stopword_ratio"), 6).as("stopword_ratio"),
        round(col("__ds.mean_word_len"), 6).as("mean_word_len"))
      .withColumn("keep",
        col("n_words") >= 30 && col("symbol_ratio") <= 0.1 &&
          col("mean_word_len").between(2.0, 12.0))

  val dqHeuristicsSql: String = {
    val sw = Frag.stopHits("text", TextFns.StopwordsEn)
    s"""WITH f AS (
       | SELECT doc_id,
       |  ${Frag.nWords("text")}::BIGINT AS n_words,
       |  round(${Frag.symbolCount("text")}::DOUBLE / nullif(length(text), 0), 6) AS symbol_ratio,
       |  round($sw::DOUBLE / nullif(${Frag.nWords("text")}, 0), 6) AS stopword_ratio,
       |  round(${Frag.sumTokLen("text")}::DOUBLE / nullif(${Frag.nWords("text")}, 0), 6) AS mean_word_len
       | FROM documents)
       |SELECT doc_id, n_words, symbol_ratio, stopword_ratio, mean_word_len,
       | (n_words >= 30 AND symbol_ratio <= 0.1 AND mean_word_len BETWEEN 2.0 AND 12.0) AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  }

  val dqLangId: (SparkSession, String) => DataFrame = (s, dir) =>
    docs(s, dir).select(
        col("doc_id"),
        LangId.markerLang(col("text")).as("detected_lang"),
        col("lang").as("declared_lang"))
      .withColumn("agree", col("detected_lang") === col("declared_lang"))

  val dqLangIdSql: String = {
    // argmax over (de, en, es, fr) in lang-asc order, ties → earlier lang;
    // all-zero → 'und'. MUST mirror LangId.markerLang's reduceLeft.
    val langs = LangId.Markers.toSeq.sortBy(_._1)
    val hitExprs = langs.map { case (l, ws) =>
      s"${Frag.stopHits("text", ws)} AS ${l}_hits"
    }.mkString(",\n  ")
    val names = langs.map(_._1)
    def argmax(i: Int): String =
      if (i == names.length - 1) s"'${names(i)}'"
      else {
        val ge = names.drop(i + 1).map(o => s"${names(i)}_hits >= ${o}_hits").mkString(" AND ")
        s"CASE WHEN $ge THEN '${names(i)}' ELSE ${argmax(i + 1)} END"
      }
    val maxHits = names.map(n => s"${n}_hits").mkString("greatest(", ", ", ")")
    s"""WITH h AS (
       | SELECT doc_id, lang,
       |  $hitExprs
       | FROM documents)
       |SELECT doc_id,
       | (CASE WHEN $maxHits > 0 THEN ${argmax(0)} ELSE 'und' END) AS detected_lang,
       | lang AS declared_lang,
       | ((CASE WHEN $maxHits > 0 THEN ${argmax(0)} ELSE 'und' END) = lang) AS agree
       |FROM h ORDER BY doc_id""".stripMargin
  }

  val dqTokenCount: (SparkSession, String) => DataFrame = (s, dir) =>
    docs(s, dir).select(
        col("doc_id"),
        TextFns.wordCountFast(col("text")).cast(LongType).as("n_ws_tokens"),
        TextFns.bpeishTokenCount(col("text")).cast(LongType).as("n_bpeish_tokens"))

  val dqTokenCountSql: String =
    s"""SELECT doc_id,
       | ${Frag.nWords("text")}::BIGINT AS n_ws_tokens,
       | len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9${Frag.WsChars}]'))::BIGINT AS n_bpeish_tokens
       |FROM documents ORDER BY doc_id""".stripMargin

  val dqFingerprint: (SparkSession, String) => DataFrame = (s, dir) => {
    val norm = TextFns.normText(col("text"))
    docs(s, dir).select(
        col("doc_id"),
        md5(norm.cast("binary")).as("fp_md5"),
        TextFns.fingerprint(col("text")).as("fp64"))
  }

  val dqFingerprintSql: String =
    s"""SELECT doc_id,
       | md5(${Frag.norm("text")}) AS fp_md5,
       | ${Frag.md5Long(Frag.norm("text"))} AS fp64
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Per-document numeric outlier SCORE (C9 analogue,
    * `/root/reference/src/improve_data_quality.py:482-528`): the
    * reference returns LOF scores normalized to [0,1]; the distributable
    * analogue is the |z|-score of the numeric feature against corpus
    * moments, normalized by the corpus max — a per-doc score column, not
    * just a keep/drop flag. Two tiny aggregates + one narrow projection;
    * no kNN graph (LOF's kNN is the part that cannot shard).
    */
  val dqOutlierScore: (SparkSession, String) => DataFrame = (s, dir) => {
    val d = docs(s, dir)
    val st = d.agg(
      avg(col("n_chars").cast(DoubleType)).as("m"),
      stddev_samp(col("n_chars").cast(DoubleType)).as("sd"))
    val z = d.crossJoin(broadcast(st))
      .withColumn("az", abs(col("n_chars") - col("m")) / col("sd"))
    val mx = z.agg(max(col("az")).as("mz"))
    z.crossJoin(broadcast(mx))
      .select(col("doc_id"),
        round(col("az"), 6).as("abs_z"),
        round(col("az") / col("mz"), 6).as("outlier_score"))
  }

  val dqOutlierScoreSql: String =
    """WITH s AS (SELECT avg(n_chars::DOUBLE) AS m, stddev_samp(n_chars::DOUBLE) AS sd FROM documents),
      |z AS (SELECT doc_id, abs(n_chars - s.m) / s.sd AS az FROM documents, s),
      |mx AS (SELECT max(az) AS mz FROM z)
      |SELECT doc_id, round(az, 6) AS abs_z, round(az / mx.mz, 6) AS outlier_score
      |FROM z, mx ORDER BY doc_id""".stripMargin

  /** Typo detection + correction suggestions (C2 + C7,
    * `/root/reference/src/typo.py:60-119`, `src/utils.py:237-266`): a
    * token is a suspected typo when it is RARE (count ≤ 2) inside a
    * character-similarity cluster whose most frequent member is POPULAR
    * (count ≥ 10) — "rare variant of a popular spelling" — and the
    * suggestions are the cluster's top-3 members by frequency. The
    * reference clusters by O(U²) pairwise string similarity; the
    * SQL-portable, shuffle-friendly analogue is a deterministic cluster
    * KEY (first char + last char + length — catches substitutions and
    * transpositions in the middle of the word), which keeps the whole
    * operator two groupBys and one bounded window.
    */
  val dqTypoSuggest: (SparkSession, String) => DataFrame = (s, dir) => {
    // The driver corpus draws from a ~30-token vocabulary where every
    // token appears ≥ 26 times — no natural rares, so the rule matched on
    // the empty set. Plant one doc of misspellings of 'the' (count ≥ 840
    // at every SF): 'tbe' (cnt 1) and 'tge' (cnt 2) share its cluster key
    // 'te3' (first + last + length) ⇒ both flag with 'the' in their
    // suggestion list.
    val aug = docs(s, dir).select(col("text"))
      .unionByName(s.range(1).select(lit("tbe tge tge").as("text")))
    val toks = aug
      .select(explode(TextFns.tokens(lower(col("text")))).as("tok"))
      .filter(length(col("tok")) >= 3)
    // materialised once (eager localCheckpoint): vocab feeds the ranked
    // window, the cluster-max aggregate AND the final join — left lazy,
    // each reference re-runs the tokenize+explode+count over the corpus
    val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .withColumn("ck", concat(
        substring(col("tok"), 1, 1),
        substr(col("tok"), length(col("tok")), lit(1)),
        length(col("tok"))))
      .localCheckpoint(true)
    val w = Window.partitionBy(col("ck")).orderBy(col("cnt").desc, col("tok"))
    val ranked = vocab.withColumn("rn", row_number().over(w))
    val sugg = ranked.filter(col("rn") <= 3)
      .groupBy(col("ck"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("tok")))),
        x => x.getField("tok")), ",").as("suggestions"))
    val cstat = vocab.groupBy(col("ck")).agg(max(col("cnt")).as("max_cnt"))
    vocab.join(cstat, Seq("ck")).join(sugg, Seq("ck"))
      .filter(col("cnt") <= 2 && col("max_cnt") >= 10)
      .select(col("tok"), col("cnt"), col("ck"), col("suggestions"))
  }

  val dqTypoSuggestSql: String = {
    val toksLower = Frag.toks("lower(text)")
    s"""WITH aug AS (SELECT text FROM documents UNION ALL SELECT 'tbe tge tge' AS text),
       |toks AS (
       |  SELECT unnest($toksLower) AS tok FROM aug
       |), t2 AS (SELECT tok FROM toks WHERE length(tok) >= 3),
       |vocab AS (SELECT tok, count(*) AS cnt FROM t2 GROUP BY tok),
       |v2 AS (SELECT tok, cnt,
       |  concat(substr(tok, 1, 1), substr(tok, length(tok), 1), length(tok)) AS ck
       | FROM vocab),
       |ranked AS (SELECT *, row_number() OVER (PARTITION BY ck ORDER BY cnt DESC, tok) AS rn FROM v2),
       |sugg AS (SELECT ck, string_agg(tok, ',' ORDER BY rn) AS suggestions
       |         FROM ranked WHERE rn <= 3 GROUP BY ck),
       |cstat AS (SELECT ck, max(cnt) AS max_cnt FROM v2 GROUP BY ck)
       |SELECT v2.tok, v2.cnt, v2.ck, sugg.suggestions
       |FROM v2 JOIN cstat USING (ck) JOIN sugg USING (ck)
       |WHERE v2.cnt <= 2 AND cstat.max_cnt >= 10
       |ORDER BY v2.tok""".stripMargin
  }

  // ======================================================================
  // Scrub (PII/toxicity) — patterns interpolated from Scrub.Patterns
  // ======================================================================

  /** PII is planted deterministically (the driver corpus has none), then
    * scrubbed with the engine's pattern chain.
    */
  val dqScrub: (SparkSession, String) => DataFrame = (s, dir) => {
    val pii = concat(col("text"),
      lit(" contact user"), col("doc_id").cast("string"),
      lit("@example.com call 555-123-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"),
      lit(" ssn 123-45-6789 ip 10.0.0.1 this is damn annoying"))
    // the composed regexp chain, deliberately: scrubFused (byte-identical,
    // ScrubSpec) MEASURED ~0.6 s slower on this query — the planted-PII
    // input is mostly non-matching text, where the regex engine's
    // first-char skip loop beats the fused kernel's per-char state
    // machine (OPTIMIZATION_r06.md)
    docs(s, dir).select(col("doc_id"), Scrub.scrubCol(pii).as("scrubbed_text"))
      .withColumn("has_email", col("scrubbed_text").contains("<EMAIL>"))
      .withColumn("has_tox", col("scrubbed_text").contains("<TOX>"))
  }

  val dqScrubSql: String = {
    val pii = """text || ' contact user' || doc_id::VARCHAR || '@example.com call 555-123-' ||
                | lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
                | ' ssn 123-45-6789 ip 10.0.0.1 this is damn annoying'""".stripMargin
    // DuckDB standard string literals keep backslashes verbatim — only
    // single quotes need escaping for the regex to arrive intact.
    val chain = Scrub.Patterns.foldLeft(s"($pii)") { case (acc, (p, r)) =>
      val esc = p.replace("'", "''")
      s"regexp_replace($acc, '$esc', '$r', 'g')"
    }
    s"""SELECT doc_id, $chain AS scrubbed_text,
       | contains($chain, '<EMAIL>') AS has_email,
       | contains($chain, '<TOX>') AS has_tox
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  // ======================================================================
  // Embeddings: exact top-k cosine + LSH-bucketed ANN
  // ======================================================================

  val embKnn: (SparkSession, String) => DataFrame = (s, dir) => {
    val e = tbl(s, dir, "embeddings")
    val corpus = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    Ann.bruteForceTopK(corpus, queries, 5)
      .select(col("qid"), col("id"), round(col("cos"), 4).as("cos_r"), col("rank"))
  }

  val embKnnSql: String =
    """WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 10),
      |c AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
      |scored AS (
      |  SELECT q.qid, c.id, list_cosine_similarity(q.qvec::DOUBLE[], c.vec::DOUBLE[]) AS cos
      |  FROM q, c WHERE c.id <> q.qid
      |), ranked AS (
      |  SELECT qid, id, cos, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rank
      |  FROM scored
      |)
      |SELECT qid, id, round(cos, 4) AS cos_r, rank FROM ranked
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** LSH-bucketed ANN with a DETERMINISTIC oracle: an exact copy of every
    * query vector is planted in the corpus at id = qid + 10⁶. Identical
    * vectors produce identical SRP signatures in EVERY table, so the copy
    * is guaranteed into the candidate set; its cosine is exactly 1.0 (the
    * global maximum), so it is guaranteed into the top-k. The emitted
    * SUBSET — each query's own planted copy — is therefore exact and
    * SQL-expressible even though the full top-k is approximate (the
    * approximate remainder stays covered by AnnSpec's recall bound vs
    * brute force).
    */
  val embAnnLsh: (SparkSession, String) => DataFrame = (s, dir) => {
    val e = tbl(s, dir, "embeddings")
    val corpus0 = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = corpus0.unionByName(queries.select(
      (col("qid") + lit(1000000L)).as("id"), col("qvec").as("vec")))
    // nBits sized from the corpus (one cheap count) so the same query is
    // bucket-bounded at ANY sf; multi-probe recovers Hamming-1 near-misses
    val nBits = Ann.autoNBits(corpus.count(), targetBucket = 64)
    Ann.lshTopK(corpus, queries, 5, dim = 64, nBits = nBits, tables = 12,
        multiProbe = true)
      .filter(col("id") === col("qid") + lit(1000000L))
      .select(col("qid"), col("id"), round(col("cos"), 4).as("cos_r"))
  }

  val embAnnLshSql: String =
    """SELECT vec_id AS qid, vec_id + 1000000 AS id, 1.0::DOUBLE AS cos_r
      |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin

  /** IVF-bucketed ANN with the same planted-copy exact oracle as
    * [[embAnnLsh]]: an identical planted vector computes the identical
    * deterministic cell argmax, so it lives in the query's own top probe
    * cell and tops the ranking at cos = 1.0. The approximate remainder
    * is covered by AnnSpec's recall bound vs brute force.
    */
  val embAnnIvf: (SparkSession, String) => DataFrame = (s, dir) => {
    val e = tbl(s, dir, "embeddings")
    val corpus0 = e.select(col("vec_id").as("id"), col("embedding").as("vec"))
    val queries = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = corpus0.unionByName(queries.select(
      (col("qid") + lit(1000000L)).as("id"), col("qvec").as("vec")))
    val cents = Ann.trainCentroids(corpus, "vec", 64,
      Ann.autoCells(corpus.count()))
    Ann.ivfTopK(corpus, queries, 5, cents, nProbe = 4)
      .filter(col("id") === col("qid") + lit(1000000L))
      .select(col("qid"), col("id"), round(col("cos"), 4).as("cos_r"))
  }

  val embAnnIvfSql: String =
    """SELECT vec_id AS qid, vec_id + 1000000 AS id, 1.0::DOUBLE AS cos_r
      |FROM embeddings WHERE vec_id < 10 ORDER BY qid""".stripMargin

  // ======================================================================
  // Multimodal plumbing: opaque binary + typed metadata
  // ======================================================================

  /** Binary payload plumbing: build bytes from text (the container has no
    * image/audio libs — FIXTURES/spec: decode is stubbed, the Spark-side
    * schema/partitioning/metadata path is real), extract typed metadata.
    */
  val mmBinaryMeta: (SparkSession, String) => DataFrame = (s, dir) =>
    docs(s, dir).select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"))
      .select(col("doc_id"),
        length(col("payload")).cast(LongType).as("n_bytes"),
        substring(hex(col("payload")), 1, 8).as("magic_hex"))

  val mmBinaryMetaSql: String =
    """SELECT doc_id,
      | octet_length(encode(text))::BIGINT AS n_bytes,
      | substr(hex(encode(text)), 1, 8) AS magic_hex
      |FROM documents ORDER BY doc_id""".stripMargin

  // ======================================================================
  // Events: windowed aggregation + lag gaps (streaming's batch twin)
  // ======================================================================

  val evWindowAgg: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.streaming.EventStream.windowedCountsBatch(tbl(s, dir, "events"))

  val evWindowAggSql: String =
    """SELECT date_trunc('hour', ts) AS window_start, event_type,
      | count(*) AS n, round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val evLagGaps: (SparkSession, String) => DataFrame = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    tbl(s, dir, "events")
      // driver parquet timestamps are NTZ; cast interprets them in the
      // UTC session tz, matching DuckDB's naive epoch_us
      .withColumn("gap_us",
        unix_micros(col("ts").cast("timestamp")) -
          unix_micros(lag(col("ts"), 1).over(w).cast("timestamp")))
      .select("event_id", "user_id", "gap_us")
  }

  val evLagGapsSql: String =
    """SELECT event_id, user_id,
      | epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS gap_us
      |FROM events ORDER BY user_id, event_id""".stripMargin

  /** Gap-based sessionization (batch twin of the
    * `flatMapGroupsWithState` streaming operator — StreamingSpec asserts
    * streamed == batch; this oracle pins the batch semantics to SQL).
    */
  val evSessionize: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.streaming.EventStream.sessionizeBatch(tbl(s, dir, "events"))

  val evSessionizeSql: String = {
    val gapUs = 30 * 60L * 1000000L // MUST equal sessionizeBatch's default
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
       |g AS (SELECT user_id, event_id, us, value,
       |  CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) IS NULL
       |         OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us, event_id) > $gapUs
       |       THEN 1 ELSE 0 END AS new_s
       | FROM e),
       |s AS (SELECT user_id, us, value,
       |  sum(new_s) OVER (PARTITION BY user_id ORDER BY us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_no
       | FROM g)
       |SELECT user_id, session_no::BIGINT AS session_no, min(us) AS session_start_us,
       | max(us) AS session_end_us, count(*) AS n_events,
       | round(sum(value), 4) AS sum_value
       |FROM s GROUP BY user_id, session_no
       |ORDER BY user_id, session_no""".stripMargin
  }

  // ======================================================================
  // Coverage: fractional year (P3), shared-encoding correlation (G3),
  // value-uniqueness sanity (D4), embedding-cosine dedup, frame sampling
  // ======================================================================

  /** Reference `_year` fractional-year view (utils.py:411-412). */
  val qYearFraction: (SparkSession, String) => DataFrame = (s, dir) =>
    tbl(s, dir, "orders").select(
        col("o_orderkey"),
        round(graft.functions.DateFns.yearFraction(col("o_orderdate")), 6)
          .as("order_year_frac"))

  val qYearFractionSql: String =
    """SELECT o_orderkey,
      | round(year(o_orderdate)::DOUBLE + month(o_orderdate)::DOUBLE / 12.0
      |   + day(o_orderdate)::DOUBLE / 365.0, 6) AS order_year_frac
      |FROM orders ORDER BY o_orderkey""".stripMargin

  /** G3 semantics: one shared label encoding over the union of values,
    * Pearson correlation of the encoded columns — [[graft.rules.Rules.corrStr]],
    * whose correlation is rounded here by Spark's `round(_, 6)`.
    */
  val dqCorr: (SparkSession, String) => DataFrame = (s, dir) => {
    val r = graft.rules.Rules.corrStr(docs(s, dir), Seq("lang", "source"))(("lang", "source"))
    import s.implicits._
    Seq(r).toDF("corr").select(round(col("corr"), 6).as("corr_lang_source"))
  }

  val dqCorrSql: String =
    """WITH codes AS (
      |  SELECT v, row_number() OVER (ORDER BY v) AS code FROM (
      |    SELECT DISTINCT lang AS v FROM documents WHERE lang IS NOT NULL
      |    UNION
      |    SELECT DISTINCT source AS v FROM documents WHERE source IS NOT NULL
      |  )
      |)
      |SELECT round(corr(cl.code::DOUBLE, cs.code::DOUBLE), 6) AS corr_lang_source
      |FROM documents d
      |JOIN codes cl ON d.lang = cl.v
      |JOIN codes cs ON d.source = cs.v""".stripMargin

  /** D4 semantics (`utils.py:371-383`): in a ≈all-repeated column, unique
    * values are suspect. A rare-source row is planted so the rule fires.
    * [[graft.rules.Rules.nonUniqueValues]] judges the rows from one fetch
    * of the column's uniqueness r; its dup regime is off (hi = 1.0) and
    * its unique regime arms at r < 0.05, as in the twin.
    */
  val dqValueUniqueness: (SparkSession, String) => DataFrame = (s, dir) => {
    val d = docs(s, dir).select("doc_id", "source")
    val aug = d.unionByName(
      s.range(1).select(lit(999999L).as("doc_id"), lit("src_planted_rare").as("source")))
    val r = aug.agg(countDistinct(col("source")).cast(DoubleType) /
      count(col("source"))).head().getDouble(0)
    val flagged = graft.rules.Rules.nonUniqueValues(aug, col("doc_id"), col("source"),
      "source", r, hi = 1.0, lo = 0.05)
    flagged.getOrElse(aug.limit(0).select(col("doc_id").as("url"),
        col("source").as("detail"), lit(0.0).as("score")))
      .select(col("url").as("doc_id"), col("detail").as("source"),
        col("score").cast(LongType).as("value_count"))
  }

  val dqValueUniquenessSql: String =
    """WITH aug AS (
      |  SELECT doc_id, source FROM documents
      |  UNION ALL SELECT 999999 AS doc_id, 'src_planted_rare' AS source
      |), u AS (SELECT count(DISTINCT source)::DOUBLE / count(source) AS r FROM aug),
      |cnts AS (SELECT source, count(*) AS c FROM aug GROUP BY source)
      |SELECT a.doc_id, a.source, c.c AS value_count
      |FROM aug a JOIN cnts c USING (source), u
      |WHERE u.r < 0.05 AND c.c = 1
      |ORDER BY a.doc_id""".stripMargin

  /** Embedding-cosine near-dup: exact duplicates planted (every 50th
    * vector copied under a new id), pairs with cos ≥ 0.99 flag the larger
    * id. Candidates come from SRP-LSH bucket co-membership — an equi-join
    * on (table, bucket), NEVER a cartesian product (PlanSpec asserts it):
    * identical vectors share every bucket in every table; a cos ≥ 0.99
    * pair agrees with a random hyperplane w.p. 1 − arccos(0.99)/π ≈ 0.955,
    * so it shares a given 8-bit table bucket w.p. 0.955⁸ ≈ 0.69 and misses
    * all 12 tables w.p. (1−0.69)¹² < 1e-6. The candidate join carries ids
    * only; vectors are joined back for the exact-cosine verify.
    */
  val embCosineDedup: (SparkSession, String) => DataFrame = (s, dir) => {
    val e = tbl(s, dir, "embeddings").filter(col("vec_id") % 5 === 0)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val aug = e.unionByName(e.filter(col("id") % 50 === 0)
      .select((col("id") + 1000000L).as("id"), col("vec")))
    val sigs = aug.select(col("id"),
        posexplode(Ann.srpBuckets(col("vec"), 64, 8, 12)).as(Seq("t", "bkt")))
    val cand = sigs.as("a").join(sigs.as("b"),
        col("a.t") === col("b.t") && col("a.bkt") === col("b.bkt") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .dropDuplicates("id1", "id2")
    cand
      .join(aug.select(col("id").as("id1"), col("vec").as("v1")), Seq("id1"))
      .join(aug.select(col("id").as("id2"), col("vec").as("v2")), Seq("id2"))
      .withColumn("cos", round(Ann.cosine(col("v1"), col("v2")), 4))
      .filter(col("cos") >= 0.99)
      .select(col("id2").as("dup_id"), col("id1").as("first_id"), col("cos"))
  }

  val embCosineDedupSql: String =
    """WITH base AS (
      |  SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE vec_id % 5 = 0
      |), aug AS (
      |  SELECT id, vec FROM base
      |  UNION ALL SELECT id + 1000000 AS id, vec FROM base WHERE id % 50 = 0
      |)
      |SELECT b.id AS dup_id, a.id AS first_id,
      | round(list_cosine_similarity(a.vec::DOUBLE[], b.vec::DOUBLE[]), 4) AS cos
      |FROM aug a JOIN aug b ON a.id < b.id
      |WHERE round(list_cosine_similarity(a.vec::DOUBLE[], b.vec::DOUBLE[]), 4) >= 0.99
      |ORDER BY dup_id""".stripMargin

  /** Multimodal frame-sampling plumbing, oracle-checked end-to-end:
    * frames are 256-byte slices of the binary payload (stride 2).
    * The PORTABLE frame hash here is md5Long over the UPPERCASE HEX of
    * the slice: DuckDB's md5 only accepts VARCHAR, so the hex string —
    * identical in both engines — is the portable hashing domain. This
    * closes the last no-oracle query: slicing geometry, explode shape
    * and per-frame hashing are all verified against DuckDB.
    */
  val mmFrameSample: (SparkSession, String) => DataFrame = (s, dir) => {
    val withPayload = docs(s, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
    val nf = greatest(lit(1L), floor(length(col("payload")) / lit(256)).cast(LongType))
    val sliceHex = upper(col("__hx"))
      .substr((col("frame_idx") * 512 + 1).cast("int"), lit(512))
    withPayload
      .withColumn("__hx", hex(col("payload")))
      .withColumn("frame_idx", explode(sequence(lit(0L), nf - 1, lit(2L))))
      .select(col("doc_id"), col("frame_idx"),
        conv(substring(md5(encode(sliceHex, "UTF-8")), 1, 15), 16, 10)
          .cast(LongType).as("frame_hash"))
  }

  val mmFrameSampleSql: String =
    s"""WITH p AS (SELECT doc_id, encode(text) AS payload FROM documents),
       |h AS (SELECT doc_id, upper(hex(payload)) AS hx,
       |        greatest(1, octet_length(payload) // 256) AS nf FROM p),
       |f AS (SELECT doc_id, unnest(range(0, nf, 2)) AS frame_idx, hx FROM h)
       |SELECT doc_id, frame_idx::BIGINT AS frame_idx,
       | ${Frag.md5Long("substr(hx, (frame_idx*512+1)::INT, 512)")} AS frame_hash
       |FROM f ORDER BY doc_id, frame_idx""".stripMargin

  /** REAL image metadata path: every doc gets a genuine PNG payload
    * (ImageIO-encoded, solid color) whose dimensions derive from the doc
    * id — so the decoded width/height/format are exact, SQL-expressible
    * facts and the decode is oracle-checked end-to-end (encode bytes →
    * binary column → per-partition ImageIO header decode). n_bytes is the
    * PNG's encoded size (not SQL-derivable) and stays out of the oracle
    * projection.
    */
  val mmMediaMeta: (SparkSession, String) => DataFrame = (s, dir) => {
    import s.implicits._
    val withPayload = docs(s, dir).select(col("doc_id").cast(LongType)).as[Long]
      .map { id =>
        (id, graft.multimodal.Multimodal.makePng(
          (16 + id % 16).toInt, (16 + (id / 16) % 16).toInt, id))
      }
      .toDF("doc_id", "payload")
    graft.multimodal.Multimodal.extractMeta(withPayload).toDF()
      .select("doc_id", "magic_hex", "width", "height", "format")
  }

  val mmMediaMetaSql: String =
    """SELECT doc_id, '89504E47' AS magic_hex,
      | (16 + doc_id % 16)::INT AS width,
      | (16 + (doc_id // 16) % 16)::INT AS height,
      | 'png' AS format
      |FROM documents ORDER BY doc_id""".stripMargin

  /** REAL audio metadata path: every doc gets a genuine WAV payload
    * (JDK `javax.sound.sampled` WAVE writer) whose sample-rate, channel
    * count and frame count derive from the doc id — the header decode
    * (RIFF magic → AudioFileFormat) is oracle-checked end-to-end, the
    * same pattern as [[mmMediaMeta]]'s ImageIO PNGs. n_bytes is the
    * encoded container size (not SQL-derivable) and stays out of the
    * oracle projection.
    */
  val mmAudioMeta: (SparkSession, String) => DataFrame = (s, dir) => {
    import s.implicits._
    val withPayload = docs(s, dir).select(col("doc_id").cast(LongType)).as[Long]
      .map { id =>
        (id, graft.multimodal.Multimodal.makeWav(
          8000 + (id % 8).toInt * 1000, 1 + (id % 2).toInt,
          64 + (id % 32).toInt, id))
      }
      .toDF("doc_id", "payload")
    graft.multimodal.Multimodal.extractAudioMeta(withPayload).toDF()
      .select("doc_id", "magic_hex", "sample_rate", "channels", "bits",
        "n_frames", "format")
  }

  val mmAudioMetaSql: String =
    """SELECT doc_id, '52494646' AS magic_hex,
      | (8000 + (doc_id % 8) * 1000)::INT AS sample_rate,
      | (1 + doc_id % 2)::INT AS channels,
      | 16::INT AS bits,
      | (64 + doc_id % 32)::BIGINT AS n_frames,
      | 'wav' AS format
      |FROM documents ORDER BY doc_id""".stripMargin

  /** REAL video container metadata path: every doc gets a genuine
    * ISO BMFF (MP4) payload ([[graft.multimodal.Multimodal.makeMp4]] —
    * ftyp/moov/mvhd/tkhd/stts boxes to the published ISO 14496-12
    * layout) whose dims, timescale, duration and frame count derive from
    * the doc id; the box-walking header parse
    * ([[graft.multimodal.Multimodal.decodeVideo]]) is oracle-checked
    * end-to-end — the [[mmMediaMeta]]/[[mmAudioMeta]] pattern applied to
    * the last formerly-stubbed modality. n_bytes stays out of the oracle
    * projection (container size is not SQL-derivable).
    */
  val mmVideoMeta: (SparkSession, String) => DataFrame = (s, dir) => {
    import s.implicits._
    val withPayload = docs(s, dir).select(col("doc_id").cast(LongType)).as[Long]
      .map { id =>
        val ts = 1000 * (1 + (id % 3).toInt)
        (id, graft.multimodal.Multimodal.makeMp4(
          320 + (id % 8).toInt * 16, 240 + (id % 4).toInt * 16,
          ts, ts * (1 + (id % 5).toInt), 24 + (id % 24).toInt))
      }
      .toDF("doc_id", "payload")
    graft.multimodal.Multimodal.extractVideoMeta(withPayload).toDF()
      .select("doc_id", "magic_hex", "width", "height", "timescale",
        "duration_units", "n_frames", "brand")
  }

  val mmVideoMetaSql: String =
    """SELECT doc_id, '00000018' AS magic_hex,
      | (320 + (doc_id % 8) * 16)::INT AS width,
      | (240 + (doc_id % 4) * 16)::INT AS height,
      | (1000 * (1 + doc_id % 3))::BIGINT AS timescale,
      | (1000 * (1 + doc_id % 3) * (1 + doc_id % 5))::BIGINT AS duration_units,
      | (24 + doc_id % 24)::BIGINT AS n_frames,
      | 'isom' AS brand
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The Gopher repetition battery ([[graft.functions.Repetition]]) over
    * the documents table, oracle-checked field by field. The synthetic
    * documents carry no newlines, so the query plants deterministic
    * id-derived structure on BOTH sides (the dq_extreme_zscore
    * augmentation pattern): a duplicated line and a duplicated paragraph
    * whose content/length vary with doc_id — every fraction is nonzero
    * and doc-dependent. All fractions are exact int/int double divisions
    * (bit-identical across engines, round 6 is safe); the tie-break for
    * the top n-gram is count DESC then UTF-8-byte order, identical in
    * the kernel and DuckDB's binary collation.
    */
  val dqRepetition: (SparkSession, String) => DataFrame = (s, dir) => {
    val plantLine = concat(lit("dup line "), (col("doc_id") % 7).cast("string"))
    val plantPara = expr("substring(text, 1, CAST(60 + doc_id % 40 AS INT))")
    val t2 = concat(col("text"), lit("\n"), plantLine, lit("\n"), plantLine,
      lit("\n\n"), plantPara, lit("\n\n"), plantPara)
    docs(s, dir)
      .select(col("doc_id"), graft.functions.Repetition.repetition(t2).as("r"))
      .select(col("doc_id"), col("r.n_paras").as("n_paras"),
        round(col("r.dup_line_frac"), 6).as("dup_line_frac"),
        round(col("r.dup_para_frac"), 6).as("dup_para_frac"),
        round(col("r.dup_line_char_frac"), 6).as("dup_line_char_frac"),
        round(col("r.dup_para_char_frac"), 6).as("dup_para_char_frac"),
        round(col("r.top_2gram_char_frac"), 6).as("top_2gram_char_frac"),
        round(col("r.top_3gram_char_frac"), 6).as("top_3gram_char_frac"),
        round(col("r.top_4gram_char_frac"), 6).as("top_4gram_char_frac"),
        round(col("r.dup_5gram_char_frac"), 6).as("dup_5gram_char_frac"),
        round(col("r.dup_10gram_char_frac"), 6).as("dup_10gram_char_frac"))
  }

  /** DuckDB brute-force twin of the battery: list ops re-derive every
    * fraction from scratch (no shared code with the kernel). Gram CTEs
    * are generated per n; the masked dup-n-gram re-expands duplicated
    * windows to word POSITIONS and de-dups them before summing — the
    * same cover semantics as the kernel's boolean mask.
    */
  val dqRepetitionSql: String = {
    def gramCte(n: Int): String =
      s"""g$n AS (
         |  SELECT doc_id, u.i AS i, u.g AS g FROM (
         |    SELECT doc_id, unnest(CASE WHEN len(ws) >= $n
         |      THEN list_transform(generate_series(1, len(ws) - ${n - 1}),
         |                          i -> {'i': i, 'g': array_to_string(ws[i:i+${n - 1}], ' ')})
         |      ELSE [] END) AS u
         |    FROM wordsv)
         |)""".stripMargin
    def topCte(n: Int): String =
      s"""top$n AS (
         |  SELECT doc_id, c * (length(g) - ${n - 1}) AS top_chars FROM (
         |    SELECT doc_id, g, count(*) AS c,
         |      row_number() OVER (PARTITION BY doc_id ORDER BY count(*) DESC, g ASC) AS rn
         |    FROM g$n GROUP BY doc_id, g)
         |  WHERE rn = 1
         |)""".stripMargin
    def dupCte(n: Int): String =
      s"""dup$n AS (
         |  SELECT doc_id, sum(ch) AS masked_chars FROM (
         |    SELECT DISTINCT p.doc_id, p.j, length(w.ws[p.j]) AS ch
         |    FROM (
         |      SELECT doc_id, unnest(generate_series(i, i + ${n - 1})) AS j
         |      FROM g$n o
         |      WHERE EXISTS (SELECT 1 FROM (SELECT doc_id, g, count(*) AS c
         |                                   FROM g$n GROUP BY doc_id, g) d
         |                    WHERE d.doc_id = o.doc_id AND d.g = o.g AND d.c >= 2)
         |    ) p JOIN wordsv w ON w.doc_id = p.doc_id
         |  ) GROUP BY doc_id
         |)""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id,
       |    text || chr(10) || 'dup line ' || (doc_id % 7)::VARCHAR
       |         || chr(10) || 'dup line ' || (doc_id % 7)::VARCHAR
       |         || chr(10) || chr(10) || substr(text, 1, CAST(60 + doc_id % 40 AS INT))
       |         || chr(10) || chr(10) || substr(text, 1, CAST(60 + doc_id % 40 AS INT)) AS t2
       |  FROM documents
       |),
       |lines AS (
       |  SELECT doc_id, unnest(list_filter(string_split(t2, chr(10)), x -> x <> '')) AS seg FROM base
       |),
       |lstat AS (SELECT doc_id, seg, count(*) AS c, length(seg) AS ch FROM lines GROUP BY doc_id, seg),
       |lfrac AS (
       |  SELECT doc_id,
       |    (sum(c) - count(*))::DOUBLE / sum(c) AS dup_line_frac,
       |    (sum(c*ch) - sum(ch))::DOUBLE / sum(c*ch) AS dup_line_char_frac
       |  FROM lstat GROUP BY doc_id
       |),
       |paras AS (
       |  SELECT doc_id, unnest(list_filter(string_split(t2, chr(10)||chr(10)), x -> x <> '')) AS seg FROM base
       |),
       |pcnt AS (SELECT doc_id, count(*) AS n_paras FROM paras GROUP BY doc_id),
       |pstat AS (SELECT doc_id, seg, count(*) AS c, length(seg) AS ch FROM paras GROUP BY doc_id, seg),
       |pfrac AS (
       |  SELECT doc_id,
       |    (sum(c) - count(*))::DOUBLE / sum(c) AS dup_para_frac,
       |    (sum(c*ch) - sum(ch))::DOUBLE / sum(c*ch) AS dup_para_char_frac
       |  FROM pstat GROUP BY doc_id
       |),
       |wordsv AS (SELECT doc_id, ${Frag.toks("t2")} AS ws,
       |           ${Frag.sumTokLen("t2")} AS wchars FROM base),
       |${gramCte(2)},
       |${gramCte(3)},
       |${gramCte(4)},
       |${gramCte(5)},
       |${gramCte(10)},
       |${topCte(2)},
       |${topCte(3)},
       |${topCte(4)},
       |${dupCte(5)},
       |${dupCte(10)}
       |SELECT b.doc_id,
       |  coalesce(pc.n_paras, 0)::INT AS n_paras,
       |  round(coalesce(lf.dup_line_frac, 0), 6) AS dup_line_frac,
       |  round(coalesce(pf.dup_para_frac, 0), 6) AS dup_para_frac,
       |  round(coalesce(lf.dup_line_char_frac, 0), 6) AS dup_line_char_frac,
       |  round(coalesce(pf.dup_para_char_frac, 0), 6) AS dup_para_char_frac,
       |  round(coalesce(t2g.top_chars, 0) / nullif(wv.wchars, 0)::DOUBLE, 6) AS top_2gram_char_frac,
       |  round(coalesce(t3g.top_chars, 0) / nullif(wv.wchars, 0)::DOUBLE, 6) AS top_3gram_char_frac,
       |  round(coalesce(t4g.top_chars, 0) / nullif(wv.wchars, 0)::DOUBLE, 6) AS top_4gram_char_frac,
       |  round(coalesce(d5.masked_chars, 0) / nullif(wv.wchars, 0)::DOUBLE, 6) AS dup_5gram_char_frac,
       |  round(coalesce(d10.masked_chars, 0) / nullif(wv.wchars, 0)::DOUBLE, 6) AS dup_10gram_char_frac
       |FROM base b
       |LEFT JOIN pcnt pc USING (doc_id)
       |LEFT JOIN lfrac lf USING (doc_id)
       |LEFT JOIN pfrac pf USING (doc_id)
       |LEFT JOIN wordsv wv USING (doc_id)
       |LEFT JOIN top2 t2g USING (doc_id)
       |LEFT JOIN top3 t3g USING (doc_id)
       |LEFT JOIN top4 t4g USING (doc_id)
       |LEFT JOIN dup5 d5 USING (doc_id)
       |LEFT JOIN dup10 d10 USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin
  }

  /** The C4/RefinedWeb line-level battery ([[graft.functions.C4Stats]])
    * over the documents table. The synthetic docs carry no newlines or
    * punctuation, so the query plants id-derived sentence/line structure
    * on BOTH sides: a punctuated first line with a varying sentence tail,
    * bullet/dash/ellipsis/terminal lines, and conditional lorem-ipsum /
    * curly-brace / javascript lines — every field varies with doc_id.
    */
  val dqC4Lines: (SparkSession, String) => DataFrame = (s, dir) => {
    val t3 = concat(
      expr("substring(text, 1, CAST(50 + doc_id % 60 AS INT))"),
      lit(". Second sentence! Third one? "),
      expr("repeat('Go. ', CAST(doc_id % 4 AS INT))"),
      lit("\n• bullet item "), (col("doc_id") % 5).cast("string"),
      lit("\n- dash item"),
      lit("\ntrailing thought..."),
      lit("\nThis line ends well.\n"),
      when(col("doc_id") % 17 === 0, "Lorem Ipsum dolor")
        .otherwise("regular line with many words here"), lit("\n"),
      when(col("doc_id") % 13 === 0, "code { x }")
        .otherwise("no brace line here at all"), lit("\n"),
      when(col("doc_id") % 11 === 0, "enable JavaScript to view")
        .otherwise("static content line"))
    docs(s, dir)
      .select(col("doc_id"), graft.functions.C4Stats.c4Stats(t3).as("c"))
      .select(col("doc_id"),
        col("c.n_lines").as("n_lines"),
        col("c.n_sentences").as("n_sentences"),
        round(col("c.frac_lines_end_terminal"), 6).as("frac_lines_end_terminal"),
        round(col("c.frac_lines_start_bullet"), 6).as("frac_lines_start_bullet"),
        round(col("c.frac_lines_end_ellipsis"), 6).as("frac_lines_end_ellipsis"),
        round(col("c.frac_short_lines"), 6).as("frac_short_lines"),
        round(col("c.frac_js_lines"), 6).as("frac_js_lines"),
        col("c.has_lorem_ipsum").as("has_lorem_ipsum"),
        col("c.has_curly_brace").as("has_curly_brace"))
  }

  // s-interpolated so the whitespace classes come from Frag.Ws (the
  // literal parts contain no backslash escapes — the interpolator's
  // escape processing would corrupt a hand-spelled \x0b)
  val dqC4LinesSql: String =
    s"""WITH base AS (
      |  SELECT doc_id,
      |    substr(text, 1, CAST(50 + doc_id % 60 AS INT)) || '. Second sentence! Third one? '
      |      || repeat('Go. ', CAST(doc_id % 4 AS INT))
      |      || chr(10) || '• bullet item ' || (doc_id % 5)::VARCHAR
      |      || chr(10) || '- dash item'
      |      || chr(10) || 'trailing thought...'
      |      || chr(10) || 'This line ends well.'
      |      || chr(10) || CASE WHEN doc_id % 17 = 0 THEN 'Lorem Ipsum dolor' ELSE 'regular line with many words here' END
      |      || chr(10) || CASE WHEN doc_id % 13 = 0 THEN 'code { x }' ELSE 'no brace line here at all' END
      |      || chr(10) || CASE WHEN doc_id % 11 = 0 THEN 'enable JavaScript to view' ELSE 'static content line' END
      |    AS t3
      |  FROM documents
      |),
      |lv AS (SELECT doc_id, t3, list_filter(string_split(t3, chr(10)), x -> x <> '') AS ls FROM base)
      |SELECT doc_id,
      |  len(ls)::INT AS n_lines,
      |  len(regexp_extract_all(t3, '[.!?](${Frag.Ws}|$$)'))::INT AS n_sentences,
      |  round(len(list_filter(ls, x -> substr(x, length(x), 1) IN ('.','!','?','"')))::DOUBLE / nullif(len(ls), 0), 6) AS frac_lines_end_terminal,
      |  round(len(list_filter(ls, x -> substr(x, 1, 1) IN ('•','-','*')))::DOUBLE / nullif(len(ls), 0), 6) AS frac_lines_start_bullet,
      |  round(len(list_filter(ls, x -> ends_with(x, '...') OR ends_with(x, '…')))::DOUBLE / nullif(len(ls), 0), 6) AS frac_lines_end_ellipsis,
      |  round(len(list_filter(ls, x -> len(list_filter(regexp_split_to_array(trim(x), '${Frag.Ws}+'), w -> w <> '')) < 5))::DOUBLE / nullif(len(ls), 0), 6) AS frac_short_lines,
      |  round(len(list_filter(ls, x -> contains(lower(x), 'javascript')))::DOUBLE / nullif(len(ls), 0), 6) AS frac_js_lines,
      |  contains(lower(t3), 'lorem ipsum') AS has_lorem_ipsum,
      |  contains(t3, '{') AS has_curly_brace
      |FROM lv ORDER BY doc_id""".stripMargin

  /** CCNet-style cross-document paragraph boilerplate metric (the
    * per-doc stats behind [[graft.rules.Rules.boilerplateParagraphs]],
    * [[graft.functions.Paragraphs.boilerplateStats]]): per doc, the
    * fraction of paragraph characters belonging to paragraphs that
    * appear in ≥ 2 DISTINCT documents. The synthetic docs have no
    * paragraphs, so the query plants two shared ones on BOTH sides: a
    * 25-way-shared group banner and a universal footer — n_shared is
    * structural, the fraction varies with each doc's text length. The
    * engine keys paragraphs by xxhash64, the oracle groups by paragraph
    * text — identical absent a 64-bit collision.
    */
  val dqBoilerplate: (SparkSession, String) => DataFrame = (s, dir) => {
    val t4 = concat(col("text"),
      lit("\n\nshared boilerplate "), (col("doc_id") % 25).cast("string"),
      lit("\n\nsubscribe to our newsletter"))
    graft.functions.Paragraphs.boilerplateStats(docs(s, dir), col("doc_id"), t4)
      .select(col("__k").as("doc_id"), col("n_paras").cast("int").as("n_paras"),
        col("n_shared_paras"),
        round(col("shared_chars").cast(DoubleType) / col("para_chars"), 6)
          .as("boilerplate_frac"))
  }

  val dqBoilerplateSql: String =
    """WITH base AS (
      |  SELECT doc_id,
      |    text || chr(10)||chr(10) || 'shared boilerplate ' || (doc_id % 25)::VARCHAR
      |         || chr(10)||chr(10) || 'subscribe to our newsletter' AS t4
      |  FROM documents
      |),
      |paras AS (
      |  SELECT doc_id, unnest(list_filter(string_split(t4, chr(10)||chr(10)), x -> x <> '')) AS p FROM base
      |),
      |nd AS (SELECT p, count(DISTINCT doc_id) AS ndocs FROM paras GROUP BY p)
      |SELECT doc_id,
      |  count(*)::INT AS n_paras,
      |  sum(CASE WHEN ndocs >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_shared_paras,
      |  round(sum(CASE WHEN ndocs >= 2 THEN length(p) ELSE 0 END)::DOUBLE / sum(length(p)), 6) AS boilerplate_frac
      |FROM paras JOIN nd USING (p)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** Eval passages for the decontamination oracle: P1/P2 are PLANTED
    * into deterministic doc subsets (13 and 12 words ⇒ 6 and 5 matching
    * 8-grams per plant), P3 exists only in the eval set — its grams must
    * collide with nothing.
    */
  private val DecontamP1 =
    "the quick brown fox jumps over the lazy dog near the riverbank today"
  private val DecontamP2 =
    "colorless green ideas sleep furiously while formal grammars generate infinite novel sentences"
  private val DecontamP3 =
    "seven unseen evaluation phrases anchor this benchmark suite without any training collision"

  /** Benchmark decontamination ([[graft.functions.Decontam]], GPT-3
    * appx C shape): per-doc word 8-gram collisions against a 3-passage
    * eval set. The synthetic corpus shares no 8-grams with the passages,
    * so the query plants P1 on doc_id % 13 and P2 on doc_id % 29 on BOTH
    * sides — n_contaminated is structural (6 / 5 / 11), contam_frac
    * varies with each doc's own gram count. The rule's kernel
    * ([[graft.functions.Decontam.hitStats]]) over every doc: no join.
    */
  val dqDecontam: (SparkSession, String) => DataFrame = (s, dir) => {
    import s.implicits._
    val aug = concat(col("text"),
      when(col("doc_id") % 13 === 0, lit(" " + DecontamP1)).otherwise(lit("")),
      when(col("doc_id") % 29 === 0, lit(" " + DecontamP2)).otherwise(lit("")))
    val ev = Decontam.evalHashes(Decontam.evalGramRows(
      Seq(DecontamP1, DecontamP2, DecontamP3).toDF("p"), col("p"), 8))
    docs(s, dir)
      .select(col("doc_id"),
        Decontam.hitStats(graft.functions.ExactSubstr.stagedTokens(aug), 8, ev).as("__s"))
      .select(col("doc_id"), col("__s.*"))
      .withColumn("contam_frac", Decontam.contamFrac(col("n_contaminated"), col("n_grams")))
  }

  val dqDecontamSql: String = {
    val evGrams = Seq(DecontamP1, DecontamP2, DecontamP3)
      .map(p => s"SELECT unnest(${Frag.wordGrams(s"'$p'", 8)}) AS gram")
      .mkString(" UNION ALL ")
    s"""WITH aug AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 13 = 0 THEN ' $DecontamP1' ELSE '' END
       |    || CASE WHEN doc_id % 29 = 0 THEN ' $DecontamP2' ELSE '' END AS t
       |  FROM documents),
       |g AS (SELECT doc_id, ${Frag.wordGrams("t", 8)} AS gs FROM aug),
       |ev AS (SELECT DISTINCT gram FROM ($evGrams)),
       |hits AS (
       |  SELECT doc_id, count(*) AS n_cont
       |  FROM (SELECT doc_id, unnest(gs) AS gram FROM g) e
       |  JOIN ev USING (gram) GROUP BY doc_id)
       |SELECT g.doc_id,
       |  len(g.gs)::BIGINT AS n_grams,
       |  coalesce(h.n_cont, 0)::BIGINT AS n_contaminated,
       |  round(coalesce(h.n_cont, 0)::DOUBLE / nullif(len(g.gs), 0), 6) AS contam_frac
       |FROM g LEFT JOIN hits h USING (doc_id)
       |ORDER BY doc_id""".stripMargin
  }

  /** Shared spans for the exact-substring-dup oracle: S1 (20 words ⇒ 13
    * overlapping 8-token windows per plant) lands on doc_id % 17, S2 (12
    * words ⇒ 5 windows) on doc_id % 23 — cross-document duplicated spans
    * by construction, since ≥ 2 docs carry each.
    */
  private val SubstrSpan1 =
    "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val SubstrSpan2 =
    "one small step for data pipelines everywhere tonight brings exactly twelve words"

  /** Cross-document exact-substring duplication
    * ([[graft.functions.ExactSubstr.substrDupStats]], Lee et al. 2021
    * ExactSubstr re-expressed distributed): per-doc fraction of tokens
    * covered by 8-token windows whose gram occurs in ≥ 2 distinct docs
    * (L = 8 here so fixture-sized plants produce multi-window spans; the
    * production default is the paper's 50). Engine buckets grams by
    * xxhash64, the oracle groups by gram text — identical absent a
    * 64-bit collision (the boilerplate/exactDup hash note). Interval
    * union on both sides: sorted window starts, each adds
    * min(L, pos − prev). */
  val dqSubstrDup: (SparkSession, String) => DataFrame = (s, dir) => {
    val aug = concat(col("text"),
      when(col("doc_id") % 17 === 0, lit(" " + SubstrSpan1)).otherwise(lit("")),
      when(col("doc_id") % 23 === 0, lit(" " + SubstrSpan2)).otherwise(lit("")))
    graft.functions.ExactSubstr.substrDupStats(
        docs(s, dir), col("doc_id"), aug, l = 8)
      .withColumnRenamed("__k", "doc_id")
  }

  val dqSubstrDupSql: String =
    s"""WITH aug AS (
       |  SELECT doc_id, text
       |    || CASE WHEN doc_id % 17 = 0 THEN ' $SubstrSpan1' ELSE '' END
       |    || CASE WHEN doc_id % 23 = 0 THEN ' $SubstrSpan2' ELSE '' END AS t
       |  FROM documents),
       |g AS (SELECT doc_id, ${Frag.wordGrams("t", 8)} AS gs,
       |      ${Frag.nWords("t")}::BIGINT AS n_tokens FROM aug),
       |p AS (SELECT doc_id, unnest(generate_series(1, len(gs))) AS pos,
       |      unnest(gs) AS gram FROM g),
       |nd AS (SELECT gram FROM (SELECT DISTINCT gram, doc_id FROM p)
       |       GROUP BY gram HAVING count(*) >= 2),
       |sh AS (SELECT doc_id, pos FROM p JOIN nd USING (gram)),
       |cw AS (SELECT doc_id, coalesce(least(8::BIGINT,
       |         pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)),
       |         8::BIGINT) AS c
       |       FROM sh),
       |cov AS (SELECT doc_id, count(*)::BIGINT AS n_dup_windows,
       |        sum(c)::BIGINT AS dup_tokens FROM cw GROUP BY doc_id)
       |SELECT g.doc_id, g.n_tokens,
       |  coalesce(cov.n_dup_windows, 0)::BIGINT AS n_dup_windows,
       |  coalesce(cov.dup_tokens, 0)::BIGINT AS dup_tokens,
       |  round(coalesce(cov.dup_tokens, 0)::DOUBLE / nullif(g.n_tokens, 0), 6) AS dup_frac
       |FROM g LEFT JOIN cov USING (doc_id)
       |ORDER BY doc_id""".stripMargin

  /** KNN imputation of missing numerics ([[graft.functions.KnnImpute]],
    * reference C8: sklearn KNNImputer(k=10, uniform) at
    * improve_data_quality.py:459-480). Features are integer-valued
    * (n_chars, token count, summed token length) so every distance,
    * mean and rounding is exact in BOTH engines (see the module
    * scaladoc); missingness is PLANTED deterministically (the
    * dq_exact_dup augmentation pattern) since derived text features
    * are total. Tie-break (dist, donor id) pinned on both sides —
    * sklearn leaves equal-distance order unspecified.
    */
  val dqKnnImpute: (SparkSession, String) => DataFrame = (s, dir) => {
    // fused token features (wordCountFast == size(tokens),
    // sumTokLenFast == aggregate(tokens, 0L, acc + length(t)) —
    // TextFnsSpec pins both equalities): the interpreted
    // split/filter/aggregate HOF chain drops out of the feature scan
    val base = docs(s, dir)
      .select(col("doc_id"),
        when(col("doc_id") % 37 === 3, lit(null))
          .otherwise(col("n_chars")).cast(DoubleType).as("f1"),
        when(col("doc_id") % 41 === 5, lit(null))
          .otherwise(TextFns.wordCountFast(col("text"))).cast(DoubleType).as("f2"),
        when(col("doc_id") % 43 === 7, lit(null))
          .otherwise(TextFns.sumTokLenFast(col("text")))
          .cast(DoubleType).as("f3"))
    graft.functions.KnnImpute
      .imputeCells(base, col("doc_id"), Seq("f1", "f2", "f3"), k = 10)
      .withColumnRenamed("__k", "doc_id")
  }

  val dqKnnImputeSql: String =
    s"""WITH f AS (
       |  SELECT doc_id,
       |    (CASE WHEN doc_id % 37 = 3 THEN NULL ELSE n_chars END)::DOUBLE AS f1,
       |    (CASE WHEN doc_id % 41 = 5 THEN NULL ELSE ${Frag.nWords("text")} END)::DOUBLE AS f2,
       |    (CASE WHEN doc_id % 43 = 7 THEN NULL ELSE ${Frag.sumTokLen("text")} END)::DOUBLE AS f3
       |  FROM documents),
       |cm AS (SELECT avg(f1) AS f1, avg(f2) AS f2, avg(f3) AS f3 FROM f),
       |recv AS (SELECT doc_id AS rid, f1 AS r1, f2 AS r2, f3 AS r3 FROM f
       |         WHERE f1 IS NULL OR f2 IS NULL OR f3 IS NULL),
       |miss AS (
       |  SELECT rid, 'f1' AS col FROM recv WHERE r1 IS NULL
       |  UNION ALL SELECT rid, 'f2' FROM recv WHERE r2 IS NULL
       |  UNION ALL SELECT rid, 'f3' FROM recv WHERE r3 IS NULL),
       |pairs AS (
       |  SELECT r.rid, d.doc_id AS did, d.f1 AS d1, d.f2 AS d2, d.f3 AS d3,
       |    ((r.r1 IS NOT NULL AND d.f1 IS NOT NULL)::INT
       |     + (r.r2 IS NOT NULL AND d.f2 IS NOT NULL)::INT
       |     + (r.r3 IS NOT NULL AND d.f3 IS NOT NULL)::INT) AS ns,
       |    (COALESCE(CASE WHEN r.r1 IS NOT NULL AND d.f1 IS NOT NULL
       |                   THEN (r.r1 - d.f1) * (r.r1 - d.f1) END, 0)
       |     + COALESCE(CASE WHEN r.r2 IS NOT NULL AND d.f2 IS NOT NULL
       |                     THEN (r.r2 - d.f2) * (r.r2 - d.f2) END, 0)
       |     + COALESCE(CASE WHEN r.r3 IS NOT NULL AND d.f3 IS NOT NULL
       |                     THEN (r.r3 - d.f3) * (r.r3 - d.f3) END, 0)) AS ss
       |  FROM recv r JOIN f d ON d.doc_id <> r.rid),
       |cand AS (
       |  SELECT p.rid, m.col,
       |    CASE m.col WHEN 'f1' THEN p.d1 WHEN 'f2' THEN p.d2 ELSE p.d3 END AS val,
       |    row_number() OVER (PARTITION BY p.rid, m.col
       |      ORDER BY p.ss * 3.0 / p.ns ASC, p.did ASC) AS rn
       |  FROM pairs p JOIN miss m ON m.rid = p.rid
       |  WHERE p.ns > 0
       |    AND CASE m.col WHEN 'f1' THEN p.d1 WHEN 'f2' THEN p.d2 ELSE p.d3 END
       |        IS NOT NULL),
       |knn AS (SELECT rid, col, avg(val) AS knn_val FROM cand
       |        WHERE rn <= 10 GROUP BY rid, col)
       |SELECT m.rid AS doc_id, m.col,
       |  round(COALESCE(k.knn_val,
       |    CASE m.col WHEN 'f1' THEN cm.f1 WHEN 'f2' THEN cm.f2 ELSE cm.f3 END),
       |    6) AS imputed
       |FROM miss m LEFT JOIN knn k ON k.rid = m.rid AND k.col = m.col
       |CROSS JOIN cm
       |ORDER BY m.rid, m.col""".stripMargin

  /** C10 cell-value Word2Vec ([[graft.functions.CellEmbed]], reference
    * dead code at utils.py:398-408). No DuckDB oracle is possible for
    * iterative embedding training — the driver records the rows-only
    * check (rows = the 14-word lang∪source vocabulary + Nan).
    */
  val w2vCells: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.functions.CellEmbed
      .vocabVectors(docs(s, dir), Seq("lang", "source"), "doc_id",
        dim = 16, chunk = 256)
      .select(col("word"), size(col("vector")).cast(LongType).as("dim"))

  /** Fixed, deterministic k=4 centroid set for [[embCluster]] — xorshift
    * floats in [-1, 1), the [[graft.embed.Ann.hyperplanes]] convention.
    * Interpolated into the DuckDB twin as float-EXACT double literals
    * (`f.toDouble.toString` round-trips; printing the float's shortest
    * string and re-parsing it as a double would drift in the last bits).
    */
  private lazy val ClusterCents: Array[Array[Float]] = {
    var s = 0x243f6a8885a308dL
    def next(): Long = { s ^= s << 13; s ^= s >>> 7; s ^= s << 17; s }
    Array.tabulate(4, 64)((_, _) =>
      (((next() >>> 11) * 1.1102230246251565e-16) * 2 - 1).toFloat)
  }

  /** Embedding-cluster assignment — the corpus-bucketing step of
    * cluster-based curation (SemDeDup, Abbas et al. 2023; cluster-
    * balanced sampling): every vector goes to its nearest-by-cosine
    * centroid via [[graft.embed.IvfCellsExpr]] (the IVF quantizer run
    * as a standalone operator, one codegen'd narrow map, centroids in
    * the expression). Centroids here are FIXED so the DuckDB twin can
    * replay the argmax exactly; production trains them with
    * [[graft.embed.Ann.trainCentroids]]. Ties (equal cosines) keep the
    * lowest cell on both sides (kernel `>` keep-first ≙ SQL `>=` CASE
    * chain).
    */
  val embCluster: (SparkSession, String) => DataFrame = (s, dir) => {
    val dim = ClusterCents(0).length
    // Planted edge rows (negative vec_id, disjoint from the fixture's
    // non-negative ids) so the oracle exercises the guard branches, not
    // just clean vectors: a zero vector (zero-norm cosine reads -1.0 —
    // the kernel's cosineOf guard AND DuckDB's list_cosine_similarity
    // agree — all four cells tie, keep-first ⇒ cell 0), a NULL embedding
    // (cell NULL), and a dim-mismatched vector (kernel sentinel cell -1).
    val planted = s.range(1).select(
        lit(-1L).as("vec_id"), array_repeat(lit(0.0f), dim).as("embedding"))
      .unionByName(s.range(1).select(lit(-2L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
      .unionByName(s.range(1).select(lit(-3L).as("vec_id"),
        array(lit(1.0f)).as("embedding")))
    val e = tbl(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .unionByName(planted)
    // zero-norm guard mirroring the kernel's cosineOf (and DuckDB): a
    // zero vector reads -1.0, not the unguarded 0/0 = NaN. Fused normSq
    // (bit-identical to the composed aggregate fold, AnnSpec) — the last
    // interpreted HOF in a declared query path; with it gone the whole
    // projection codegens.
    val n2 = graft.embed.Ann.normSq(col("embedding"))
    val cos = ClusterCents.zipWithIndex
      .map { case (cArr, i) =>
        (i, when(n2 === 0.0, lit(-1.0))
          .otherwise(graft.embed.Ann.cosine(col("embedding"),
            array(cArr.map(x => lit(x.toDouble)): _*))))
      }
      .foldRight(lit(null).cast(DoubleType): Column) {
        case ((i, c), acc) => when(col("cell") === i, c).otherwise(acc)
      }
    e.select(col("vec_id"),
        element_at(graft.embed.Ann.ivfCells(
          col("embedding"), ClusterCents, 1), 1).as("cell"),
        col("embedding"))
      // + 0.0 normalizes IEEE negative zero: random-centroid cosines
      // cluster around 0, DuckDB's round keeps -0.0 where Spark's
      // BigDecimal round loses the sign — numerically equal, but the
      // driver hashes the RENDERED value ("-0.0" ≠ "0.0")
      .select(col("vec_id"), col("cell"),
        (round(cos, 4) + lit(0.0)).as("cos_r"))
  }

  val embClusterSql: String = {
    val dim = ClusterCents(0).length
    val lits = ClusterCents.map(c =>
      c.map(_.toDouble.toString).mkString("[", ", ", "]::DOUBLE[]"))
    val zeroLit = List.fill(dim)("0.0").mkString("[", ", ", "]")
    // guards mirror the Spark side exactly: the len(...) = dim CASE keeps
    // DuckDB's list_cosine_similarity off malformed rows (it hard-errors
    // on unequal dims; CASE branches evaluate lazily), NULL embeddings
    // yield cell NULL (the unguarded CASE chain would fall to ELSE 3),
    // and a zero vector reads cosine -1.0 in both engines
    s"""WITH cents AS (SELECT ${lits.zipWithIndex
        .map { case (l, i) => s"$l AS c$i" }.mkString(", ")}),
       |emb AS (
       |  SELECT vec_id, embedding FROM embeddings
       |  UNION ALL SELECT * FROM (VALUES
       |    ((-1)::BIGINT, $zeroLit::FLOAT[]),
       |    ((-2)::BIGINT, NULL::FLOAT[]),
       |    ((-3)::BIGINT, [1.0]::FLOAT[])) v(vec_id, embedding)),
       |d AS (
       |  SELECT vec_id, len(embedding) AS elen,
       |    CASE WHEN len(embedding) = $dim THEN list_cosine_similarity(embedding::DOUBLE[], c0) END AS s0,
       |    CASE WHEN len(embedding) = $dim THEN list_cosine_similarity(embedding::DOUBLE[], c1) END AS s1,
       |    CASE WHEN len(embedding) = $dim THEN list_cosine_similarity(embedding::DOUBLE[], c2) END AS s2,
       |    CASE WHEN len(embedding) = $dim THEN list_cosine_similarity(embedding::DOUBLE[], c3) END AS s3
       |  FROM emb CROSS JOIN cents)
       |SELECT vec_id,
       |  (CASE WHEN elen IS NULL THEN NULL
       |        WHEN elen <> $dim THEN -1
       |        WHEN s0 >= s1 AND s0 >= s2 AND s0 >= s3 THEN 0
       |        WHEN s1 >= s2 AND s1 >= s3 THEN 1
       |        WHEN s2 >= s3 THEN 2 ELSE 3 END)::BIGINT AS cell,
       |  round(greatest(s0, s1, s2, s3), 4) + 0.0 AS cos_r
       |FROM d ORDER BY vec_id""".stripMargin
  }

  /** Model-based quality score ([[graft.functions.QualityModel]] — the
    * fastText-shaped linear classifier over md5-bucketed char trigrams
    * the modern filter stack (CCNet/GPT-3 reference classifiers, DCLM,
    * FineWeb-Edu) runs next to the heuristic batteries). Oracle: the
    * trained, 1e-6-quantized weights render into the SQL as a
    * 4096-double list literal, and both engines walk the SAME
    * md5 → bucket → mean → σ chain over the SAME normalized text; the
    * only cross-engine freedom is exp()'s last ulp, absorbed by
    * round(…, 4).
    */
  val dqQualityScore: (SparkSession, String) => DataFrame = (s, dir) =>
    docs(s, dir)
      .withColumn("__nm", TextFns.normText(col("text")))
      .select(col("doc_id"),
        round(graft.functions.QualityModel.scoreColumn(col("__nm")), 4)
          .as("q_score"))

  val dqQualityScoreSql: String = {
    val m = graft.functions.QualityModel.Default
    val wLit = m.w.mkString("[", ", ", "]")
    val bkt = graft.functions.QualityModel.Buckets
    s"""WITH w AS (SELECT $wLit::DOUBLE[] AS ws),
       |nt AS (SELECT doc_id, ${Frag.norm("text")} AS nm FROM documents),
       |sh AS (SELECT doc_id, nm, ${Frag.charShingles("nm", 3)} AS ss FROM nt),
       |d AS (SELECT doc_id,
       |  CASE WHEN nm IS NULL THEN NULL
       |       WHEN len(ss) = 0 THEN 0.0
       |       ELSE list_sum(list_transform(ss, s ->
       |         ws[CAST((('0x' || substr(md5(s), 1, 15))::BIGINT % $bkt) AS INT) + 1]))
       |            / len(ss) END AS mw
       |  FROM sh CROSS JOIN w)
       |SELECT doc_id, round(1.0 / (1.0 + exp(-(mw + ${m.b}))), 4) AS q_score
       |FROM d ORDER BY doc_id""".stripMargin
  }

  /** HTML → text extraction ([[graft.functions.HtmlExtract]] — the north
    * rule's "byte-identical extracted text per url" step). The documents
    * table carries no html, so both engines synthesize the SAME page
    * around each document's text (chrome with a script/style/head
    * subtree, a comment, entities, block structure, `&`-escaped body)
    * and run the SAME ordered transform chain — Spark as codegen'd
    * built-ins, DuckDB via [[graft.functions.HtmlExtract.sqlExpr]]; the
    * pattern dialect is restricted to what Java regex and RE2 share.
    */
  private val HtmlPre: String =
    "<html><head><title>doc</title><style>p{margin:0}</style>" +
      "<script>var x = \"<b>1</b>\";</script></head><body><!-- c -->" +
      "<div class=\"nav\">Home&nbsp;|&nbsp;About &amp; Help</div><p>"
  private val HtmlPost: String =
    "</p><ul><li>tag <b>bold</b></li><li>x &lt;= y</li></ul>" +
      "<footer>(c) 2024</footer></body></html>"

  val dqHtmlExtract: (SparkSession, String) => DataFrame = (s, dir) =>
    docs(s, dir)
      .withColumn("extracted", graft.functions.HtmlExtract.extract(
        concat(lit(HtmlPre),
          replace(col("text"), lit("&"), lit("&amp;")), lit(HtmlPost))))
      .select(col("doc_id"), col("extracted"),
        length(col("extracted")).cast(LongType).as("n_chars_extracted"))

  val dqHtmlExtractSql: String = {
    def sqlLit(x: String) = "'" + x.replace("'", "''") + "'"
    val html =
      s"(${sqlLit(HtmlPre)} || replace(text, '&', '&amp;') || ${sqlLit(HtmlPost)})"
    s"""SELECT doc_id,
       |  ${graft.functions.HtmlExtract.sqlExpr(html)} AS extracted,
       |  length(${graft.functions.HtmlExtract.sqlExpr(html)})::BIGINT
       |    AS n_chars_extracted
       |FROM documents
       |ORDER BY doc_id""".stripMargin
  }

  /** Deterministic URL synthesis shared by the `dq_url_rules` /
    * `dq_host_cap` oracles (the documents table carries no url; the
    * north-rule pages table does): 37 hosts, an adult-keyword path on
    * doc_id % 41, an over-long path on doc_id % 53 — all structural on
    * BOTH engines.
    */
  private def synthUrl: Column = concat(
    lit("https://host"), (col("doc_id") % 37).cast("string"),
    lit(".example.com/p/"), col("doc_id").cast("string"),
    when(col("doc_id") % 41 === 0, lit("/casino-bonus")).otherwise(lit("")),
    when(col("doc_id") % 53 === 0, concat(lit("/"), repeat(lit("x"), 2100)))
      .otherwise(lit("")))

  // single line: embedding a multi-line fragment into an outer
  // .stripMargin SQL string would eat the first `|` of a leading `||`
  private val synthUrlSql: String =
    "'https://host' || (doc_id % 37)::VARCHAR || '.example.com/p/' || doc_id::VARCHAR" +
      " || CASE WHEN doc_id % 41 = 0 THEN '/casino-bonus' ELSE '' END" +
      " || CASE WHEN doc_id % 53 = 0 THEN '/' || repeat('x', 2100) ELSE '' END"

  // single source of truth with UrlFns.host — see HostRe scaladoc
  // (userinfo skipped, so blocklists/caps can't be bypassed via
  // https://junk@host/ URLs)
  private val UrlHostRe = graft.functions.UrlFns.HostRe

  /** URL battery features ([[graft.functions.UrlFns]], RefinedWeb §3.1
    * shape): host, length, digit fraction, blocklist membership, adult
    * keyword, over-long flag — all narrow expressions, zero shuffle
    * (the rule path [[graft.rules.Rules.urlBattery]] emits verdicts from
    * the same predicates).
    */
  val dqUrlRules: (SparkSession, String) => DataFrame = (s, dir) =>
    docs(s, dir).select(col("doc_id"), synthUrl.as("url"))
      .select(col("doc_id"),
        UrlFns.host(col("url")).as("host"),
        length(col("url")).cast(LongType).as("url_len"),
        round(UrlFns.digitFrac(col("url")), 6).as("digit_frac"),
        UrlFns.host(col("url"))
          .isin("host3.example.com", "host17.example.com").as("blocked_host"),
        UrlFns.containsAny(col("url"), Seq("casino")).as("adult_kw"),
        (length(col("url")) > 2048).as("too_long"))

  val dqUrlRulesSql: String =
    s"""WITH u AS (SELECT doc_id, $synthUrlSql AS url FROM documents),
       |w AS (SELECT doc_id, url, regexp_extract(url, '$UrlHostRe', 1) AS host FROM u)
       |SELECT doc_id, host,
       |  length(url)::BIGINT AS url_len,
       |  round((length(url) - length(regexp_replace(url, '[0-9]', '', 'g')))::DOUBLE / length(url), 6) AS digit_frac,
       |  (host IN ('host3.example.com', 'host17.example.com')) AS blocked_host,
       |  contains(lower(url), 'casino') AS adult_kw,
       |  (length(url) > 2048) AS too_long
       |FROM w ORDER BY doc_id""".stripMargin

  /** Per-host document cap ([[graft.rules.Rules.hostCap]], custom
    * bounded-K-heap aggregate `kth_smallest`): flag every doc of an
    * over-cap host whose portable md5-60-bit url hash lies above the
    * host's K-th-smallest. The DuckDB twin states the SAME threshold
    * semantics via row_number ≤ K → max(h) per host. 37 hosts × ~13
    * docs at sf0.01 against cap 10 ⇒ every host flags 3-4 docs.
    */
  val dqHostCap: (SparkSession, String) => DataFrame = (s, dir) =>
    graft.rules.Rules.hostCap(
        docs(s, dir).select(col("doc_id"), synthUrl.as("u")),
        col("doc_id"), col("u"), cap = 10)
      .select(col("url").as("doc_id"),
        col("score").cast(LongType).as("host_docs"),
        col("detail").as("host"))

  val dqHostCapSql: String =
    s"""WITH u AS (SELECT doc_id, $synthUrlSql AS url FROM documents),
       |w AS (SELECT doc_id,
       |  regexp_extract(url, '$UrlHostRe', 1) AS host,
       |  ('0x' || substr(md5(url), 1, 15))::BIGINT AS h
       |  FROM u),
       |cnt AS (SELECT host, count(*) AS n FROM w GROUP BY host),
       |thr AS (SELECT host, max(h) AS thr FROM (
       |    SELECT host, h, row_number() OVER (PARTITION BY host ORDER BY h) AS rn FROM w) t
       |  WHERE rn <= 10 GROUP BY host)
       |SELECT w.doc_id, c.n::BIGINT AS host_docs, w.host
       |FROM w JOIN cnt c USING (host) JOIN thr USING (host)
       |WHERE c.n > 10 AND w.h > thr.thr
       |ORDER BY doc_id""".stripMargin

  /** CCNet-style per-language quality buckets
    * ([[graft.curation.Select.ntileBuckets]], Wenzek et al. 2020 §4.4:
    * head/middle/tail by LM score within each language). The oracle
    * score is a deterministic fluency proxy both engines compute
    * identically (mean word length = n_chars / n_words); the pipeline
    * path feeds CharLm perplexity into the same operator. Rank-based
    * ntile ⇒ exact cross-engine parity (no quantile-interpolation
    * dialect trap).
    */
  val dqQualityBuckets: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = docs(s, dir).select(col("doc_id"), col("lang"),
      round(col("n_chars").cast(DoubleType) /
        nullif(TextFns.wordCountFast(col("text")), lit(0)), 6).as("score"))
    graft.curation.Select
      .ntileBuckets(base, col("doc_id"), col("lang"), col("score"), 3)
      .select(col("doc_id"), col("lang"), col("score"), col("bucket"))
  }

  val dqQualityBucketsSql: String =
    s"""WITH s AS (SELECT doc_id, lang,
       |  round(n_chars::DOUBLE / nullif(${Frag.nWords("text")}, 0), 6) AS score
       |  FROM documents)
       |SELECT doc_id, lang, score,
       |  ntile(3) OVER (PARTITION BY lang ORDER BY score, doc_id) AS bucket
       |FROM s ORDER BY doc_id""".stripMargin

  /** Per-language token-budget corpus draw
    * ([[graft.curation.Select.tokenBudget]]): order each language by
    * (quality bucket, portable 60-bit doc hash) and keep docs until the
    * running token total crosses 2,000 — the data-mixing step of a
    * training-corpus build.
    */
  val dqTokenBudget: (SparkSession, String) => DataFrame = (s, dir) => {
    val base = docs(s, dir).select(col("doc_id"), col("lang"),
      TextFns.wordCountFast(col("text")).cast(LongType).as("n_tokens"),
      round(col("n_chars").cast(DoubleType) /
        nullif(TextFns.wordCountFast(col("text")), lit(0)), 6).as("score"),
      TextFns.md5Long(col("doc_id").cast("string")).as("h"))
    val b = graft.curation.Select
      .ntileBuckets(base, col("doc_id"), col("lang"), col("score"), 3)
    graft.curation.Select.tokenBudget(b, col("doc_id"), col("lang"),
        col("bucket"), col("h"), col("n_tokens"), budget = 2000L)
      .select(col("key").as("doc_id"), col("lang"), col("bucket"),
        col("tokens"))
  }

  val dqTokenBudgetSql: String =
    s"""WITH s AS (SELECT doc_id, lang,
       |  ${Frag.nWords("text")}::BIGINT AS n_tokens,
       |  round(n_chars::DOUBLE / nullif(${Frag.nWords("text")}, 0), 6) AS score,
       |  ${Frag.md5Long("doc_id::VARCHAR")} AS h
       |  FROM documents),
       |b AS (SELECT *, ntile(3) OVER (PARTITION BY lang ORDER BY score, doc_id) AS bucket FROM s),
       |c AS (SELECT doc_id, lang, bucket, n_tokens,
       |  coalesce(sum(n_tokens) OVER (PARTITION BY lang
       |    ORDER BY bucket, h, doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM b)
       |SELECT doc_id, lang, bucket, n_tokens AS tokens
       |FROM c WHERE cum_before < 2000 ORDER BY doc_id""".stripMargin

  // ======================================================================
  // Registry
  // ======================================================================

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> q1Agg,
    "q3_top_revenue" -> q3TopRevenue,
    "q_window_running" -> qWindowRunning,
    "q_rollup" -> qRollup,
    "dq_profile" -> dqProfile,
    "dq_exact_dup" -> dqExactDup,
    "dq_minhash" -> dqMinHash,
    "dq_simhash" -> dqSimHash,
    "dq_simhash_neardup" -> dqSimHashNearDup,
    "dq_simhash_neardup_wide" -> dqSimHashNearDupWide,
    "dq_ngram_jaccard" -> dqNgramJaccard,
    "dq_completeness" -> dqCompleteness,
    "dq_extreme_zscore" -> dqExtremeZscore,
    "dq_group_zscore" -> dqGroupZscore,
    "dq_rare_combo" -> dqRareCombo,
    "dq_tendency" -> dqTendency,
    "dq_heuristics" -> dqHeuristics,
    "dq_langid" -> dqLangId,
    "dq_token_count" -> dqTokenCount,
    "dq_fingerprint" -> dqFingerprint,
    "dq_typo_suggest" -> dqTypoSuggest,
    "dq_outlier_score" -> dqOutlierScore,
    "dq_scrub" -> dqScrub,
    "emb_knn" -> embKnn,
    "emb_ann_lsh" -> embAnnLsh,
    "emb_ann_ivf" -> embAnnIvf,
    "emb_cosine_dedup" -> embCosineDedup,
    "mm_binary_meta" -> mmBinaryMeta,
    "mm_media_meta" -> mmMediaMeta,
    "mm_audio_meta" -> mmAudioMeta,
    "mm_video_meta" -> mmVideoMeta,
    "dq_repetition" -> dqRepetition,
    "dq_c4_lines" -> dqC4Lines,
    "dq_boilerplate" -> dqBoilerplate,
    "dq_decontam" -> dqDecontam,
    "dq_substr_dup" -> dqSubstrDup,
    "dq_knn_impute" -> dqKnnImpute,
    "dq_html_extract" -> dqHtmlExtract,
    "w2v_cells" -> w2vCells,
    "dq_quality_score" -> dqQualityScore,
    "emb_cluster" -> embCluster,
    "dq_url_rules" -> dqUrlRules,
    "dq_host_cap" -> dqHostCap,
    "dq_quality_buckets" -> dqQualityBuckets,
    "dq_token_budget" -> dqTokenBudget,
    "mm_frame_sample" -> mmFrameSample,
    "ev_window_agg" -> evWindowAgg,
    "ev_lag_gaps" -> evLagGaps,
    "ev_sessionize" -> evSessionize,
    "q_year_fraction" -> qYearFraction,
    "dq_corr" -> dqCorr,
    "dq_value_uniqueness" -> dqValueUniqueness
  )

  val oracles: Map[String, String] = Map(
    "q1_agg" -> q1AggSql,
    "q3_top_revenue" -> q3TopRevenueSql,
    "q_window_running" -> qWindowRunningSql,
    "q_rollup" -> qRollupSql,
    "dq_profile" -> dqProfileSql,
    "dq_exact_dup" -> dqExactDupSql,
    "dq_minhash" -> dqMinHashSql,
    "dq_simhash" -> dqSimHashSql,
    "dq_simhash_neardup" -> dqSimHashNearDupSql,
    "dq_simhash_neardup_wide" -> dqSimHashNearDupWideSql,
    "dq_ngram_jaccard" -> dqNgramJaccardSql,
    "dq_quality_score" -> dqQualityScoreSql,
    "emb_cluster" -> embClusterSql,
    "dq_completeness" -> dqCompletenessSql,
    "dq_extreme_zscore" -> dqExtremeZscoreSql,
    "dq_group_zscore" -> dqGroupZscoreSql,
    "dq_rare_combo" -> dqRareComboSql,
    "dq_tendency" -> dqTendencySql,
    "dq_heuristics" -> dqHeuristicsSql,
    "dq_langid" -> dqLangIdSql,
    "dq_token_count" -> dqTokenCountSql,
    "dq_fingerprint" -> dqFingerprintSql,
    "dq_typo_suggest" -> dqTypoSuggestSql,
    "dq_outlier_score" -> dqOutlierScoreSql,
    "dq_scrub" -> dqScrubSql,
    "emb_knn" -> embKnnSql,
    "emb_ann_lsh" -> embAnnLshSql, // planted-copy subset: exact (scaladoc)
    "emb_ann_ivf" -> embAnnIvfSql, // planted-copy subset: exact (scaladoc)
    "mm_frame_sample" -> mmFrameSampleSql, // hex-domain md5 frame hash
    "emb_cosine_dedup" -> embCosineDedupSql,
    "mm_binary_meta" -> mmBinaryMetaSql,
    "mm_media_meta" -> mmMediaMetaSql,
    "mm_audio_meta" -> mmAudioMetaSql,
    "mm_video_meta" -> mmVideoMetaSql,
    "dq_repetition" -> dqRepetitionSql,
    "dq_c4_lines" -> dqC4LinesSql,
    "dq_boilerplate" -> dqBoilerplateSql,
    "dq_decontam" -> dqDecontamSql,
    "dq_substr_dup" -> dqSubstrDupSql,
    "dq_knn_impute" -> dqKnnImputeSql,
    "dq_html_extract" -> dqHtmlExtractSql,
    "dq_url_rules" -> dqUrlRulesSql,
    "dq_host_cap" -> dqHostCapSql,
    "dq_quality_buckets" -> dqQualityBucketsSql,
    "dq_token_budget" -> dqTokenBudgetSql,
    "ev_window_agg" -> evWindowAggSql,
    "ev_lag_gaps" -> evLagGapsSql,
    "ev_sessionize" -> evSessionizeSql,
    "q_year_fraction" -> qYearFractionSql,
    "dq_corr" -> dqCorrSql,
    "dq_value_uniqueness" -> dqValueUniquenessSql
  )
}
