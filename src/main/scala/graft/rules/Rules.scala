package graft.rules

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Generic rule kernels. A frame rule takes a keyed DataFrame and
  * returns a verdict-shaped DataFrame `(key, rule, keep=false, score,
  * detail)` — the Spark analogue of the reference's `add_to_bad_idx`
  * rows (`/root/reference/src/improve_data_quality.py:674-719`); an
  * entry builder (`*Entry`) returns one conditional verdict entry, and
  * [[explodeEntries]] turns a set of entries into those rows in one
  * scan.
  *
  * Scale notes per kernel are inline; the common theme: per-row rules are
  * narrow (no shuffle); group rules shuffle ONLY on the group key (never
  * on the full row); anything joined back to rows uses left-semi joins on
  * the key so the payload (html/text) never crosses the wire twice.
  */
object Rules {

  private def verdict(df: DataFrame, key: Column, rule: String,
                      score: Column, detail: Column): DataFrame =
    df.select(
      key.as("url"),
      lit(rule).as("rule"),
      lit(false).as("keep"),
      score.cast(DoubleType).as("score"),
      detail.cast("string").as("detail"))

  /** Exact duplicate detection, reference semantics
    * (`improve_data_quality.py:286-298`): all-but-first occurrence of
    * identical content is flagged, "first" = smallest key (pandas file
    * order has no distributed analogue; SURVEY §2.3 fixes the tie-break
    * to key asc). Implemented over a CONTENT HASH, not the content
    * itself — at 100 TB the shuffle must carry (key, 8-byte hash), never
    * the document body.
    *
    * Skew (north rule: "salted-key repartitioning to defuse host-level
    * skew"): the AGGREGATION is already skew-proof — map-side partial
    * aggregation means the shuffle carries (hash, min, count) per
    * distinct hash per input partition, however duplicated a document
    * is. The JOIN-BACK is the skew point: a mega-duplicated document
    * (a boilerplate page mirrored 10⁷×) puts every one of its rows in
    * ONE join partition. With `saltBuckets` > 1 the (small) duplicate-
    * groups side is replicated per salt value and each fact row joins on
    * (hash, salt-of-its-key), spreading a hot hash over `saltBuckets`
    * partitions. Output is identical for any saltBuckets (RulesSpec
    * property-checks salted == unsalted).
    */
  def exactDup(df: DataFrame, key: Column, contentHash: Column,
               saltBuckets: Int = 1): DataFrame = {
    val hashed = df.select(key.as("url"), contentHash.as("__h"))
    // groupBy + join-back instead of a window: the aggregation combines
    // map-side and avoids the window's full sort
    val groups = hashed.groupBy(col("__h"))
      .agg(min(col("url")).as("__first"), count(lit(1)).as("__cnt"))
      .filter(col("__cnt") > 1)
    val flagged =
      if (saltBuckets <= 1) hashed.join(groups, Seq("__h"))
      else {
        val salted = hashed.withColumn("__salt",
          pmod(xxhash64(col("url")), lit(saltBuckets.toLong)))
        val saltedGroups = groups.withColumn("__salt",
          explode(array((0 until saltBuckets).map(i => lit(i.toLong)): _*)))
        salted.join(saltedGroups, Seq("__h", "__salt"))
      }
    verdict(flagged.filter(col("url") =!= col("__first")),
      col("url"), "duplication", lit(1.0), col("__first"))
  }

  /** SimHash Hamming near-dup rule — the cheap second opinion next to the
    * MinHash/LSH path (SURVEY §2.4): two documents whose 60-bit token
    * simhashes differ in ≤ `maxHamming` bits are near-duplicates; the
    * larger url of each verified pair is flagged (keep-first = min url,
    * same tie-break as every dedup rule).
    *
    * Candidate discovery is PIGEONHOLE banding: the 60-bit simhash splits
    * into `maxHamming+1` chunks (15 bits each at the defaults), and any
    * pair within Hamming ≤ maxHamming must agree EXACTLY on at least one
    * chunk — so chunk-equality buckets provably contain every qualifying
    * pair (no recall loss, unlike probabilistic LSH). The docs explode to
    * docs × (maxHamming+1) narrow (url, sig, bucket) rows, and
    * [[nearDupCore]] resolves each bucket in one sorted walk: all pairs
    * up to `maxBucket` rows, hub pairs past it. A 15-bit chunk is a far
    * weaker discriminator than a MinHash band key (natural-language bit
    * bias concentrates chunk values), so buckets legitimately hold
    * unrelated docs — hence all pairs below the bound, where hub-only
    * pairing would drop a true pair whenever a chance collider owned the
    * hub. At 10⁹+ docs 15-bit chunks saturate: switch to the 128-bit
    * fingerprint and [[simHashNearDupWide]] rather than raising maxBucket.
    */
  def simHashNearDup(df: DataFrame, key: Column, simhash: Column,
                     maxHamming: Int = 3, bits: Int = 60,
                     maxBucket: Int = 256): DataFrame =
    nearDupCore(simHashBands(df, key, simhash, maxHamming, bits),
      graft.functions.Hashing.hammingDist, maxHamming, maxBucket,
      "near_dup_simhash")

  /** The pigeonhole explode of [[simHashNearDup]]: one (__url, __sh,
    * bucket) row per chunk; a null simhash gives null buckets. */
  private[graft] def simHashBands(df: DataFrame, key: Column, simhash: Column,
                                  maxHamming: Int, bits: Int): DataFrame = {
    require(bits % (maxHamming + 1) == 0,
      s"bits ($bits) must split evenly into ${maxHamming + 1} chunks")
    val chunks = maxHamming + 1
    val w = bits / chunks
    val mask = (1L << w) - 1L
    df.select(key.as("__url"), simhash.as("__sh")).select(col("__url"), col("__sh"),
      explode(array((0 until chunks).map { c =>
        shiftrightunsigned(col("__sh"), c * w).bitwiseAND(lit(mask)) *
          lit(chunks.toLong) + lit(c.toLong)
      }: _*)).as("bucket"))
  }

  /** Wide (128-bit) SimHash near-dup rule — the production regime for
    * 10⁹⁺-doc corpora, where the 60-bit rule's 15-bit pigeonhole chunks
    * (32k values) saturate into all-hub buckets. Candidate discovery is
    * the block-permuted banding of Manku, Jain & Das Sarma, "Detecting
    * Near-Duplicates for Web Crawling" (WWW '07): the fingerprint
    * ([[graft.functions.DocStats]]'s `simhash_hi`/`simhash_lo`, opt-in
    * `wideSimHash` kernel output) splits into 8 16-bit blocks, and every
    * C(8,2) = 28 block PAIR concatenates into a 32-bit candidate key.
    * If two fingerprints differ in ≤ 6 bits, those bits touch ≤ 6
    * blocks, so ≥ 2 blocks match exactly and some pair key collides —
    * EXACT recall for Hamming ≤ 6 (= the 60-bit rule's 3-of-60
    * dissimilarity level at 128 bits: a near-dup edit flips a bit-count
    * proportional to fingerprint width), with 4×10⁹ distinct key values
    * per combination so buckets stay person-sized at any corpus scale.
    * Cost: 28 narrow (url, 16B sig, 8B key) rows per doc through ONE
    * bucket exchange — the Manku tradeoff (more tables, smaller buckets).
    *
    * Bucket occupancy of the two regimes over n UNIFORM random
    * fingerprints (xorshift; uniform is the BEST case for 15-bit chunks,
    * since natural-language bit bias concentrates them further), all 4
    * chunks and one representative block pair, maxBucket = 256:
    * {{{
    *        n  regime               key space  mean occ  max occ  docs in >256
    *   100000  60-bit 15-bit chunk      32768      3.20       13          0.0%
    *   100000  128-bit block pair        2^32      1.00        2          0.0%
    *  1000000  60-bit 15-bit chunk      32768     30.52       58          0.0%
    *  1000000  128-bit block pair        2^32      1.00        2          0.0%
    * 10000000  60-bit 15-bit chunk      32768    305.18      383         99.8%
    * 10000000  128-bit block pair        2^32      1.00        3          0.0%
    * }}}
    * At n = 10⁹ a 15-bit chunk holds ~30,518 docs per bucket (every
    * bucket hub-only) and a 32-bit pair key ~0.23.
    */
  def simHashNearDupWide(df: DataFrame, key: Column, hi: Column, lo: Column,
                         maxHamming: Int = 6, maxBucket: Int = 256): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 6,
      s"block-pair banding over 8 blocks is exact only for Hamming <= 6 (got $maxHamming)")
    nearDupCore(wideBands(df, key, hi, lo), wideDist, maxHamming, maxBucket,
      "near_dup_simhash_wide")
  }

  /** The block-pair explode of [[simHashNearDupWide]]: 28 (__url,
    * __sh = (hi, lo), bucket) rows per doc; a key touching a null half
    * is null. */
  private[graft] def wideBands(df: DataFrame, key: Column, hi: Column,
                               lo: Column): DataFrame = {
    def blockOf(b: Int): Column = {
      val src = if (b < 4) col("__sh.lo") else col("__sh.hi")
      shiftrightunsigned(src, (b % 4) * 16).bitwiseAND(lit(0xFFFFL))
    }
    val combos = for { a <- 0 until 8; b <- a + 1 until 8 } yield (a, b)
    val keyCols = combos.zipWithIndex.map { case ((a, b), ci) =>
      lit(ci.toLong << 32) + shiftleft(blockOf(a), 16) + blockOf(b)
    }
    df.select(key.as("__url"), struct(hi.as("hi"), lo.as("lo")).as("__sh"))
      .select(col("__url"), col("__sh"), explode(array(keyCols: _*)).as("bucket"))
  }

  /** Hamming distance of two (hi, lo) wide fingerprints. */
  private[graft] val wideDist: (Column, Column) => Column = (a, b) =>
    graft.functions.Hashing.hammingDist(a.getField("hi"), b.getField("hi")) +
      graft.functions.Hashing.hammingDist(a.getField("lo"), b.getField("lo"))

  /** Shared bucket resolution of the SimHash rules. `ex` is the exploded
    * (__url, __sh, bucket) candidate universe; `dist` compares two `__sh`
    * values (plain long or (hi, lo) struct). ONE exchange on `bucket`
    * sorts each bucket by (__url, __sh) ascending, nulls first, and one
    * walk per bucket ([[bucketPairs]]) emits its candidate pairs:
    *  - |bucket| ≤ maxBucket: ALL PAIRS of distinct non-null urls —
    *    bounded at maxBucket²/2 pairs, exact recall (the banding scheme
    *    guarantees every qualifying pair shares a bucket);
    *  - |bucket| > maxBucket: hub pairs only — the bucket's first row
    *    against every row of another url, streamed without buffering.
    *    The df-cap contract of the MinHash hub star and the n-gram df
    *    cap: a bucket that hot is a degenerate discriminator, and
    *    O(|bucket|²) on it is the detonation this engine never allows.
    * The walk buffers at most maxBucket + 1 rows; null buckets are
    * dropped. Pairs within `maxHamming` are verified with `dist`, and the
    * larger url of each is flagged with its min keeper and min distance
    * (one more exchange, on the dropped url). No join, no leaf: the
    * input is read once.
    */
  private[graft] def nearDupCore(ex: DataFrame, dist: (Column, Column) => Column,
                                 maxHamming: Int, maxBucket: Int,
                                 rule: String): DataFrame = {
    val (u, s) = (ex.schema("__url").dataType, ex.schema("__sh").dataType)
    val pairSchema = StructType(Seq(StructField("__u1", u), StructField("__s1", s),
      StructField("__u2", u), StructField("__s2", s)))
    val pairs = ex.filter(col("bucket").isNotNull).groupBy(col("bucket"))
      .as[Long, Row](Encoders.scalaLong, Encoders.row(ex.schema))
      .flatMapSortedGroups(col("__url"), col("__sh"))(
        (_, rows) => bucketPairs(rows, maxBucket))(Encoders.row(pairSchema))
    val flagged = pairs.filter(dist(col("__s1"), col("__s2")) <= maxHamming)
      .select(col("__u2").as("__drop"), col("__u1").as("__keep"),
        dist(col("__s1"), col("__s2")).as("__dist"))
      .groupBy(col("__drop"))
      .agg(min(col("__keep")).as("__keep"), min(col("__dist")).as("__dist"))
    verdict(flagged, col("__drop"), rule, col("__dist"), col("__keep"))
  }

  /** One bucket's (__u1, __s1, __u2, __s2) candidate pairs, __u1 < __u2,
    * from its (__url, __sh, …) rows in (__url, __sh) order: all pairs if
    * the bucket ends within `maxBucket` rows, else (first row, row) for
    * every later row of another url. */
  private def bucketPairs(rows: Iterator[Row], maxBucket: Int): Iterator[Row] = {
    def differ(a: Row, b: Row) = !a.isNullAt(0) && !b.isNullAt(0) && a.get(0) != b.get(0)
    def pair(a: Row, b: Row) = Row(a.get(0), a.get(1), b.get(0), b.get(1))
    val buf = scala.collection.mutable.ArrayBuffer.empty[Row]
    while (rows.hasNext && buf.length <= maxBucket) buf += rows.next()
    if (buf.length <= maxBucket)
      buf.indices.iterator.flatMap(i => (i + 1 until buf.length).iterator
        .filter(j => differ(buf(i), buf(j))).map(j => pair(buf(i), buf(j))))
    else {
      val hub = buf.head
      (buf.iterator.drop(1) ++ rows).filter(differ(hub, _)).map(pair(hub, _))
    }
  }

  // -------------------------------------------------------------------
  // Corpus-stat rules: verdict entries over a few corpus statistics
  // -------------------------------------------------------------------
  /** `x` outside mean ± k·sd, as the reference writes it: the predicate is
    * `NOT (x > lo AND x < hi)`, so boundary-EQUAL values are flagged.
    * Score = |x − mean| / sd.
    */
  private[graft] def zEntry(rule: String, x: Column, mean: Column, sd: Column,
                     k: Double, gate: Column, detail: Column): Column =
    entry(gate && x.isNotNull &&
      !(x > mean - lit(k) * sd && x < mean + lit(k) * sd),
      rule, abs(x - mean) / sd, detail)

  /** Z-score extremes (`utils.py:190-232`) as a verdict entry over the
    * corpus moments `m` of `x`. Gate: only armed when uniqueness ∈
    * (0.0001, 0.99) (utils.py:221) and the moments have a non-zero sample
    * stddev. Moments are ORDER-INDEPENDENT exact sums
    * ([[graft.profile.Stats]]), so the flag set is identical at any
    * partitioning.
    */
  def zScoreExtremeEntry(x: Column, name: String, uniqueness: Double,
                         m: graft.profile.Stats.Moments,
                         k: Double = 6.0): Option[Column] =
    if (!(uniqueness > 0.0001 && uniqueness < 0.99)) None
    else if (m.n < 2 || m.stddevSamp.isNaN || m.stddevSamp == 0.0) None
    else Some(zEntry(s"extreme_$name", x, lit(m.mean), lit(m.stddevSamp), k,
      lit(true), x))

  /** Per-class z-score (`improve_data_quality.py:721-766`, A6) as a
    * verdict entry: `x` outside mean ± k·sd of its class `cls`, given the
    * class's row count `n`, mean and sample stddev as columns (a class
    * needs n ≥ 2 and sd > 0). Detail = `cls=x`.
    */
  def groupZScoreEntry(x: Column, cls: Column, name: String, n: Column,
                       mean: Column, sd: Column, k: Double = 6.0): Column =
    zEntry(s"group_extreme_$name", x, mean, sd, k,
      cls.isNotNull && n >= 2 && sd > 0,
      concat_ws("=", cls, x.cast("string")))

  /** Rare-combination detector (`improve_data_quality.py:596-636`, A5) as
    * a verdict entry: a row whose (c1, c2) pair has `count` < `minCount`
    * members is flagged; a null in either column never is. Score = the
    * pair's count, detail = `c1,c2`.
    */
  def rareComboEntry(c1: Column, c2: Column, n1: String, n2: String,
                     count: Column, minCount: Long = 10): Column =
    entry(c1.isNotNull && c2.isNotNull && count < minCount,
      s"rare_combo_${n1}_$n2", count, concat_ws(",", c1, c2))

  /** Tendency invariant (`utils.py:427-441`, A4) as a verdict entry: armed
    * when `lt` of the corpus's `n` rows hold a < b and lt / n > thresh
    * (denominator = all rows — the reference's quirk, kept); then rows
    * violating a < b (strictly a > b; ties exempt) are flagged with score
    * lt / n.
    */
  def tendencyEntry(a: Column, b: Column, n1: String, n2: String,
                    lt: Long, n: Long, thresh: Double = 0.999): Option[Column] =
    if (n == 0 || lt.toDouble / n <= thresh) None
    else Some(entry(a.isNotNull && b.isNotNull && a > b,
      s"tendency_${n1}_$n2", lit(lt.toDouble / n),
      concat_ws(">", a.cast("string"), b.cast("string"))))

  /** Value-uniqueness sanity (`utils.py:371-383`, D4): in a ≈all-unique
    * column (uniqueness > hi) duplicated values are suspect; in a
    * ≈all-repeated column (uniqueness < lo) unique values are. groupBy on
    * the value + semi-join back — the shuffle shape of exactDup.
    */
  def nonUniqueValues(df: DataFrame, key: Column, c: Column, name: String,
                      uniqueness: Double, hi: Double = 0.99,
                      lo: Double = 0.001): Option[DataFrame] = {
    val vals = df.select(key.as("url"), c.as("__v")).filter(col("__v").isNotNull)
    val counts = vals.groupBy(col("__v")).agg(count(lit(1)).as("__cnt"))
    if (uniqueness > hi) {
      val flagged = vals.join(counts.filter(col("__cnt") > 1), Seq("__v"))
      Some(verdict(flagged, col("url"), s"dup_value_$name",
        col("__cnt"), col("__v")))
    } else if (uniqueness < lo) {
      val flagged = vals.join(counts.filter(col("__cnt") === 1), Seq("__v"))
      Some(verdict(flagged, col("url"), s"unique_value_$name",
        col("__cnt"), col("__v")))
    } else None
  }

  /** String-column correlation (`improve_data_quality.py:638-672`, G3):
    * label-encode `cols` with ONE SHARED encoding (the reference fits a
    * single LabelEncoder over the union of values: codes = 1-based rank
    * in sorted order, nulls stay unencoded) and Pearson-correlate every
    * pair. A pair with fewer than two rows encoded on both sides has no
    * correlation (None). The encoding table is tiny for the
    * low-uniqueness columns the reference runs this on → a map literal;
    * all pairwise correlations come from ONE aggregate pass.
    */
  def corrStr(df: DataFrame, cols: Seq[String]): Map[(String, String), Option[Double]] = {
    if (cols.size < 2) return Map.empty
    val values = cols.map(c => df.select(col(c).cast("string").as("v")))
      .reduce(_ unionByName _).filter(col("v").isNotNull)
      .distinct().orderBy("v")
    val codeMap = values.collect().map(_.getString(0)).zipWithIndex
      .map { case (v, i) => v -> (i + 1) }.toMap
    val enc = typedlit(codeMap)
    val encoded = df.select(cols.map(c =>
      element_at(enc, col(c).cast("string")).cast("double").as(c)): _*)
    val pairs = cols.combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val aggs = pairs.map { case (a, b) => corr(col(a), col(b)).as(s"$a|$b") }
    val row = encoded.agg(aggs.head, aggs.tail: _*).head()
    pairs.map { case (a, b) =>
      (a, b) -> Option(row.getAs[java.lang.Double](s"$a|$b")).map(_.doubleValue)
    }.toMap
  }

  /** Conditional verdict entry: struct(rule, score, detail) when `cond`
    * holds, null otherwise. A set of entries over one frame becomes
    * verdict rows through [[explodeEntries]] — every rule of a battery
    * judged in ONE scan.
    */
  private[graft] def entry(cond: Column, rule: String, score: Column,
                           detail: Column): Column =
    when(cond, struct(lit(rule).as("rule"),
      score.cast(DoubleType).as("score"),
      detail.cast("string").as("detail")))

  /** Verdict rows of `entries` over `df`: explode, drop the nulls. */
  private[graft] def explodeEntries(df: DataFrame, key: Column,
                                    entries: Seq[Column]): DataFrame =
    df.select(key.as("url"), explode(array(entries: _*)).as("__e"))
      .filter(col("__e").isNotNull)
      .select(col("url"), col("__e.rule").as("rule"),
        lit(false).as("keep"), col("__e.score").as("score"),
        col("__e.detail").as("detail"))

  // -------------------------------------------------------------------
  // Text battery: the rules that read document TEXT
  // -------------------------------------------------------------------
  /** One text-reading rule as a per-document kernel of the text battery
    * pass ([[textBattery]]): `stats` maps the staged text `__t` (and, when
    * `tokens`, the staged `TextFns.tokens(lower(text))` array `__toks`)
    * to a per-document stats column, and `entry` turns that column into a
    * conditional verdict entry.
    */
  private[graft] final case class TextRule(tokens: Boolean,
                                           stats: (Column, Column) => Column,
                                           entry: Column => Column)

  /** A text rule resolved to its regime: `Right` = a battery kernel (its
    * cross-document hash set fit under the bound, keys were unique, and
    * the set is broadcast), `Left` = the rule's verdicts from its
    * composed shuffle chain (otherwise).
    */
  private[graft] type TextRegime = Either[DataFrame, TextRule]

  /** The text battery: every kernel-regime rule is judged in ONE narrow
    * pass over `df` — text staged once, tokens staged once when any rule
    * needs them, one stats column per rule, verdict rows through one
    * explode of entries — with no exchange of its own. Overflowed rules
    * join as their composed verdict frames.
    */
  private[graft] def textBattery(df: DataFrame, key: Column, text: Column,
                                 rules: Seq[TextRegime]): DataFrame = {
    require(rules.nonEmpty, "text battery needs at least one rule")
    val kernels = rules.collect { case Right(r) => r }
    val pass =
      if (kernels.isEmpty) None
      else {
        val staged0 = df.select(key.as("__k"), text.as("__t"))
        val staged =
          if (!kernels.exists(_.tokens)) staged0
          else staged0.withColumn("__toks",
            graft.functions.ExactSubstr.stagedTokens(col("__t")))
        val stats = staged.select(col("__k") +: kernels.zipWithIndex.map {
          case (r, i) => r.stats(col("__t"), col("__toks")).as(s"__s$i")
        }: _*)
        Some(explodeEntries(stats, col("__k"),
          kernels.indices.map(i => kernels(i).entry(col(s"__s$i")))))
      }
    (rules.collect { case Left(v) => v } ++ pass).reduce(_ unionByName _)
  }

  /** CCNet-style CROSS-DOCUMENT paragraph boilerplate rule (Wenzek et al.
    * 2020 "CCNet" dedups paragraphs across shards; dropping the whole doc
    * when a fraction of it is shared boilerplate is the conservative
    * variant that preserves this engine's byte-identical scrub contract —
    * we never edit text). A document is flagged when ≥ `maxFrac` of its
    * paragraph characters belong to paragraphs that appear in at least
    * `minDocs` DISTINCT documents.
    *
    * Paragraph contract shared with [[graft.functions.Repetition]] /
    * the `dq_boilerplate` oracle: literal `\n\n` split, empty segments
    * dropped, code-point char counts ([[graft.functions.Paragraphs]]).
    *
    * A key is a document: rows sharing a key (a page crawled twice)
    * count once toward `minDocs`.
    *
    * Scale shape: the cross-document state is the set of shared
    * paragraph hashes, built by one map-side-combined aggregate of
    * per-document-distinct 8-byte hashes, which also checks that keys
    * are unique ([[graft.functions.SharedHashes.sharedFrame]]). Up to
    * [[graft.functions.SharedHashes.MaxBroadcastGrams]] hashes, with
    * unique keys, the set is broadcast and each document is judged by a
    * per-document kernel in one narrow pass; otherwise the composed
    * shuffle chain ([[boilerplateComposed]]) runs after the aggregate.
    * Neither regime ships paragraph text. Eager: the set is fetched at
    * construction.
    */
  def boilerplateParagraphs(df: DataFrame, key: Column, text: Column,
                            minDocs: Long = 2,
                            maxFrac: Double = 0.5): DataFrame =
    textBattery(df, key, text,
      Seq(boilerplateRegime(df, key, text, minDocs, maxFrac)))

  private[graft] def boilerplateRegime(
      df: DataFrame, key: Column, text: Column, minDocs: Long, maxFrac: Double,
      cap: Long = graft.functions.SharedHashes.MaxBroadcastGrams): TextRegime = {
    import graft.functions.Paragraphs
    Paragraphs.shared(df, key, text, minDocs, cap) match {
      case Some(set) => Right(TextRule(tokens = false,
        (t, _) => Paragraphs.stats(coalesce(t, lit("")), set),
        st => boilerplateEntry(st.getField("para_chars"),
          st.getField("shared_chars"), st.getField("n_shared_paras"), maxFrac)))
      case None => Left(boilerplateComposed(df, key, text, minDocs, maxFrac))
    }
  }

  private def boilerplateEntry(tot: Column, shared: Column, nShared: Column,
                               maxFrac: Double): Column = {
    val frac = shared.cast(DoubleType) / nullif(tot, lit(0L))
    entry(frac >= maxFrac, "ccnet_boilerplate", frac,
      concat_ws("/", nShared, lit("shared_paras")))
  }

  /** The boilerplate rule's distributed regime, also the composed
    * reference its kernel is differential-tested against: the per-doc
    * stats of [[graft.functions.Paragraphs.boilerplateStatsComposed]]
    * turned into verdict entries.
    */
  private[graft] def boilerplateComposed(df: DataFrame, key: Column, text: Column,
                                         minDocs: Long, maxFrac: Double): DataFrame = {
    val st = graft.functions.Paragraphs.boilerplateStatsComposed(df, key, text, minDocs)
    explodeEntries(st, col("__k"), Seq(boilerplateEntry(
      col("para_chars"), col("shared_chars"), col("n_shared_paras"), maxFrac)))
  }

  /** Benchmark-decontamination rule (GPT-3 appx C shape, via
    * [[graft.functions.Decontam]]): flag any document with ≥ `minHits`
    * word n-gram collisions against the eval corpus. The default
    * `minHits = 1` is the published semantics — one 8-13-gram collision
    * with a test set is a leak, whatever the document's length; raise it
    * (or gate on `score`, the collision fraction) for noisier eval sets.
    * The eval grams' 8-byte hashes (at most
    * [[graft.functions.SharedHashes.MaxBroadcastGrams]]; a larger eval
    * side fails, as every real eval suite is far smaller) are fetched at
    * construction and probed by a per-document kernel in one narrow
    * pass — no shuffle, no join.
    */
  def contaminationRule(df: DataFrame, key: Column, text: Column,
                        eval: DataFrame, n: Int = 8,
                        minHits: Long = 1): DataFrame =
    textBattery(df, key, text, Seq(Right(contaminationKernel(eval, n, minHits))))

  private[graft] def contaminationKernel(eval: DataFrame, n: Int,
                                         minHits: Long): TextRule = {
    import graft.functions.Decontam
    val set = Decontam.evalHashes(eval)
    TextRule(tokens = true,
      (_, toks) => Decontam.hitStats(toks, n, set),
      st => contaminationEntry(st.getField("n_grams"),
        st.getField("n_contaminated"), minHits))
  }

  private[graft] def contaminationEntry(nGrams: Column, nContaminated: Column,
                                        minHits: Long): Column =
    entry(nContaminated >= minHits, "decontam",
      coalesce(graft.functions.Decontam.contamFrac(nContaminated, nGrams), lit(0.0)),
      concat_ws("/", nContaminated, lit("eval_gram_hits")))

  /** Cross-document exact-substring duplication rule (Lee et al. 2021
    * ExactSubstr shape, via [[graft.functions.ExactSubstr]]): flag any
    * document whose fraction of tokens covered by ≥ `l`-token spans
    * shared with ≥ `minDocs` distinct documents reaches `maxFrac`. The
    * paper's L is 50 tokens; doc-DROP (not span-EDIT) semantics here
    * preserve the byte-identical scrub contract, same reasoning as the
    * C4 line battery. Complements MinHash/SimHash whole-doc near-dup:
    * those miss a long verbatim span inside two otherwise-different
    * documents; this rule measures exactly that. Regimes (and the key
    * contract) as in [[graft.functions.ExactSubstr.substrDupStats]];
    * eager.
    */
  def exactSubstrDup(df: DataFrame, key: Column, text: Column,
                     l: Int = 50, minDocs: Long = 2L,
                     maxFrac: Double = 0.2): DataFrame =
    textBattery(df, key, text,
      Seq(exactSubstrRegime(df, key, text, l, minDocs, maxFrac)))

  private[graft] def exactSubstrRegime(
      df: DataFrame, key: Column, text: Column, l: Int, minDocs: Long,
      maxFrac: Double,
      cap: Long = graft.functions.SharedHashes.MaxBroadcastGrams): TextRegime = {
    import graft.functions.ExactSubstr
    ExactSubstr.checkArgs(l, minDocs)
    ExactSubstr.sharedGrams(df, key, text, l, minDocs, cap) match {
      case Some(set) => Right(TextRule(tokens = true,
        (_, toks) => ExactSubstr.coverStats(toks, l, set),
        st => exactSubstrEntry(st.getField("dup_tokens"),
          st.getField("n_tokens"), l, maxFrac)))
      case None => Left(exactSubstrComposed(df, key, text, l, minDocs, maxFrac))
    }
  }

  private def exactSubstrEntry(dupTokens: Column, nTokens: Column, l: Int,
                               maxFrac: Double): Column = {
    val frac = graft.functions.ExactSubstr.dupFrac(dupTokens, nTokens)
    entry(frac >= maxFrac, "exact_substr_dup", frac,
      concat_ws("/", dupTokens, nTokens, lit(s"dup@L$l")))
  }

  /** The exact-substring rule's distributed regime, also the composed
    * reference its kernel is differential-tested against.
    */
  private[graft] def exactSubstrComposed(df: DataFrame, key: Column, text: Column,
                                         l: Int, minDocs: Long,
                                         maxFrac: Double): DataFrame = {
    val st = graft.functions.ExactSubstr.substrDupStatsComposed(df, key, text, l, minDocs)
    explodeEntries(st, col("__k"),
      Seq(exactSubstrEntry(col("dup_tokens"), col("n_tokens"), l, maxFrac)))
  }

  /** Model-based quality rule ([[graft.functions.QualityModel]] — the
    * fastText-shaped hashed-trigram classifier the CCNet/DCLM/FineWeb-Edu
    * stack runs next to the heuristic batteries): drop documents scoring
    * below `minScore`. One codegen'd per-document map — a text battery
    * kernel with no cross-document state — and the ~32 KB weight table
    * rides inside the expression to every executor; zero shuffle, no
    * model server. The [[graft.functions.QualityModel.Default]] model is
    * the built-in; a production model is [[graft.functions.QualityModel.train]]
    * over a bounded sample of real labels.
    */
  def modelQualityRule(df: DataFrame, key: Column, text: Column,
                       minScore: Double,
                       model: graft.functions.QualityModel.Model =
                         graft.functions.QualityModel.Default): DataFrame =
    textBattery(df, key, text, Seq(Right(modelQualityKernel(minScore, model))))

  private[graft] def modelQualityKernel(
      minScore: Double,
      model: graft.functions.QualityModel.Model =
        graft.functions.QualityModel.Default): TextRule =
    TextRule(tokens = false,
      (t, _) => graft.functions.QualityModel.scoreColumn(
        graft.functions.TextFns.normText(t), model),
      q => entry(q < minScore, "model_quality", q,
        concat_ws("<", round(q, 4), lit(minScore.toString))))

  /** URL battery (RefinedWeb §3.1 shape, via [[graft.functions.UrlFns]]):
    * blocked-host membership, adult/spam keyword in the URL, and
    * over-long URLs — pure narrow expressions over one (key, url, host)
    * projection, whose armed checks become verdict rows through one
    * explode of entries; zero shuffle. `blockedHosts` /
    * `adultKeywords` are inlined literals here (curated lists are
    * 10³-10⁵ entries — expression-literal scale); a blocklist that has
    * outgrown a literal joins as a broadcast frame on
    * [[graft.functions.UrlFns.host]] instead.
    */
  def urlBattery(df: DataFrame, key: Column, url: Column,
                 blockedHosts: Seq[String] = Nil,
                 adultKeywords: Seq[String] = Nil,
                 maxUrlLen: Int = 2048): DataFrame = {
    import graft.functions.UrlFns
    val (u, host) = (col("__u"), col("__host"))
    val entries = Seq(
      Option.when(blockedHosts.nonEmpty)(entry(host.isin(blockedHosts: _*),
        "url_blocked_host", lit(1.0), host)),
      Option.when(adultKeywords.nonEmpty)(entry(UrlFns.containsAny(u, adultKeywords),
        "url_adult_keyword", lit(1.0), host)),
      Some(entry(length(u) > maxUrlLen, "url_too_long", length(u), host))).flatten
    explodeEntries(
      df.select(key.as("__k"), url.as("__u"), UrlFns.host(url).as("__host")),
      col("__k"), entries)
  }

  /** Per-host document cap (host-level dedup pressure: a single template
    * site must not dominate the corpus). Keeps for each host the `cap`
    * documents with the smallest portable 60-bit url hash
    * ([[graft.functions.TextFns.md5Long]] — a deterministic uniform
    * draw per host, oracle-expressible) and flags the rest.
    *
    * Scale shape: ONE groupBy on host whose aggregate state is a
    * bounded K-heap ([[graft.functions.UrlFns.kthSmallest]] — map-side
    * partial heaps, ≤ K longs per host per partition, never the group's
    * rows), filtered to over-cap hosts, joined back on host. The build
    * side is one (host, threshold) row per OVER-CAP host — small by
    * construction — so the join-back broadcasts; a mega-host's rows
    * stay distributed on the probe side and never co-locate.
    */
  def hostCap(df: DataFrame, key: Column, url: Column,
              cap: Int): DataFrame = {
    import graft.functions.{TextFns, UrlFns}
    val base = df.select(key.as("__k"),
      UrlFns.host(url).as("__host"),
      TextFns.md5Long(url).as("__h"))
      .filter(col("__host").isNotNull)
    val thr = base.groupBy("__host")
      .agg(UrlFns.kthSmallest(col("__h"), cap).as("__thr"),
        count(lit(1)).as("__n"))
      .filter(col("__n") > cap)
      .select(col("__host"), col("__thr"), col("__n"))
    val flagged = base.join(broadcast(thr), Seq("__host"))
      .filter(col("__h") > col("__thr"))
    verdict(flagged, col("__k"), "host_over_cap",
      col("__n").cast(DoubleType), col("__host"))
  }
}
