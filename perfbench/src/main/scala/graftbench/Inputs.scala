package graftbench

import java.time.LocalDateTime
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.PagesGen

/** Seeded inputs. Everything is a pure function of (seed, size), and
  * set-up always regenerates and rewrites it, so set-up does the same
  * work on every run (an input left behind by an earlier run is never
  * reused).
  */
object Inputs {

  /** Changes whenever the generator's rows change; part of the input key. */
  lazy val genVersion: String = Integer.toHexString(
    (PagesGen.genRow(123457L).text + PagesGen.genRow(7L).url).hashCode)

  /** `PagesGen.genRow(id)` is pure, so the seed selects a window of ids. */
  def firstId(seed: Long, n: Long): Long = math.floorMod(seed, 1000003L) * n

  def pagesPath(dir: String, seed: Long, n: Long): String =
    s"$dir/pages_s${seed}_n${n}_g$genVersion"

  def writePages(spark: SparkSession, dir: String, seed: Long, n: Long): String = {
    import spark.implicits._
    val path = pagesPath(dir, seed, n)
    val first = firstId(seed, n)
    spark.range(first, first + n, 1, spark.sparkContext.defaultParallelism)
      .map(id => PagesGen.genRow(id))
      .write.mode("overwrite").parquet(path)
    path
  }

  /** On-disk (compressed) bytes of one column across a parquet directory. */
  def columnBytes(spark: SparkSession, dir: String, column: String): Long = {
    import org.apache.hadoop.fs.Path
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new Path(dir)
    root.getFileSystem(conf).listStatus(root)
      .filter(_.getPath.getName.endsWith(".parquet"))
      .map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
          .filter(_.getPath.toDotString == column).map(_.getTotalSize).sum
        finally reader.close()
      }.sum
  }

  /** Pages with their crawl time folded onto `days` days, as a
    * checkpointed production run sees a multi-day crawl.
    */
  def foldDays(pages: DataFrame, days: Int): DataFrame = {
    val epoch = java.sql.Date.valueOf("2024-01-01")
    pages.withColumn("warc_ts",
      date_add(lit(epoch),
        pmod(datediff(to_date(col("warc_ts")), lit(epoch)), lit(days)).cast("int"))
        .cast("timestamp"))
  }

  // ---------------------------------------------------------------------
  // Query-board tables: the TPC-H-shaped star schema plus the events,
  // documents and embeddings tables the 52 queries read, with the column
  // types and value domains of the engine's test fixtures.
  // ---------------------------------------------------------------------
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val PartAdj = Array("red", "blue", "small", "hot", "cold", "big", "green", "old")
  private val PartNoun = Array("widget", "plate", "bolt", "gear", "ring", "gizmo", "nut", "pipe")
  private val PartTypes = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val DocLangs = Array("en", "en", "en", "zh", "es", "de", "fr")
  private val DocWords = ("join hash row batch scan column customer filter small slow merge " +
    "order vector line table data agg value key stream window a spark part group big " +
    "sort query fast the").split(" ")

  final case class BoardSize(customers: Int, suppliers: Int, parts: Int,
                             orders: Int, lineitems: Int, events: Int,
                             users: Int, documents: Int, vectors: Int)
  val BoardSmall = BoardSize(150, 10, 200, 1500, 6000, 1000, 50, 500, 500)

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  /** Writes the ten board tables as `dir/<table>.parquet`; returns rows written. */
  def writeBoard(spark: SparkSession, dir: String, seed: Long, sz: BoardSize): Long = {
    val r = new PagesGen.Rng(seed * 0x5851f42d4c957f2dL + 11)
    def money(lo: Double, hi: Double) = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(from: LocalDateTime, days: Int) = from.plusDays(r.nextInt(days).toLong)
    val d95 = LocalDateTime.of(1995, 1, 1, 0, 0)
    var written = 0L
    def write(name: String, schema: StructType, rows: Seq[Row]): Unit = {
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
      written += rows.length
    }
    write("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    write("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    write("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (0 until sz.customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99), Segments(r.nextInt(Segments.length)))))
    write("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until sz.suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        money(-999.99, 9999.99))))
    write("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (0 until sz.parts).map(i => Row(i.toLong,
        PartAdj(r.nextInt(PartAdj.length)) + " " + PartNoun(r.nextInt(PartNoun.length)),
        s"Brand#${1 + r.nextInt(25)}", PartTypes(r.nextInt(PartTypes.length)),
        1 + r.nextInt(50), 900.0 + (i % 1000) / 10.0)))
    write("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until sz.orders).map(i => Row(i.toLong, r.nextInt(sz.customers).toLong,
        "FOP".charAt(r.nextInt(3)).toString, money(1000, 500000), day(d95, 2400),
        Priorities(r.nextInt(Priorities.length)))))
    write("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampNTZType))),
      (0 until sz.lineitems).map(_ => Row(r.nextInt(sz.orders).toLong,
        r.nextInt(sz.parts).toLong, r.nextInt(sz.suppliers).toLong, 1 + r.nextInt(7),
        (1 + r.nextInt(50)).toDouble, money(900, 105000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, "RAN".charAt(r.nextInt(3)).toString,
        "OF".charAt(r.nextInt(2)).toString, day(d95.plusDays(1), 2500))))
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepUs = 30L * 86400L * 1000000L / math.max(1, sz.events)
    write("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (0 until sz.events).map(i => Row(i.toLong,
        t0.plusNanos((i * stepUs + math.floorMod(r.nextLong(), stepUs)) * 1000L),
        r.nextInt(sz.users).toLong, EventTypes(r.nextInt(EventTypes.length)),
        money(0.01, 490), s"""{"k": ${r.nextInt(100)}}""")))
    // every 25th document repeats an earlier one and every 31st changes one
    // word of an earlier one, so the dedup queries have work to find
    val texts = new Array[String](sz.documents)
    (0 until sz.documents).foreach { i =>
      texts(i) =
        if (i >= 25 && i % 25 == 0) texts(r.nextInt(i))
        else if (i >= 31 && i % 31 == 0) "dup " + texts(r.nextInt(i)).split(" ").drop(1).mkString(" ")
        else Seq.fill(8 + r.nextInt(90))(DocWords(r.nextInt(DocWords.length))).mkString(" ")
    }
    write("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (0 until sz.documents).map(i => Row(i.toLong, texts(i),
        DocLangs(r.nextInt(DocLangs.length)), s"src${i % 20}", texts(i).length.toLong)))
    write("embeddings", StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until sz.vectors).map { i =>
        val v = Array.fill(64)(r.nextDouble() * 2 - 1)
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
      })
    written
  }
}
