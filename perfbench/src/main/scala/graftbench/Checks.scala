package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Page
import graft.sources.PagesGen

/** Output checks against references the engine does not compute itself. */
object Checks {

  def idOf(url: String): Long = url.split("/p/")(1).toLong

  /** The generated window as plain JVM rows (the reference side). */
  def window(seed: Long, n: Long): Seq[Page] = {
    val first = Inputs.firstId(seed, n)
    (first until first + n).map(PagesGen.genRow)
  }

  /** Golden drop set of the planted labels, derived as PipelineSpec does:
    * exact-text groups and near-dup edges to their anchors form clusters
    * whose minimum url survives; every other planted drop class drops.
    */
  def goldenDrop(rows: Seq[Page]): Set[String] = {
    val urlOfId = rows.map(p => idOf(p.url) -> p.url).toMap
    val cls = rows.map(p => p.url -> PagesGen.errorClass(idOf(p.url))).toMap
    val parent = scala.collection.mutable.HashMap[String, String]()
    def find(u: String): String = {
      val p = parent.getOrElse(u, u)
      if (p == u) u else { val r = find(p); parent(u) = r; r }
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    rows.groupBy(_.text).values.filter(_.length > 1)
      .foreach(g => g.map(_.url).reduceLeft { (a, b) => union(a, b); b })
    rows.foreach { p =>
      if (cls(p.url) == "near_dup") {
        val id = idOf(p.url)
        val base = PagesGen.cleanBaseAtOrAbove(id - math.floorMod(id, 97L) + 2)
        urlOfId.get(base).foreach(union(p.url, _))
      }
    }
    val dedup = rows.map(_.url).groupBy(find).values.filter(_.length > 1)
      .flatMap(_.sorted.drop(1)).toSet
    rows.collect { case p if PagesGen.shouldDrop(cls(p.url)) &&
      cls(p.url) != "near_dup" && cls(p.url) != "duplication" => p.url }.toSet ++ dedup
  }

  def f1(all: Iterable[String], golden: Set[String], dropped: Set[String]): Double = {
    var tp = 0L; var fp = 0L; var fn = 0L
    all.foreach { u =>
      (golden.contains(u), dropped.contains(u)) match {
        case (true, true) => tp += 1
        case (false, true) => fp += 1
        case (true, false) => fn += 1
        case _ =>
      }
    }
    if (tp + fp + fn == 0) 1.0 else 2.0 * tp / (2 * tp + fp + fn)
  }

  private lazy val scrubPatterns = graft.functions.Scrub.Patterns.map { case (p, r) =>
    (java.util.regex.Pattern.compile(p), r)
  }

  /** Plain-JVM scrub: the `Scrub.Patterns` fold, pattern by pattern. */
  def scrubJvm(text: String): String =
    scrubPatterns.foldLeft(text) { case (acc, (p, r)) => p.matcher(acc).replaceAll(r) }

  /** Kept docs whose scrubbed text differs from the plain-JVM scrub. */
  def scrubMismatches(kept: Seq[(String, String)], textOf: String => String): Int =
    kept.count { case (url, scrubbed) => scrubbed != scrubJvm(textOf(url)) }

  /** Order-insensitive (row count, hash sum) of a frame's rows. */
  def frameHash(df: DataFrame): (Long, java.math.BigDecimal) = {
    val cols = df.columns.sorted.map(col)
    val r = df.select(xxhash64(cols: _*).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }
}
