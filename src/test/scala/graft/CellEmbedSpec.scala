package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.functions.CellEmbed

/** C10 ([[graft.functions.CellEmbed]]) — a reference dead-code item,
  * implemented for surface completeness. No float-exact claims
  * (embedding training is order-sensitive); pinned instead: vocabulary
  * coverage, dims and finiteness.
  */
class CellEmbedSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val df = (0L until 300L)
    .map(i => (i, s"lang${i % 5}", if (i % 7 == 3) null else s"src${i % 3}"))
    .toDF("id", "lang", "source")

  test("vocabVectors: full vocab incl. Nan fill, dim, finite floats") {
    val v = CellEmbed.vocabVectors(df, Seq("lang", "source"), "id",
      dim = 8, chunk = 64)
    val rows = v.collect()
    val words = rows.map(_.getString(0)).toSet
    assert(words == (0 until 5).map(i => s"lang$i").toSet ++
      (0 until 3).map(i => s"src$i").toSet + "Nan")
    assert(rows.forall(_.getSeq[Float](1).size == 8))
    assert(rows.forall(_.getSeq[Float](1).forall(f => !f.isNaN && !f.isInfinite)))
  }
}
