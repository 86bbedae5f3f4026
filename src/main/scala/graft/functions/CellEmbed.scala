package graft.functions

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.ml.feature.Word2Vec
import org.apache.spark.ml.functions.vector_to_array

/** Cell-value embeddings — the reference's C10 `_string_to_nbr`
  * (`/root/reference/src/utils.py:398-408`: gensim
  * `Word2Vec(vector_size=100, window=2, min_count=0)` trained on
  * column-wise sentences — each column's cells, in row order, form one
  * sentence — then every cell maps to its vector). DEAD CODE in the
  * reference (never called); implemented here for surface completeness
  * via Spark ML's Word2Vec, the library's own skip-gram. The engine
  * returns the vocabulary table (word → vector); mapping cells onto it
  * is a broadcast join on the cell string, since a categorical
  * column's vocabulary is broadcast-sized.
  *
  * Distributed re-expression of "one sentence per column": a 10⁹-cell
  * column cannot be one in-memory array on any executor, so sentences
  * are per-(column, chunk-of-`chunk`-rows) arrays, chunked and
  * inner-sorted by a numeric order column — window-2 skip-gram context
  * is preserved everywhere except the one seam per chunk boundary
  * (2/chunk of the contexts), and sentence assembly is one groupBy per
  * column over (order, cell) pairs — tiny categorical payloads, never
  * document text. `minCount=0` and `window=2` mirror the reference.
  *
  * No DuckDB oracle is possible (embedding training is iterative and
  * float-order-sensitive); the driver records the weaker rows-only
  * check for `w2v_cells`, and CellEmbedSpec pins vocabulary coverage,
  * dimensionality and finiteness.
  */
object CellEmbed {

  /** One (word, vector: array<float dim>) row per distinct cell value
    * across `cols` (nulls as "Nan", the reference's fillna).
    */
  def vocabVectors(df: DataFrame, cols: Seq[String], orderCol: String,
                   dim: Int = 100, window: Int = 2, seed: Long = 42L,
                   chunk: Int = 1024): DataFrame = {
    require(cols.nonEmpty, "need at least one column")
    require(chunk >= 2, s"chunk must hold a context window, got $chunk")
    val sentences = cols.zipWithIndex.map { case (c, i) =>
      df.select(col(orderCol).cast("long").as("__ord"),
          coalesce(col(c).cast("string"), lit("Nan")).as("__cell"))
        // floor, not cast-truncation: long/int division yields a double
        // and cast truncates toward zero, which would fold chunks -0.x
        // and 0.x together for negative order values (round-6 review
        // finding; non-negative orders are unchanged)
        .groupBy(lit(i).as("__col"),
          floor(col("__ord") / chunk).cast("long").as("__chunk"))
        .agg(array_sort(collect_list(struct(col("__ord"), col("__cell"))))
          .as("__oc"))
        .select(col("__col"), col("__chunk"),
          transform(col("__oc"), x => x.getField("__cell")).as("sentence"))
    }.reduce(_ unionByName _)
      // stable training order: the fit's single partition reads sorted
      .orderBy("__col", "__chunk")
      .select("sentence")
    val model = new Word2Vec()
      .setInputCol("sentence").setOutputCol("__vec")
      .setVectorSize(dim).setWindowSize(window)
      .setMinCount(0).setSeed(seed).setNumPartitions(1)
      .fit(sentences)
    model.getVectors
      .select(col("word"), vector_to_array(col("vector"), "float32").as("vector"))
  }
}
