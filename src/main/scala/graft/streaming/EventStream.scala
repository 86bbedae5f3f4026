package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Event-time operators over the `events` table, as batch jobs: tumbling
  * windowed counts and gap-based sessionization, the operators behind the
  * `ev_window_agg` and `ev_sessionize` oracle queries.
  *
  * The reference is batch-only (SURVEY §2.8) and the north rule asks for
  * batch resumability, not streaming. The engine's per-document rules
  * are stateless narrow transforms, so they run unchanged over a
  * `readStream` source (StreamingSpec checks the pass-1 heuristics and
  * the model-quality rule that way); cross-document rules run as the
  * checkpointed batch pass over each closed ingest window — the
  * Checkpointer's per-day contract.
  */
object EventStream {

  /** Tumbling 1-hour windows per event_type. */
  def windowedCountsBatch(events: DataFrame): DataFrame =
    events.groupBy(
      date_trunc("hour", col("ts")).as("window_start"),
      col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("value")), 4).as("sum_value"))

  /** Gap-based sessionization: a session is a maximal run of a user's
    * events with consecutive gaps ≤ `gapMinutes`. One shuffle on the
    * session key (user_id) carrying narrow rows, then a per-user ordered
    * window — the inherent shape of sessionization at any scale (the
    * 100 TB version partitions by user hash exactly like this; no global
    * ordering anywhere). Output micros are BIGINT for oracle portability
    * (epoch_us on the DuckDB side).
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val gapUs = gapMinutes * 60L * 1000000L
    events
      .withColumn("__us", unix_micros(col("ts").cast("timestamp")))
      .withColumn("__prev", lag(col("__us"), 1).over(w))
      .withColumn("__new",
        (col("__prev").isNull || col("__us") - col("__prev") > gapUs).cast("long"))
      .withColumn("session_no", sum(col("__new"))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_no"))
      .agg(
        min(col("__us")).as("session_start_us"),
        max(col("__us")).as("session_end_us"),
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 4).as("sum_value"))
  }
}
