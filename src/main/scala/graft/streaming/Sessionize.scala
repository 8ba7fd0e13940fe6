package graft.streaming

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Structured-Streaming sessionization built on the native `session_window`
  * operator. The same transform runs in batch mode (used by the
  * `q_session_window` query, which is oracle-checked against a lag-gap SQL
  * formulation) and in streaming mode with a watermark — one definition,
  * two execution modes, which is the idiomatic Spark way to keep stream and
  * batch semantics aligned.
  *
  * The reference engine has no streaming surface (SURVEY.md §2.5); this is
  * part of the extension surface for large-scale pipelines. State size is
  * bounded by (active sessions × users) and the watermark evicts closed
  * sessions, so the operator runs indefinitely at scale.
  */
object Sessionize {

  /** One row per (user, session): session bounds and event count.
    * `events` needs `ts: timestamp` and `user_id` columns; works on both
    * batch and streaming DataFrames.
    */
  def sessionCounts(events: DataFrame, gap: String): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap).as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"))

  /** Streaming variant: watermarked, append-mode (sessions emit once the
    * watermark passes their end — late events beyond `lateness` are
    * dropped).
    */
  def sessionStream(events: DataFrame, gap: String,
                    lateness: String): DataFrame =
    sessionCounts(events.withWatermark("ts", lateness), gap)
}
