package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables

/** Structured Streaming surface (SURVEY §2.10: an extension — the
  * reference has no streaming): the events stream and its gap
  * sessionization, which q_stream_sessionize and q_session_stats run.
  *
  * Scale: session state is bounded by the watermark, and the same shape
  * runs unchanged on a cluster with a real source (Kafka/files) swapped in.
  */
object EventStream {

  /** Streaming scan of an events-shaped parquet directory (file source —
    * the local stand-in for a message bus).
    */
  def readEvents(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(Tables.events)
      .parquet(dir)
      // same µs normalization as the batch reader (Tables.load): the raw
      // int64 may be micros or nanos depending on the data generation;
      // era-guarded so an out-of-ladder generation fails the batch loudly
      .withColumn("ts", expr(Tables.tsToMicrosGuardedSql))
      .withColumn("event_time", expr("timestamp_micros(ts)"))

  /** Per-user gap sessionization via Spark's native `session_window`
    * (engine-managed state; the streaming twin of the batch lag+cumsum
    * gate, q_sessionize_batch). Works on batch AND streaming frames; in
    * streaming the state store holds one merging window per open
    * session, evicted by the watermark.
    *
    * Boundary semantics (round-8 correction, caught by the retention
    * property test): session_window merges an event that lands inside
    * the CLOSED interval [start, last+gap] — an event exactly gap after
    * the previous one MERGES — i.e. it splits only on inter-event gaps
    * STRICTLY GREATER than gap. The q_stream_sessionize oracle encodes
    * the same strict-split rule (`tu - lag > gap`).
    * EventStreamSpec's property generator emits events exactly gap
    * apart, so a regression on this boundary fails the suite.
    */
  def sessionWindows(events: DataFrame,
      gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(col("user_id"), session_window(col("event_time"), gap))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"), col("n_events"))
}
