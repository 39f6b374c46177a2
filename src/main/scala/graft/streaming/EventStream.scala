package graft.streaming

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode, Trigger}

import graft.core.Tables

/** Structured Streaming surface (SURVEY §2.10: planned extension — the
  * reference has no streaming, but its Redis prediction push and the
  * events table's event-time column map naturally onto
  * readStream → transform → writeStream).
  *
  * Scale: windowed aggregation state is bounded by the watermark; scoring
  * is stateless per micro-batch. Both shapes run unchanged on a cluster
  * with a real source (Kafka/files) swapped in.
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

  /** Watermarked sliding-window counts + value totals per event type. */
  def windowedCounts(events: DataFrame,
      window_ : String = "5 minutes",
      slide: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), window_, slide), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total"))

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

  /** Watermarked stream-stream interval join: each purchase event joined
    * to the same user's signup events that happened within `horizon`
    * before it. Both sides carry watermarks and the join condition bounds
    * event-time distance, so each side's state store retains only
    * watermark+horizon of history — the canonical attribution-join shape,
    * cluster-ready at any ingest rate.
    */
  def purchaseAttribution(events: DataFrame,
      watermark: String = "10 minutes",
      horizon: String = "30 days"): DataFrame = {
    val purchases = events
      .filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("event_time").as("purchase_time"))
      .withWatermark("purchase_time", watermark)
    val signups = events
      .filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"),
        col("user_id").as("signup_user"),
        col("event_time").as("signup_time"))
      .withWatermark("signup_time", watermark)
    purchases.join(signups,
      col("user_id") === col("signup_user") &&
        col("signup_time") <= col("purchase_time") &&
        col("signup_time") >= col("purchase_time") - expr(
          s"INTERVAL $horizon"))
      .select(col("purchase_id"), col("user_id"), col("signup_id"),
        col("purchase_time"), col("signup_time"))
  }

  /** Streaming scan of a documents-shaped parquet directory, with a
    * deterministic event-time column derived from doc_id (the local
    * stand-in for a message bus carrying ingestion timestamps).
    */
  def readDocs(spark: SparkSession, dir: String): DataFrame =
    spark.readStream
      .schema(Tables.documents)
      .parquet(dir)
      // offset well past the epoch: a row whose event time equals the
      // initial watermark (epoch 0) would be dropped as expired
      .withColumn("event_time",
        timestamp_micros(lit(1600000000000000L) + col("doc_id")))

  /** Streaming corpus curation: q_corpus_curation's language/quality
    * gate (lang == "en", quality >= 0.5) plus q_repetition_filter's
    * duplicate-token-fraction gate (default 0.55, same threshold),
    * applied to a document stream. Every scoring expression is a
    * map-only projection (no state, no shuffle), so the batch and
    * streaming results of THIS function are definitionally identical —
    * chain [[dedupDocs]] after it for the full curate→dedup streaming
    * pipeline with watermark-bounded state.
    */
  def curateDocs(docs: DataFrame, minQuality: Double = 0.5,
      maxDupFrac: Double = 0.55): DataFrame = {
    import graft.text.TextStats
    // all three gates derive from one fused TextProfile pass per row
    // (still a stateless projection — batch/streaming identical)
    docs
      .withColumn("__p", TextStats.profile(col("text")))
      .withColumn("lang_id", TextStats.langIdFrom(col("__p")))
      .withColumn("quality", TextStats.qualityScoreFrom(col("__p")))
      .withColumn("dup_frac", TextStats.dupTokenFracFrom(col("__p")))
      .filter(col("lang_id") === "en" &&
        col("quality") >= minQuality && col("dup_frac") <= maxDupFrac)
      .drop("__p")
  }

  /** Streaming exact dedup: drops any document whose content fingerprint
    * was already emitted, with state bounded by the event-time watermark
    * (`dropDuplicatesWithinWatermark`) — the streaming form of the
    * exact-dedup operator (q_dedup_exact_keep). At 100 TB/day ingest the
    * state store holds only fingerprints younger than the watermark, not
    * the corpus history; for longer dedup horizons, pair with a periodic
    * batch dedup over the sink.
    */
  def dedupDocs(docs: DataFrame, textCol: String = "text",
      timeCol: String = "event_time",
      watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("__fp", graft.text.TextStats.fingerprintMd5(col(textCol)))
      .withWatermark(timeCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Incremental ingest against an existing corpus: drop any streamed
    * document whose content digest already exists in the (static)
    * corpus — the streaming form of q_incremental_curation's Bloom/
    * anti-join stage. A stream-static LEFT ANTI join is stateless on
    * the stream side (each micro-batch joins the static relation
    * map-side; Spark re-plans the static side per batch, so a corpus
    * snapshot refresh is picked up on the next batch). At 100 TB the
    * static side is the digest column only — 32 bytes/doc, bucketed by
    * digest — never the corpus text.
    */
  def antiJoinCorpus(docs: DataFrame, corpus: DataFrame,
      textCol: String = "text"): DataFrame = {
    val digests = corpus
      .select(graft.text.TextStats.fingerprintMd5(col(textCol)).as("__fp"))
      .distinct()
    docs
      .withColumn("__fp", graft.text.TextStats.fingerprintMd5(col(textCol)))
      .join(digests, Seq("__fp"), "left_anti")
      .drop("__fp")
  }

  /** Stream-ified scoring (the reference's Redis push shape,
    * predict.py:221-226, as writeStream.foreachBatch): score each
    * micro-batch with a persisted PipelineModel and hand the predictions
    * to the sink callback.
    */
  def scoreStream(stream: DataFrame, model: PipelineModel)(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[_] =
    stream.writeStream
      .outputMode(OutputMode.Update())
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, id: Long) =>
        sink(model.transform(batch), id)
      }
}
