package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Structured Streaming twins of the batch event analytics in
  * [[graft.operators.Events]]: the same tumbling-hour and 30-minute-gap
  * session semantics expressed as readStream → watermark → windowed agg.
  *
  * The batch forms are the oracle-checked contract (DuckDB can't replay a
  * stream); these twins are the continuous-arrival expression of the same
  * queries — the role the reference's "streaming" dispatch loop
  * (coordinator.py:85-104) plays for word count, done properly with
  * event-time + watermark state cleanup instead of arrival order.
  *
  * 100 TB/continuous posture: file-source streams shard by file listing;
  * state is per (window, key) group and bounded by the watermark horizon —
  * late data beyond 1 hour is dropped, so state never grows with stream
  * length. The aggregation parallelism is the shuffle partition count, same
  * as the batch twin.
  */
object EventStreams {

  /** Events schema for the current data drop: ts = TIMESTAMP(MICROS,
    * adjustedToUTC=false), read as TIMESTAMP_NTZ (matches Tables.events'
    * native branch; sessions pin UTC so NTZ→µs conversion is exact). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Same, for the legacy INT64 TIMESTAMP(NANOS) drop (read as raw-nanos
    * LONG under the `nanosAsLong` flag every session sets). */
  val eventsSchemaLegacy: StructType = StructType(
    eventsSchema.fields.map(f =>
      if (f.name == "ts") f.copy(dataType = LongType) else f))

  /** Streaming source over an events parquet path. Adds `ts_us` (µs, the
    * batch twin's integer event-time) and `ts_ts` (timestamp for
    * watermark/window — truncated µs, matching rule R4).
    * `maxFilesPerTrigger` > 0 caps files per micro-batch — the ingestion
    * back-pressure knob (the analog of the reference's MAX_INFLIGHT cap,
    * coordinator.py:12) and what makes watermark semantics observable in
    * tests (one file per batch ⇒ the watermark advances between files).
    *
    * Branches on the drop's physical ts encoding exactly like
    * Tables.events (one footer read on the driver through
    * [[graft.sources.Tables.parquet]] at setup: no data scan and no Spark
    * job), so the legacy NANOS drop streams as well as it batch-reads. */
  def eventStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val legacy =
      graft.sources.Tables.parquet(spark, path).schema("ts").dataType == LongType
    val reader = spark.readStream.schema(
      if (legacy) eventsSchemaLegacy else eventsSchema)
    val withOpt =
      if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      else reader
    val tsUs =
      if (legacy) expr("ts div 1000")
      else expr("unix_micros(cast(ts as timestamp))")
    withOpt
      .parquet(path)
      .withColumn("ts_us", tsUs)
      .withColumn("ts_ts", timestamp_micros(col("ts_us")))
  }

  /** Streaming tumbling 1-hour counts per event type — the twin of
    * Events.tumblingCounts. hour_idx = epoch-hours of the window start, so
    * rows are directly comparable with the batch result. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_ts", "1 hour")
      .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        (unix_timestamp(col("window.start")) / 3600).cast("long").as("hour_idx"),
        col("event_type"), col("cnt"))

  /** Streaming sliding 1h/15min counts per event type — the twin of
    * [[graft.operators.Events.slidingCounts]], using the engine's native
    * sliding window (each event lands in 4 open windows; state is the
    * windowed counts inside the watermark horizon). win_idx = window
    * start in slide quarters, directly comparable with the batch rows. */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_ts", "1 hour")
      .groupBy(window(col("ts_ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .select(
        (unix_timestamp(col("window.start")) / 900).cast("long").as("win_idx"),
        col("event_type"), col("cnt"))
      // epoch clip + the start column, so rows match the batch twin's
      // schema and window set exactly (the engine's sliding window emits
      // negative-start windows near the epoch that the batch form clips)
      .filter(col("win_idx") >= 0)
      .select(col("win_idx"),
        (col("win_idx") * graft.operators.Events.SlideUs).as("win_start_us"),
        col("event_type"), col("cnt"))

  /** Streaming anomaly monitor — the twin of
    * [[graft.operators.Events.anomaly]] run the way monitoring actually
    * deploys: the per-type baseline moments TRAIN batch-side from
    * `staticEvents` ([[graft.operators.Events.momentsOf]] — the model a
    * pipeline refreshes daily) and broadcast as a static frame; arriving
    * events join the baseline BEFORE windowing (stream-static joins must
    * precede streaming aggregation), the tumbling count carries the
    * constant per-type moments through `first()`, and the z/flag tail is
    * [[graft.operators.Events.zFlagged]] — the SAME definition as batch,
    * so the detection rule cannot drift. State is the windowed count
    * (bounded by the watermark horizon), the model adds three numbers per
    * event type. When the baseline is trained on the same events the
    * stream replays, completed windows score exactly the batch
    * `events_anomaly` rows (StreamingSpec asserts it).
    *
    * Event types ABSENT from the baseline — often the strongest anomaly
    * signal a monitor sees — are NOT dropped: the stream-static join is
    * a LEFT join, and a window whose type has no trained moments emits
    * z_e4 = null (no model ⇒ no score) with is_anomaly = 1, so a
    * genuinely novel type always surfaces in the monitor output rather
    * than vanishing where nobody is looking (StreamingSpec plants one). */
  def anomalyStream(spark: SparkSession, path: String, staticEvents: DataFrame,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    import graft.operators.Events
    val baseline = Events.momentsOf(
      Events.hourlyCounts(staticEvents.select(col("event_type"), col("ts_us"))))
    val enriched = eventStream(spark, path, maxFilesPerTrigger)
      .join(broadcast(baseline), Seq("event_type"), "left")
    val counts = enriched
      .withWatermark("ts_ts", "1 hour")
      .groupBy(window(col("ts_ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        first("n").as("n"), first("s").as("s"), first("q").as("q"))
      .select(col("event_type"),
        (unix_timestamp(col("window.start")) / 3600).cast("long").as("hour_idx"),
        col("cnt"), col("n"), col("s"), col("q"))
    // Untrained types carry null moments through zFlagged (null z_e4 /
    // null flag); pin the flag to 1 — "no model" must read as an alert.
    Events.zFlagged(counts)
      .withColumn("is_anomaly",
        when(col("z_e4").isNull, lit(1L)).otherwise(col("is_anomaly")))
  }

  /** Streaming 30-minute-gap sessions per user — the twin of
    * Events.sessionize, via the native session_window (merge-on-overlap
    * state, cleaned up past the watermark). */
  def sessionize(events: DataFrame): DataFrame =
    events
      .withWatermark("ts_ts", "1 hour")
      .groupBy(session_window(col("ts_ts"), "30 minutes"), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"),
        max("ts_us").as("end_us"))
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"))

  /** Watermarked stream-stream self-join: for every event, the same user's
    * follow-up events within `gapMin` minutes ("earlier → later", ties
    * broken by event_id). Both sides carry a watermark and the join
    * condition bounds b's event time to [a, a + gap], so each row's join
    * state is dropped once the opposite watermark passes its bound — state
    * stays proportional to the gap window, not the stream length. The same
    * code runs in batch (withWatermark is a no-op there), which is how the
    * spec asserts streaming/batch equality. */
  def pairedEvents(events: DataFrame, gapMin: Int = 30): DataFrame = {
    val a = events
      .select(col("event_id").as("a_id"), col("user_id"),
        col("ts_ts").as("a_ts"), col("ts_us").as("a_us"))
      .withWatermark("a_ts", "1 hour")
    val b = events
      .select(col("event_id").as("b_id"), col("user_id").as("b_user"),
        col("ts_ts").as("b_ts"), col("ts_us").as("b_us"))
      .withWatermark("b_ts", "1 hour")
    a.join(b,
        col("user_id") === col("b_user") &&
        col("b_ts") >= col("a_ts") &&
        col("b_ts") <= col("a_ts") + expr(s"INTERVAL $gapMin MINUTES") &&
        (col("b_us") > col("a_us") ||
          (col("b_us") === col("a_us") && col("a_id") < col("b_id"))))
      .select(col("user_id"), col("a_id"), col("b_id"),
        (col("b_us") - col("a_us")).as("gap_us"))
  }

  /** Per-user running totals via mapGroupsWithState — the custom-state
    * escape hatch for semantics the built-in windows can't express (here:
    * a monotone per-key accumulator that survives across triggers). State is
    * one (count, last-seen µs) pair per user — O(distinct users), not
    * O(events); with event-time bounds you'd add a GroupStateTimeout to
    * retire idle keys. Output mode: update. */
  def runningUserCounts(events: DataFrame): Dataset[UserRunning] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    implicit val pairEnc: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    implicit val outEnc: Encoder[UserRunning] = Encoders.product[UserRunning]
    events.select(col("user_id"), col("ts_us")).as[(Long, Long)](pairEnc)
      .groupByKey(_._1)(Encoders.scalaLong)
      .mapGroupsWithState[(Long, Long), UserRunning](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long)], state: GroupState[(Long, Long)]) =>
          var (n, last) = state.getOption.getOrElse((0L, 0L))
          rows.foreach { case (_, ts) =>
            n += 1
            if (ts > last) last = ts
          }
          state.update((n, last))
          UserRunning(uid, n, last)
      }
  }

  /** Streaming funnel monitor — the continuous twin of
    * [[graft.operators.Events.funnelDf]]'s view → click → purchase
    * progression. The batch funnel's stage times are cross-dependent
    * (earliest click AFTER the earliest view, earliest purchase AFTER
    * that click) and the earliest view can still DECREASE as earlier
    * events arrive, so no windowed aggregate expresses it; this is the
    * custom-state case, via mapGroupsWithState in update mode.
    *
    * Per-user state and why it is exact: the funnel thresholds only ever
    * move EARLIER (min view is monotone non-increasing, hence so are the
    * derived click/purchase answers). A click can therefore only become
    * the answer if it is ≤ the CURRENT answer t2 (answers walk the sorted
    * click list downward as t1 decreases), so clicks > t2 are pruned
    * for good — and symmetrically purchases > t3. Each trigger recomputes
    * the stage row from the pruned sets (order-independent within a
    * micro-batch), emitting the user's current funnel row with a
    * monotone `n_seen` so a consumer (and the parity spec) can take the
    * latest row per user. State per user is the retained prefix of
    * clicks/purchases — in production the same operator adds an
    * event-time timeout to finalize and evict users once the watermark
    * passes (the lists are then bounded by the lateness horizon); the
    * replay-parity spec asserts the final rows equal the batch funnel on
    * the corpus exactly. */
  def funnelStream(events: DataFrame): Dataset[UserFunnel] = {
    import org.apache.spark.sql.{Encoder, Encoders}
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    implicit val rowEnc: Encoder[(Long, String, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.STRING, Encoders.scalaLong)
    implicit val stEnc: Encoder[FunnelState] = Encoders.product[FunnelState]
    implicit val outEnc: Encoder[UserFunnel] = Encoders.product[UserFunnel]
    events.select(col("user_id"), col("event_type"), col("ts_us"))
      .as[(Long, String, Long)](rowEnc)
      .groupByKey(_._1)(Encoders.scalaLong)
      .mapGroupsWithState[FunnelState, UserFunnel](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, String, Long)],
         state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(-1L, Nil, Nil, 0L))
          rows.foreach { case (_, tpe, ts) =>
            st = tpe match {
              case "view" =>
                st.copy(nSeen = st.nSeen + 1,
                  minView = if (st.minView < 0 || ts < st.minView) ts else st.minView)
              case "click" =>
                st.copy(nSeen = st.nSeen + 1, clicks = ts :: st.clicks)
              case "purchase" =>
                st.copy(nSeen = st.nSeen + 1, purchases = ts :: st.purchases)
              case _ => st.copy(nSeen = st.nSeen + 1)
            }
          }
          val t1 = st.minView
          val clicksSorted = st.clicks.sorted
          val t2 = if (t1 < 0) -1L else clicksSorted.find(_ > t1).getOrElse(-1L)
          val purchSorted = st.purchases.sorted
          val t3 = if (t2 < 0) -1L else purchSorted.find(_ > t2).getOrElse(-1L)
          state.update(st.copy(
            clicks = if (t2 > 0) clicksSorted.filter(_ <= t2) else clicksSorted,
            purchases = if (t3 > 0) purchSorted.filter(_ <= t3) else purchSorted))
          val stage = if (t3 > 0) 3L else if (t2 > 0) 2L
            else if (t1 > 0) 1L else 0L
          UserFunnel(uid, st.nSeen, t1, t2, t3, stage)
      }
  }

  /** Run a streaming query to completion over the currently-available input
    * (Trigger.AvailableNow) into an in-memory table; returns the final
    * result. Used by tests and as the batch-parity harness. With a
    * `checkpoint`, successive calls resume the same logical query —
    * offsets, aggregation state, and the WATERMARK are restored — which is
    * how the incremental-arrival semantics (late-data drop, window
    * finalization) are exercised deterministically. */
  def runToCompletion(spark: SparkSession, df: DataFrame, name: String,
      mode: String = "complete", checkpoint: Option[String] = None): DataFrame = {
    val base = df.writeStream
      .format("memory")
      .queryName(name)
      .outputMode(mode)
      .trigger(Trigger.AvailableNow())
    val q = checkpoint.fold(base)(c => base.option("checkpointLocation", c)).start()
    q.awaitTermination()
    spark.table(name)
  }
}

/** Output row of [[EventStreams.runningUserCounts]]. */
case class UserRunning(user_id: Long, n_events: Long, last_us: Long)

/** Per-user state of [[EventStreams.funnelStream]]: earliest view (-1 until
  * one arrives), retained candidate clicks/purchases (see the pruning
  * argument there), and a monotone count of events seen. */
case class FunnelState(minView: Long, clicks: List[Long],
    purchases: List[Long], nSeen: Long)

/** Output row of [[EventStreams.funnelStream]] — the batch funnel columns
  * plus the monotone `n_seen` update cursor. */
case class UserFunnel(user_id: Long, n_seen: Long, view_us: Long,
    click_us: Long, purchase_us: Long, stage: Long)
