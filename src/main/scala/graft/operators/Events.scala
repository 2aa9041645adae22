package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.Fns.cents
import graft.functions.Caching.hold
import graft.sources.Tables

/** Batch event-time analytics over the events table. These are the batch
  * expressions of the streaming windows; the Structured Streaming twins
  * (watermark + window / session_window over a stream) live in
  * [[graft.streaming.EventStreams]]. All bucketing here is integer arithmetic
  * on `ts_us` so the DuckDB oracle buckets identically.
  */
object Events {

  val HourUs: Long = 3600L * 1000000L
  val DayUs: Long = 86400L * 1000000L
  val SessionGapUs: Long = 30L * 60L * 1000000L // 30 min

  /** Tumbling 1-hour event counts per type (batch analog of a streaming
    * tumbling window; keyed shuffle is (hour, type) — fully parallel). */
  def tumblingCounts(s: SparkSession, d: String): DataFrame =
    tumblingCountsDf(Tables.events(s, d))

  /** Same over any events DataFrame with a ts_us column. */
  def tumblingCountsDf(events: DataFrame): DataFrame =
    events
      .select(expr(s"ts_us div $HourUs").as("hour_idx"), col("event_type"))
      .groupBy("hour_idx", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("hour_idx", "event_type")

  /** Sliding-window parameters: 1-hour windows starting every 15 minutes
    * ([[slidingCounts]] fan-out = WindowSlides windows per event). */
  val SlideUs: Long = 900L * 1000000L
  val WindowSlides = 4

  /** SLIDING-window event counts — the 1h-window/15min-slide dashboard
    * aggregate (tumbling is its slide = length special case). Window
    * indexing is integer: an event in slide-quarter q belongs to the
    * windows starting at quarters q−3 … q, so each event explodes into
    * exactly [[WindowSlides]] (win_idx, type) rows before the count —
    * the standard batch evaluation of a sliding window, with fan-out
    * bounded by the window/slide ratio (a schema constant), map-side
    * combined like any word count. win_start_us makes rows directly
    * comparable with the streaming twin
    * ([[graft.streaming.EventStreams.slidingCounts]]). */
  def slidingCounts(s: SparkSession, d: String): DataFrame =
    slidingCountsDf(Tables.events(s, d))

  /** Same over any events DataFrame with a ts_us column. */
  def slidingCountsDf(events: DataFrame): DataFrame =
    events
      // FLOOR division, not `div` (which truncates toward zero): a
      // pre-epoch event must land in negative windows — which the epoch
      // clip then drops — exactly as the streaming engine's floor-based
      // windows and DuckDB's `//` do. `div` would smuggle it into
      // window 0, which does not contain it.
      .select((expr(s"ts_us div $SlideUs") -
          when(expr(s"ts_us % $SlideUs") < 0, 1).otherwise(0)).as("slide_idx"),
        col("event_type"))
      .select(explode(sequence(col("slide_idx") - (WindowSlides - 1),
        col("slide_idx"))).as("win_idx"), col("event_type"))
      .filter(col("win_idx") >= 0)
      .groupBy("win_idx", "event_type")
      .agg(count(lit(1)).as("cnt"))
      .select(col("win_idx"), (col("win_idx") * SlideUs).as("win_start_us"),
        col("event_type"), col("cnt"))
      .orderBy("win_idx", "event_type")

  /** First-touch conversion funnel view → click → purchase: per user, the
    * earliest 'view', the earliest 'click' STRICTLY AFTER it, and the
    * earliest 'purchase' strictly after that — the standard ordered-funnel
    * semantics (an out-of-order purchase does not convert). Emits one row
    * per user with each stage's timestamp (-1 where the funnel stopped)
    * and the reached-stage count.
    *
    * Scale shape: one keyed pass ([[funnelPass]]). Two window minima over
    * `partitionBy(user_id)` carry the first view and the first click after
    * it onto each of the user's rows, and one per-user aggregate takes the
    * first purchase after that click. The windows and the aggregate share
    * one hash exchange on user_id plus one sort, and nothing is persisted
    * or broadcast. A window buffers one user's rows at a time (spilling
    * past Spark's window buffer threshold); the aggregate keeps one long
    * per stage. */
  def funnel(s: SparkSession, d: String): DataFrame =
    funnelDf(Tables.events(s, d))

  /** Same, over any (user_id, event_type, ts_us) DataFrame (planted tests). */
  def funnelDf(events: DataFrame): DataFrame = funnelPass(events, None)

  /** Conversion window for [[funnelWindowed]] — one hour in µs. */
  val FunnelWindowUs: Long = 3600L * 1000000L

  /** Time-bounded funnel — [[funnelDf]]'s first-touch staging with a
    * CONVERSION WINDOW: each stage counts only if it happens within
    * [[FunnelWindowUs]] of the previous stage's time, inclusive (the form
    * product funnels actually ship — "purchased within an hour of
    * clicking" — a stage reached days later is a different journey). Same
    * keyed pass as the unbounded funnel: the bound is one more condition
    * inside each stage's minimum, not a new shuffle. */
  def funnelWindowed(s: SparkSession, d: String): DataFrame =
    funnelWindowedDf(Tables.events(s, d))

  /** Same, over any (user_id, event_type, ts_us) DataFrame. */
  def funnelWindowedDf(events: DataFrame,
      windowUs: Long = FunnelWindowUs): DataFrame =
    funnelPass(events, Some(windowUs))

  /** The funnel as one pass keyed on user_id: stage k's time is the least
    * `ts_us` of a stage-k event strictly after stage k−1's time (and at
    * most `windowUs` after it, when bounded). A null user_id stays at
    * stage 0, as in the oracle, where it joins no stage. */
  private def funnelPass(events: DataFrame, windowUs: Option[Long]): DataFrame = {
    val user = Window.partitionBy("user_id")
    def after(prev: Column): Column = {
      val later = col("ts_us") > prev
      windowUs.fold(later)(w => later && col("ts_us") <= prev + w)
    }
    def earliest(stage: String, cond: Column): Column =
      min(when(col("event_type") === stage && cond, col("ts_us")))
    events.select(col("user_id"), col("event_type"), col("ts_us"))
      .withColumn("t1", earliest("view", col("user_id").isNotNull).over(user))
      .withColumn("t2", earliest("click", after(col("t1"))).over(user))
      .groupBy("user_id")
      .agg(min("t1").as("t1"), min("t2").as("t2"),
        earliest("purchase", after(col("t2"))).as("t3"))
      .select(
        col("user_id"),
        coalesce(col("t1"), lit(-1L)).as("view_us"),
        coalesce(col("t2"), lit(-1L)).as("click_us"),
        coalesce(col("t3"), lit(-1L)).as("purchase_us"),
        when(col("t3").isNotNull, 3L).when(col("t2").isNotNull, 2L)
          .when(col("t1").isNotNull, 1L).otherwise(0L).as("stage"))
      .orderBy("user_id")
  }

  /** Cohort retention matrix: cohort = a user's first active day (integer
    * day index — `ts_us div DayUs`, so both engines bucket identically);
    * for every (cohort_day, day offset) the count of cohort users active
    * that day, plus the cohort size and the retention rate in 1e-4 fixed
    * point. The classic product-analytics triangle.
    *
    * Scale shape: the (user, day) activity set is ONE distinct shuffle,
    * persisted because it feeds both the per-user min (cohort assignment)
    * and the activity join; cohort assignment and the activity join key on
    * the SAME user_id partitioning, and a user is active on a given day at
    * most once after the distinct, so the matrix cell is a plain count —
    * no count-distinct re-shuffle. Days with no active users are absent
    * (sparse output), the standard contract for retention tables. */
  def retention(s: SparkSession, d: String): DataFrame =
    retentionDf(Tables.events(s, d))

  /** Same, over any (user_id, ts_us) DataFrame (planted tests). */
  def retentionDf(events: DataFrame): DataFrame = {
    val days = hold(events
      .select(col("user_id"), expr(s"ts_us div $DayUs").as("day"))
      .distinct())
    val cohort = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    val act = days.join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("n_users"))
    val sizes = cohort.groupBy("cohort_day").agg(count(lit(1)).as("cohort_size"))
    graft.functions.Caching.releaseAfterAction(
      act.join(sizes, "cohort_day")
        .select(
          col("cohort_day"), col("offset_days"), col("n_users"), col("cohort_size"),
          round(col("n_users") * lit(10000.0) / col("cohort_size")).cast("long").as("ret_e4"))
        .orderBy("cohort_day", "offset_days"),
      days)
  }

  /** Hourly volume anomalies per event type: z-score of each (type, hour)
    * count against that type's own hourly distribution. The moments are
    * exact integer sums (n buckets, Σc, Σc²) so distributed summation
    * order can't perturb them; the only float ops — one variance division,
    * one IEEE sqrt (correctly rounded by definition), one z division —
    * run in the same order on both engines, then e4-round. Zero-variance
    * types flag nothing (z ≡ 0, the CASE guard). Flag at |z| ≥ 3σ.
    * Hours with zero events are absent from the input, and therefore from
    * the baseline too — the sparse-series caveat every log-volume monitor
    * has; [[anomalyDense]] IS the dense-filled sibling for when silence
    * itself is the anomaly. Scale shape: one (hour, type) count
    * shuffle, one tiny per-type moment aggregate broadcast back.
    *
    * Capacity bound: the moments are 128-bit exact — DecimalType(38,0)
    * sums here, HUGEINT in the oracle — so cnt² stays exact up to the
    * full Long range (max cnt ≈ 9.2e18 per bucket, cnt² ≈ 8.5e37 < 1e38);
    * the binding constraint moves to n·q < 1e38, i.e. roughly
    * n_buckets · max(cnt)² under 38 digits — ~1e19 TOTAL events at hourly
    * bucketing, far past 100 TB. Past that Spark's decimal overflow
    * yields null z_e4 (visible) rather than a silent 64-bit wrap. */
  def anomaly(s: SparkSession, d: String): DataFrame =
    anomalyDf(Tables.events(s, d))

  /** Same, over any (event_type, ts_us) DataFrame (planted tests). */
  def anomalyDf(events: DataFrame): DataFrame =
    anomalyHourlyDf(hourlyCounts(events))

  /** Core of [[anomalyDf]] over an already-counted (event_type, hour_idx,
    * cnt) frame — lets tests plant bucket counts past the 64-bit moment
    * bound without materializing billions of events. The hourly frame is
    * persisted because it feeds both the per-type moment aggregate and
    * the final join (mirrors retentionDf's shared-frame persist). */
  def anomalyHourlyDf(hourlyIn: DataFrame): DataFrame = {
    val hourly = hold(hourlyIn)
    graft.functions.Caching.releaseAfterAction(
      zFlagged(hourly.join(broadcast(momentsOf(hourly)), "event_type"))
        .orderBy("event_type", "hour_idx"),
      hourly)
  }

  /** Per-type 128-bit-exact moments (n, Σc, Σc² as Decimal(38,0)) of an
    * hourly (event_type, hour_idx, cnt) frame — the anomaly BASELINE
    * model. Shared by the batch operators and the streaming monitor
    * ([[graft.streaming.EventStreams.anomalyStream]]), which trains it
    * batch-side and broadcasts it against live windows. */
  def momentsOf(hourly: DataFrame): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    hourly.groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sum(col("cnt").cast(dec)).as("s"),
      sum(col("cnt").cast(dec) * col("cnt")).as("q"))
  }

  /** Hourly (event_type, hour_idx, cnt) counts — the anomaly operators'
    * shared input frame. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .select(col("event_type"), expr(s"ts_us div $HourUs").as("hour_idx"))
      .groupBy("event_type", "hour_idx")
      .agg(count(lit(1)).as("cnt"))

  /** The moments → z-score/flag projection over a frame carrying
    * (event_type, hour_idx, cnt, n, s, q) — ONE definition for batch and
    * stream, so the detection rule cannot drift between them. Unordered
    * (the batch wrappers add the terminal sort; streams cannot sort). */
  def zFlagged(withStats: DataFrame): DataFrame = {
    val z = (col("cnt") - col("s").cast("double") / col("n")) /
      sqrt((col("n") * col("q") - col("s") * col("s")).cast("double") /
        (col("n") * col("n")))
    withStats
      .select(
        col("event_type"), col("hour_idx"), col("cnt"),
        when(col("n") * col("q") === col("s") * col("s"), lit(0L))
          .otherwise(round(z * 10000).cast("long")).as("z_e4"))
      .withColumn("is_anomaly",
        (abs(col("z_e4")) >= 30000L).cast("long"))
  }

  /** Calendar-densified anomaly twin of [[anomaly]] — closes the sparse-
    * series caveat its docstring leaves open: hours with ZERO events are
    * materialized (cnt = 0) over the corpus's global [min, max] hour
    * range × the observed event types, so silence itself can flag (an
    * outage hour in an otherwise-steady series z-scores far negative,
    * which the sparse view cannot see because the row is absent from its
    * baseline too). Same moments/z/flag tail as [[anomalyHourlyDf]] —
    * one definition, the dense frame is the only difference.
    *
    * Scale shape: the calendar is a broadcast-sized dimension (global
    * hour span × event types — a decade of hours × 1000 types is 87 M
    * rows of two longs, and per-TYPE spans would shrink it further); the
    * real per-(type, hour) counts left-join into it on the same key the
    * count shuffle already used. The sparse sibling stays the cheap
    * default when absence-of-data is not a signal. */
  def anomalyDense(s: SparkSession, d: String): DataFrame =
    anomalyDenseDf(Tables.events(s, d))

  /** Same, over any (event_type, ts_us) DataFrame (planted tests). */
  def anomalyDenseDf(events: DataFrame): DataFrame = {
    val hourly = hold(hourlyCounts(events))
    val bounds = hourly.agg(min("hour_idx").as("lo"), max("hour_idx").as("hi"))
    val hours = bounds
      .select(explode(sequence(col("lo"), col("hi"))).as("hour_idx"))
    val dense = hourly.select("event_type").distinct()
      .crossJoin(broadcast(hours))
      .join(hourly, Seq("event_type", "hour_idx"), "left")
      .select(col("event_type"), col("hour_idx"),
        coalesce(col("cnt"), lit(0L)).as("cnt"))
    graft.functions.Caching.releaseAfterAction(anomalyHourlyDf(dense), hourly)
  }

  /** Event-path transition counts: for every consecutive event pair within
    * a user's timeline (ts, event_id order — the sessionize ordering), the
    * (from_type → to_type) transition frequency, ranked. The flow-analysis
    * view behind funnels: where the funnel asserts one ordered path, this
    * reports ALL observed transitions and their volumes.
    *
    * Scale shape: ONE user-keyed window (shuffle + sort per user timeline,
    * identical profile to [[sessionizeDf]]) and an aggregate whose
    * cardinality is event-type² — tiny however large the log. */
  def paths(s: SparkSession, d: String): DataFrame =
    pathsDf(Tables.events(s, d))

  /** Same, over any (user_id, event_id, ts_us, event_type) DataFrame. */
  def pathsDf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    events.select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
      .withColumn("next_type", lead("event_type", 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), asc("from_type"), asc("to_type"))
  }

  /** 30-minute-gap sessionization: lag + conditional cumulative sum — the
    * classic batch sessionize. Two windows over the same (user_id; ts,
    * event_id) ordering → one shuffle + one sort, reused across both.
    * At 100 TB this partitions by user_id (high cardinality, no hot key);
    * the streaming twin with state cleanup is EventStreams.sessionize. */
  def sessionize(s: SparkSession, d: String): DataFrame =
    sessionizeDf(Tables.events(s, d))

  /** As-of join — an operator Spark has no native form of, composed from a
    * union + carry-forward window (preference (a) of the custom-operator
    * ladder: compose before extending Catalyst). For every event, the most
    * recent order at-or-before the event time for the same key:
    * tag both inputs, union, sort each key's timeline once
    * (orders sort before events at equal timestamps, so ties match), and
    * carry the last seen order forward with last(ignoreNulls) over the
    * running frame. ONE shuffle + ONE sort per key — the naive
    * join-filter-argmax alternative is quadratic per key. Orders are
    * pre-deduped to max(o_orderkey) per (key, timestamp) so the match is
    * deterministic on both engines (DuckDB oracle uses native ASOF JOIN).
    * No-match events yield -1 sentinels (keeps the oracle columns integer).
    */
  def asofJoinOrders(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("user_id"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
      .agg(max("o_orderkey").as("o_orderkey"))
    val oTagged = o.select(col("user_id"), col("t"),
      lit(null).cast("long").as("event_id"), col("o_orderkey"), lit(0).as("tag"))
    val eTagged = Tables.events(s, d).select(col("user_id"), col("ts_us").as("t"),
      col("event_id"), lit(null).cast("long").as("o_orderkey"), lit(1).as("tag"))
    val w = Window.partitionBy("user_id").orderBy("t", "tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    oTagged.unionByName(eTagged)
      .withColumn("asof_orderkey", last("o_orderkey", ignoreNulls = true).over(w))
      .withColumn("asof_us",
        last(when(col("tag") === 0, col("t")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("t").as("ts_us"),
        coalesce(col("asof_orderkey"), lit(-1L)).as("asof_orderkey"),
        coalesce(col("asof_us"), lit(-1L)).as("asof_us"))
      .orderBy("event_id")
  }

  /** As-of tolerance: matches older than this are discarded (24 hours). */
  val AsofTolUs: Long = 24L * 3600 * 1000000L

  /** TOLERANCE-bounded as-of join — the as-of recipe with the staleness
    * bound every practical point-in-time join carries (pandas
    * `merge_asof(tolerance=…)`, feature-store PIT lookups): each PURCHASE
    * matches the most recent VIEW at-or-before it on the same user
    * timeline ONLY within [[AsofTolUs]]; staler matches return the
    * no-match sentinel, because yesterday's-before-last browsing should
    * not be credited with today's purchase (this is the attribution-
    * window version of [[attribution]]'s unbounded last-touch). Same
    * union + carry-forward window (one shuffle + one sort per user
    * timeline); the bound is a pure row-local post-condition on the
    * carried match, so the scale shape is unchanged. Views pre-dedup to
    * one per (user, µs) via max(event_id), making ties deterministic on
    * both engines. */
  def asofJoinOrdersTolerance(s: SparkSession, d: String,
      tolUs: Long = AsofTolUs): DataFrame =
    asofViewToleranceDf(Tables.events(s, d), tolUs)

  /** Same, over any (user_id, event_type, ts_us, event_id) frame. */
  def asofViewToleranceDf(events: DataFrame, tolUs: Long = AsofTolUs): DataFrame = {
    val v = events.filter(col("event_type") === "view")
      .groupBy(col("user_id"), col("ts_us").as("t"))
      .agg(max("event_id").as("view_id"))
      .select(col("user_id"), col("t"), lit(null).cast("long").as("event_id"),
        col("view_id"), lit(0).as("tag"))
    val p = events.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_us").as("t"), col("event_id"),
        lit(null).cast("long").as("view_id"), lit(1).as("tag"))
    val w = Window.partitionBy("user_id").orderBy("t", "tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // isNotNull, not >= 0: the no-match case is a NULL carry (the oracle's
    // `v.t IS NOT NULL`); a legitimate pre-epoch (negative-µs) view must
    // still match inside the tolerance.
    val ok = col("vu").isNotNull && col("t") - col("vu") <= tolUs
    v.unionByName(p)
      .withColumn("vid", last("view_id", ignoreNulls = true).over(w))
      .withColumn("vu",
        last(when(col("tag") === 0, col("t")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("t").as("ts_us"),
        when(ok, col("vid")).otherwise(lit(-1L)).as("asof_view_id"),
        when(ok, col("vu")).otherwise(lit(-1L)).as("asof_us"))
      .orderBy("event_id")
  }

  /** A/B EXPERIMENT READOUT — deterministic variant assignment by salted
    * user hash (the same stable-bucketing recipe as [[Pipeline.dataSplit]]:
    * a user's arm never flips as traffic grows, and re-runs reproduce the
    * split exactly), then per-arm conversion: users, converters (≥ 1
    * purchase), and the e4 conversion rate — one integer division's float
    * tail, pinned. Shape: one user-level aggregate (purchase flag via
    * max), then a 2-row arm rollup — the per-user aggregate shuffles once
    * on user_id, the rollup is map-side combined into 2 groups. */
  def experiment(s: SparkSession, d: String): DataFrame =
    experimentDf(Tables.events(s, d))

  /** Same, over any (user_id, event_type) frame (planted-assignment tests). */
  def experimentDf(events: DataFrame): DataFrame = {
    import graft.functions.Fns.polyHash
    val users = events
      .groupBy("user_id")
      .agg(max((col("event_type") === "purchase").cast("long")).as("converted"))
      .withColumn("variant",
        when(pmod(polyHash(concat(lit("exp:"), col("user_id").cast("string"))),
          lit(2L)) === 0L, lit("control")).otherwise(lit("treatment")))
    users.groupBy("variant")
      .agg(count(lit(1)).as("n_users"), sum("converted").as("n_converted"))
      .select(col("variant"), col("n_users"), col("n_converted"),
        round(col("n_converted") * lit(10000.0) / col("n_users")).cast("long")
          .as("rate_e4"))
      .orderBy("variant")
  }

  /** Last-touch attribution — the as-of recipe applied to the question
    * marketing analytics actually asks: every PURCHASE event's value is
    * credited to the last non-purchase TOUCH at-or-before it on the same
    * user timeline, rolled up per touch type ('none' when nothing
    * precedes). Same union + carry-forward window as [[asofJoinOrders]]
    * with the roles swapped (touches carry their type forward, purchases
    * pick it up), so the cost stays ONE shuffle + ONE sort per user
    * timeline — the join-filter-argmax alternative is quadratic per key.
    * Touches pre-dedup to one per (user, µs) via max_by(type, event_id),
    * making the tie winner deterministic on both engines (the oracle's
    * native ASOF picks the same representative; a touch at the purchase's
    * own µs attributes, matching ASOF's >=). */
  def attribution(s: SparkSession, d: String): DataFrame =
    attributionDf(Tables.events(s, d))

  /** Same, over any (user_id, event_type, ts_us, value, event_id) frame. */
  def attributionDf(events: DataFrame): DataFrame = {
    val t = events.filter(col("event_type") =!= "purchase")
      .groupBy(col("user_id"), col("ts_us").as("t"))
      .agg(max_by(col("event_type"), col("event_id")).as("etype"))
      .select(col("user_id"), col("t"), col("etype"),
        lit(null).cast("long").as("val_c"), lit(0).as("tag"))
    val p = events.filter(col("event_type") === "purchase").select(
      col("user_id"), col("ts_us").as("t"),
      lit(null).cast("string").as("etype"),
      graft.functions.Fns.cents(col("value")).as("val_c"),
      lit(1).as("tag"))
    val w = Window.partitionBy("user_id").orderBy("t", "tag")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t.unionByName(p)
      .withColumn("attr_type", last("etype", ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .groupBy(coalesce(col("attr_type"), lit("none")).as("touch_type"))
      .agg(count(lit(1)).as("n_purchases"), sum("val_c").as("value_c"))
      .orderBy("touch_type")
  }

  /** FORWARD as-of join — the mirror of [[asofJoinOrders]]: for every
    * event, the EARLIEST order at-or-after the event time for the same
    * key (the "next action after exposure" direction attribution needs).
    * Same composed shape — union + carry window — with the timeline
    * walked in descending time, so `last(ignoreNulls)` carries the
    * nearest LATER order; orders still sort before events at equal
    * timestamps (tag asc), so ties match in both directions. ONE shuffle
    * + ONE sort per key, like the backward form. DuckDB oracle: native
    * ASOF with the `<=` comparator. */
  def asofJoinOrdersFwd(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("user_id"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
      .agg(max("o_orderkey").as("o_orderkey"))
    val oTagged = o.select(col("user_id"), col("t"),
      lit(null).cast("long").as("event_id"), col("o_orderkey"), lit(0).as("tag"))
    val eTagged = Tables.events(s, d).select(col("user_id"), col("ts_us").as("t"),
      col("event_id"), lit(null).cast("long").as("o_orderkey"), lit(1).as("tag"))
    val w = Window.partitionBy("user_id").orderBy(desc("t"), asc("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    oTagged.unionByName(eTagged)
      .withColumn("next_orderkey", last("o_orderkey", ignoreNulls = true).over(w))
      .withColumn("next_us",
        last(when(col("tag") === 0, col("t")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col("event_id"), col("user_id"), col("t").as("ts_us"),
        coalesce(col("next_orderkey"), lit(-1L)).as("next_orderkey"),
        coalesce(col("next_us"), lit(-1L)).as("next_us"))
      .orderBy("event_id")
  }

  /** NEAREST as-of join — the third merge_asof direction (pandas
    * `direction='nearest'`): for every event, the order whose timestamp
    * is CLOSEST in either direction on the same key, ties to the
    * backward (at-or-before) match. Composed as the backward and forward
    * carries over ONE unioned timeline — the two windows share the
    * user_id partitioning, so Catalyst plans one shuffle with two sorts,
    * not two joins — followed by a pure row-local distance choice.
    * No-match only when the key has no orders at all (-1 sentinels). */
  def asofJoinOrdersNearest(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .groupBy(col("o_custkey").as("user_id"),
        unix_micros(col("o_orderdate").cast("timestamp")).as("t"))
      .agg(max("o_orderkey").as("o_orderkey"))
    val oTagged = o.select(col("user_id"), col("t"),
      lit(null).cast("long").as("event_id"), col("o_orderkey"), lit(0).as("tag"))
    val eTagged = Tables.events(s, d).select(col("user_id"), col("ts_us").as("t"),
      col("event_id"), lit(null).cast("long").as("o_orderkey"), lit(1).as("tag"))
    val wB = Window.partitionBy("user_id").orderBy(asc("t"), asc("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wF = Window.partitionBy("user_id").orderBy(desc("t"), asc("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = oTagged.unionByName(eTagged)
      .withColumn("prev_key", last("o_orderkey", ignoreNulls = true).over(wB))
      .withColumn("prev_us",
        last(when(col("tag") === 0, col("t")), ignoreNulls = true).over(wB))
      .withColumn("next_key", last("o_orderkey", ignoreNulls = true).over(wF))
      .withColumn("next_us",
        last(when(col("tag") === 0, col("t")), ignoreNulls = true).over(wF))
      .filter(col("tag") === 1)
    // Row-local nearest: backward wins ties; a missing side loses.
    val backWins = col("prev_us").isNotNull &&
      (col("next_us").isNull ||
        (col("t") - col("prev_us")) <= (col("next_us") - col("t")))
    merged.select(col("event_id"), col("user_id"), col("t").as("ts_us"),
        when(backWins, col("prev_key"))
          .otherwise(coalesce(col("next_key"), lit(-1L))).as("nearest_orderkey"),
        when(backWins, col("prev_us"))
          .otherwise(coalesce(col("next_us"), lit(-1L))).as("nearest_us"))
      .orderBy("event_id")
  }

  /** Range join — events matched to value bands on `lo <= value < hi`.
    * The band dim here is tiny (7 rows) so the right plan IS the broadcast
    * nested-loop with the range predicate; Catalyst picks it because the
    * broadcast side is literal-sized. For big⋈big range joins the scale
    * recipe is banding: add `band = floor(key / width)` to both sides and
    * equi-join on band before the residual range filter — same trick as the
    * LSH bucketing, expressed with plain columns. Exercised here via bands
    * chosen as powers-of-two widths so the oracle is literal-exact. */
  def rangeJoinBands(s: SparkSession, d: String): DataFrame = {
    val bands = s.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(0L, 0.0, 1.0),
        org.apache.spark.sql.Row(1L, 1.0, 4.0),
        org.apache.spark.sql.Row(2L, 4.0, 16.0),
        org.apache.spark.sql.Row(3L, 16.0, 64.0),
        org.apache.spark.sql.Row(4L, 64.0, 128.0),
        org.apache.spark.sql.Row(5L, 128.0, 256.0),
        org.apache.spark.sql.Row(6L, 256.0, 1024.0)),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("band_id", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("lo", org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("hi", org.apache.spark.sql.types.DoubleType))))
    Tables.events(s, d)
      .join(broadcast(bands), col("value") >= col("lo") && col("value") < col("hi"))
      .groupBy("band_id")
      .agg(count(lit(1)).as("cnt"), sum(cents(col("value"))).as("sum_c"))
      .orderBy("band_id")
  }

  // ---- Z-order data layout (multi-dimensional clustering) ----

  /** Bits per dimension of the Morton (Z-order) key: 16+16 → a 32-bit
    * key, plenty of curve resolution for any real file count (a 100 TB
    * table cuts ~10⁵-10⁶ files ≪ 2³²). */
  val ZorderBits = 16

  /** log2 of the audited bucket (≈ file) count. */
  val ZorderBucketsLog2 = 6

  /** Z-ORDER LAYOUT AUDIT — the data-layout decision a 100 TB event
    * table lives or dies by. Readers prune files by min/max column
    * stats; a time-linear layout (the natural arrival order) gives
    * tight `ts` ranges but every file spans ~the whole `user_id`
    * domain, so a `user_id = X` query scans ALL files. Interleaving
    * the bits of both dimensions into one Morton key (Z-order — the
    * curve behind Delta/Iceberg `OPTIMIZE ZORDER BY`) and cutting
    * files along that key bounds BOTH per-file spans at once, so both
    * access patterns prune. This audit computes, per candidate file
    * bucket under each layout, the row count and the min/max/span of
    * both dimensions — exactly the footer stats a pruner would consult,
    * as one hash-matchable table (`layout ∈ {zorder, linear}`).
    *
    * Everything is integer-exact so both engines agree bit-for-bit.
    * Each dimension normalizes to [0, 2¹⁶) in two integer steps:
    * scale DOWN by quotient `q = range div 65535 + 1` (overflow-safe —
    * a one-step `(v-min)×65535` form overflows int64 once the µs time
    * range exceeds ~4.5 days), then stretch the reduced code over the
    * FULL 16 bits with `×65535 div (range div q)` (both factors
    * ≤ 65535, so the product is ≤ 2³² — exact). The stretch matters:
    * without it a dimension whose domain is small (150 users at test
    * SF) occupies only the LOW key bits, the top-of-key bucket cut
    * never sees it, and the "Z-order" degenerates to a time-only
    * layout with full user spans — measured, not hypothetical. The
    * 32-bit key is a 16-step `aggregate` fold over codegen'd
    * shift/mask arithmetic (no UDF), and buckets are fixed-width key
    * ranges (`zkey >> 26` for 64 buckets — NOT quantile sampling,
    * which is nondeterministic).
    * Scale shape: one tiny 4-value global aggregate broadcast back
    * (the only "model"), then one (layout, bucket)-keyed map-side-
    * combined rollup per layout over the column-pruned 3-column scan —
    * ≤128 groups total, no other shuffle. The WRITE action this audit
    * prices is [[zorderClustered]]. */
  def zorderLayout(s: SparkSession, d: String): DataFrame =
    zorderLayoutDf(Tables.events(s, d))

  /** Same over any events DataFrame with (event_id, user_id, ts_us);
    * `bucketsLog2` is exposed so a planted test can audit at full key
    * resolution (shift 0 → bucket = zkey, hand-checkable). */
  def zorderLayoutDf(events: DataFrame,
      bucketsLog2: Int = ZorderBucketsLog2): DataFrame = {
    val maxCode = (1 << ZorderBits) - 1 // 65535
    val nb = 1L << bucketsLog2
    val shift = math.max(0, 2 * ZorderBits - bucketsLog2)
    val e = events.select(col("event_id"),
      col("user_id").as("u"), col("ts_us").as("t"))
    val st = e.agg(min("u").as("minu"), max("u").as("maxu"),
      min("t").as("mint"), max("t").as("maxt"))
    val nrm = e.crossJoin(broadcast(st))
      .withColumn("qu", expr(s"(maxu - minu) div $maxCode + 1"))
      .withColumn("qt", expr(s"(maxt - mint) div $maxCode + 1"))
      .select(col("u"), col("t"),
        expr(s"((u - minu) div qu) * $maxCode div " +
          "greatest(1L, (maxu - minu) div qu)").as("ua"),
        expr(s"((t - mint) div qt) * $maxCode div " +
          "greatest(1L, (maxt - mint) div qt)").as("ta"),
        expr(s"(t - mint) div ((maxt - mint) div $nb + 1)").as("lb"))
    // Unrolled Morton sum (codegen) instead of the interpreted HOF fold;
    // nrm persists so the scan + normalization runs once for the two
    // layout branches instead of once per branch (guide §1.2 step 2, §5).
    val nrmP = hold(nrm)
    val z = nrmP.select(col("u"), col("t"),
      expr(s"shiftright(${mortonFlatExpr(Seq("ua", "ta"), ZorderBits)}, " +
        s"$shift)").as("bucket"))
    graft.functions.Caching.releaseAfterAction(
      layoutAudit(z, "zorder")
        .unionByName(layoutAudit(nrmP.select(col("u"), col("t"),
          col("lb").as("bucket")), "linear"))
        .orderBy("layout", "bucket"),
      nrmP)
  }

  /** Per-bucket footer-stat rollup shared by the layout audits: for a
    * (bucket, u, t) frame, the count and min/max/span of both
    * dimensions under the given layout label. */
  private def layoutAudit(rows: DataFrame, layout: String): DataFrame =
    rows.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"),
        min("u").as("min_u"), max("u").as("max_u"),
        min("t").as("min_t"), max("t").as("max_t"))
      .select(lit(layout).as("layout"), col("bucket"), col("n"),
        col("min_u"), col("max_u"),
        (col("max_u") - col("min_u")).as("span_u"),
        col("min_t"), col("max_t"),
        (col("max_t") - col("min_t")).as("span_t"))

  /** Bits per dimension of the Hilbert key: 15+15 → a 30-bit key.
    * One bit fewer than Z-order so the fold's PACKED state
    * (x | y<<16 | d<<32, d < 2³⁰) stays clear of the int64 sign bit —
    * both engines then agree on every shift with no unsigned
    * semantics in play. */
  val HilbertBits = 15

  /** The xy2d Hilbert fold over pre-normalized `ua`/`ta` code columns
    * (each in [0, 2^[[HilbertBits]])): state is ONE packed int64 (x in
    * bits 0-14, y in 16-30, d in 32-61); each step unpacks with
    * shift/mask, applies the classic quadrant step, and repacks. The
    * final shiftright by `32 + extraShift` extracts d AND cuts the
    * bucket range in one move (`extraShift = 0` yields the raw 30-bit
    * key — the clustered writer's form). Shared by the audit and
    * [[hilbertClustered]]. */
  /** One xy2d quadrant step of the Hilbert fold at LITERAL bit index
    * `i`, over a packed working column `hacc` — the loop body of
    * the classic fold with `acc` a real column instead of a lambda
    * variable. */
  private def hilbertStepExpr(i: Int): String = {
    val m = (1 << HilbertBits) - 1
    s"(CASE WHEN (shiftright(shiftright(hacc, 16) & $m, $i) & 1) = 1 " +
      s"THEN hacc & $m " +
      s"WHEN (shiftright(hacc & $m, $i) & 1) = 1 " +
      s"THEN $m - (shiftright(hacc, 16) & $m) " +
      s"ELSE shiftright(hacc, 16) & $m END) | " +
      s"shiftleft(CASE WHEN (shiftright(shiftright(hacc, 16) & $m, $i) & 1) = 1 " +
      s"THEN shiftright(hacc, 16) & $m " +
      s"WHEN (shiftright(hacc & $m, $i) & 1) = 1 " +
      s"THEN $m - (hacc & $m) " +
      s"ELSE hacc & $m END, 16) | " +
      s"shiftleft(shiftright(hacc, 32) + " +
      s"shiftleft((3 * (shiftright(hacc & $m, $i) & 1)) ^ " +
      s"(shiftright(shiftright(hacc, 16) & $m, $i) & 1), 2 * $i), 32)"
  }

  /** The Hilbert key as CHAINED PROJECTIONS — identical arithmetic to
    * the classic xy2d fold, unrolled so it runs in whole-stage
    * codegen: the `aggregate` HOF is CodegenFallback (an interpreted
    * lambda loop plus a materialized 15-element array per row), while
    * 15 chained column steps stay one codegen stage with the packed
    * state a local BIGINT per step (the optimizer does not inline a
    * multiply-referenced non-trivial alias, so the tree stays linear).
    * Needs `ua`/`ta` code columns; adds `out` and drops the working
    * column. */
  private def withHilbertKey(df: DataFrame, out: String,
      extraShift: Int): DataFrame = {
    val start = df.withColumn("hacc", expr("ua | shiftleft(ta, 16)"))
    val folded = (HilbertBits - 1 to 0 by -1).foldLeft(start) { (acc, i) =>
      acc.withColumn("hacc", expr(hilbertStepExpr(i)))
    }
    folded.withColumn(out, expr(s"shiftright(hacc, ${32 + extraShift})"))
      .drop("hacc")
  }

  /** HILBERT LAYOUT AUDIT — [[zorderLayout]]'s comparison extended
    * with the stronger curve. Z-order's bit-interleave has long
    * jumps (adjacent keys can be far apart in space), so bucket
    * bounding boxes carry occasional outliers; the Hilbert curve
    * visits cells in a path where consecutive keys are ALWAYS
    * spatially adjacent — the curve behind Databricks liquid
    * clustering — giving tighter worst-case per-file spans at the
    * same bucket count. This audit prices hilbert vs zorder vs
    * linear in one table at a common 15-bit-per-dimension code.
    *
    * The Hilbert index is inherently SEQUENTIAL per bit level (each
    * level rotates/reflects the frame for the next), so unlike the
    * independent-bit Morton sum it needs a true fold: state is ONE
    * packed int64 (x in bits 0-14, y in 16-30, d in 32-61), each of
    * the 15 steps unpacks with shift/mask, applies the classic xy2d
    * quadrant step (d += 4^i·((3·rx) xor ry), then the conditional
    * reflect-and-swap), and repacks — pure integer CASE/shift/mask
    * arithmetic that Spark's `aggregate` HOF and the oracle's
    * list_reduce both express exactly (no UDF; the packed form keeps
    * the accumulator a plain BIGINT in both engines). Same audit
    * shape and scale profile as [[zorderLayout]]. */
  def hilbertLayout(s: SparkSession, d: String): DataFrame =
    hilbertLayoutDf(Tables.events(s, d))

  /** Same over any events DataFrame with (event_id, user_id, ts_us). */
  def hilbertLayoutDf(events: DataFrame,
      bucketsLog2: Int = ZorderBucketsLog2): DataFrame = {
    val maxCode = (1 << HilbertBits) - 1 // 32767
    val nb = 1L << bucketsLog2
    val shift = math.max(0, 2 * HilbertBits - bucketsLog2)
    val e = events.select(col("event_id"),
      col("user_id").as("u"), col("ts_us").as("t"))
    val st = e.agg(min("u").as("minu"), max("u").as("maxu"),
      min("t").as("mint"), max("t").as("maxt"))
    val nrm = e.crossJoin(broadcast(st))
      .withColumn("qu", expr(s"(maxu - minu) div $maxCode + 1"))
      .withColumn("qt", expr(s"(maxt - mint) div $maxCode + 1"))
      .select(col("u"), col("t"),
        expr(s"((u - minu) div qu) * $maxCode div " +
          "greatest(1L, (maxu - minu) div qu)").as("ua"),
        expr(s"((t - mint) div qt) * $maxCode div " +
          "greatest(1L, (maxt - mint) div qt)").as("ta"),
        expr(s"(t - mint) div ((maxt - mint) div $nb + 1)").as("lb"))
    // the xy2d step over the packed state; rx/ry read bit i of the
    // packed x/y, the CASE pair is rot()'s reflect-and-swap. The fold is
    // UNROLLED into chained projections ([[withHilbertKey]]) and the
    // Morton sum into flat literal-index terms — both run in whole-stage
    // codegen where the aggregate() HOF is interpreted per row; nrm
    // persists so the scan + normalization runs once for the three
    // layout branches (guide §1.2 step 2, §5).
    val nrmP = hold(nrm)
    val h = withHilbertKey(nrmP.select(col("u"), col("t"), col("ua"),
        col("ta")), "bucket", shift)
      .select("u", "t", "bucket")
    val z = nrmP.select(col("u"), col("t"),
      expr(s"shiftright(${mortonFlatExpr(Seq("ua", "ta"), HilbertBits)}, " +
        s"$shift)").as("bucket"))
    graft.functions.Caching.releaseAfterAction(
      layoutAudit(h, "hilbert")
        .unionByName(layoutAudit(nrmP.select(col("u"), col("t"),
          col("lb").as("bucket")), "linear"))
        .unionByName(layoutAudit(z, "zorder"))
        .orderBy("layout", "bucket"),
      nrmP)
  }

  /** How many probe users the skip eval prices a point query for. */
  val ZorderSkipProbes = 10

  /** LAYOUT SKIP EVAL — the audit's spans reduced to the one number an
    * operator sizes storage by: for the [[ZorderSkipProbes]] lowest
    * user ids (a deterministic probe set), what FRACTION of candidate
    * files must a `user_id = X` point query scan under each layout?
    * A file is scanned iff the probe falls inside its [min_u, max_u]
    * footer range — exactly min/max pruning. Output: one row per
    * layout with the bucket/probe counts, total scanned, and the e4
    * scan fraction. The honest number (the audit's spans could in
    * principle overlap pathologically; this measures the actual probe
    * hit rate). Scale shape: the audit's ≤128-row bucket table
    * cross-joined with a ≤10-row broadcast probe list — driver-free,
    * constant-size. */
  def zorderSkipEval(s: SparkSession, d: String): DataFrame =
    zorderSkipEvalDf(Tables.events(s, d))

  /** Same over any events DataFrame with (event_id, user_id, ts_us). */
  def zorderSkipEvalDf(events: DataFrame,
      bucketsLog2: Int = ZorderBucketsLog2,
      nProbes: Int = ZorderSkipProbes): DataFrame = {
    val audit = zorderLayoutDf(events, bucketsLog2)
    val probes = events.select(col("user_id").as("pu"))
      .distinct().orderBy("pu").limit(nProbes)
    audit.crossJoin(broadcast(probes))
      .groupBy("layout")
      .agg(
        countDistinct("bucket").as("n_buckets"),
        countDistinct("pu").as("n_probes"),
        sum(when(col("pu").between(col("min_u"), col("max_u")), 1L)
          .otherwise(0L)).as("scanned"))
      .select(col("layout"), col("n_buckets"), col("n_probes"),
        col("scanned"),
        expr("scanned * 10000 div (n_buckets * n_probes)").as("scan_e4"))
      .orderBy("layout")
  }

  /** LAYOUT TRADE-OFF EVAL — the full decision table: scan fraction
    * under EVERY layout (hilbert, linear, zorder — [[hilbertLayout]]'s
    * three-way audit) for BOTH query shapes (`user_point`: the ten
    * lowest user ids; `time_range`: ten deterministic equal-spaced
    * windows each 1/64 of the time range). A bucket is scanned iff the
    * probe value lands in its [min_u, max_u] (point) or its
    * [min_t, max_t] overlaps the window (range) — min/max pruning for
    * each shape. This is the table a storage owner actually decides
    * from: linear wins pure time scans, the curves win point-user
    * lookups, and the e4 fractions quantify BOTH sides of that trade
    * instead of advertising one. Constant-size: ≤192 audit rows × ≤20
    * broadcast probes. */
  def layoutTradeoffEval(s: SparkSession, d: String): DataFrame =
    layoutTradeoffEvalDf(Tables.events(s, d))

  /** Same over any events DataFrame with (event_id, user_id, ts_us). */
  def layoutTradeoffEvalDf(events: DataFrame,
      bucketsLog2: Int = ZorderBucketsLog2,
      nProbes: Int = ZorderSkipProbes): DataFrame = {
    // NOT persisted: the audit feeds both probe rollups, but its heavy
    // half (the scan + normalization) is already cached INSIDE
    // hilbertLayoutDf (nrmP), so the re-evaluation the second rollup
    // pays is only the per-layout rollup aggregates — and stacking a
    // second persist on top measured SLOWER (2.5 → 3.2 s full-bench
    // chunk), the cache fill serializing what the two rollups otherwise
    // overlap.
    val audit = hilbertLayoutDf(events, bucketsLog2)
    val userProbes = events.select(col("user_id").as("pv"))
      .distinct().orderBy("pv").limit(nProbes)
    val timeProbes = events
      .agg(min("ts_us").as("mint"), max("ts_us").as("maxt"))
      .select(explode(sequence(lit(0), lit(nProbes - 1))).as("k"),
        col("mint"), col("maxt"))
      .select(
        expr(s"mint + k * ((maxt - mint) div $nProbes)").as("ps"),
        expr(s"mint + k * ((maxt - mint) div $nProbes) + " +
          s"((maxt - mint) div ${1L << ZorderBucketsLog2})").as("pe"))
      // a degenerate time range collapses probes onto the same window;
      // dedup so `scanned` and `n_probes` count the same probe set
      .distinct()
    def rollup(probes: DataFrame, kind: String, scannedIf: Column,
        probeId: String) =
      audit.crossJoin(broadcast(probes))
        .groupBy("layout")
        .agg(countDistinct("bucket").as("n_buckets"),
          countDistinct(probeId).as("n_probes"),
          sum(when(scannedIf, 1L).otherwise(0L)).as("scanned"))
        .select(col("layout"), lit(kind).as("probe"), col("n_buckets"),
          col("n_probes"), col("scanned"),
          expr("scanned * 10000 div (n_buckets * n_probes)").as("scan_e4"))
    rollup(userProbes, "user_point",
        col("pv").between(col("min_u"), col("max_u")), "pv")
      .unionByName(rollup(timeProbes, "time_range",
        col("min_t") <= col("pe") && col("max_t") >= col("ps"), "ps"))
      .orderBy("layout", "probe")
  }

  /** The WRITE side of [[zorderLayout]]: the events frame physically
    * clustered for data skipping — range-partitioned on the Morton key
    * (each output file owns one contiguous key range) and sorted within
    * partitions, so every file's min/max footer stats are tight on BOTH
    * `user_id` and `ts`. `repartitionByRange` samples boundaries, which
    * is fine for a writer (the LAYOUT need not be deterministic, only
    * the data); the deterministic fixed-width audit above is what the
    * oracle checks. At 100 TB this is the compaction job's shape:
    * one range shuffle, no global sort. */
  def zorderClustered(events: DataFrame, nFiles: Int): DataFrame = {
    val maxCode = (1 << ZorderBits) - 1
    val st = events.agg(
      min("user_id").as("minu"), max("user_id").as("maxu"),
      min("ts_us").as("mint"), max("ts_us").as("maxt"))
    events.crossJoin(broadcast(st))
      .withColumn("qu", expr(s"(maxu - minu) div $maxCode + 1"))
      .withColumn("qt", expr(s"(maxt - mint) div $maxCode + 1"))
      .withColumn("ua",
        expr(s"((user_id - minu) div qu) * $maxCode div " +
          "greatest(1L, (maxu - minu) div qu)"))
      .withColumn("ta",
        expr(s"((ts_us - mint) div qt) * $maxCode div " +
          "greatest(1L, (maxt - mint) div qt)"))
      .withColumn("zkey",
        expr(mortonFlatExpr(Seq("ua", "ta"), ZorderBits)))
      .drop("minu", "maxu", "mint", "maxt", "qu", "qt", "ua", "ta")
      .repartitionByRange(nFiles, col("zkey"))
      .sortWithinPartitions("zkey")
  }

  /** The WRITE side of [[hilbertLayout]] — [[zorderClustered]]'s twin on
    * the stronger curve: normalize to 15-bit codes, fold the Hilbert
    * key, range-partition on it and sort within partitions. Hilbert's
    * key-ADJACENCY (consecutive keys are always spatially adjacent) is
    * precisely a WRITER's property: a compaction job that merges
    * neighboring key ranges merges spatially adjacent data, which
    * Morton's long jumps cannot promise. Same one-range-shuffle
    * compaction shape as the z-order writer. */
  def hilbertClustered(events: DataFrame, nFiles: Int): DataFrame = {
    val maxCode = (1 << HilbertBits) - 1
    val st = events.agg(
      min("user_id").as("minu"), max("user_id").as("maxu"),
      min("ts_us").as("mint"), max("ts_us").as("maxt"))
    events.crossJoin(broadcast(st))
      .withColumn("qu", expr(s"(maxu - minu) div $maxCode + 1"))
      .withColumn("qt", expr(s"(maxt - mint) div $maxCode + 1"))
      .withColumn("ua",
        expr(s"((user_id - minu) div qu) * $maxCode div " +
          "greatest(1L, (maxu - minu) div qu)"))
      .withColumn("ta",
        expr(s"((ts_us - mint) div qt) * $maxCode div " +
          "greatest(1L, (maxt - mint) div qt)"))
      .transform(withHilbertKey(_, "hkey", 0))
      .drop("minu", "maxu", "mint", "maxt", "qu", "qt", "ua", "ta")
      .repartitionByRange(nFiles, col("hkey"))
      .sortWithinPartitions("hkey")
  }

  // ---- N-column clustering (the `OPTIMIZE ZORDER BY (c1, …, cN)`
  //      surface: Delta/Iceberg take any column list, and the events
  //      table has a third pruning-worthy dimension sitting right there) ----

  /** Morton-key SQL over pre-normalized code columns `c_<alias>` (each
    * in [0, 2^bits)): bit i of dimension k lands at key bit n·i + k.
    * Emitted as a FLAT sum with literal bit indices, not an
    * `aggregate(sequence(...))` fold: higher-order functions are
    * CodegenFallback — every row pays an interpreted lambda loop plus a
    * materialized 0..bits-1 array — while the unrolled sum of n·bits
    * shift/mask terms runs inside whole-stage codegen (identical
    * integers, the bits are independent). Shared by the N-D audit and
    * the N-D clustered writer; [[mortonFlatExpr]] is the same unroll for
    * the 2-D audits' ua/ta columns. */
  private def mortonKeyExpr(aliases: Seq[String], bits: Int): String =
    mortonFlatExpr(aliases.map(a => s"c_$a"), bits)

  /** The flat Morton sum over arbitrary code columns (see
    * [[mortonKeyExpr]]): Σ_{i,k} ((col_k >> i) & 1) << (n·i + k). */
  private def mortonFlatExpr(cols: Seq[String], bits: Int): String = {
    val n = cols.size
    (0 until bits).flatMap { i =>
      cols.zipWithIndex.map { case (c, k) =>
        s"shiftleft(shiftright($c, $i) & 1, ${n * i + k})" }
    }.mkString(" + ")
  }

  /** The divide-first integer normalization of [[zorderLayoutDf]] for
    * one dimension: scale down by quotient (overflow-safe), stretch over
    * the full `maxCode` bits (small-domain dimensions must reach the top
    * key bits — see the 2-D audit's docstring). */
  private def dimCodeExpr(a: String, maxCode: Int): String =
    s"((($a - mn_$a) div ((mx_$a - mn_$a) div $maxCode + 1)) * $maxCode) " +
      s"div greatest(1L, (mx_$a - mn_$a) div ((mx_$a - mn_$a) div $maxCode + 1))"

  /** Per-bucket rollup for N dims: count plus min/max/span of every
    * dimension — [[layoutAudit]] generalized. */
  private def auditN(rows: DataFrame, aliases: Seq[String],
      layout: String): DataFrame = {
    val aggs = count(lit(1)).as("n") +: aliases.flatMap(a =>
      Seq(min(a).as(s"min_$a"), max(a).as(s"max_$a")))
    val sel = Seq(lit(layout).as("layout"), col("bucket"), col("n")) ++
      aliases.flatMap(a => Seq(col(s"min_$a"), col(s"max_$a"),
        (col(s"max_$a") - col(s"min_$a")).as(s"span_$a")))
    rows.groupBy(col("bucket")).agg(aggs.head, aggs.tail: _*).select(sel: _*)
  }

  /** N-DIMENSIONAL Z-ORDER AUDIT — [[zorderLayoutDf]] generalized to any
    * list of long dimensions at bits-per-dim = 30/n (2 → 15, 3 → 10;
    * the key stays ≤ 30 bits so every shift is sign-safe in both
    * engines). Same integer-exact normalization, same fixed-width
    * bucket cut, same per-bucket footer-stat rollup — now with
    * min/max/span per DIMENSION — against a `linear` twin cut on
    * `linearCut` (time, by convention). Scale shape identical to the
    * 2-D audit: one 2n-value broadcast aggregate + one ≤2·2^bucketsLog2
    * group map-side rollup per layout. */
  def zorderLayoutNDf(rows: DataFrame, aliases: Seq[String],
      bucketsLog2: Int = ZorderBucketsLog2,
      linearCut: String = "t"): DataFrame = {
    val n = aliases.size
    // >30 dims would give bits = 0 → maxCode = 0, and the normalization's
    // `div 0` evaluates to NULL under Spark SQL — every row would silently
    // land in one null bucket. Fail loudly instead.
    require(n >= 1 && 30 / n >= 1,
      s"zorder audit needs 1..30 dimensions, got $n")
    val bits = 30 / n
    val maxCode = (1 << bits) - 1
    val nb = 1L << bucketsLog2
    val shift = math.max(0, n * bits - bucketsLog2)
    val e = rows.select(aliases.map(col): _*)
    val aggs = aliases.flatMap(a => Seq(min(a).as(s"mn_$a"), max(a).as(s"mx_$a")))
    val st = e.agg(aggs.head, aggs.tail: _*)
    val nrm = e.crossJoin(broadcast(st)).select(
      (aliases.map(col) ++ aliases.map(a =>
        expr(dimCodeExpr(a, maxCode)).as(s"c_$a")) :+
        expr(s"($linearCut - mn_$linearCut) div " +
          s"((mx_$linearCut - mn_$linearCut) div $nb + 1)").as("lb")): _*)
    val z = nrm.select((aliases.map(col) :+
      expr(s"shiftright(${mortonKeyExpr(aliases, bits)}, $shift)")
        .as("bucket")): _*)
    auditN(z, aliases, "zorder")
      .unionByName(auditN(nrm.withColumnRenamed("lb", "bucket"), aliases, "linear"))
      .orderBy("layout", "bucket")
  }

  /** 3-D Z-ORDER AUDIT over (user_id, ts, event_type) — the third
    * dimension the 2-D audits leave on the table: `event_type` enters
    * as its dense alphabetical code (both engines compute the same
    * ranks over the same tiny distinct set), so a `event_type = X`
    * scan can prune on footer stats exactly like the user/time
    * dimensions. 10 bits per dimension, same 64-bucket cut. */
  def zorderLayout3d(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val rows = e.join(broadcast(eventTypeCodes(e)), "event_type")
      .select(col("user_id").as("u"), col("ts_us").as("t"), col("c"))
    zorderLayoutNDf(rows, Seq("u", "t", "c"))
  }

  /** Dense alphabetical code `c` per event_type — the ONE definition the
    * 3-D audit and the measured-layout tool (`graft.LayoutMeasure`)
    * share, so the clustering dimension cannot drift between the
    * hash-matched model and the measurement. The distinct set is
    * |event types|-sized (constant-bounded, never data-sized), so the
    * code table is a DRIVER-BOUNDED collect + literal frame — the
    * decision-table pattern — instead of the r16 unpartitioned
    * dense_rank window (an Exchange SinglePartition the PlanSpec sweep
    * had to allowlist). The ordering collect stays IN Spark
    * (orderBy("event_type")) so the code assignment is byte-identical
    * to the engine's string collation the rank used. */
  def eventTypeCodes(events: DataFrame): DataFrame = {
    import events.sparkSession.implicits._
    events.select("event_type").distinct().orderBy("event_type")
      .collect().toSeq.map(_.getString(0))
      .zipWithIndex.map { case (t, i) => (t, i.toLong) }
      .toDF("event_type", "c")
  }

  // ---- the measured-layout tools' SHARED source frame and probe sets
  //      (graft.LayoutMeasure, graft.LayoutRowGroups): one definition,
  //      so the row-group-granularity numbers stay comparable to the
  //      file-granularity numbers they are read against ----

  /** Source frame for the layout measurement tools: events plus the
    * dense type code, so type-point pruning is measurable under every
    * layout, clustered on it or not. */
  def layoutMeasureSource(e0: DataFrame): DataFrame =
    e0.join(broadcast(eventTypeCodes(e0)), "event_type")
      .select(col("event_id"), col("user_id"), col("ts_us"), col("c"))

  /** The [[ZorderSkipProbes]] lowest distinct user ids, as the `pv`
    * column [[fileSkipFractionDf]] expects. */
  def layoutUserProbes(events: DataFrame): DataFrame =
    events.select(col("user_id").as("pv"))
      .distinct().orderBy("pv").limit(ZorderSkipProbes)

  /** [[ZorderSkipProbes]] evenly-spaced time windows of one
    * 2^[[ZorderBucketsLog2]]-th of the range each, as the (ps, pe)
    * columns [[fileRangeScanFractionDf]] expects. */
  def layoutTimeProbes(events: DataFrame): DataFrame = {
    val nProbes = ZorderSkipProbes
    val nb = 1L << ZorderBucketsLog2
    events
      .agg(min("ts_us").as("mint"), max("ts_us").as("maxt"))
      .select(explode(sequence(lit(0), lit(nProbes - 1))).as("k"),
        col("mint"), col("maxt"))
      .select(
        expr(s"mint + k * ((maxt - mint) div $nProbes)").as("ps"),
        expr(s"mint + k * ((maxt - mint) div $nProbes) + " +
          s"((maxt - mint) div $nb)").as("pe"))
      .distinct()
  }

  /** 3-D LAYOUT SKIP EVAL — [[layoutTradeoffEvalDf]]'s decision table
    * extended with the third dimension: the [[zorderLayout3d]] audit
    * reduced to scan fractions for user-point, time-range AND
    * type-point probes under the 3-D curve vs time-linear. This is the
    * MODELED twin of `graft.LayoutMeasure`'s measured three-probe
    * table, hash-matched — what the 3-D key buys (type-point pruning
    * neither 2-D layout has) and what it costs (point/range dilution at
    * 10 bits per dimension), as one 6-row result. Constant-size: the
    * ≤128-row audit (persisted across its three rollups — one corpus
    * scan, not three) × ≤10/≤10/type-count broadcast probes. */
  def layoutSkip3dEval(s: SparkSession, d: String): DataFrame = {
    val e = Tables.events(s, d)
    val codes = eventTypeCodes(e)
    // rows feeds the audit AND both data-derived probe sets — persist so
    // the events scan + type-code join runs once, not four times
    val rows = hold(e.join(broadcast(codes), "event_type")
      .select(col("user_id").as("u"), col("ts_us").as("t"), col("c")))
    val audit = hold(zorderLayoutNDf(rows, Seq("u", "t", "c")))
    val nProbes = ZorderSkipProbes
    val nb = 1L << ZorderBucketsLog2
    val userProbes = rows.select(col("u").as("pv"))
      .distinct().orderBy("pv").limit(nProbes)
    val typeProbes = codes.select(col("c").as("pv"))
    val timeProbes = rows.agg(min("t").as("mint"), max("t").as("maxt"))
      .select(explode(sequence(lit(0), lit(nProbes - 1))).as("k"),
        col("mint"), col("maxt"))
      .select(
        expr(s"mint + k * ((maxt - mint) div $nProbes)").as("ps"),
        expr(s"mint + k * ((maxt - mint) div $nProbes) + " +
          s"((maxt - mint) div $nb)").as("pe"))
      .distinct()
    def pointRollup(probes: DataFrame, kind: String, dim: String) =
      audit.crossJoin(broadcast(probes)).groupBy("layout")
        .agg(countDistinct("bucket").as("n_buckets"),
          countDistinct("pv").as("n_probes"),
          sum(when(col("pv").between(col(s"min_$dim"), col(s"max_$dim")), 1L)
            .otherwise(0L)).as("scanned"))
        .select(col("layout"), lit(kind).as("probe"), col("n_buckets"),
          col("n_probes"), col("scanned"),
          expr("scanned * 10000 div (n_buckets * n_probes)").as("scan_e4"))
    val rangeRollup =
      audit.crossJoin(broadcast(timeProbes)).groupBy("layout")
        .agg(countDistinct("bucket").as("n_buckets"),
          // probe identity is the (ps, pe) PAIR (the fraction can never
          // exceed 10000 e4); pe is ps-functional here so the oracle's
          // count(DISTINCT ps) agrees
          countDistinct(col("ps"), col("pe")).as("n_probes"),
          sum(when(col("min_t") <= col("pe") && col("max_t") >= col("ps"), 1L)
            .otherwise(0L)).as("scanned"))
        .select(col("layout"), lit("time_range").as("probe"),
          col("n_buckets"), col("n_probes"), col("scanned"),
          expr("scanned * 10000 div (n_buckets * n_probes)").as("scan_e4"))
    graft.functions.Caching.releaseAfterAction(
      pointRollup(userProbes, "user_point", "u")
        .unionByName(rangeRollup)
        .unionByName(pointRollup(typeProbes, "type_point", "c"))
        .orderBy("layout", "probe"),
      audit, rows)
  }

  /** N-column clustered WRITER — [[zorderClustered]] generalized to any
    * long-dimension list at 30/n bits per dim: normalize each dim,
    * interleave, range-partition on the key, sort within partitions.
    * Keeps every input column (plus `zkey`); same one-range-shuffle
    * compaction-job shape. */
  def zorderClusteredN(events: DataFrame, dims: Seq[String],
      nFiles: Int): DataFrame = {
    // Same loud guard as the N-D audit: >30 dims → bits = 0 → div-by-zero
    // NULL codes → every row in one null zkey file.
    require(dims.nonEmpty && 30 / dims.size >= 1,
      s"zorder writer needs 1..30 dimensions, got ${dims.size}")
    val bits = 30 / dims.size
    val maxCode = (1 << bits) - 1
    val aggs = dims.flatMap(a => Seq(min(a).as(s"mn_$a"), max(a).as(s"mx_$a")))
    val st = events.agg(aggs.head, aggs.tail: _*)
    val coded = dims.foldLeft(events.crossJoin(broadcast(st))) { (df, a) =>
      df.withColumn(s"c_$a", expr(dimCodeExpr(a, maxCode)))
    }
    coded
      .withColumn("zkey", expr(mortonKeyExpr(dims, bits)))
      .drop(dims.flatMap(a => Seq(s"mn_$a", s"mx_$a", s"c_$a")): _*)
      .repartitionByRange(nFiles, col("zkey"))
      .sortWithinPartitions("zkey")
  }

  /** FILE-LEVEL audit of a WRITTEN parquet directory: per actual file
    * (`input_file_name()`), the row count and min/max/span of every
    * dimension — the REAL footer stats a pruner consults. The bucket
    * audits above MODEL the layout; this measures the artifact the
    * writer produced, after file sizing, row-group boundaries and the
    * range partitioner's sampling have had their say. Driver-free:
    * one file-keyed map-side rollup, output is file-count-sized. */
  def fileLayoutAuditDf(written: DataFrame, dims: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n") +: dims.flatMap(a =>
      Seq(min(a).as(s"min_$a"), max(a).as(s"max_$a")))
    written
      .withColumn("file", input_file_name())
      .groupBy("file")
      .agg(aggs.head, aggs.tail: _*)
      .select((Seq(col("file"), col("n")) ++ dims.flatMap(a =>
        Seq(col(s"min_$a"), col(s"max_$a"),
          (col(s"max_$a") - col(s"min_$a")).as(s"span_$a")))): _*)
      .orderBy("file")
  }

  /** Measured scan fraction over a FILE audit: of the (file, probe)
    * pairs, how many must a `dim = probe` point query scan under
    * min/max pruning — the end-to-end number the bucket-level
    * [[zorderSkipEvalDf]] models. `probes` must carry one `pv` column. */
  def fileSkipFractionDf(fileAudit: DataFrame, probes: DataFrame,
      dim: String): DataFrame =
    fileAudit.crossJoin(broadcast(probes))
      .agg(countDistinct("file").as("n_files"),
        countDistinct("pv").as("n_probes"),
        coalesce(sum(when(col("pv").between(col(s"min_$dim"), col(s"max_$dim")),
          1L).otherwise(0L)), lit(0L)).as("scanned"))
      .select(col("n_files"), col("n_probes"), col("scanned"),
        when(col("n_files") * col("n_probes") === 0L, 0L)
          .otherwise(expr("scanned * 10000 div (n_files * n_probes)"))
          .as("scan_e4"))

  /** Measured time-RANGE scan fraction over a FILE audit: `probes` must
    * carry (ps, pe) window bounds; a file is scanned iff its
    * [min_dim, max_dim] overlaps the window. The probe identity is the
    * (ps, pe) PAIR — two windows sharing a start are two probes, so the
    * fraction can never exceed 10000 e4. */
  def fileRangeScanFractionDf(fileAudit: DataFrame, probes: DataFrame,
      dim: String): DataFrame =
    fileAudit.crossJoin(broadcast(probes))
      .agg(countDistinct("file").as("n_files"),
        countDistinct(col("ps"), col("pe")).as("n_probes"),
        coalesce(sum(when(col(s"min_$dim") <= col("pe") &&
          col(s"max_$dim") >= col("ps"), 1L).otherwise(0L)), lit(0L))
          .as("scanned"))
      .select(col("n_files"), col("n_probes"), col("scanned"),
        when(col("n_files") * col("n_probes") === 0L, 0L)
          .otherwise(expr("scanned * 10000 div (n_files * n_probes)"))
          .as("scan_e4"))

  /** Same over any events DataFrame with (user_id, event_id, ts_us). */
  /** Sessionization through Spark's NATIVE `session_window` operator —
    * the same 30-minute-gap semantics as [[sessionize]], expressed as the
    * built-in merging-window aggregate instead of the lag+cumsum
    * composition (the operator a Structured Streaming session pipeline
    * would use verbatim; here it runs in batch). Boundary semantics
    * pinned by planted test: the operator merges on INCLUSIVE overlap —
    * a gap of exactly 30:00.000000 still merges — which is the SAME
    * split rule as the lag form's strict `>`, so the two sessionizers
    * partition identically everywhere. Output carries the operator's
    * window: start = first event, end = last event + gap. */
  def sessionizeNative(s: SparkSession, d: String): DataFrame =
    sessionizeNativeDf(Tables.events(s, d))

  /** Same, over any (user_id, ts_us) frame (planted tests). */
  def sessionizeNativeDf(events: DataFrame): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(timestamp_micros(col("ts_us")), "30 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"),
        unix_micros(col("w.start")).as("start_us"),
        unix_micros(col("w.end")).as("end_us"),
        col("n_events"))
      .orderBy("user_id", "start_us")

  def sessionizeDf(events: DataFrame): DataFrame = {
    val order = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val run = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events
      .select(col("user_id"), col("event_id"), col("ts_us"))
      .withColumn("new_s",
        when(col("ts_us") - lag("ts_us", 1).over(order) > SessionGapUs, lit(1L))
          .otherwise(lit(0L)))
      .withColumn("session_id", sum("new_s").over(run))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"),
        max("ts_us").as("end_us"))
      .orderBy("user_id", "session_id")
  }

  /** How many of the corpus's busiest hours the interval join carries. */
  val BusyHoursK = 5

  /** INTERVAL OVERLAP JOIN (`join_interval_overlap`) — the join shape
    * the relational family still lacked: two INTERVAL sets matched on
    * overlap, not key equality (the incident-correlation question —
    * "which user sessions ran during the site's hottest hours" — and
    * the same shape as feature-window ⋈ outage-window correlation).
    * Intervals A are the 30-min-gap sessions ([[sessionizeDf]] — one
    * definition with `events_sessionize`); intervals B are the
    * top-[[BusyHoursK]] busiest hours (count desc, hour asc — exact
    * integers) as [hour, hour+1h) windows. A closed session [s, e]
    * overlaps iff s < hour+1h AND e ≥ hour.
    *
    * Scale shape: the interval join's small side is TakeOrdered-bounded
    * (K rows) and broadcast, so the plan is a BroadcastNestedLoop over
    * K — the classic bounded-dimension range join. When BOTH interval
    * sets are corpus-sized, the standard recipe is binning each
    * interval to its covering hours and equi-joining on the bin (the
    * `events_sliding` explode shape) — documented here, not needed for
    * a K-row side. */
  def intervalOverlap(s: SparkSession, d: String): DataFrame =
    intervalOverlapDf(Tables.events(s, d))

  /** Same, over any (user_id, event_id, ts_us) frame (planted tests). */
  def intervalOverlapDf(events: DataFrame): DataFrame = {
    val sessions = sessionizeDf(events)
    val busy = events
      .select((col("ts_us") - (col("ts_us") % HourUs)).as("hour_us"))
      .groupBy("hour_us").agg(count(lit(1)).as("n_events_hour"))
      .orderBy(desc("n_events_hour"), asc("hour_us"))
      .limit(BusyHoursK)
    sessions.join(broadcast(busy),
        col("start_us") < col("hour_us") + lit(HourUs) &&
          col("end_us") >= col("hour_us"))
      .select(col("user_id"), col("session_id"), col("start_us"),
        col("end_us"), col("hour_us"), col("n_events_hour"))
      .orderBy("user_id", "session_id", "hour_us")
  }

  /** CORPUS × CORPUS INTERVAL JOIN (`join_interval_allpairs`) — the
    * missing half of [[intervalOverlap]]: there the small side was
    * TakeOrdered-bounded (K busiest hours, broadcast); here BOTH
    * interval sets are corpus-sized (every session ⋈ every session — the
    * concurrency question: which sessions ran at the same time), so the
    * standard bin-and-equi-join recipe documented there becomes code:
    * explode each session to its covering HOUR bins, equi-join on the
    * bin, keep the pairs that actually overlap (bin-mates need the real
    * predicate: two sessions can share an hour without overlapping),
    * and de-duplicate — a pair whose overlap straddles a bin boundary
    * hits in every shared bin and must come out once (the planted spec
    * case). Pairs are canonical ((user, session) lexicographic) and
    * closed-interval overlap [s,e] is s_a ≤ e_b AND s_b ≤ e_a, with the
    * overlap window reported.
    *
    * Scale shape: bins-per-session is bounded by session span / 1 h
    * (sessions are 30-min-gap-bounded runs, so spans are small
    * multiples of an hour); the join is a SHUFFLE EQUI-JOIN on the bin
    * — never a corpus-sized broadcast or a product join. Per-bin work
    * is concurrency², which IS the output being asked for: an hour with
    * C concurrent sessions contributes up to C(C−1)/2 overlapping
    * pairs. A skew-hostile deployment caps per-bin fan-out via
    * `perBinCap` the same way the dedup family df-caps shingles
    * (drop-the-bucket), traded explicitly — not silently — against
    * pair completeness. */
  def intervalAllPairs(s: SparkSession, d: String): DataFrame =
    intervalAllPairsDf(Tables.events(s, d))

  /** Same, over any (user_id, event_id, ts_us) frame (planted tests).
    *
    * `perBinCap` (default 0 = off, the declared query's EXACT
    * semantics): when positive, a bin whose occupancy exceeds the cap
    * is DROPPED WHOLE from pair generation — the dedup family's
    * [[graft.operators.Dedup]] df-cap trade (a planted hot hour would
    * otherwise owe one task C²/2 pairs; see `MaxShingleDf`). The trade
    * is explicit, not silent: the dropped bins are exactly
    * `occupancy > cap` rows of the bin-occupancy aggregate, and a pair
    * that ALSO overlaps in a surviving bin still comes out (the
    * boundary-straddler dedup works in the cap's favor) — only pairs
    * whose EVERY shared bin is hot are lost, asserted in the planted
    * hot-hour spec. */
  def intervalAllPairsDf(events: DataFrame, perBinCap: Long = 0L): DataFrame = {
    val sess = hold(sessionizeDf(events)
      .select(col("user_id"), col("session_id"), col("start_us"),
        col("end_us")))
    val binnedAll = sess.withColumn("bin",
      explode(sequence(expr(s"start_us div $HourUs"),
        expr(s"end_us div $HourUs"))))
    val binned =
      if (perBinCap <= 0L) binnedAll
      else binnedAll.join(
        binnedAll.groupBy("bin").agg(count(lit(1)).as("occ"))
          .filter(col("occ") <= perBinCap).select("bin"),
        "bin")
    val a = binned.select(col("bin").as("bin_a"), col("user_id").as("user_a"),
      col("session_id").as("session_a"), col("start_us").as("sa"),
      col("end_us").as("ea"))
    val b = binned.select(col("bin").as("bin_b"), col("user_id").as("user_b"),
      col("session_id").as("session_b"), col("start_us").as("sb"),
      col("end_us").as("eb"))
    val pairs = a.join(b,
        col("bin_a") === col("bin_b") &&
          (col("user_a") < col("user_b") ||
            (col("user_a") === col("user_b") &&
              col("session_a") < col("session_b"))) &&
          col("sa") <= col("eb") && col("sb") <= col("ea"))
      .select(col("user_a"), col("session_a"), col("user_b"),
        col("session_b"),
        greatest(col("sa"), col("sb")).as("ov_start_us"),
        least(col("ea"), col("eb")).as("ov_end_us"))
      .distinct()
      .withColumn("overlap_us", col("ov_end_us") - col("ov_start_us"))
    graft.functions.Caching.releaseAfterAction(
      pairs.orderBy("user_a", "session_a", "user_b", "session_b"), sess)
  }

  /** Fixed bin count for the value histogram. */
  val HistBins = 10L

  /** PER-TYPE VALUE HISTOGRAM (`events_value_histogram`) — the
    * distribution profile `data_profile`'s min/max/avg moments cannot
    * show (bimodality, heavy tails — what you look at before choosing
    * an anomaly threshold): [[HistBins]] equal-width bins per
    * event_type over integer-cent values. ALL-INTEGER binning: width =
    * (hi − lo + bins) div bins (so every value lands in [0, bins)), bin
    * = (v − lo) div width — both engines floor non-negative integers,
    * so the histogram hash-matches (rule R2: cents first, then
    * arithmetic). Empty bins are absent (the sparse contract,
    * `events_anomaly`'s sibling; the dense zero-filled form is one
    * calendar join away, as there).
    *
    * Scale shape: one map-side-combined (type, bin) count over a narrow
    * projection plus a type-sized bounds aggregate broadcast back —
    * the wordcount profile. */
  def valueHistogram(s: SparkSession, d: String): DataFrame =
    valueHistogramDf(Tables.events(s, d))

  /** Same, over any (event_type, value) frame (planted tests). */
  def valueHistogramDf(events: DataFrame): DataFrame = {
    val cents = events.select(col("event_type"),
      round(col("value") * 100).cast("long").as("v"))
    val bounds = cents.groupBy("event_type")
      .agg(min("v").as("lo"), max("v").as("hi"))
      .withColumn("w",
        expr(s"(hi - lo + $HistBins) div $HistBins"))
    cents.join(broadcast(bounds), "event_type")
      .withColumn("bin", expr("(v - lo) div w"))
      .groupBy(col("event_type"), col("bin"))
      .agg(count(lit(1)).as("n"),
        min(col("lo") + col("bin") * col("w")).as("lo_e2"),
        min(col("lo") + (col("bin") + lit(1L)) * col("w")).as("hi_e2"))
      .select("event_type", "bin", "lo_e2", "hi_e2", "n")
      .orderBy("event_type", "bin")
  }
}
