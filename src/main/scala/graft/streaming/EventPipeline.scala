package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.GroupStateTimeout

/** Structured-Streaming operators over the events stream
  * (event_id, ts: ns-since-epoch long, user_id, event_type, value, props).
  *
  * The reference has no streaming surface (SURVEY.md §2.5); these extend
  * the engine the Spark-native way: every transform here is written
  * against a plain DataFrame/Dataset and works identically under
  * `spark.read` (batch backfill) and `spark.readStream` (incremental) —
  * the classic lambda-free deployment where one piece of code serves
  * both paths. Watermarks bound state; the stateful last-write-wins
  * operator is the streaming twin of [[graft.attrs.AttributesLog]].
  */
object EventPipeline {

  /** ns-long `ts` → proper `event_time` timestamp (µs precision).
    * Integer `div`, NOT `/`: long÷int in Spark goes through double,
    * whose rounding at e15 magnitudes (ulp = 0.25) pushes quotients with
    * a ≥.875 fraction UP before the cast truncates — an off-by-one µs on
    * ~12% of rows vs an exact-floor engine. */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("event_time",
      timestamp_micros(expr("ts div 1000")))

  /** Tumbling-window stats per event type. On a stream, pass a watermark
    * (e.g. "1 hour") so window state is dropped once late data is
    * impossible; in batch mode pass None. Output is integer/rounded so
    * the batch path is oracle-comparable. */
  def windowedStats(events: DataFrame, windowDur: String,
                    watermark: Option[String] = None): DataFrame = {
    val timed = withEventTime(events)
    val src = watermark.fold(timed)(w => timed.withWatermark("event_time", w))
    src
      .groupBy(window(col("event_time"), windowDur).as("w"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("w.start").cast("long").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))
  }

  final case class AttrEvent(user_id: Long, event_type: String, value: Double,
                             ts: Long, event_id: Long)
  final case class AttrLatest(user_id: Long, event_type: String, value: Double,
                              last_event_id: Long)
  final case class AttrState(value: Double, ts: Long, event_id: Long)

  /** Streaming last-write-wins attribute state: one `mapGroupsWithState`
    * per (user_id, event_type) keeping the latest (ts, event_id)-ordered
    * value — the incremental version of AttributesLog.resolve (which
    * replays the whole log per batch). Works in batch mode too (state
    * starts empty per group), so both paths agree on the same input. */
  def latestAttributes(events: Dataset[AttrEvent]): Dataset[AttrLatest] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.user_id, e.event_type))
      .mapGroupsWithState[AttrState, AttrLatest](GroupStateTimeout.NoTimeout) {
        case ((uid, etype), batch, state) =>
          val latest = (state.getOption.iterator ++
            batch.map(e => AttrState(e.value, e.ts, e.event_id)))
            .maxBy(s => (s.ts, s.event_id))
          state.update(latest)
          AttrLatest(uid, etype, latest.value, latest.event_id)
      }
  }

  /** Streaming exact dedup on the key columns ALONE: state holds one
    * entry per key, evicted once the watermark passes it — two events
    * with the same key but different timestamps collapse to the first
    * (dropDuplicatesWithinWatermark, the key-only dedup Spark 3.5+
    * added precisely because keys+event_time lets same-key events at
    * different times both survive). */
  def dedupStream(events: DataFrame, watermark: String,
                  keyCols: Seq[String]): DataFrame =
    withEventTime(events)
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Stream-stream attribution join: every purchase paired with the same
    * user's clicks from the preceding `windowDur` (click strictly before
    * the purchase, within the window). THE canonical watermarked
    * stream-stream equi-join-with-interval-condition: on a stream, pass
    * a watermark so each side's state is bounded — a click older than
    * (watermark − window) can never match a future purchase and is
    * evicted; in batch the same code is an equi-join on user_id with a
    * range predicate (time-local, never a cross join).
    *
    * Input frames must already carry distinct column names; the two
    * event-time columns are derived here as `click_time`/`purchase_time`
    * from the given ns-long ts columns. Output: one row per qualifying
    * (purchase, click) pair with both ids and times (µs). */
  /** Rolling-window distinct actives (the DAU/WAU/MAU family): for
    * every day with events, the count of distinct `userCol` seen in
    * the trailing `windowDays`-day window ending that day (inclusive).
    * Day = epoch-ns div 86400e9.
    *
    * Shape: the OBSERVED-days relation (day-cardinality, tiny)
    * broadcast-joins the per-(day, user) DISTINCT event relation on
    * the band predicate, then one exact distinct count per window —
    * the event side is already deduplicated to (day, user) before the
    * ×window fan-out, so the join input is bounded by actives, not
    * events. At 100 TB the per-day distinct relation is the thing to
    * materialize incrementally; this operator consumes it either way. */
  def rollingActiveUsers(events: DataFrame, tsCol: String, userCol: String,
                         windowDays: Int): DataFrame = {
    require(windowDays >= 1, s"windowDays must be >= 1, got $windowDays")
    val dayNs = 86400000000000L
    val du = events.select(
        expr(s"$tsCol div ${dayNs}L").as("__day"), col(userCol))
      .distinct()
    val days = du.select(col("__day").as("day")).distinct()
    du.join(broadcast(days),
        col("__day").between(col("day") - (windowDays - 1), col("day")))
      .groupBy("day")
      .agg(countDistinct(col(userCol)).as("n_active"))
  }

  /** Integer-exact rolling z-score anomaly flags over the per-(type,
    * day) event-count series — the volume-spike monitor a pipeline
    * hangs on its ingest (a source that suddenly 10×es its daily rows
    * is usually a crawler loop or an upstream dup storm, and the
    * response is to quarantine the day, not ingest it).
    *
    * The trailing baseline is the `baseDays` days strictly BEFORE each
    * day (the day under test never contaminates its own baseline). A
    * day is anomalous when n ≥ `minBase` and (n·x − S)² > z²·(n·SS −
    * S²) — the z-score test |x−μ| > z·σ cross-multiplied into pure
    * integer arithmetic (μ = S/n, σ² = (n·SS − S²)/n²), so the
    * decision is bit-identical across engines: no float μ/σ to drift
    * in the last ulp. Overflow bound: day counts must stay below ~3e8
    * for the squared terms to fit a long at baseDays ≤ 7.
    *
    * One groupBy to the per-day series (map-side combined), then
    * window frames over day order per type — no self-join, no
    * driver-side state; the windowed relation is #types × #days rows,
    * metadata-sized even at 100 TB of raw events. */
  def dailyAnomalies(events: DataFrame, tsCol: String, typeCol: String,
                     baseDays: Int = 7, minBase: Int = 5,
                     z: Int = 3): DataFrame =
    anomalyFlags(dailyCounts(events, tsCol, typeCol),
      baseDays, minBase, z)

  /** CUSUM change-point detection over the per-(type, day) counts —
    * the SUSTAINED-shift complement to [[anomalyFlags]]'s single-day
    * z-score (a 15% volume drift that never spikes trips CUSUM, never
    * the z-test). The textbook recurrence
    * S_t = max(0, S_{t−1} + x_t − drift) unrolls to
    *
    *   S_t = C_t − min(0, cummin(C_t)),  C_t = cumsum(x − drift)
    *
    * (the 0 in the min is the virtual C₀ — the reset floor)
    *
    * — two cumulative windows, NO sequential loop, so the "stateful"
    * statistic runs as one windowed pass over the domain-sized daily
    * relation (which is itself additively-mergeable streaming state).
    * All-integer: pass `drift` and `threshold` on the count scale.
    * Output: daily rows + cusum and an is_shift flag (cusum >
    * threshold). */
  def cusumShifts(daily: DataFrame, drift: Long,
                  threshold: Long): DataFrame = {
    require(threshold >= 1, s"threshold must be >= 1, got $threshold")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("__c", sum(col("day_cnt") - lit(drift)).over(w))
      .withColumn("cusum",
        col("__c") - least(min(col("__c")).over(w), lit(0L)))
      .withColumn("is_shift", (col("cusum") > threshold).cast("int"))
      .drop("__c")
  }

  /** Per-(type, day) count relation — the additively-mergeable state
    * the streaming twin ([[StreamingAnomaly]]) accumulates. */
  def dailyCounts(events: DataFrame, tsCol: String,
                  typeCol: String): DataFrame = {
    val dayNs = 86400000000000L
    events
      .groupBy(col(typeCol).as("event_type"),
        expr(s"$tsCol div ${dayNs}L").as("day"))
      .agg(count(lit(1)).as("day_cnt"))
  }

  /** The flag stage of [[dailyAnomalies]], over an already-aggregated
    * (event_type, day, day_cnt) relation. */
  def anomalyFlags(daily: DataFrame, baseDays: Int = 7, minBase: Int = 5,
                   z: Int = 3): DataFrame = {
    require(baseDays >= minBase && minBase >= 2,
      s"need baseDays >= minBase >= 2, got $baseDays/$minBase")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-baseDays, -1)
    daily
      .withColumn("n_base", count(lit(1)).over(w))
      .withColumn("s_base", coalesce(sum(col("day_cnt")).over(w), lit(0L)))
      .withColumn("ss_base",
        coalesce(sum(col("day_cnt") * col("day_cnt")).over(w), lit(0L)))
      .withColumn("is_anom",
        (col("n_base") >= minBase &&
          (col("n_base") * col("day_cnt") - col("s_base")) *
            (col("n_base") * col("day_cnt") - col("s_base")) >
            lit(z.toLong * z) * (col("n_base") * col("ss_base") -
              col("s_base") * col("s_base"))).cast("int"))
      .select("event_type", "day", "day_cnt", "n_base", "is_anom")
  }

  def attributionPairs(clicks: DataFrame, purchases: DataFrame,
                       clickTsCol: String, purchaseTsCol: String,
                       windowDur: String,
                       watermark: Option[String] = None): DataFrame = {
    val c0 = clicks.withColumn("click_time",
      timestamp_micros(expr(s"`$clickTsCol` div 1000")))
    val p0 = purchases.withColumn("purchase_time",
      timestamp_micros(expr(s"`$purchaseTsCol` div 1000")))
    val (c, p) = watermark match {
      case Some(w) =>
        (c0.withWatermark("click_time", w), p0.withWatermark("purchase_time", w))
      case None => (c0, p0)
    }
    p.join(c,
      p("user_id") === c("user_id") &&
        col("click_time") < col("purchase_time") &&
        col("click_time") >= col("purchase_time") - expr(s"INTERVAL $windowDur"))
      .drop(c("user_id"))
  }

  /** Linear-time-decay MULTI-touch attribution — beside the
    * single-touch reports (last touch, first touch): every click in
    * the window before a same-user purchase earns weight
    * `windowNs − gap` (a click seconds before the purchase weighs in
    * near the full window; one at the window's edge weighs ~0) and
    * the purchase's credit splits proportionally,
    * share_ppm = ⌊weight·10⁶ / Σweights⌋ — all-integer, so shares are
    * engine-exact (they sum to ≤ 10⁶ per purchase; the ≤ is floor
    * residue). Expects the (purchase_id, user_id, ts) / (click_id,
    * user_id, ts) shapes of [[attributionPairs]]'s callers, ns-long
    * timestamps. One user-keyed join + one purchase-keyed window. */
  def attributionLinearDecay(clicks: DataFrame, purchases: DataFrame,
                             clickTsCol: String, purchaseTsCol: String,
                             windowNs: Long): DataFrame = {
    require(windowNs >= 1, s"windowNs must be >= 1, got $windowNs")
    import org.apache.spark.sql.expressions.Window
    // the window edge is EXCLUSIVE (gap < windowNs strictly): an edge
    // click would weigh exactly 0, and a purchase whose only clicks
    // sit on the edge would divide by a zero weight total
    val joined = purchases.join(clicks,
        purchases("user_id") === clicks("user_id") &&
          clicks(clickTsCol) < purchases(purchaseTsCol) &&
          clicks(clickTsCol) >
            purchases(purchaseTsCol) - lit(windowNs))
      .drop(clicks("user_id"))
      .withColumn("weight_ns",
        lit(windowNs) - (col(purchaseTsCol) - col(clickTsCol)))
    val w = Window.partitionBy("purchase_id")
    joined
      .withColumn("__tot", sum(col("weight_ns")).over(w))
      .withColumn("share_ppm",
        expr("weight_ns * 1000000L div __tot"))
      .select(col("purchase_id"), col("click_id"), col("weight_ns"),
        col("share_ppm"))
  }

  /** JSON props extraction — the schema-on-read path for the free-form
    * `props` column; pure projection, streams and batches identically. */
  def extractProps(events: DataFrame): DataFrame =
    events.select(col("event_id"),
      get_json_object(col("props"), "$.k").cast("long").as("prop_k"))

  /** Per-event session assignment (batch analytic): a user's events split
    * into sessions wherever the gap from the previous event is ≥
    * gapNanos — the strict-≥ boundary matches Spark's `session_window`
    * (whose windows are [start, last + gap), end EXCLUSIVE). Output adds
    * `session_seq` (0-based per user, in time order).
    *
    * One hash exchange on user_id + an in-partition sort; the lag +
    * running-sum pair is the standard gap-and-island formulation. The
    * streaming twin is [[sessionStats]] — this per-event labeling needs
    * the whole timeline and is inherently a batch analytic. */
  def sessionized(events: DataFrame, gapNanos: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("__prev", lag(col("ts"), 1).over(w))
      .withColumn("__brk",
        when(col("__prev").isNull || col("ts") - col("__prev") >= gapNanos, 1L)
          .otherwise(0L))
      .withColumn("session_seq",
        sum(col("__brk")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) - 1)
      .drop("__prev", "__brk")
  }

  /** WITHIN-SESSION funnel: how many sessions reach each ordered step
    * — the global funnel counts a signup on Monday converted by a
    * purchase next month; product analytics usually wants the steps
    * completed inside ONE visit. Sessions come from [[sessionized]]
    * (gap rule), then each stage keeps the (user, session) pairs whose
    * step event occurs STRICTLY AFTER the previous stage's first
    * completion time, earliest occurrence winning.
    *
    * Shape: one sessionization window + per-stage (min-aggregate ⋈
    * previous stage) on the (user, session) key — every join is
    * key-local, each stage's relation only shrinks, nothing is
    * driver-side. Output: (stage, step, n_sessions), stage 1..k. */
  def sessionFunnel(events: DataFrame, gapNanos: Long,
                    steps: Seq[String]): DataFrame = {
    require(steps.size >= 2, s"need >= 2 funnel steps, got ${steps.size}")
    require(steps.distinct.size == steps.size, "funnel steps must differ")
    val keys = Seq("user_id", "session_seq")
    val sess = sessionized(events, gapNanos)
      .select(col("user_id"), col("session_seq"), col("event_type"),
        col("ts"))
      .localCheckpoint()
    var reached = sess.where(col("event_type") === steps.head)
      .groupBy(keys.map(col): _*).agg(min(col("ts")).as("t"))
    val out = scala.collection.mutable.ArrayBuffer(
      reached.agg(count(lit(1)).as("n_sessions"))
        .select(lit(1).as("stage"), lit(steps.head).as("step"),
          col("n_sessions")))
    for ((st, i) <- steps.tail.zipWithIndex) {
      reached = sess.where(col("event_type") === st)
        .join(reached.select(keys.map(col) :+ col("t").as("__pt"): _*),
          keys)
        .where(col("ts") > col("__pt"))
        .groupBy(keys.map(col): _*).agg(min(col("ts")).as("t"))
      out += reached.agg(count(lit(1)).as("n_sessions"))
        .select(lit(i + 2).as("stage"), lit(st).as("step"),
          col("n_sessions"))
    }
    out.reduce(_ unionByName _).orderBy("stage")
  }

  /** Behavioral transition matrix: counts of (previous event type →
    * event type) steps within each user's (ts, event_id)-ordered
    * timeline — the first-order Markov summary behind funnel discovery
    * and anomalous-flow detection. One lag window partitioned by user
    * (single shuffle, per-user sort bounded by the user's activity),
    * then a map-side-combining count over at most |types|² groups.
    * Output: (from_type, to_type, cnt). */
  def transitionCounts(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .withColumn("from_type", lag(col("event_type"), 1).over(w))
      .where(col("from_type").isNotNull)
      .groupBy(col("from_type"), col("event_type").as("to_type"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Top-k length-3 user journeys: the most common (step1 → step2 →
    * step3) event sequences across users — the path-analysis report
    * beside [[transitionCounts]]'s first-order matrix (a funnel you
    * DISCOVER instead of declare). Consecutive means adjacent in the
    * user's (ts, event_id)-ordered stream; the tie-break makes the
    * windows and therefore the counts engine-exact.
    *
    * Scale shape: one user-partitioned window (two leads ride one
    * sort) at a DATA-SIZED width — the explicit repartition satisfies
    * the window's clustering, so it replaces the exchange the window
    * would plan at the session default, where an event-scale input
    * sorts in a handful of spilling tasks
    * ([[graft.functions.PlanShape.dataSizedParts]]; 100M-event probe
    * 102 → 37 s) — then a map-side-combined groupBy over the ≤|types|³
    * path domain and a bounded TakeOrdered top-k — nothing row-scale
    * shuffles twice, nothing driver-side. The (cnt desc, steps asc)
    * order is total, so the cut is deterministic. */
  def pathCounts(events: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .repartition(graft.functions.PlanShape.dataSizedParts(events),
        col("user_id"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .where(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("event_type").as("step1"), col("e2").as("step2"),
        col("e3").as("step3"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("step1"), col("step2"), col("step3"))
      .limit(k)
  }

  final case class StepEvent(user_id: Long, ts: Long, event_id: Long,
                             event_type: String)
  final case class Step(user_id: Long, from_type: String, to_type: String,
                        ts: Long)

  /** STREAMING twin of [[transitionCounts]]'s pair extraction: each
    * arriving event emits its (previous type → this type) step, with
    * only the LAST event per user held in `flatMapGroupsWithState` —
    * O(users) state, not O(events). Append mode: a step is emitted
    * exactly once, by the event that completes it; downstream windowed
    * counts aggregate the steps. Same per-entity arrival-order contract
    * as [[graft.operators.Scd2.closedHistoryStream]], and ENFORCED the
    * same way: the retained last event doubles as the high-water mark,
    * and an arrival ordered before it fails the query loudly instead of
    * emitting a fabricated backwards step. Batch mode yields exactly
    * the batch lag-window pairs. */
  def transitionSteps(events: Dataset[StepEvent]): Dataset[Step] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[StepEvent, Step](
        org.apache.spark.sql.streaming.OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        case (uid, it, gs) =>
          val batch = it.toSeq.sortBy(e => (e.ts, e.event_id))
          var last = gs.getOption
          val out = Seq.newBuilder[Step]
          batch.foreach { e =>
            last.foreach { l =>
              if (e.ts < l.ts || (e.ts == l.ts && e.event_id < l.event_id))
                throw new IllegalStateException(
                  s"transitionSteps: out-of-order arrival for entity $uid " +
                    s"— event (ts=${e.ts}, id=${e.event_id}) after " +
                    s"(ts=${l.ts}, id=${l.event_id}); the source must " +
                    s"deliver each entity's events in (ts, id) order " +
                    s"across micro-batches")
              out += Step(uid, l.event_type, e.event_type, e.ts)
            }
            last = Some(e)
          }
          last.foreach(gs.update)
          out.result().iterator
      }
  }

  /** Per-session stats via Spark's native `session_window` — gap-merged
    * sessions per user, identical semantics to [[sessionized]]'s
    * labeling (see boundary note there). Works as a streaming stateful
    * aggregation (pass a watermark) and identically in batch (pass
    * None). Output: (user_id, win_start µs, n_events, sum_value). */
  def sessionStats(events: DataFrame, gapDur: String,
                   watermark: Option[String] = None): DataFrame = {
    val timed = withEventTime(events)
    val src = watermark.fold(timed)(wm => timed.withWatermark("event_time", wm))
    src
      .groupBy(col("user_id"), session_window(col("event_time"), gapDur).as("w"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("user_id"), unix_micros(col("w.start")).as("win_start"),
        col("n_events"), col("sum_value"))
  }
}
