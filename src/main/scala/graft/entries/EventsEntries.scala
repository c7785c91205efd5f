package graft
package entries

import org.apache.spark.sql.functions._

import Fixtures._

/** events_* and stream_* entries: event-time operators and the
  * streaming operators checked on their batch path. */
private[graft] object EventsEntries {

  /** The attribution gates' inputs: clicks as (click_id, user_id,
    * click_ts) and purchases as (purchase_id, user_id, purchase_ts). */
  private def clicksAndPurchases(s: org.apache.spark.sql.SparkSession,
                                 dir: String) = {
    val ev = Tables.events(s, dir)
    (ev.where(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"),
        col("ts").as("click_ts")),
     ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts")))
  }

  private val dayPartDir = scala.collection.concurrent.TrieMap.empty[String, String]

  def entries: Seq[Entry] = Seq(
    // cohort retention: users grouped by first-signup week, counted
    // distinct-active per week offset — the classic product-analytics
    // self-join (cohort relation is user-sized and broadcastable; the
    // activity side aggregates with map-side distinct partials)
    Entry("events_retention", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("week", expr("ts div 604800000000000"))
      val cohort = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("week")).as("cohort_week"))
      ev.select("user_id", "week")
        .join(cohort, "user_id")
        .where(col("week") >= col("cohort_week"))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_week", "weeks_since")
    },
      """WITH ev AS (SELECT user_id,
        |  epoch_ns(ts) // 604800000000000 AS week, event_type
        | FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM ev
        | WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT cohort_week,
        | CAST(week - cohort_week AS BIGINT) AS weeks_since,
        | count(DISTINCT ev.user_id) AS n_active
        |FROM ev JOIN c USING (user_id) WHERE week >= cohort_week
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // (EventPipeline transforms run identically under readStream; the
    // incremental semantics are covered by EventPipelineSpec)
    Entry("stream_window_hourly", (s, dir) =>
      graft.streaming.EventPipeline
        .windowedStats(Tables.events(s, dir), "1 hour")
        .orderBy("win_start", "event_type"),
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
        |   AS win_start,
        | event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    Entry("events_props_json", (s, dir) =>
      graft.streaming.EventPipeline.extractProps(Tables.events(s, dir))
        .orderBy("event_id"),
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        |FROM events ORDER BY event_id""".stripMargin),

    // windowed top-n: rank event types per hourly window by count — the
    // leaderboard analytic over the windowed aggregates (batch path; the
    // windowed aggregation itself is the streaming-compatible stage)
    Entry("stream_window_topk", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("win_start")
        .orderBy(col("cnt").desc, col("event_type"))
      graft.streaming.EventPipeline
        .windowedStats(Tables.events(s, dir), "1 hour")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select("win_start", "rnk", "event_type", "cnt")
        .orderBy("win_start", "rnk")
    },
      """WITH ws AS (
        | SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
        |    AS win_start,
        |  event_type, count(*) AS cnt
        | FROM events GROUP BY 1, 2)
        |SELECT win_start, rnk, event_type, cnt FROM (
        | SELECT win_start, event_type, cnt,
        |  CAST(row_number() OVER (PARTITION BY win_start
        |    ORDER BY cnt DESC, event_type) AS BIGINT) AS rnk
        | FROM ws) t
        |WHERE rnk <= 3 ORDER BY win_start, rnk""".stripMargin),

    // backward as-of join (graft.operators.AsofJoin): every click gets
    // the latest prior-or-same purchase of the same user — one union +
    // hash exchange on user_id + carry-forward window, never a range
    // cross-join. ts is truncated to µs first so ordering ties and
    // boundary comparisons agree bit-for-bit with the µs oracle engine
    // (the raw column is TIMESTAMP(NANOS); DuckDB reads it at µs).
    // rolling 7-day distinct actives (the WAU metric): observed days
    // broadcast onto the per-(day, user) distinct relation via the
    // band predicate, one exact distinct count per window; ts truncated
    // to µs like every other events gate so day bucketing is
    // bit-identical to the µs oracle engine
    Entry("events_rolling_active", (s, dir) =>
      graft.streaming.EventPipeline.rollingActiveUsers(
          Tables.events(s, dir).withColumn("ts", col("ts") - col("ts") % 1000),
          "ts", "user_id", windowDays = 7)
        .orderBy("day"),
      // replicates the union + carry-forward-window formulation of
      // AsofJoin.backward on µs timestamps (DuckDB reads the ns parquet
      // column at µs; the Spark entry truncates to match)
      """WITH du AS (SELECT DISTINCT
        |  (CAST(epoch_us(ts) AS BIGINT) * 1000) // 86400000000000 AS d,
        |  user_id FROM events),
        |days AS (SELECT DISTINCT d AS day FROM du)
        |SELECT day, CAST(count(DISTINCT du.user_id) AS BIGINT) AS n_active
        |FROM days JOIN du ON du.d BETWEEN day - 6 AND day
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // regular-grid resampling with forward fill: each user's event
    // stream aligned onto day ticks covering their own span (µs-
    // truncated ns so both engines see identical times); the oracle
    // regenerates the grids and fills by correlated latest-at-or-before
    // lookup with the same (ts, event_id) tie-break
    Entry("events_resample", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts", col("ts") - col("ts") % 1000)
      graft.operators.Resample.forwardFill(ev, Seq("user_id"), "ts",
          "event_id", "value", stepUnits = 86400000000000L)
        .orderBy("user_id", "grid_ts")
    },
      // ns times reconstructed as epoch_us·1000; the guard caps the
      // per-key tick count the generate_series can cover
      """WITH e AS (SELECT user_id, event_id, value,
        |  CAST(epoch_us(ts) AS BIGINT) * 1000 AS tns FROM events),
        |sp AS (SELECT user_id,
        |  ((min(tns) + 86399999999999) // 86400000000000)
        |    * 86400000000000 AS s,
        |  (max(tns) // 86400000000000) * 86400000000000 AS t
        | FROM e GROUP BY 1),
        |guard AS (SELECT CASE WHEN max((t - s) // 86400000000000) > 1000
        |  THEN CAST(error('span exceeds the 1001-tick oracle cap')
        |    AS BIGINT) ELSE 1 END AS ok FROM sp WHERE s <= t),
        |g AS (SELECT user_id, s + 86400000000000 * x.i AS grid_ts
        | FROM sp, generate_series(0, 1000) AS x(i)
        | WHERE s <= t AND s + 86400000000000 * x.i <= t),
        |f AS (SELECT g.user_id, g.grid_ts,
        |  (SELECT e.value FROM e WHERE e.user_id = g.user_id
        |    AND e.tns <= g.grid_ts
        |   ORDER BY e.tns DESC, e.event_id DESC LIMIT 1) AS value,
        |  (SELECT e.tns FROM e WHERE e.user_id = g.user_id
        |    AND e.tns <= g.grid_ts
        |   ORDER BY e.tns DESC, e.event_id DESC LIMIT 1) AS src_ts
        | FROM g)
        |SELECT f.user_id, f.grid_ts, f.value,
        | CAST(f.src_ts AS BIGINT) AS src_ts
        |FROM f CROSS JOIN guard WHERE guard.ok = 1
        |ORDER BY user_id, grid_ts""".stripMargin),

    // linear interpolation at the same day ticks: exact lerp between
    // the surrounding observations, the expression tree mirrored
    // verbatim by the oracle so the IEEE doubles hash identically
    Entry("events_resample_interp", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts", col("ts") - col("ts") % 1000)
      graft.operators.Resample.interpolate(ev, Seq("user_id"), "ts",
          "event_id", "value", stepUnits = 86400000000000L)
        .orderBy("user_id", "grid_ts")
    },
      // prev = latest-at-or-before (ties: largest event_id), next =
      // earliest-at-or-after (ties: smallest event_id) — the two as-of
      // contracts; the lerp tree matches the Spark expression exactly
      """WITH e AS (SELECT user_id, event_id, value,
        |  CAST(epoch_us(ts) AS BIGINT) * 1000 AS tns FROM events),
        |sp AS (SELECT user_id,
        |  ((min(tns) + 86399999999999) // 86400000000000)
        |    * 86400000000000 AS s,
        |  (max(tns) // 86400000000000) * 86400000000000 AS t
        | FROM e GROUP BY 1),
        |guard AS (SELECT CASE WHEN max((t - s) // 86400000000000) > 1000
        |  THEN CAST(error('span exceeds the 1001-tick oracle cap')
        |    AS BIGINT) ELSE 1 END AS ok FROM sp WHERE s <= t),
        |g AS (SELECT user_id, s + 86400000000000 * x.i AS grid_ts
        | FROM sp, generate_series(0, 1000) AS x(i)
        | WHERE s <= t AND s + 86400000000000 * x.i <= t),
        |f AS (SELECT g.user_id, g.grid_ts,
        |  (SELECT e.value FROM e WHERE e.user_id = g.user_id
        |    AND e.tns <= g.grid_ts
        |   ORDER BY e.tns DESC, e.event_id DESC LIMIT 1) AS v0,
        |  (SELECT e.tns FROM e WHERE e.user_id = g.user_id
        |    AND e.tns <= g.grid_ts
        |   ORDER BY e.tns DESC, e.event_id DESC LIMIT 1) AS t0,
        |  (SELECT e.value FROM e WHERE e.user_id = g.user_id
        |    AND e.tns >= g.grid_ts
        |   ORDER BY e.tns ASC, e.event_id ASC LIMIT 1) AS v1,
        |  (SELECT e.tns FROM e WHERE e.user_id = g.user_id
        |    AND e.tns >= g.grid_ts
        |   ORDER BY e.tns ASC, e.event_id ASC LIMIT 1) AS t1
        | FROM g)
        |SELECT user_id, grid_ts,
        | CASE WHEN t1 IS NULL OR t1 = t0 THEN v0
        |  ELSE v0 + (v1 - v0) * (CAST(grid_ts - t0 AS DOUBLE)
        |    / CAST(t1 - t0 AS DOUBLE)) END AS value,
        | CAST(t0 AS BIGINT) AS t0, CAST(t1 AS BIGINT) AS t1
        |FROM f CROSS JOIN guard WHERE guard.ok = 1
        |ORDER BY user_id, grid_ts""".stripMargin),

    Entry("events_asof", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts", col("ts") - col("ts") % 1000)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      graft.operators.AsofJoin.backward(clicks, purchases, Seq("user_id"),
          "ts", "ts", payload = Seq("event_id", "value"),
          leftSeq = "event_id", rightSeq = "event_id")
        .select(col("event_id"), col("user_id"),
          col("asof_event_id").as("purchase_event_id"),
          col("asof_value").as("purchase_value"))
        .orderBy("event_id")
    },
      """WITH ev AS (SELECT event_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS tus, event_type, value
        | FROM events),
        |u AS (
        | SELECT user_id, tus, 1 AS side, event_id AS seq, event_id,
        |  CAST(NULL AS BIGINT) AS p_eid, CAST(NULL AS DOUBLE) AS p_val
        | FROM ev WHERE event_type = 'click'
        | UNION ALL
        | SELECT user_id, tus, 0, event_id, NULL, event_id, value
        | FROM ev WHERE event_type = 'purchase'),
        |w AS (SELECT user_id, side, event_id,
        |  last_value(p_eid IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tus, side, seq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS purchase_event_id,
        |  last_value(p_val IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tus, side, seq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS purchase_value
        | FROM u)
        |SELECT event_id, user_id, purchase_event_id, purchase_value
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin),

    // stream-static as-of (StreamingAsof, batch-path correctness like the
    // other streaming entries): clicks enriched with the user's latest
    // prior-or-same signup value via a broadcast per-key timeline +
    // binary-search kernel — no shuffle of the fact side
    Entry("events_asof_static", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts", col("ts") - col("ts") % 1000)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val signups = ev.where(col("event_type") === "signup")
        .select("user_id", "ts", "value")
      graft.streaming.StreamingAsof.backwardStatic(clicks, "user_id", "ts",
          signups, "user_id", "ts", "value")
        .select(col("event_id"), col("user_id"),
          expr("asof_time div 1000").as("asof_us"),
          col("asof_value").as("signup_value"))
        .orderBy("event_id")
    },
      """WITH ev AS (SELECT event_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS tus, event_type, value
        | FROM events),
        |u AS (
        | SELECT user_id, tus, 1 AS side, event_id AS seq, event_id,
        |  CAST(NULL AS BIGINT) AS p_t, CAST(NULL AS DOUBLE) AS p_v
        | FROM ev WHERE event_type = 'click'
        | UNION ALL
        | SELECT user_id, tus, 0, event_id, NULL, tus, value
        | FROM ev WHERE event_type = 'signup'),
        |w AS (SELECT user_id, side, event_id,
        |  last_value(p_t IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tus, side, seq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_us,
        |  last_value(p_v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tus, side, seq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS signup_value
        | FROM u)
        |SELECT event_id, user_id, asof_us, signup_value
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin),

    // per-event sessionization (gap-and-island window): session breaks at
    // gaps ≥ 30 min; µs-truncated ts for oracle-engine agreement as above
    Entry("events_sessionize", (s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts", col("ts") - col("ts") % 1000)
      graft.streaming.EventPipeline
        .sessionized(ev, gapNanos = 30L * 60 * 1000000000L)
        .select(col("event_id"), col("user_id"), col("session_seq"))
        .orderBy("event_id")
    },
      """WITH e AS (SELECT event_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS tus FROM events),
        |m AS (SELECT event_id, user_id, tus,
        |  CASE WHEN lag(tus) OVER w IS NULL
        |        OR tus - lag(tus) OVER w >= 1800000000 THEN 1 ELSE 0 END
        |    AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT event_id, user_id,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS sseq
        | FROM m)
        |SELECT event_id, user_id, CAST(sseq AS BIGINT) AS session_seq
        |FROM s ORDER BY event_id""".stripMargin),

    // per-session stats via Spark's native session_window (the streaming
    // stateful-agg path, batch-identical); event_time is already
    // µs-truncated by construction
    Entry("events_sessions", (s, dir) =>
      graft.streaming.EventPipeline
        .sessionStats(Tables.events(s, dir), "30 minutes")
        .orderBy("user_id", "win_start"),
      """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tus,
        |  value FROM events),
        |m AS (SELECT user_id, tus, value,
        |  CASE WHEN lag(tus) OVER w IS NULL
        |        OR tus - lag(tus) OVER w >= 1800000000 THEN 1 ELSE 0 END
        |    AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |s AS (SELECT user_id, tus, value,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tus
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM m)
        |SELECT user_id, min(tus) AS win_start,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, win_start""".stripMargin),

    // batch twin of the streaming key-dedup (dropDuplicatesWithin-
    // Watermark semantics): the FIRST event per (user_id, event_type)
    // in (ts, event_id) order survives
    Entry("events_dedup_first", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // µs-truncated order so ns-resolution ties break on event_id in
      // BOTH engines (DuckDB reads the ns parquet at µs)
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(expr("ts div 1000"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderBy("user_id", "event_type")
    },
      """SELECT user_id, event_type, event_id FROM (
        | SELECT user_id, event_type, event_id,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS rn
        | FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),

    // bucketed interval join (no equi-key): every click paired with ALL
    // purchases of the next five minutes — equi-join on derived time
    // buckets, never a cross join (see RangeJoin scaladoc). µs domain on
    // both sides so the oracle engine agrees on the boundary.
    Entry("events_range_join", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("tus", expr("ts div 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("tus").as("click_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("tus").as("purchase_us"))
      graft.operators.RangeJoin.bucketed(clicks, purchases,
          "click_us", "purchase_us", lo = 1L, hi = 300000000L)
        .select("click_id", "purchase_id")
        .orderBy("click_id", "purchase_id")
    },
      """WITH c AS (SELECT event_id AS click_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS ct
        | FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS pt
        | FROM events WHERE event_type = 'purchase')
        |SELECT click_id, purchase_id FROM c JOIN p
        | ON pt >= ct + 1 AND pt <= ct + 300000000
        |ORDER BY click_id, purchase_id""".stripMargin),

    // FIRST-touch attribution: each purchase credits exactly ONE click —
    // the EARLIEST same-user click inside the preceding hour (ties on
    // click id) — a bounded per-purchase top-1 over the pair relation
    Entry("events_attribution_first", (s, dir) => {
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      val pairs = graft.streaming.EventPipeline.attributionPairs(clicks,
        purchases, "click_ts", "purchase_ts", "1 hour")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("purchase_id")
        .orderBy(col("click_ts"), col("click_id"))
      pairs.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("purchase_id", "click_id")
        .orderBy("purchase_id")
    },
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS ct
        | FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS pt
        | FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT purchase_id, click_id, ct FROM c JOIN p
        |  USING (user_id)
        | WHERE ct < pt AND ct >= pt - 3600000000)
        |SELECT purchase_id, click_id FROM (
        | SELECT purchase_id, click_id, row_number() OVER (
        |   PARTITION BY purchase_id ORDER BY ct, click_id) AS rn FROM j) t
        |WHERE rn = 1 ORDER BY purchase_id""".stripMargin),

    // stream-stream attribution join (batch-path correctness like the
    // other streaming entries; EventPipelineSpec runs the same code on
    // two MemoryStreams with watermarks): purchases × same-user clicks
    // of the preceding hour
    Entry("events_attribution", (s, dir) => {
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      graft.streaming.EventPipeline.attributionPairs(clicks, purchases,
          "click_ts", "purchase_ts", "1 hour")
        .select("purchase_id", "click_id")
        .orderBy("purchase_id", "click_id")
    },
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS ct
        | FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS pt
        | FROM events WHERE event_type = 'purchase')
        |SELECT purchase_id, click_id FROM c JOIN p USING (user_id)
        |WHERE ct < pt AND ct >= pt - 3600000000
        |ORDER BY purchase_id, click_id""".stripMargin),

    // linear-time-decay MULTI-touch attribution (EventPipeline
    // .attributionLinearDecay): the hour's clicks split each
    // purchase's credit by integer weight windowNs − gap, shares
    // floor-scaled ppm — engine-exact beside the last/first-touch
    // single-touch reports
    Entry("events_attribution_decay", (s, dir) => {
      val (clicks, purchases) = clicksAndPurchases(s, dir)
      graft.streaming.EventPipeline.attributionLinearDecay(
          clicks, purchases, "click_ts", "purchase_ts",
          windowNs = 3600000000000L)
        .orderBy("purchase_id", "click_id")
    },
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  CAST(epoch_ns(ts) AS BIGINT) AS ts FROM events),
        |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        | FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |  ts AS purchase_ts FROM e WHERE event_type = 'purchase'),
        |j AS (SELECT purchase_id, click_id,
        |  3600000000000 - (purchase_ts - click_ts) AS weight_ns
        | FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.click_ts < p.purchase_ts
        |  AND c.click_ts > p.purchase_ts - 3600000000000),
        |t AS (SELECT purchase_id, click_id, weight_ns,
        |  CAST(sum(weight_ns) OVER (PARTITION BY purchase_id)
        |    AS BIGINT) AS tot FROM j)
        |SELECT purchase_id, click_id,
        | CAST(weight_ns AS BIGINT) AS weight_ns,
        | CAST((weight_ns * 1000000) // tot AS BIGINT) AS share_ppm
        |FROM t ORDER BY purchase_id, click_id""".stripMargin),

    // moving-window aggregate: per-type daily counts with a 3-day RANGE
    // frame (time-based moving sum — integer-only so the oracle is exact)
    Entry("events_moving_sum", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("day_cnt"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rangeBetween(-2, 0)
      daily.withColumn("mov3_cnt", sum(col("day_cnt")).over(w))
        .select(col("event_type"), col("day"), col("day_cnt"), col("mov3_cnt"))
        .orderBy("event_type", "day")
    },
      """WITH d AS (SELECT event_type,
        |  CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day,
        |  count(*) AS day_cnt
        | FROM events GROUP BY 1, 2)
        |SELECT event_type, day, day_cnt,
        | CAST(sum(day_cnt) OVER (PARTITION BY event_type ORDER BY day
        |   RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS mov3_cnt
        |FROM d ORDER BY event_type, day""".stripMargin),

    // ingest-volume spike monitor (streaming/EventPipeline
    // .dailyAnomalies): per-(type, day) counts against the trailing
    // 7-day baseline, the |x−μ| > 3σ test cross-multiplied into pure
    // integer arithmetic ((n·x−S)² > 9·(n·SS−S²)) so the flag decision
    // is bit-identical across engines
    Entry("events_anomaly", (s, dir) =>
      graft.streaming.EventPipeline.dailyAnomalies(
          Tables.events(s, dir), "ts", "event_type")
        .orderBy("event_type", "day"),
      """WITH d AS (SELECT event_type,
        |  CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day,
        |  CAST(count(*) AS BIGINT) AS day_cnt
        | FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, day_cnt,
        |  CAST(count(*) OVER fr AS BIGINT) AS n_base,
        |  CAST(COALESCE(sum(day_cnt) OVER fr, 0) AS BIGINT) AS s_base,
        |  CAST(COALESCE(sum(day_cnt * day_cnt) OVER fr, 0) AS BIGINT)
        |    AS ss_base
        | FROM d WINDOW fr AS (PARTITION BY event_type ORDER BY day
        |   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, day_cnt, n_base,
        | CAST(CASE WHEN n_base >= 5 AND
        |   (n_base * day_cnt - s_base) * (n_base * day_cnt - s_base) >
        |   9 * (n_base * ss_base - s_base * s_base)
        |  THEN 1 ELSE 0 END AS INTEGER) AS is_anom
        |FROM w ORDER BY event_type, day""".stripMargin),

    // inter-event gap quantiles per event type: the per-user lag window
    // (one exchange) feeding the per-group exact quantile machinery —
    // "how bursty is each event stream", in exact milliseconds
    Entry("events_gap_quantiles", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("event_type"),
          expr("(ts - prev) div 1000000").as("gap_ms"))
      graft.pipeline.Sketches.exactQuantilesByGroup(gaps, "event_type",
        "gap_ms", Seq(50, 90, 99))
        .orderBy("event_type", "q_x100")
    },
      """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts,
        |  event_id, event_type FROM events),
        |g AS (SELECT event_type,
        |  (ts - lag(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id)) // 1000000 AS gap_ms
        | FROM e),
        |h AS (SELECT event_type, gap_ms AS v, count(*) AS cnt
        | FROM g WHERE gap_ms IS NOT NULL GROUP BY event_type, gap_ms),
        |c AS (SELECT event_type, v,
        |  sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |  CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS n_total
        | FROM h),
        |q AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS q_x100)
        |SELECT c.event_type, q.q_x100, min(c.v) AS value,
        | (q.q_x100 * c.n_total + 99) // 100 AS rank, c.n_total
        |FROM q, c
        |WHERE c.cum >= (q.q_x100 * c.n_total + 99) // 100
        |GROUP BY c.event_type, q.q_x100, c.n_total
        |ORDER BY event_type, q_x100""".stripMargin),

    Entry("events_day_partitioned", (s, dir) => {
      val p = dayPartDir.getOrElseUpdate(dir, {
        val out = newStoreDir("graft_daypart")
        graft.sources.PartitionedTables
          .writeEventsByDay(Tables.events(s, dir), out)
        out
      })
      graft.sources.PartitionedTables.read(s, p)
        .where(col("day").isin(19725, 19726, 19727))
        .groupBy(col("day").cast("long").as("day"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .orderBy("day")
    },
      """SELECT epoch_ns(ts) // 86400000000000 AS day,
        | count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE epoch_ns(ts) // 86400000000000 IN (19725, 19726, 19727)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ordered event funnel (signup → later click → later purchase):
    // stage N is an aggregate join on the stage-(N−1) users, so each
    // stage shrinks the relation — the classic product-analytics
    // cascade; µs timestamps so strict ordering agrees with the oracle
    Entry("events_funnel", (s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("tus"))
      val s1 = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("tus")).as("t1"))
      val s2 = ev.where(col("event_type") === "click")
        .join(s1, "user_id").where(col("tus") > col("t1"))
        .groupBy("user_id").agg(min(col("tus")).as("t2"))
      val s3 = ev.where(col("event_type") === "purchase")
        .join(s2, "user_id").where(col("tus") > col("t2"))
        .select("user_id").distinct()
      s1.agg(count(lit(1)).as("n_signup"))
        .crossJoin(s2.agg(count(lit(1)).as("n_click_after")))
        .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after")))
    },
      """WITH e AS (SELECT user_id, event_type,
        |  CAST(epoch_us(ts) AS BIGINT) AS tus FROM events),
        |s1 AS (SELECT user_id, min(tus) AS t1 FROM e
        | WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(tus) AS t2 FROM e JOIN s1 USING (user_id)
        | WHERE event_type = 'click' AND tus > t1 GROUP BY 1),
        |s3 AS (SELECT DISTINCT e.user_id FROM e JOIN s2 USING (user_id)
        | WHERE event_type = 'purchase' AND tus > t2)
        |SELECT (SELECT count(*) FROM s1) AS n_signup,
        | (SELECT count(*) FROM s2) AS n_click_after,
        | (SELECT count(*) FROM s3) AS n_purchase_after""".stripMargin),

    // per-session SUMMARIES (start/end/count/duration) over the
    // gap-and-island labeling — the exact-ns complement of
    // events_sessions' session_window stats; 12h gap exercises longer
    // sessions than the 30-min entries; µs-truncated ts as above
    Entry("events_session_summary", (s, dir) =>
      graft.streaming.EventPipeline.sessionized(
          Tables.events(s, dir).select("user_id", "ts", "event_id")
            .withColumn("ts", col("ts") - col("ts") % 1000),
          gapNanos = 43200000000000L)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
          count(lit(1)).as("n_events"))
        .withColumn("duration", col("end_ts") - col("start_ts"))
        .orderBy("user_id", "session_seq"),
      """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts,
        |  event_id FROM events),
        |m AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts - lag(ts) OVER w >= 43200000000000 THEN 1 ELSE 0 END
        |    AS is_start
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(is_start) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |  CURRENT ROW) - 1 AS session_seq FROM m)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        | min(ts) AS start_ts, max(ts) AS end_ts,
        | CAST(count(*) AS BIGINT) AS n_events,
        | max(ts) - min(ts) AS duration
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin),

    // first-order Markov transition matrix over each user's event
    // timeline: one lag window by user + a |types|^2-bounded count
    Entry("events_transitions", (s, dir) =>
      graft.streaming.EventPipeline
        .transitionCounts(Tables.events(s, dir))
        .orderBy("from_type", "to_type"),
      """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts,
        |  event_id, event_type FROM events),
        |p AS (SELECT event_type AS to_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS from_type FROM e)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
        |FROM p WHERE from_type IS NOT NULL
        |GROUP BY from_type, to_type
        |ORDER BY from_type, to_type""".stripMargin),

    // within-session funnel (EventPipeline.sessionFunnel): signup →
    // click → purchase completed inside ONE 30-minute-gap session,
    // stages chained by strictly-later first-completion times — the
    // visit-scoped variant of events_funnel's lifetime conversion
    Entry("events_funnel_session", (s, dir) =>
      graft.streaming.EventPipeline.sessionFunnel(
        Tables.events(s, dir), gapNanos = 1800000000000L,
        steps = Seq("signup", "click", "purchase")),
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  CAST(epoch_ns(ts) AS BIGINT) AS ts FROM events),
        |m AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts - lag(ts) OVER w >= 1800000000000 THEN 1 ELSE 0 END
        |   AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_type, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
        |   AS sseq FROM m),
        |s1 AS (SELECT user_id, sseq, min(ts) AS t FROM s
        | WHERE event_type = 'signup' GROUP BY 1, 2),
        |s2 AS (SELECT s.user_id, s.sseq, min(s.ts) AS t FROM s
        | JOIN s1 ON s.user_id = s1.user_id AND s.sseq = s1.sseq
        | WHERE s.event_type = 'click' AND s.ts > s1.t GROUP BY 1, 2),
        |s3 AS (SELECT s.user_id, s.sseq, min(s.ts) AS t FROM s
        | JOIN s2 ON s.user_id = s2.user_id AND s.sseq = s2.sseq
        | WHERE s.event_type = 'purchase' AND s.ts > s2.t GROUP BY 1, 2)
        |SELECT CAST(stage AS INTEGER) AS stage, step,
        | CAST(n AS BIGINT) AS n_sessions FROM (
        | SELECT 1 AS stage, 'signup' AS step, count(*) AS n FROM s1
        | UNION ALL SELECT 2, 'click', count(*) FROM s2
        | UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
        |ORDER BY stage""".stripMargin),

    // CUSUM sustained-shift detection (EventPipeline.cusumShifts):
    // the recurrence S_t = max(0, S_{t-1} + x - drift) unrolled to two
    // cumulative windows (cumsum minus its 0-floored cummin) over the
    // mergeable daily-count state; a planted +40/day click surge from
    // day 19740 trips the threshold within days while the z-test
    // fixture stays quiet
    Entry("events_cusum", (s, dir) => {
      val daily = graft.streaming.EventPipeline
        .dailyCounts(Tables.events(s, dir), "ts", "event_type")
        .withColumn("day_cnt",
          when(col("event_type") === "click" && col("day") >= 19740L,
            col("day_cnt") + 40L).otherwise(col("day_cnt")))
      graft.streaming.EventPipeline
        .cusumShifts(daily, drift = 70L, threshold = 100L)
        .orderBy("event_type", "day")
    },
      """WITH d0 AS (SELECT event_type,
        |  CAST(epoch_ns(ts) AS BIGINT) // 86400000000000 AS day,
        |  CAST(count(*) AS BIGINT) AS day_cnt
        | FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type, day,
        |  CASE WHEN event_type = 'click' AND day >= 19740
        |   THEN day_cnt + 40 ELSE day_cnt END AS day_cnt FROM d0),
        |c AS (SELECT event_type, day, day_cnt,
        |  CAST(sum(day_cnt - 70) OVER (PARTITION BY event_type
        |   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |   CURRENT ROW) AS BIGINT) AS cc
        | FROM d),
        |s AS (SELECT event_type, day, day_cnt,
        |  cc - least(CAST(min(cc) OVER (PARTITION BY event_type
        |   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |   CURRENT ROW) AS BIGINT), 0) AS cusum
        | FROM c)
        |SELECT event_type, day, day_cnt, CAST(cusum AS BIGINT) AS cusum,
        | CAST(CASE WHEN cusum > 100 THEN 1 ELSE 0 END AS INTEGER)
        |   AS is_shift
        |FROM s ORDER BY event_type, day""".stripMargin),

    // discovered top-25 length-3 user journeys (EventPipeline
    // .pathCounts): two leads on one (ts, event_id)-ordered user
    // window, a <=|types|^3 groupBy and a bounded deterministic top-k
    // — the funnel you discover instead of declare
    Entry("events_paths", (s, dir) =>
      graft.streaming.EventPipeline.pathCounts(Tables.events(s, dir),
          k = 25)
        .orderBy(col("cnt").desc, col("step1"), col("step2"),
          col("step3")),
      """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts,
        |  event_id, event_type FROM events),
        |p AS (SELECT event_type AS step1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS step2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS step3
        | FROM e)
        |SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS cnt
        |FROM p WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY cnt DESC, step1, step2, step3 LIMIT 25""".stripMargin),
  )
}
