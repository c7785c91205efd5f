package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import EventPipeline.{AttrEvent, AttrLatest}

/** Streaming semantics via MemoryStream: incremental results must match
  * the batch run of the SAME transform over the union of all batches. */
class EventPipelineSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val hourNs = 3600L * 1000 * 1000 * 1000
  private val baseNs = 1704067200L * 1000 * 1000 * 1000 // 2024-01-01, above watermark 0

  // (event_id, ts_ns, user_id, event_type, value, props)
  private def ev(id: Long, hour: Long, user: Long, typ: String, v: Double) =
    (id, baseNs + hour * hourNs, user, typ, v, s"""{"k": $id}""")

  private val batch1 = Seq(
    ev(1, 0, 10, "click", 1.0), ev(2, 0, 11, "view", 2.0),
    ev(3, 1, 10, "click", 3.0))
  private val batch2 = Seq(
    ev(4, 1, 12, "click", 4.0), ev(5, 2, 10, "view", 5.0))

  private def toDf(rows: Seq[(Long, Long, Long, String, Double, String)]) =
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

  test("windowedStats: streaming (complete mode) equals batch on same data") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long, Long, String, Double, String)]
    val sdf = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventPipeline.windowedStats(sdf, "1 hour")
      .writeStream.format("memory").queryName("win_stats")
      .outputMode("complete").start()
    try {
      stream.addData(batch1: _*)
      q.processAllAvailable()
      stream.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("win_stats")
        .orderBy("win_start", "event_type").collect().toSeq
      val batch = EventPipeline.windowedStats(toDf(batch1 ++ batch2), "1 hour")
        .orderBy("win_start", "event_type").collect().toSeq
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("latestAttributes: later triggers overwrite earlier state") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[AttrEvent]
    val q = EventPipeline.latestAttributes(stream.toDS())
      .writeStream.format("memory").queryName("latest_attrs")
      .outputMode("update").start()
    try {
      stream.addData(AttrEvent(1, "color", 1.0, ts = 100, event_id = 1))
      q.processAllAvailable()
      val first = spark.table("latest_attrs").collect()
      assert(first.map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
        === Set((1L, "color", 1.0)))
      // newer ts wins; stale ts does NOT overwrite
      stream.addData(
        AttrEvent(1, "color", 2.0, ts = 200, event_id = 2),
        AttrEvent(1, "color", 9.0, ts = 50, event_id = 3))
      q.processAllAvailable()
      val rows = spark.table("latest_attrs").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
      assert(rows.last === ((1L, "color", 2.0, 2L)))
    } finally q.stop()
  }

  test("latestAttributes: batch mode agrees with AttributesLog.resolve") {
    val events = (batch1 ++ batch2).map(t =>
      AttrEvent(t._3, t._4, t._5, t._2, t._1)).toDS()
    val viaState = EventPipeline.latestAttributes(events)
      .orderBy("user_id", "event_type").collect().toSeq
    val viaLog = graft.attrs.AttributesLog
      .resolve(toDf(batch1 ++ batch2), Seq("user_id", "event_type"), Seq("ts", "event_id"))
      .select($"user_id", $"event_type", $"value", $"event_id".as("last_event_id"))
      .orderBy("user_id", "event_type").as[AttrLatest].collect().toSeq
    assert(viaState === viaLog)
  }

  test("dedupStream: repeated keys across triggers emitted once") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long, Long, String, Double, String)]
    val sdf = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventPipeline.dedupStream(sdf, "10 hours", Seq("event_id"))
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    try {
      stream.addData(ev(1, 0, 10, "click", 1.0), ev(2, 0, 11, "view", 2.0))
      q.processAllAvailable()
      stream.addData(ev(1, 0, 10, "click", 1.0), ev(3, 1, 12, "click", 3.0))
      q.processAllAvailable()
      val ids = spark.table("deduped").select("event_id")
        .collect().map(_.getLong(0)).toSeq
      assert(ids.sorted === Seq(1L, 2L, 3L))
    } finally q.stop()
  }

  test("StreamingKnn: per-trigger results equal batch kNN") {
    implicit val sqlCtx = spark.sqlContext
    val points = Seq(
      (1L, Seq(0f, 0f)), (2L, Seq(1f, 0f)), (3L, Seq(0f, 2f)),
      (4L, Seq(5f, 5f))).toDF("id", "vec")
    val stream = MemoryStream[(Long, Seq[Float])]
    val sdf = stream.toDF().toDF("qid", "qvec")
    val q = StreamingKnn.topKPerQuery(sdf, "qid", "qvec", points, "id", "vec", 2)
      .writeStream.format("memory").queryName("stream_knn")
      .outputMode("update").start()
    try {
      stream.addData((100L, Seq(0f, 0f)))
      q.processAllAvailable()
      stream.addData((200L, Seq(5f, 5f)))
      q.processAllAvailable()
      val got = spark.table("stream_knn")
        .collect()
        .map(r => (r.getLong(0), r.getLong(3), r.getLong(1)))
        .toSet
      // query 100 → nearest 1 then 2; query 200 → nearest 4 then 3
      assert(got === Set((100L, 1L, 1L), (100L, 2L, 2L),
        (200L, 1L, 4L), (200L, 2L, 3L)))
    } finally q.stop()
  }

  test("sessionized: gaps >= the threshold split sessions per user") {
    val minNs = 60L * 1000 * 1000 * 1000
    val rows = Seq(
      (1L, 0L * minNs, 1L), (2L, 10L * minNs, 1L),   // session 0 (gap 10m)
      (3L, 45L * minNs, 1L),                         // session 1 (gap 35m)
      (4L, 75L * minNs, 1L),                         // session 2 (gap EXACTLY 30m)
      (5L, 0L * minNs, 2L))                          // other user: own session 0
      .map { case (id, t, u) => (id, baseNs + t, u, "click", 1.0, "{}") }
    val got = EventPipeline.sessionized(toDf(rows), gapNanos = 30 * minNs)
      .select("event_id", "session_seq").orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got === Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 2L), (5L, 0L)))
  }

  test("sessionStats (session_window) agrees with sessionized labeling") {
    val rows = batch1 ++ batch2 ++ Seq(ev(6, 0, 10, "view", 7.0))
    val df = toDf(rows)
    val viaWindow = EventPipeline.sessionStats(df, "30 minutes")
      .orderBy("user_id", "win_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // derive the same stats from the per-event labels
    val labeled = EventPipeline.sessionized(df, 30L * 60 * 1000000000L)
    val viaLabels = labeled
      .groupBy($"user_id", $"session_seq")
      .agg(org.apache.spark.sql.functions.expr("min(ts div 1000)").as("win_start"),
        org.apache.spark.sql.functions.count("*").as("n_events"))
      .select("user_id", "win_start", "n_events")
      .orderBy("user_id", "win_start").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(viaWindow === viaLabels)
    assert(viaWindow.nonEmpty)
  }

  test("sessionStats: streaming (complete mode) equals batch on same data") {
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Long, Long, String, Double, String)]
    val sdf = stream.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val q = EventPipeline.sessionStats(sdf, "30 minutes")
      .writeStream.format("memory").queryName("sess_stats")
      .outputMode("complete").start()
    try {
      stream.addData(batch1: _*)
      q.processAllAvailable()
      stream.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.table("sess_stats")
        .orderBy("user_id", "win_start").collect().toSeq
      val batch = EventPipeline.sessionStats(toDf(batch1 ++ batch2), "30 minutes")
        .orderBy("user_id", "win_start").collect().toSeq
      assert(streamed === batch)
      assert(batch.nonEmpty)
    } finally q.stop()
  }

  test("attributionPairs: stream-stream join (append) equals batch") {
    implicit val sqlCtx = spark.sqlContext
    // clicks at hours 0,1,3 for user 10; purchases at 1,2 — the 1-hour
    // window attributes each purchase to strictly-earlier clicks only
    val clicks = Seq((1L, 10L, baseNs), (2L, 10L, baseNs + hourNs),
      (3L, 10L, baseNs + 3 * hourNs), (4L, 11L, baseNs))
    val purchases = Seq((100L, 10L, baseNs + hourNs),
      (101L, 10L, baseNs + 2 * hourNs), (102L, 11L, baseNs + hourNs))
    val cs = MemoryStream[(Long, Long, Long)]
    val ps = MemoryStream[(Long, Long, Long)]
    val cdf = cs.toDF().toDF("click_id", "user_id", "click_ts")
    val pdf = ps.toDF().toDF("purchase_id", "user_id", "purchase_ts")
    val q = EventPipeline.attributionPairs(cdf, pdf, "click_ts",
        "purchase_ts", "1 hour", watermark = Some("2 hours"))
      .select("purchase_id", "click_id")
      .writeStream.format("memory").queryName("attr_pairs")
      .outputMode("append").start()
    try {
      cs.addData(clicks: _*)
      ps.addData(purchases: _*)
      q.processAllAvailable()
      val streamed = spark.table("attr_pairs")
        .orderBy("purchase_id", "click_id")
        .as[(Long, Long)].collect().toSeq
      val batch = EventPipeline.attributionPairs(
          clicks.toDF("click_id", "user_id", "click_ts"),
          purchases.toDF("purchase_id", "user_id", "purchase_ts"),
          "click_ts", "purchase_ts", "1 hour")
        .select("purchase_id", "click_id")
        .orderBy("purchase_id", "click_id")
        .as[(Long, Long)].collect().toSeq
      assert(streamed === batch)
      // purchase 100 ← click 1 (t-1h boundary inclusive); purchase 101 ←
      // click 2; purchase 102 ← click 4; click 3 is AFTER both purchases
      assert(batch === Seq((100L, 1L), (101L, 2L), (102L, 4L)))
    } finally q.stop()
  }

  test("extractProps: json field as long") {
    val r = EventPipeline.extractProps(toDf(batch1)).orderBy("event_id")
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSeq
    assert(r === Seq((1L, 1L), (2L, 2L), (3L, 3L)))
  }

  test("rollingActiveUsers: trailing-window distinct counts on observed " +
      "days only, duplicate events collapse, gaps do not emit") {
    import spark.implicits._
    val day = 86400000000000L
    // day 0: u1,u2; day 1: u1 (twice); day 3: u3
    val ev = Seq(
      (0L * day + 5L, 1L), (0L * day + 9L, 2L), (1L * day + 1L, 1L),
      (1L * day + 2L, 1L), (3L * day + 7L, 3L))
      .toDF("ts", "user_id")
    val got = EventPipeline.rollingActiveUsers(ev, "ts", "user_id", 3)
      .orderBy("day").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // day 0: {u1,u2}; day 1: window {0,1} -> {u1,u2}; day 3: window
    // {1,2,3} -> {u1,u3}; day 2 has no events -> no row
    assert(got === Seq((0L, 2L), (1L, 2L), (3L, 2L)))
  }

  test("dailyAnomalies: a 10x spike against a stable baseline flags, " +
      "the warm-up days (thin baseline) and the steady days do not") {
    import spark.implicits._
    val day = 86400000000000L
    // type "a": days 0..9 carry 4 + (day % 3) events, day 10 carries 40
    val rows = (0 to 9).flatMap { d =>
      (0 until (4 + d % 3)).map(i => (d * day + i, "a"))
    } ++ (0 until 40).map(i => (10L * day + i, "a"))
    val got = EventPipeline.dailyAnomalies(
        rows.toDF("ts", "event_type"), "ts", "event_type",
        baseDays = 7, minBase = 5, z = 3)
      .orderBy("day").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getInt(4)))
    // warm-up: days 0..4 have fewer than 5 baseline days -> never anomalous
    assert(got.filter(_._1 <= 4).forall(_._4 === 0))
    // steady days 5..9 sit inside the 4..6 band -> not anomalous
    assert(got.filter(x => x._1 >= 5 && x._1 <= 9).forall(_._4 === 0))
    // day 10: baseline n=7, x=40 far outside 3 sigma -> flagged
    val d10 = got.find(_._1 === 10L).get
    assert(d10._2 === 40L && d10._3 === 7L && d10._4 === 1)
  }

  test("dailyAnomalies: deterministic under repartition and exact " +
      "integer window sums") {
    import spark.implicits._
    val day = 86400000000000L
    val rows = (0 to 12).flatMap { d =>
      (0 until (3 + (d * 7) % 5)).map(i => (d * day + i, "t"))
    }
    val df = rows.toDF("ts", "event_type")
    val a = EventPipeline.dailyAnomalies(df, "ts", "event_type")
      .collect().map(_.toSeq).toSet
    val b = EventPipeline.dailyAnomalies(df.repartition(9), "ts",
      "event_type").collect().map(_.toSeq).toSet
    assert(a === b)
    assert(a.nonEmpty)
  }
  test("pathCounts discovers length-3 journeys with the deterministic " +
      "(ts, event_id) order and top-k cut") {
    // user 1: a b c d → paths abc, bcd; user 2: a b c → abc;
    // user 3 has only 2 events → no path. Tie at ts=30 broken by id.
    val ev = Seq(
      (1L, 10L, 1L, "a"), (1L, 20L, 2L, "b"), (1L, 30L, 3L, "c"),
      (1L, 30L, 4L, "d"),
      (2L, 10L, 5L, "a"), (2L, 20L, 6L, "b"), (2L, 30L, 7L, "c"),
      (3L, 10L, 8L, "x"), (3L, 20L, 9L, "y"))
      .toDF("user_id", "ts", "event_id", "event_type")
    val got = EventPipeline.pathCounts(ev, k = 10).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq
    assert(got === Seq(("a", "b", "c", 2L), ("b", "c", "d", 1L)))
    // k cuts at the (cnt desc, steps asc) boundary deterministically
    assert(EventPipeline.pathCounts(ev, k = 1).collect()
      .map(r => (r.getString(0), r.getLong(3))).toSeq ===
      Seq(("a", 2L)))
  }
  test("cusumShifts equals the textbook max(0, S+x-drift) recurrence " +
      "and flags the sustained shift a z-test misses") {
    // counts: 5 quiet days at ~drift, then a +3/day shift
    val counts = Seq(10L, 9L, 11L, 10L, 10L, 13L, 13L, 13L, 13L)
    val daily = counts.zipWithIndex
      .map { case (c, d) => ("a", d.toLong, c) }
      .toDF("event_type", "day", "day_cnt")
    val got = EventPipeline.cusumShifts(daily, drift = 10L,
        threshold = 8L)
      .orderBy("day").collect()
      .map(r => (r.getLong(2), r.getLong(3), r.getInt(4))).toSeq
    // driver recurrence
    var s = 0L
    val want = counts.map { x =>
      s = math.max(0L, s + x - 10L)
      (x, s, if (s > 8L) 1 else 0)
    }
    assert(got === want)
    // the virtual C0 floor: an all-above-drift series accumulates
    // from zero, not from its own first increment
    val hot = Seq((("b"), 0L, 15L), (("b"), 1L, 15L))
      .toDF("event_type", "day", "day_cnt")
    assert(EventPipeline.cusumShifts(hot, 10L, 1L).orderBy("day")
      .collect().map(_.getLong(3)).toSeq === Seq(5L, 10L))
  }
  test("attributionLinearDecay splits credit by windowNs - gap with " +
      "floor-ppm shares") {
    val clicks = Seq((1L, 5L, 900L), (2L, 5L, 700L), (3L, 5L, 100L),
      (4L, 6L, 950L))
      .toDF("click_id", "user_id", "click_ts")
    val purchases = Seq((10L, 5L, 1000L), (11L, 6L, 1000L))
      .toDF("purchase_id", "user_id", "purchase_ts")
    // window 500: user-5 clicks at gaps 100, 300 weigh 400, 200
    // (the gap-900 click is outside); shares 666666 / 333333 ppm
    val got = EventPipeline.attributionLinearDecay(clicks, purchases,
        "click_ts", "purchase_ts", windowNs = 500L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === Set(
      (10L, 1L, 400L, 666666L), (10L, 2L, 200L, 333333L),
      (11L, 4L, 450L, 1000000L)))
    // a click exactly on the window edge would weigh 0 — excluded
    val edge = EventPipeline.attributionLinearDecay(
      Seq((9L, 7L, 500L)).toDF("click_id", "user_id", "click_ts"),
      Seq((20L, 7L, 1000L)).toDF("purchase_id", "user_id", "purchase_ts"),
      "click_ts", "purchase_ts", windowNs = 500L)
    assert(edge.count() === 0L)
  }
  test("sessionFunnel counts only steps completed inside one session " +
      "in strict order") {
    // user 1 session A: a(0) b(10) c(20) → full funnel;
    // user 1 session B (gap 1000): a(2000) c(2010) → stalls at a
    //   (no b; its c cannot skip the b stage);
    // user 2: b before a in the same session → stalls at a;
    // user 3: a then b in the NEXT session → b never counts
    val ev = Seq(
      (1L, 1L, 0L, "a"), (2L, 1L, 10L, "b"), (3L, 1L, 20L, "c"),
      (4L, 1L, 2000L, "a"), (5L, 1L, 2010L, "c"),
      (6L, 2L, 0L, "b"), (7L, 2L, 5L, "a"),
      (8L, 3L, 0L, "a"), (9L, 3L, 2000L, "b"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventPipeline.sessionFunnel(ev, gapNanos = 1000L,
        steps = Seq("a", "b", "c"))
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq
    // stage 1: sessions with an a = 1A, 1B, 2, 3(first) = 4
    assert(got === Seq((1, "a", 4L), (2, "b", 1L), (3, "c", 1L)))
  }
}
