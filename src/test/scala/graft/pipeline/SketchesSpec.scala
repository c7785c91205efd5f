package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.TestSpark

/** Count-min contracts: no undercount ever, one-sided overcount within
  * the εN design bound, and exactness when the table is collision-free. */
class SketchesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // zipf-ish corpus: item i appears 1000/i times, i = 1..50
  private lazy val items = (1 to 50)
    .flatMap(i => Seq.fill(1000 / i)(s"item$i"))
    .toDF("item")

  test("no undercounts; overcounts within eN") {
    val cm = Sketches.countMinBuild(items, "item", depth = 4, width = 256)
    val n = items.count()
    val audited = items.groupBy("item").agg(count(lit(1)).as("exact"))
      .withColumn("est", Sketches.countMinEstimate($"item", cm))
    assert(audited.where($"est" < $"exact").count() === 0L)
    // ε = e/width ≈ 0.0106 → bound ≈ 48 for n ≈ 4500
    val bound = math.ceil(math.E / 256 * n).toLong
    assert(audited.where($"est" > $"exact" + bound).count() === 0L)
  }

  test("wide sketch over few items is exact") {
    val cm = Sketches.countMinBuild(items, "item", depth = 4, width = 8192)
    val wrong = items.groupBy("item").agg(count(lit(1)).as("exact"))
      .withColumn("est", Sketches.countMinEstimate($"item", cm))
      .where($"est" =!= $"exact").count()
    // 50 items × 4 rows in 8192 buckets: collisions vanishingly unlikely
    assert(wrong === 0L)
  }

  test("unseen items estimate near zero (bounded by collisions)") {
    val cm = Sketches.countMinBuild(items, "item", depth = 4, width = 4096)
    val unseen = (1 to 100).map(i => s"ghost$i").toDF("item")
    val n = items.count()
    val bound = math.ceil(math.E / 4096 * n).toLong
    val over = unseen
      .withColumn("est", Sketches.countMinEstimate($"item", cm))
      .where($"est" > bound).count()
    assert(over === 0L)
  }

  test("hll: sparse-mode per-group estimates are exact, union = global") {
    // 3 groups with overlapping member sets: per-group distincts 50/80/30,
    // global distinct 100 (g2 spans 40..119, g3 repeats 0..29)
    val rows = ((0 until 50).map(i => ("g1", i.toLong)) ++
      (40 until 120).map(i => ("g2", i.toLong)) ++
      (0 until 30).flatMap(i => Seq(("g3", i.toLong), ("g3", i.toLong))))
      .toDF("grp", "uid")
    val sk = Sketches.hllByGroup(rows, "grp", "uid")
    val per = Sketches.hllEstimates(sk, "grp").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(per === Map("g1" -> 50L, "g2" -> 80L, "g3" -> 30L))
    // the union of FINISHED sketches answers the global rollup exactly,
    // deduplicating the overlap without revisiting the raw rows
    val total = Sketches.hllUnionEstimate(sk).collect().head.getLong(0)
    assert(total === 120L)
  }

  // ------------------------------------------------------- Misra-Gries

  test("heavyHitters: exact heavy-hitter set on a skewed stream with domain >> k") {
    // 3 heavy items (freq 3000/2000/1500 of n=10100) + 3600 rare items;
    // k=8 => threshold n/8 = 1262.5 -- eviction fires constantly
    val rows = (Seq.fill(3000)("hh1") ++ Seq.fill(2000)("hh2") ++
      Seq.fill(1500)("hh3") ++ (0 until 3600).map(i => s"rare$i"))
    val items = rows.toDF("item").repartition(13)
    val got = Sketches.heavyHitters(items, "item", k = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("hh1" -> 3000L, "hh2" -> 2000L, "hh3" -> 1500L))
  }

  test("heavyHitters: borderline frequencies respect the STRICT > n/k bound") {
    // n = 100, k = 4: threshold 25. freq-25 item must NOT qualify.
    val rows = Seq.fill(26)("over") ++ Seq.fill(25)("at") ++
      Seq.fill(24)("under") ++ (0 until 25).map(i => s"r$i")
    val got = Sketches.heavyHitters(rows.toDF("item"), "item", k = 4)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("over" -> 26L))
  }

  test("heavyHitters: result is stable under repartitioning (merge order)") {
    val rows = (Seq.fill(500)("a") ++ Seq.fill(300)("b") ++
      (0 until 900).map(i => s"x${i % 450}"))
    val a = Sketches.heavyHitters(rows.toDF("item").repartition(3),
      "item", k = 6).collect().map(_.getString(0)).sorted.toSeq
    val b = Sketches.heavyHitters(rows.toDF("item").repartition(17),
      "item", k = 6).collect().map(_.getString(0)).sorted.toSeq
    assert(a === b)
  }

  test("exactQuantiles: ranks match a driver-side sort") {
    val vals = Seq(5L, 1L, 9L, 3L, 3L, 7L, 1L, 8L, 2L, 6L) // n = 10
    val df = vals.toDF("x")
    val got = Sketches.exactQuantiles(df, "x", Seq(10, 50, 90, 100))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val sorted = vals.sorted
    def want(q: Int) = sorted((q * vals.length + 99) / 100 - 1)
    assert(got === Map(10L -> want(10), 50L -> want(50),
      90L -> want(90), 100L -> want(100)))
  }

  test("quantiles exclude NULLs: values unchanged, n_total counts observed rows") {
    val vals = Seq(5L, 1L, 9L, 3L, 3L, 7L, 1L, 8L, 2L, 6L)
    val withNulls = (vals.map(v => Some(v): Option[Long]) ++
      Seq(None, None, None)).toDF("x")
    val got = Sketches.exactQuantiles(withNulls, "x", Seq(50, 100))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(3)))).toMap
    val sorted = vals.sorted
    def want(q: Int) = sorted((q * vals.length + 99) / 100 - 1)
    assert(got === Map(50L -> (want(50), 10L), 100L -> (want(100), 10L)))
    val grouped = Sketches.exactQuantilesByGroup(
      (vals.map(v => ("g", Some(v): Option[Long])) ++ Seq(("g", None)))
        .toDF("g", "x"), "g", "x", Seq(50))
      .collect().map(r => (r.getLong(1), (r.getLong(2), r.getLong(4)))).toMap
    assert(grouped === Map(50L -> (want(50), 10L)))
  }

  test("value histograms merge additively: two batches == one shot") {
    val all = (1 to 100).map(i => (i % 7).toLong).toDF("x")
    val a = (1 to 60).map(i => (i % 7).toLong).toDF("x")
    val b = (61 to 100).map(i => (i % 7).toLong).toDF("x")
    val merged = Sketches.mergeValueHistograms(
      Sketches.valueHistogram(a, "x"), Sketches.valueHistogram(b, "x"))
    val oneShot = Sketches.valueHistogram(all, "x")
    val diff = merged.withColumnRenamed("cnt", "mc")
      .join(oneShot, Seq("v"), "full_outer")
      .where(!(col("mc") <=> col("cnt"))).count()
    assert(diff === 0L)
    // and quantiles from the merged state equal the one-shot quantiles
    val qm = Sketches.quantilesFromHistogram(merged, Seq(25, 50, 75))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val qo = Sketches.quantilesFromHistogram(oneShot, Seq(25, 50, 75))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(qm === qo)
  }

  test("exactQuantilesByGroup equals per-group exactQuantiles") {
    val df = Seq(("a", 1L), ("a", 5L), ("a", 3L), ("a", 9L),
      ("b", 2L), ("b", 2L), ("b", 8L)).toDF("g", "x")
    val grouped = Sketches.exactQuantilesByGroup(df, "g", "x", Seq(50, 100))
      .collect().map(r => ((r.getString(0), r.getLong(1)), r.getLong(2)))
      .toMap
    for (g <- Seq("a", "b")) {
      val single = Sketches.exactQuantiles(
          df.where(col("g") === g).select("x"), "x", Seq(50, 100))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(grouped((g, 50L)) === single(50L), g)
      assert(grouped((g, 100L)) === single(100L), g)
    }
  }

  test("heavyHittersByGroup equals the exact per-group threshold set") {
    // group g1: 'a' x10 of 20 (50%), 'b' x5 (25%), singles; g2 uniform
    val items = (Seq.fill(10)("a") ++ Seq.fill(5)("b") ++
      (1 to 5).map(i => s"u$i")).map(("g1", _)) ++
      (1 to 12).map(i => ("g2", s"v${i % 6}"))
    val df = items.toDF("g", "item")
    val got = Sketches.heavyHittersByGroup(df, "g", "item", k = 4)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSet
    // threshold: > n_group/4 -> g1: a (10 > 5), b is NOT (5 = 5 not >);
    // g2: every value has 2 of 12 (not > 3)
    assert(got === Set(("g1", "a", 10L, 20L)))
  }
  test("f2Exact sums squared counts; AMS state is additive and exact " +
      "on a single-item corpus") {
    import org.apache.spark.sql.functions.col
    // counts {1: 2, 2: 1} -> F2 = 4 + 1 = 5
    val df = Seq(1L, 1L, 2L).toDF("x")
    assert(Sketches.f2Exact(df, "x").collect()(0)
      .getDecimal(0).longValueExact() === 5L)
    // one distinct item: every sketch sum is ±n, so every square is n²
    // and the estimate is EXACTLY F2
    val mono = Seq.fill(7)(42L).toDF("x")
    val st = Sketches.f2SketchState(mono, "x", numSketches = 8)
    assert(st.collect().map(r => math.abs(r.getLong(1))).forall(_ === 7L))
    val est = Sketches.f2FromState(st).collect()(0)
    assert((est.getLong(0), est.getLong(1)) === ((49L, 8L)))
    // additivity: states of two halves merge to the whole's state
    val xs = (1L to 40L).map(i => i % 7)
    val whole = Sketches.f2SketchState(xs.toDF("x"), "x", 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val merged = Sketches.mergeF2States(
        Sketches.f2SketchState(xs.take(17).toDF("x"), "x", 16),
        Sketches.f2SketchState(xs.drop(17).toDF("x"), "x", 16))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(merged === whole)
    // estimator sanity: within 3x of exact on a mixed corpus
    val exact = Sketches.f2Exact(xs.toDF("x"), "x").collect()(0)
      .getDecimal(0).longValueExact()
    val e = Sketches.f2FromState(Sketches.f2SketchState(xs.toDF("x"), "x", 16))
      .collect()(0).getLong(0)
    assert(e >= exact / 3 && e <= exact * 3)
    // nulls are excluded, empty input folds to zero sums
    val withNull = Seq(Some(1L), None, Some(1L)).toDF("x")
    assert(Sketches.f2SketchState(withNull, "x", 4)
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.abs(col("s_sum"))))
      .collect()(0).getLong(0) === 8L)
  }
  test("joinSizeFromHistograms predicts the exact equi-join size and " +
      "merged batch histograms predict identically") {
    val a = Seq(1L, 1L, 2L, 3L, 3L, 3L).toDF("k")
    val b = Seq(1L, 3L, 3L, 9L).toDF("k")
    val pred = Sketches.joinSizeFromHistograms(
        Sketches.valueHistogram(a, "k"), Sketches.valueHistogram(b, "k"))
      .collect()(0)
    // 1: 2·1 + 3: 3·2 = 8 rows over 2 joint keys
    assert(pred.getDecimal(0).longValueExact() === 8L)
    assert(pred.getLong(1) === 2L)
    assert(a.join(b, "k").count() === 8L)
    // state mergeability: a's histogram from two folded batches
    val merged = Sketches.mergeValueHistograms(
      Sketches.valueHistogram(Seq(1L, 2L, 3L).toDF("k"), "k"),
      Sketches.valueHistogram(Seq(1L, 3L, 3L).toDF("k"), "k"))
    assert(Sketches.joinSizeFromHistograms(merged,
        Sketches.valueHistogram(b, "k"))
      .collect()(0).getDecimal(0).longValueExact() === 8L)
    // disjoint keys → zero
    assert(Sketches.joinSizeFromHistograms(
        Sketches.valueHistogram(Seq(7L).toDF("k"), "k"),
        Sketches.valueHistogram(Seq(8L).toDF("k"), "k"))
      .collect()(0).getDecimal(0).longValueExact() === 0L)
  }
}
