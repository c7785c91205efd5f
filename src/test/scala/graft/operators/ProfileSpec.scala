package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class ProfileSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val df = Seq(
    (Option(1L), Option("a"), Option(1.5)),
    (Option(2L), Option("b"), Option(1.5)),
    (Option(2L), None, Option(-3.0)),
    (None, Option("a"), None)
  ).toDF("id", "s", "v")

  test("profile: per-column counters in schema order, NULL-aware") {
    val r = Profile.profile(df).collect()
    assert(r.map(_.getString(0)).toSeq === Seq("id", "s", "v"))
    val byCol = r.map(x => x.getString(0) ->
      (x.getLong(1), x.getLong(2), x.getLong(3),
        x.getString(4), x.getString(5))).toMap
    assert(byCol("id") === ((4L, 1L, 2L, "1", "2")))
    assert(byCol("s") === ((4L, 1L, 2L, "a", "b")))
    assert(byCol("v") === ((4L, 1L, 2L, "-3.0", "1.5")))
  }

  test("profile: empty relation gives zero counts and NULL min/max") {
    val r = Profile.profile(df.where("id > 100")).collect()
    assert(r.length === 3)
    r.foreach { x =>
      assert(x.getLong(1) === 0L && x.getLong(2) === 0L && x.getLong(3) === 0L)
      assert(x.isNullAt(4) && x.isNullAt(5))
    }
  }

  test("profile: approx mode stays within HLL tolerance on 1k distincts") {
    val big = (0 until 1000).map(i => (i.toLong, s"k${i % 100}"))
      .toDF("id", "k")
    val r = Profile.profile(big, exact = false).collect()
      .map(x => x.getString(0) -> x.getLong(3)).toMap
    assert(math.abs(r("id") - 1000L) <= 100L)
    assert(math.abs(r("k") - 100L) <= 10L)
  }

  test("compare: presence, range/distinct/null-fraction drift flags") {
    val a = Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "z", 30L))
      .toDF("id", "name", "gone")
    val b = Seq((1L, "x", 7L), (2L, null.asInstanceOf[String], 7L),
      (4L, "w", 7L)).toDF("id", "name", "fresh")
    val got = Profile.compare(a, b)
      .collect().map(r => r.getString(0) ->
        ((r.getString(1), r.getLong(6), r.getLong(7), r.getLong(8),
          r.getLong(9)))).toMap
    // columns: presence, n_distinct_a, n_distinct_b, range_changed,
    // distinct_changed (index 6..9 are n_distinct_a, n_distinct_b,
    // range_changed, distinct_changed)
    assert(got("gone")._1 === "dropped")
    assert(got("fresh")._1 === "added")
    assert(got("id") === (("kept", 3L, 3L, 1L, 0L))) // max 3 -> 4
    // name: a null appeared (null_frac) and 'z' -> 'w' moved the range
    val name = Profile.compare(a, b).where("column = 'name'")
      .select("presence", "range_changed", "distinct_changed",
        "null_frac_changed").collect().head
    assert(name.getString(0) === "kept")
    assert(name.getLong(1) === 1L)
    assert(name.getLong(3) === 1L)
    // equal relations: every flag zero, all kept
    val same = Profile.compare(a, a).collect()
    assert(same.forall(r => r.getString(1) === "kept" &&
      r.getLong(8) === 0L && r.getLong(9) === 0L && r.getLong(10) === 0L))
  }
  test("corrExact: hand-checked components, perfect correlation hits " +
      "exactly 1e6, zero variance yields NULL r2") {
    // (1,2),(2,4),(3,6): y = 2x → r² = 1 exactly
    val perfect = Seq((1L, 2L), (2L, 4L), (3L, 6L)).toDF("x", "y")
    val p = Profile.corrExact(perfect, "x", "y").collect()(0)
    assert(p.getLong(0) === 3L)
    assert(p.getDecimal(3).longValueExact() === 2L *
      p.getDecimal(4).longValueExact()) // cov = 2·varx for y = 2x
    assert(p.getLong(6) === 1000000L)
    // hand case (1,1),(2,3),(3,2): n=3 sx=6 sy=6 sxy=13 sxx=14 syy=14
    // cov=3·13−36=3, varx=vary=3·14−36=6 → r² = 9/36 = 0.25
    val hand = Seq((1L, 1L), (2L, 3L), (3L, 2L)).toDF("x", "y")
    val h = Profile.corrExact(hand, "x", "y").collect()(0)
    assert((h.getDecimal(3).longValueExact(),
      h.getDecimal(4).longValueExact(),
      h.getDecimal(5).longValueExact()) === ((3L, 6L, 6L)))
    assert(h.getLong(6) === 250000L)
    // constant y → vary = 0 → r² NULL; NULL rows excluded from n
    val const = Seq((Some(1L), Some(5L)), (Some(2L), Some(5L)),
      (None, Some(9L))).toDF("x", "y")
    val c = Profile.corrExact(const, "x", "y").collect()(0)
    assert(c.getLong(0) === 2L)
    assert(c.isNullAt(6))
  }
  test("mutualInfoCells: zero on independence, ln(2)-scaled on a " +
      "deterministic copy, NULLs excluded") {
    // perfectly independent 2x2 (every cell = 25 of 100): MI = 0
    val indep = (0 until 100).map(i => (i % 2, (i / 2) % 2))
      .toDF("x", "y")
    assert(Profile.mutualInfoCells(indep, "x", "y")
      .collect().map(_.getLong(3)).forall(_ === 0L))
    // y = x on a fair binary column: MI = ln 2 → 693147 per the two
    // diagonal cells summing (each cell contributes ln(2)/2)
    val copy = (0 until 100).map(i => (i % 2, i % 2)).toDF("x", "y")
    val cs = Profile.mutualInfoCells(copy, "x", "y")
      .collect().map(_.getLong(3)).toSeq
    assert(cs.sum === 693146L || cs.sum === 693147L) // floor residue
    // NULL rows drop out entirely
    val withNull = Seq((Some(1), Some(1)), (None, Some(1)))
      .toDF("x", "y")
    val r = Profile.mutualInfoCells(withNull, "x", "y").collect()
    assert(r.length === 1 && r(0).getLong(2) === 1L)
  }
}
