package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class PageRankSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("rankInt matches a driver-side integer power iteration") {
    // a small directed graph incl. a sink (4) and a hub (1)
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (3L, 4L),
      (2L, 4L)).toDF("src", "dst")
    val got = PageRank.rankInt(edges, iters = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // reference recompute, same fixed-point rules
    val e = Seq((1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L), (3L, 4L), (2L, 4L))
    val deg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    var s = nodes.map(_ -> 1000000000L).toMap
    for (_ <- 1 to 4) {
      val contrib = e.groupBy(_._2).map { case (v, in) =>
        v -> in.map { case (u, _) => s(u) / deg(u) }.sum
      }
      s = nodes.map { v =>
        val c = contrib.getOrElse(v, 0L)
        v -> (150000000L + 85L * (c / 100) + (85L * (c % 100)) / 100)
      }.toMap
    }
    assert(got === s)
    // the hub receiving from 2 and 3 outranks the leaf 2
    assert(got(1L) > got(2L))
  }

  test("rankPersonalized: teleport mass lands only on seeds and " +
      "unreached nodes score exactly 0") {
    // 1 → 2 → 3, plus an island 4 → 5 no seed reaches
    val edges = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("src", "dst")
    val seeds = Seq(Tuple1(1L)).toDF("v")
    val got = PageRank.rankPersonalized(edges, seeds, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver recompute, same fixed-point rules with seed-gated base
    val e = Seq((1L, 2L), (2L, 3L), (4L, 5L))
    val deg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val seedSet = Set(1L)
    var s = nodes.map(v => v -> (if (seedSet(v)) 1000000000L else 0L)).toMap
    for (_ <- 1 to 2) {
      val contrib = e.groupBy(_._2).map { case (v, in) =>
        v -> in.map { case (u, _) => s(u) / deg(u) }.sum
      }
      s = nodes.map { v =>
        val c = contrib.getOrElse(v, 0L)
        val base = if (seedSet(v)) 150000000L else 0L
        v -> (base + 85L * (c / 100) + (85L * (c % 100)) / 100)
      }.toMap
    }
    assert(got === s)
    assert(got(4L) === 0L && got(5L) === 0L)
    // everything the seed reaches carries rank (the pulse travels in
    // waves, so no monotonic ordering along the path at a fixed iter)
    assert(got(1L) > 0L && got(2L) > 0L && got(3L) > 0L)
  }

  test("deterministic across runs and edge duplication is collapsed") {
    val edges = Seq((1L, 2L), (1L, 2L), (2L, 1L)).toDF("src", "dst")
    val a = PageRank.rankInt(edges, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = PageRank.rankInt(edges.repartition(7), iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a === b)
  }
}
