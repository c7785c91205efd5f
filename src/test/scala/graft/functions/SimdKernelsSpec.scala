package graft.functions

import org.scalacheck.{Gen, Prop, Test => SchkTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

/** Bit-parity of the Vector-API serve kernels vs the scalar loops they
  * replace — the ship condition from the round-11 verdict (#5): results
  * must be BIT-identical (strict per-lane FP order, no FMA), or the
  * change doesn't ship. Exercised over random dims including non-lane-
  * multiple tails and denormal-ish magnitudes; the query-prep kernels
  * over ScalaCheck-generated shapes. */
class SimdKernelsSpec extends AnyFunSuite {

  private def assumeSimd(): Unit =
    assume(SimdSupport.available,
      "Vector API unavailable or not 8-lane on this JVM — scalar paths serve")

  private def check(prop: Prop): Unit = {
    val res = SchkTest.check(
      SchkTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)

  // magnitudes from 1e-3 to 1e3, so rounding differs between fold orders
  private def values(n: Int, rnd: scala.util.Random): Array[Double] =
    Array.fill(n)(rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3))

  test("adcTablesExact == Kernels.subSqDist per entry, bit for bit, " +
      "over code tails, m = 1 and every probe-block tail") {
    assumeSimd()
    val shapes = for {
      numCodes <- Gen.oneOf(Gen.choose(1, 40), Gen.oneOf(64, 100, 256))
      m <- Gen.oneOf(Gen.const(1), Gen.choose(2, 12))
      nprobe <- Gen.choose(1, 9)
      div <- Gen.choose(0, 2)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (numCodes, m, nprobe, div, seed)
    check(forAll(shapes) { case (numCodes, m, nprobe, div, seed) =>
      val rnd = new scala.util.Random(seed)
      val cb = Array.fill(numCodes)(values(m, rnd))
      val locs = Array.fill(nprobe)(values(3 * m, rnd))
      val outs = Array.fill(nprobe)(new Array[Double](3 * numCodes))
      SimdKernels.adcTablesExact(SimdKernels.codeBlocks(cb), m, numCodes,
        locs, div * m, outs, div * numCodes)
      val bad = for {
        p <- 0 until nprobe
        j <- 0 until 3 * numCodes
        c = j - div * numCodes
        want = if (c >= 0 && c < numCodes)
          Kernels.subSqDist(locs(p), div * m, cb(c), 0, m) else 0.0
        if bits(outs(p)(j)) != bits(want)
      } yield (p, j, outs(p)(j), want)
      Prop(bad.isEmpty) :| s"C=$numCodes m=$m nprobe=$nprobe div=$div: " +
        bad.take(3).mkString(", ")
    })
  }

  test("cellDistsExact == Kernels.subSqDist per cell, and nearestCells " +
      "keeps the (dist, id) order with the lowest id winning ties") {
    val shapes = for {
      p <- Gen.choose(1, 30)
      dim <- Gen.choose(1, 20)
      nprobe <- Gen.choose(1, 30).map(n => math.min(n, p))
      dups <- Gen.choose(0, 3)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (p, dim, nprobe, dups, seed)
    check(forAll(shapes) { case (p, dim, nprobe, dups, seed) =>
      val rnd = new scala.util.Random(seed)
      val cents = Array.fill(p)(values(dim, rnd))
      // duplicated centroids: equal distances, decided by cell id
      (0 until dups).foreach { _ =>
        cents(rnd.nextInt(p)) = cents(rnd.nextInt(p)).clone()
      }
      val q = if (rnd.nextBoolean()) values(dim, rnd) else cents(rnd.nextInt(p)).clone()
      val dist = Array.tabulate(p)(c => Kernels.subSqDist(q, 0, cents(c), 0, dim))
      val simdOk = !SimdSupport.available || {
        val got = new Array[Double]((p + 7) / 8 * 8)
        SimdKernels.cellDistsExact(SimdKernels.cellMajor(cents), q, got,
          0, got.length / 8)
        (0 until p).forall(c => bits(got(c)) == bits(dist(c)))
      }
      // the rule the cluster path always applied: sort by (dist, id)
      val want = (0 until p).sortBy(c => (dist(c), c)).take(nprobe)
      val got = graft.query.AnnQuery.nearestCells(cents,
        SimdKernels.cellMajor(cents), q, nprobe)
      val locOk = got.forall { case (c, loc) =>
        (0 until dim).forall(i => bits(loc(i)) == bits(q(i) - cents(c)(i)))
      }
      Prop(simdOk) :| "cell distance bits" &&
        Prop(got.map(_._1).toSeq == want) :|
          s"cells ${got.map(_._1).toSeq} want $want" &&
        Prop(locOk) :| "localized query bits"
    })
  }

  test("codeBlocks lays each 8 codes out as one m x 8 run, last block " +
      "zero-padded") {
    assumeSimd()
    val cb = Array.tabulate(11, 3)((c, i) => c * 10.0 + i + 1)
    val got = SimdKernels.codeBlocks(cb)
    assert(got.length === 2 * 3 * 8)
    for (c <- 0 until 16; i <- 0 until 3)
      assert(got(c / 8 * 24 + i * 8 + c % 8) ===
        (if (c < 11) cb(c)(i) else 0.0), s"code $c dim $i")
  }

  test("cellDistsExact over any split of its lane blocks == one call " +
      "over all of them, bit for bit") {
    assumeSimd()
    val shapes = for {
      p <- Gen.choose(1, 120)
      dim <- Gen.choose(1, 40)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (p, dim, seed)
    check(forAll(shapes) { case (p, dim, seed) =>
      val rnd = new scala.util.Random(seed)
      val cents = Array.fill(p)(values(dim, rnd))
      val q = values(dim, rnd)
      val centT = SimdKernels.cellMajor(cents)
      val blocks = centT.length / dim / 8
      val whole = new Array[Double](blocks * 8)
      SimdKernels.cellDistsExact(centT, q, whole, 0, blocks)
      val cuts = (0 +: Seq.fill(rnd.nextInt(4))(rnd.nextInt(blocks + 1)) :+
        blocks).sorted
      val split = new Array[Double](blocks * 8)
      cuts.sliding(2).foreach { case Seq(b0, b1) =>
        SimdKernels.cellDistsExact(centT, q, split, b0, b1)
      }
      val bad = (0 until p).filter(c => bits(split(c)) != bits(whole(c)) ||
        bits(whole(c)) != bits(Kernels.subSqDist(q, 0, cents(c), 0, dim)))
      Prop(bad.isEmpty) :| s"P=$p dim=$dim cuts=$cuts cells ${bad.take(3)}"
    })
  }

  test("nearestCells split across the serve crew (many cells, wide " +
      "dims) keeps the serial (dist, id) rule and localized bits") {
    val shapes = for {
      p <- Gen.choose(40, 130)
      dim <- Gen.oneOf(512, 1536)
      nprobe <- Gen.choose(1, 12)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (p, dim, nprobe, seed)
    check(forAll(shapes) { case (p, dim, nprobe, seed) =>
      val rnd = new scala.util.Random(seed)
      val cents = Array.fill(p)(values(dim, rnd))
      cents(rnd.nextInt(p)) = cents(0).clone() // one tie decided by id
      val q = values(dim, rnd)
      val dist = Array.tabulate(p)(c => Kernels.subSqDist(q, 0, cents(c), 0, dim))
      val want = (0 until p).sortBy(c => (dist(c), c)).take(nprobe)
      val got = graft.query.AnnQuery.nearestCells(cents,
        SimdKernels.cellMajor(cents), q, nprobe)
      Prop(got.map(_._1).toSeq == want) :|
        s"cells ${got.map(_._1).toSeq} want $want" &&
        Prop(got.forall { case (c, loc) =>
          (0 until dim).forall(i => bits(loc(i)) == bits(q(i) - cents(c)(i)))
        }) :| "localized query bits"
    })
  }

  test("nearestCells over identical centroids returns the lowest ids") {
    val cents = Array.fill(13)(Array(1.0, -2.0, 3.0))
    val got = graft.query.AnnQuery.nearestCells(cents,
      SimdKernels.cellMajor(cents), Array(0.5, 0.5, 0.5), 5)
    assert(got.map(_._1).toSeq === (0 until 5))
  }

  test("rotateExact == the scalar mat-vec loop, bit for bit, " +
      "including tail rows") {
    assumeSimd()
    val rnd = new scala.util.Random(42)
    for (d <- Seq(3, 8, 17, 64, 130)) {
      val rot = Array.fill(d, d)(rnd.nextDouble() * 2e3 - 1e3)
      val v = Array.fill(d)(rnd.nextDouble() * 2 - 1)
      val rotT = SimdKernels.transposed(rot)
      val got = new Array[Double](d)
      SimdKernels.rotateExact(rotT, d, v, got, 0, d)
      val want = Array.tabulate(d) { r =>
        var s = 0.0
        var t = 0
        while (t < d) { s += rot(r)(t) * v(t); t += 1 }
        s
      }
      (0 until d).foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(got(r)) ===
          java.lang.Double.doubleToRawLongBits(want(r)),
          s"rotate bit mismatch at d=$d row=$r: ${got(r)} vs ${want(r)}")
      }
      // sub-range calls (the block-chunked future shape) agree too
      val part = new Array[Double](d)
      SimdKernels.rotateExact(rotT, d, v, part, d / 3, d)
      (d / 3 until d).foreach(r => assert(part(r) === got(r)))
    }
  }

  test("sq8DistExact == the scalar asymmetric fold, bit for bit, " +
      "unsigned bytes included") {
    assumeSimd()
    val rnd = new scala.util.Random(7)
    for ((n, dim) <- Seq((5, 4), (16, 16), (37, 64), (100, 13))) {
      val codesRow = Array.fill(n * dim)((rnd.nextInt(256) - 128).toByte)
      val codesT = new Array[Byte](n * dim)
      for (r <- 0 until n; i <- 0 until dim)
        codesT(i * n + r) = codesRow(r * dim + i)
      val loc = Array.fill(dim)(rnd.nextDouble() * 4 - 2)
      val mins = Array.fill(dim)(rnd.nextDouble() - 0.5)
      val scales = Array.fill(dim)(rnd.nextDouble() / 255.0)
      val got = new Array[Double](n)
      SimdKernels.sq8DistExact(codesT, n, dim, loc, mins, scales, got, 0, n)
      val want = Array.tabulate(n) { r =>
        var s = 0.0
        var i = 0
        while (i < dim) {
          val d = loc(i) - (mins(i) + (codesRow(r * dim + i) & 0xFF) * scales(i))
          s += d * d
          i += 1
        }
        s
      }
      (0 until n).foreach { r =>
        assert(java.lang.Double.doubleToRawLongBits(got(r)) ===
          java.lang.Double.doubleToRawLongBits(want(r)),
          s"sq8 bit mismatch at n=$n dim=$dim row=$r")
      }
    }
  }
}
