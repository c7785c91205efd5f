package graft.index

import org.scalacheck.{Gen, Prop, Test => SchkTest}
import org.scalacheck.Prop.forAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.SimdSupport

/** Driver-local k-means invariants — no Spark session needed. */
class LocalKMeansSpec extends AnyFunSuite {

  private def check(prop: Prop): Unit = {
    val res = SchkTest.check(
      SchkTest.Parameters.default.withMinSuccessfulTests(60), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  private def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)

  private def blobData(k: Int, perBlob: Int, dim: Int,
                       spread: Double): Array[Array[Float]] = {
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(k)(Array.fill(dim)(rnd.nextDouble() * 100 - 50))
    centers.flatMap(c => Array.fill(perBlob)(
      c.map(v => (v + rnd.nextGaussian() * spread).toFloat)))
  }

  test("well-separated blobs are recovered (one centroid per blob)") {
    val data = blobData(k = 5, perBlob = 40, dim = 8, spread = 0.5)
    val r = LocalKMeans.fit(data, k = 5, maxIter = 50, tol = 1e-6, seed = 1L)
    assert(r.centroids.length === 5)
    // every point's nearest centroid distance is tiny vs blob separation
    val res = LocalKMeans.assignResiduals(data, r.centroids)
    val maxNorm = res.map(v => math.sqrt(v.map(x => x.toDouble * x).sum)).max
    assert(maxNorm < 5.0, s"max residual norm $maxNorm")
    // tol stop fired well before the iteration cap
    assert(r.iters < 50)
  }

  test("n < k fails loudly (reference kmeans.rs errors on this config)") {
    val data = blobData(k = 2, perBlob = 3, dim = 4, spread = 0.1) // n = 6
    for (init <- Seq("kmeans++", "random")) {
      val e = intercept[IllegalArgumentException] {
        LocalKMeans.fit(data, k = 10, maxIter = 5, tol = 1e-9,
          seed = 2L, init = init)
      }
      assert(e.getMessage.contains("n=6 < k=10"), init)
    }
  }

  test("k == n is the exact-copy shortcut: centroids are the points") {
    val data = blobData(k = 2, perBlob = 3, dim = 4, spread = 0.1) // n = 6
    val r = LocalKMeans.fit(data, k = 6, maxIter = 5, tol = 1e-9, seed = 2L)
    assert(r.iters === 0)
    assert(r.centroids.map(_.toSeq).toSeq ===
      data.map(_.map(_.toDouble).toSeq).toSeq)
  }

  test("index builds surface the offending P in the n >= k message") {
    import graft.TestSpark.spark
    import spark.implicits._
    val vecs = (0 until 4).map(i => (i.toLong, Array.fill(8)(i.toFloat)))
      .toDF("id", "vec")
    val e = intercept[IllegalArgumentException] {
      graft.index.IvfPqBuilder.fit(vecs, "id", "vec", dim = 8,
        graft.index.IvfPqConfig(numPartitions = 16, numDivisions = 2,
          numCodes = 4))
    }
    assert(e.getMessage.contains("P=16"))
  }

  test("deterministic for a fixed (data, seed); seeds differ") {
    val data = blobData(k = 3, perBlob = 30, dim = 6, spread = 2.0)
    val a = LocalKMeans.fit(data, 3, 10, 1e-6, seed = 7L)
    val b = LocalKMeans.fit(data, 3, 10, 1e-6, seed = 7L)
    assert(a.centroids.map(_.toSeq).toSeq === b.centroids.map(_.toSeq).toSeq)
    assert(a.iters === b.iters)
  }

  test("assignResiduals matches a naive single-threaded recompute") {
    val data = blobData(k = 3, perBlob = 20, dim = 5, spread = 3.0)
    val r = LocalKMeans.fit(data, 3, 10, 1e-6, seed = 3L)
    val fast = LocalKMeans.assignResiduals(data, r.centroids)
    data.zip(fast).foreach { case (p, res) =>
      // naive argmin in full precision
      val best = r.centroids.minBy(c =>
        c.zip(p).map { case (cv, pv) => val d = pv.toDouble - cv; d * d }.sum)
      val expected = p.zip(best).map { case (pv, cv) => (pv.toDouble - cv).toFloat }
      assert(res.toSeq === expected.toSeq)
    }
  }

  test("random init draws distinct points when possible") {
    val data = blobData(k = 4, perBlob = 10, dim = 3, spread = 0.01)
    val r = LocalKMeans.fit(data, k = 8, maxIter = 1, tol = 1e-9,
      seed = 5L, init = "random")
    assert(r.centroids.length === 8)
  }

  test("fitBisecting divides a dominant tight blob's mass (the guarantee " +
      "a flat fit lacks) and is deterministic") {
    // one tight 400-point blob + 3 far 20-point blobs — the partial-
    // rebalance shape; flat k-means can park one center on the big blob
    val rnd = new scala.util.Random(3)
    val big = Array.fill(400)(Array.tabulate(8)(d =>
      (50f + rnd.nextGaussian().toFloat)))
    val small = (1 to 3).flatMap(b => Array.fill(20)(Array.tabulate(8)(d =>
      (-40f * b + rnd.nextGaussian().toFloat)))).toArray
    val data = big ++ small
    val r = LocalKMeans.fitBisecting(data, k = 4, maxIter = 20,
      tol = 1e-6, seed = 11L)
    assert(r.centroids.length === 4)
    // assign every point to its nearest centroid; no cell may hold more
    // than ~60% of the blob — the big blob must have been SPLIT
    val counts = new Array[Int](4)
    data.foreach { v =>
      var best = 0; var bd = Double.MaxValue
      for (c <- 0 until 4) {
        var s = 0.0
        for (t <- v.indices) {
          val d = v(t) - r.centroids(c)(t); s += d * d
        }
        if (s < bd) { bd = s; best = c }
      }
      counts(best) += 1
    }
    assert(counts.max <= 260,
      s"dominant blob not split: cell sizes ${counts.toSeq}")
    assert(counts.forall(_ > 0))
    val r2 = LocalKMeans.fitBisecting(data, k = 4, maxIter = 20,
      tol = 1e-6, seed = 11L)
    assert(r.centroids.map(_.toSeq).toSeq === r2.centroids.map(_.toSeq).toSeq)
  }

  test("fitBisecting freezes an unsplittable heaviest cluster and keeps " +
      "splitting the rest") {
    // 100 IDENTICAL points (heaviest, cannot split) + two far distinct
    // groups — the fit must still separate B and C after freezing A
    val a = Array.fill(100)(Array.fill(4)(0f))
    val b = Array.fill(10)(Array.tabulate(4)(d => 50f + d))
    val c = Array.fill(10)(Array.tabulate(4)(d => -50f - d))
    val r = LocalKMeans.fitBisecting(a ++ b ++ c, k = 3, maxIter = 10,
      tol = 1e-9, seed = 2L)
    assert(r.centroids.length === 3)
    val cents = r.centroids.map(_.toSeq).toSet
    assert(cents.contains(Seq(0.0, 0.0, 0.0, 0.0)), "A's centroid missing")
    assert(cents.exists(_.head > 40), "B never got its own centroid")
    assert(cents.exists(_.head < -40), "C never got its own centroid")
  }

  test("fitBisecting pads degenerate all-identical data by repetition") {
    val data = Array.fill(6)(Array.fill(4)(1.5f))
    val r = LocalKMeans.fitBisecting(data, k = 3, maxIter = 5,
      tol = 1e-9, seed = 1L)
    assert(r.centroids.length === 3)
    assert(r.centroids.forall(_.toSeq === Seq(1.5, 1.5, 1.5, 1.5)))
  }

  test("overlapIndexed: index-ordered results identical to a sequential " +
      "loop; empty/single inputs; body failures rethrow") {
    val seq = (0 until 13).map(i => i * i)
    for (w <- Seq(1, 2, 4, 8)) {
      assert(LocalKMeans.overlapIndexed(13, w)(i => i * i) === seq,
        s"overlap=$w")
    }
    assert(LocalKMeans.overlapIndexed(0)(identity) === Vector.empty)
    assert(LocalKMeans.overlapIndexed(1)(_ => 7) === IndexedSeq(7))
    val ex = intercept[IllegalStateException] {
      LocalKMeans.overlapIndexed(8) { i =>
        if (i == 3) throw new IllegalStateException("fit 3 blew up") else i
      }
    }
    assert(ex.getMessage === "fit 3 blew up")
    intercept[IllegalArgumentException] {
      LocalKMeans.overlapIndexed(4, overlap = 0)(identity)
    }
  }

  test("overlapped PQ-shape fits are bit-identical to sequential fits") {
    val rnd = new scala.util.Random(3)
    val data = Array.fill(2048)(Array.fill(8)(rnd.nextFloat()))
    def one(dI: Int) =
      LocalKMeans.fit(data, 16, maxIter = 10, tol = 1e-6, seed = 42L + dI,
        init = "random")
    val sequential = (0 until 6).map(one)
    val overlapped = LocalKMeans.overlapIndexed(6)(one)
    (0 until 6).foreach { dI =>
      assert(sequential(dI).iters === overlapped(dI).iters)
      sequential(dI).centroids.indices.foreach { ci =>
        assert(java.util.Arrays.equals(sequential(dI).centroids(ci),
          overlapped(dI).centroids(ci)), s"fit $dI centroid $ci differs")
      }
    }
  }

  /** The first strict minimum over fully computed distances, in the
    * scalar fold's op order — what both [[LocalKMeans.Nearest]] folds
    * must return. */
  private def firstMin(cents: Array[Array[Double]], p: Array[Float],
                       off: Int): (Int, Double) = {
    var bc = 0
    var bd = Double.MaxValue
    cents.indices.foreach { c =>
      var d = 0.0
      cents(c).indices.foreach { j =>
        val x = p(off + j).toDouble - cents(c)(j); d += x * x
      }
      if (d < bd) { bd = d; bc = c }
    }
    (bc, bd)
  }

  test("Nearest: vector and scalar folds pick the same centroid at the " +
      "same distance bits (k < 8, k % 8 != 0, k = 2; dim 1/8/128; " +
      "duplicated centroids, points on a centroid, NaN coordinates)") {
    val shapes = for {
      k <- Gen.oneOf(Gen.choose(1, 7), Gen.const(2), Gen.const(100),
        Gen.choose(8, 40))
      dim <- Gen.oneOf(Gen.oneOf(1, 8, 128), Gen.choose(2, 20))
      n <- Gen.choose(1, 23) // every 5-point block tail
      off <- Gen.choose(0, 3)
      dups <- Gen.choose(0, 3)
      nan <- Gen.frequency(4 -> 0, 1 -> 1, 1 -> 2) // none/point/centroid
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield (k, dim, n, off, dups, nan, seed)
    check(forAll(shapes) { case (k, dim, n, off, dups, nan, seed) =>
      val rnd = new scala.util.Random(seed)
      // magnitudes 1e-3..1e3, so distances round differently per op order;
      // f32-representable, so a point can sit exactly on a centroid
      def value() = (rnd.nextGaussian() * math.pow(10, rnd.nextInt(7) - 3))
        .toFloat
      val cents = Array.fill(k)(Array.fill(dim)(value().toDouble))
      (0 until dups).foreach { _ =>
        cents(rnd.nextInt(k)) = cents(rnd.nextInt(k)).clone()
      }
      val points = Array.fill(n) {
        val row = Array.fill(off + dim + 1)(value())
        if (rnd.nextInt(3) == 0) // on a (possibly duplicated) centroid
          cents(rnd.nextInt(k)).map(_.toFloat).copyToArray(row, off)
        row
      }
      if (nan == 1) points(rnd.nextInt(n))(off + rnd.nextInt(dim)) = Float.NaN
      if (nan == 2) cents(rnd.nextInt(k))(rnd.nextInt(dim)) = Double.NaN
      val want = points.map(firstMin(cents, _, off))
      val folds = Seq(false) ++ (if (SimdSupport.available) Seq(true) else Nil)
      val bad = for {
        simd <- folds
        best = new Array[Int](n + 2)
        bestD = new Array[Double](n + 2)
        _ = new LocalKMeans.Nearest(cents, simd)
          .assign(points, 0, n, off, best, bestD)
        i <- 0 until n
        if best(i) != want(i)._1 || bits(bestD(i)) != bits(want(i)._2)
      } yield (simd, i, best(i), bestD(i), want(i))
      Prop(bad.isEmpty) :| s"k=$k dim=$dim n=$n off=$off dups=$dups " +
        s"nan=$nan: ${bad.take(3).mkString(", ")}"
    })
  }

  test("Nearest: a point equidistant from duplicated centroids gets the " +
      "lowest index; an all-NaN point gets centroid 0 at Double.MaxValue") {
    val cents = Array(Array(5.0, 5.0), Array(1.0, 2.0), Array(1.0, 2.0),
      Array(1.0, 2.0), Array(-3.0, 0.5))
    val points = Array(Array(1f, 2f), Array(1.5f, 2f), Array(Float.NaN, 0f))
    val folds = Seq(false) ++ (if (SimdSupport.available) Seq(true) else Nil)
    folds.foreach { simd =>
      val best = new Array[Int](3)
      val bestD = new Array[Double](3)
      new LocalKMeans.Nearest(cents, simd).assign(points, 0, 3, 0, best, bestD)
      assert(best.toSeq === Seq(1, 1, 0), s"simd=$simd")
      assert(bestD.toSeq === Seq(0.0, 0.25, Double.MaxValue), s"simd=$simd")
    }
  }

  test("reference shape (4,096 x 1536, P=100, D=12, C=256, 10 rounds): " +
      "coarse centroids, residuals and 12 codebooks fitted through " +
      "overlapIndexed are bit-identical between the two folds") {
    assume(SimdSupport.available,
      "Vector API unavailable or not 8-lane on this JVM — scalar fold only")
    val dim = 1536
    val data = Array.tabulate(4096)(i =>
      graft.functions.Kernels.pseudoRandomVec(i.toLong, dim, 77L)
        .toFloatArray())
    def build(simd: Boolean) = {
      val coarse = LocalKMeans.fit(data, 100, 10, 1e-6, 77L, "kmeans++", simd)
      val res = LocalKMeans.assignResiduals(data, coarse.centroids, simd)
      val books = LocalKMeans.overlapIndexed(12) { dI =>
        val slice = res.map(r =>
          java.util.Arrays.copyOfRange(r, dI * 128, (dI + 1) * 128))
        LocalKMeans.fit(slice, 256, 10, 1e-6, 77L + dI, "random", simd)
      }
      (coarse, res, books)
    }
    val (vc, vr, vb) = build(simd = true)
    val (sc, sr, sb) = build(simd = false)
    assert(vc.iters === sc.iters)
    (0 until 100).foreach { c =>
      assert(java.util.Arrays.equals(vc.centroids(c), sc.centroids(c)),
        s"coarse centroid $c differs")
    }
    data.indices.foreach { i =>
      assert(java.util.Arrays.equals(vr(i), sr(i)), s"residual $i differs")
    }
    (0 until 12).foreach { dI =>
      assert(vb(dI).iters === sb(dI).iters, s"division $dI rounds")
      (0 until 256).foreach { c =>
        assert(java.util.Arrays.equals(vb(dI).centroids(c),
          sb(dI).centroids(c)), s"division $dI code $c differs")
      }
    }
  }
}
