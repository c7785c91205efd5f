package graft.index

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import graft.functions.{SimdKernels, SimdSupport}

/** Driver-local, multithreaded Lloyd k-means over a SAMPLED training set.
  *
  * Replaces MLlib KMeans inside the index build: centroid ESTIMATION only
  * needs k·O(100) sampled points (FAISS's max_points_per_centroid
  * practice), and at that size every distributed iteration is pure
  * overhead — a cluster job (task launch, round barrier, result
  * collection) to scan a few hundred megabytes that fit in driver memory.
  * The build runs D+1 fits × maxIter iterations; as MLlib jobs that was
  * ~250 scheduler round-trips, here it is a tight in-process loop.
  * Full-corpus ASSIGNMENT and ENCODING stay distributed single passes
  * (see [[IvfPqBuilder]]) — that is the part that scales with data size.
  *
  * Semantics mirror the reference's in-memory Lloyd loop
  * (reference/src/kmeans.rs:96-176: init → assign → update, bounded
  * rounds with ε-stop) with k-means++ seeding by squared-distance weight
  * (reference/src/kmeans.rs:178-205) — parallel over points, accumulated
  * in double, deterministic for a fixed (data, seed, thread-chunking is
  * order-stable so merge order is fixed).
  */
object LocalKMeans {

  final case class KmResult(centroids: Array[Array[Double]], iters: Int)

  /** Fit k centroids over `data` (n × dim f32).
    *
    * @param init "kmeans++" (D²-weighted seeding — coarse IVF fit, where
    *             partition balance matters) or "random" (k distinct
    *             sampled points — the FAISS PQ-codebook practice; fine
    *             codes are refined by Lloyd rounds anyway)
    * Empty clusters keep their previous centroid (MLlib behavior).
    *
    * CONTRACT (reference kmeans.rs:116-119): n ≥ k, enforced loudly — a
    * fit asked for more clusters than points would otherwise silently
    * emit duplicate centroids, i.e. a store with empty/duplicate cells
    * under a wrong P/C config the reference refuses. k == n is the
    * exact-copy shortcut (kmeans.rs:158-170): every point is its own
    * centroid, no Lloyd rounds. */
  def fit(data: Array[Array[Float]], k: Int, maxIter: Int, tol: Double,
          seed: Long, init: String = "kmeans++"): KmResult =
    fit(data, k, maxIter, tol, seed, init, SimdSupport.available)

  /** [[fit]] with the [[Nearest]] fold chosen explicitly. */
  private[index] def fit(data: Array[Array[Float]], k: Int, maxIter: Int,
                         tol: Double, seed: Long, init: String,
                         simd: Boolean): KmResult = {
    require(data.nonEmpty, "k-means needs at least one training point")
    require(k > 0, s"k must be positive, got $k")
    require(k <= data.length,
      s"k-means has fewer training points than clusters: n=${data.length}" +
        s" < k=$k — more points, or a smaller cluster count, are required" +
        " (a with-replacement fit would emit duplicate centroids)")
    if (k == data.length)
      return KmResult(data.map(_.map(_.toDouble)), 0)
    val centroids: Array[Array[Double]] = init match {
      case "random" => initRandom(data, k, seed)
      case _ => initPlusPlus(data, k, seed)
    }
    lloyd(data, centroids, maxIter, tol, simd)
  }

  /** BISECTING k-means (Steinbach, Karypis, Kumar 2000 — the variant
    * MLlib ships as BisectingKMeans): start with one cluster holding
    * everything and repeatedly 2-means-split the cluster with the MOST
    * POINTS until k clusters exist. Used by the partial-rebalance
    * maintenance path, where the property that matters is a MASS
    * guarantee plain k-means does not give: a single k-means over a
    * region dominated by one tight blob can stably park one center on
    * the blob and the rest on scattered outliers (D²-seeding favors
    * outliers, and Lloyd never splits a tight cluster covered by one
    * center), leaving the hot cell hot forever. Splitting the heaviest
    * cluster with 2 centers INSIDE it divides its mass every step, so
    * max cell mass shrinks geometrically toward regionMass/k.
    *
    * A cluster whose points are all identical cannot split; when every
    * remaining cluster is degenerate the result pads by REPEATING
    * centroids — reassignment tie-breaks to the lower index, so padded
    * duplicates simply receive no rows (callers that must handle empty
    * cells already do). Deterministic for fixed (data order, seed). */
  def fitBisecting(data: Array[Array[Float]], k: Int, maxIter: Int,
                   tol: Double, seed: Long): KmResult = {
    require(data.nonEmpty, "k-means needs at least one training point")
    require(k > 0, s"k must be positive, got $k")
    require(k <= data.length,
      s"bisecting k-means has fewer training points than clusters: " +
        s"n=${data.length} < k=$k")
    if (k == data.length) return KmResult(data.map(_.map(_.toDouble)), 0)
    // clusters as index arrays into data (order-stable); a cluster that
    // cannot split (all-identical points, or a 2-means that empties one
    // side) FREEZES and splitting continues with the next heaviest
    // ACTIVE cluster — only when every remaining cluster is frozen does
    // the fit fall short of k and pad
    var active = List(data.indices.toArray)
    var frozen = List.empty[Array[Int]]
    var iters = 0
    var splits = 0
    while (active.nonEmpty && active.size + frozen.size < k) {
      val (heaviest, rest) = {
        val h = active.maxBy(_.length)
        (h, active.filterNot(_ eq h))
      }
      val sub = heaviest.map(data)
      if (sub.forall(_.sameElements(sub(0)))) {
        frozen ::= heaviest
        active = rest
      } else {
        val fit2 = fit(sub, 2, maxIter, tol, seed + splits)
        iters += fit2.iters
        splits += 1
        val (a, b) = heaviest.partition { idx =>
          val v = data(idx)
          var dA = 0.0; var dB = 0.0
          var t = 0
          while (t < v.length) {
            val da = v(t) - fit2.centroids(0)(t)
            val db = v(t) - fit2.centroids(1)(t)
            dA += da * da; dB += db * db
            t += 1
          }
          dA <= dB
        }
        if (a.isEmpty || b.isEmpty) {
          frozen ::= heaviest
          active = rest
        } else {
          active = a :: b :: rest
        }
      }
    }
    val clusters = active ++ frozen
    // centroid = mean of each cluster; pad degenerate shortfalls by
    // repetition (duplicates get no rows at reassignment)
    val dim = data(0).length
    val means = clusters.map { idxs =>
      val m = new Array[Double](dim)
      idxs.foreach { i =>
        val v = data(i)
        var t = 0
        while (t < dim) { m(t) += v(t); t += 1 }
      }
      var t = 0
      while (t < dim) { m(t) /= idxs.length; t += 1 }
      m
    }.toArray
    val out =
      if (means.length >= k) means.take(k)
      else Array.tabulate(k)(i => means(i % means.length).clone())
    KmResult(out, iters)
  }

  /** Lloyd rounds from EXPLICIT initial centroids — the warm-start entry
    * point (OPQ's alternating minimization refits the same codebooks
    * every rotation update; re-seeding from scratch would both waste the
    * previous iterate and break the monotone-descent argument). The init
    * rows are not mutated: the loop replaces whole centroid rows. */
  def fitFrom(data: Array[Array[Float]], initCentroids: Array[Array[Double]],
              maxIter: Int, tol: Double): KmResult = {
    require(data.nonEmpty, "k-means needs at least one training point")
    require(initCentroids.nonEmpty, "warm start needs at least one centroid")
    lloyd(data, initCentroids.clone(), maxIter, tol, SimdSupport.available)
  }

  private def lloyd(data: Array[Array[Float]],
                    centroids: Array[Array[Double]], maxIter: Int,
                    tol: Double, simd: Boolean): KmResult = {
    val n = data.length
    val dim = data(0).length
    val k = centroids.length
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      val nearest = new Nearest(centroids, simd)
      // assignment + per-chunk partial sums, parallel over point chunks
      val partials = parChunks(n) { (s, e) =>
        val sums = Array.ofDim[Double](k, dim)
        val counts = new Array[Long](k)
        val best = new Array[Int](e - s)
        nearest.assign(data, s, e, 0, best, new Array[Double](e - s))
        var i = s
        while (i < e) {
          val p = data(i)
          val sb = sums(best(i - s))
          var j = 0
          while (j < dim) { sb(j) += p(j).toDouble; j += 1 }
          counts(best(i - s)) += 1
          i += 1
        }
        (sums, counts)
      }
      val sums = Array.ofDim[Double](k, dim)
      val counts = new Array[Long](k)
      partials.foreach { case (ps, pc) =>
        var c = 0
        while (c < k) {
          counts(c) += pc(c)
          val s = sums(c)
          val p = ps(c)
          var j = 0
          while (j < dim) { s(j) += p(j); j += 1 }
          c += 1
        }
      }
      var maxMoveSq = 0.0
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          val nc = new Array[Double](dim)
          var move = 0.0
          var j = 0
          while (j < dim) {
            nc(j) = sums(c)(j) / counts(c)
            val d = nc(j) - centroids(c)(j)
            move += d * d
            j += 1
          }
          centroids(c) = nc
          if (move > maxMoveSq) maxMoveSq = move
        } // empty cluster: keep previous centroid
        c += 1
      }
      iter += 1
      converged = maxMoveSq < tol * tol
    }
    KmResult(centroids, iter)
  }

  /** Assign each point to its nearest centroid and return the f32
    * residuals v − c — the driver-local twin of the distributed
    * nearestCentroidL2 + subCentroidF pass, applied to training samples
    * so PQ codebooks can train without a second cluster collect. Same
    * numeric contract: subtraction in double, rounded to float. */
  def assignResiduals(data: Array[Array[Float]],
                      centroids: Array[Array[Double]]): Array[Array[Float]] =
    assignResiduals(data, centroids, SimdSupport.available)

  /** [[assignResiduals]] with the [[Nearest]] fold chosen explicitly. */
  private[index] def assignResiduals(data: Array[Array[Float]],
      centroids: Array[Array[Double]], simd: Boolean): Array[Array[Float]] = {
    val n = data.length
    if (n == 0) return Array.empty
    val dim = data(0).length
    val nearest = new Nearest(centroids, simd)
    val out = new Array[Array[Float]](n)
    parChunks(n) { (s, e) =>
      val best = new Array[Int](e - s)
      nearest.assign(data, s, e, 0, best, new Array[Double](e - s))
      var i = s
      while (i < e) {
        val p = data(i)
        val c = centroids(best(i - s))
        val r = new Array[Float](dim)
        var j = 0
        while (j < dim) { r(j) = (p(j).toDouble - c(j)).toFloat; j += 1 }
        out(i) = r
        i += 1
      }
      ()
    }
    out
  }

  /** The one nearest-centroid search: every Lloyd round, [[assignResiduals]]
    * and OPQ's per-division encode. Built once per pass over a centroid
    * set, then shared by the parallel point chunks.
    *
    * A point's nearest centroid is the FIRST minimum of
    * Σ_j (x_j − c_j)² — c ascending, strict `<` from Double.MaxValue —
    * so the lowest index wins ties, a NaN distance never wins, and a
    * point whose every distance is NaN gets centroid 0 at
    * Double.MaxValue. Two folds compute it with identical results:
    *
    *  - vector (`simd`, on when [[SimdSupport.available]]): the centroids
    *    [[SimdKernels.cellMajor]] once, points widened in blocks of 5,
    *    every distance from [[SimdKernels.centroidDists5]] (each lane is
    *    the scalar `d += x·x` sequence, bit for bit), then the argmin;
    *  - scalar: the row-major fold with blocked early abandon. A partial
    *    sum never decreases, so abandoning a candidate once it reaches
    *    the best so far changes neither the winner nor its distance.
    *
    * Early abandon used to be the faster of the two (3× on the PQ fits
    * vs a branch-free dot-product formulation), but the vector fold
    * computes every distance and still wins: on perfbench `reference`
    * (4,096 × 1536, P = 100, D = 12, C = 256, 10 rounds; 4-core AMD EPYC,
    * AVX-512; three traced runs a side) the 12 PQ fits went
    * 1.34–1.46 → 0.28–0.31 s and the coarse fit 0.48–0.60 → 0.28–0.35 s,
    * with centroids, codebooks and codes bit-identical. */
  private[index] final class Nearest(centroids: Array[Array[Double]],
                                     simd: Boolean = SimdSupport.available) {
    private val k = centroids.length
    private val dim = centroids(0).length
    // columns padded to whole vectors for the vector fold, rows for the
    // scalar one
    private val table =
      if (simd) SimdKernels.cellMajor(centroids) else centroids.flatten

    /** best(i − s) and bestD(i − s) for the slices
      * points(i)(off until off + dim), i ∈ [s, e). */
    def assign(points: Array[Array[Float]], s: Int, e: Int, off: Int,
               best: Array[Int], bestD: Array[Double]): Unit =
      if (simd) assignVector(points, s, e, off, best, bestD)
      else assignScalar(points, s, e, off, best, bestD)

    private def assignVector(points: Array[Array[Float]], s: Int, e: Int,
                             off: Int, best: Array[Int],
                             bestD: Array[Double]): Unit = {
      val locs = Array.ofDim[Double](5, dim)
      val dists = Array.ofDim[Double](5, table.length / dim)
      var i = s
      while (i < e) {
        val nb = math.min(5, e - i)
        var b = 0
        while (b < nb) {
          val p = points(i + b)
          val l = locs(b)
          var j = 0
          while (j < dim) { l(j) = p(off + j).toDouble; j += 1 }
          b += 1
        }
        SimdKernels.centroidDists5(table, dim, locs, dists, nb)
        b = 0
        while (b < nb) {
          val dv = dists(b)
          var bc = 0
          var bd = Double.MaxValue
          var c = 0
          while (c < k) {
            if (dv(c) < bd) { bd = dv(c); bc = c }
            c += 1
          }
          best(i + b - s) = bc
          bestD(i + b - s) = bd
          b += 1
        }
        i += nb
      }
    }

    private def assignScalar(points: Array[Array[Float]], s: Int, e: Int,
                             off: Int, best: Array[Int],
                             bestD: Array[Double]): Unit = {
      val pd = new Array[Double](dim) // point widened once, not per centroid
      var i = s
      while (i < e) {
        val p = points(i)
        var j = 0
        while (j < dim) { pd(j) = p(off + j).toDouble; j += 1 }
        var bc = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < k) {
          val base = c * dim
          var d = 0.0
          j = 0
          while (j < dim && d < bd) {
            val end = math.min(j + 32, dim)
            while (j < end) {
              val x = pd(j) - table(base + j)
              d += x * x
              j += 1
            }
          }
          if (d < bd) { bd = d; bc = c }
          c += 1
        }
        best(i - s) = bc
        bestD(i - s) = bd
        i += 1
      }
    }
  }

  /** k distinct random points (fit guarantees k ≤ n). */
  private def initRandom(data: Array[Array[Float]], k: Int,
                         seed: Long): Array[Array[Double]] = {
    val n = data.length
    assert(k <= n, s"initRandom called with k=$k > n=$n")
    val rnd = new java.util.Random(seed)
    val idx = new Array[Int](k)
    // partial Fisher-Yates over an index table: first k slots
    val perm = Array.tabulate(n)(identity)
    var i = 0
    while (i < k) {
      val j = i + rnd.nextInt(n - i)
      val t = perm(i); perm(i) = perm(j); perm(j) = t
      idx(i) = perm(i)
      i += 1
    }
    idx.map(i => data(i).map(_.toDouble))
  }

  /** k-means++: each next seed drawn with probability ∝ D²(x) to the
    * nearest already-chosen seed. O(k·n·dim), distance updates parallel. */
  private def initPlusPlus(data: Array[Array[Float]], k: Int,
                           seed: Long): Array[Array[Double]] = {
    val n = data.length
    val dim = data(0).length
    val rnd = new java.util.Random(seed)
    val centroids = new Array[Array[Double]](k)
    centroids(0) = data(rnd.nextInt(n)).map(_.toDouble)
    val minD = Array.fill(n)(Double.MaxValue)
    var c = 1
    while (c < k) {
      val last = centroids(c - 1)
      parChunks(n) { (s, e) =>
        var i = s
        while (i < e) {
          val p = data(i)
          var d = 0.0
          var j = 0
          while (j < dim) {
            val x = p(j).toDouble - last(j)
            d += x * x
            j += 1
          }
          if (d < minD(i)) minD(i) = d
          i += 1
        }
        ()
      }
      var total = 0.0
      var i = 0
      while (i < n) { total += minD(i); i += 1 }
      if (total <= 0.0) {
        // all remaining points coincide with chosen seeds: repeat one
        centroids(c) = data(rnd.nextInt(n)).map(_.toDouble)
      } else {
        var r = rnd.nextDouble() * total
        i = 0
        while (i < n - 1 && r >= minD(i)) { r -= minD(i); i += 1 }
        centroids(c) = data(i).map(_.toDouble)
      }
      c += 1
    }
    centroids
  }

  /** Run `body` over ordered chunks of [0, n) on the global pool; results
    * come back in chunk order and chunk BOUNDARIES are a pure function of
    * n (fixed 256-point chunks, NOT core-count-derived), so partial-sum
    * grouping — and therefore the fitted centroids — are bit-identical
    * for the same (data, seed) on any machine.
    *
    * 256, not the original 4096: the capped training samples are small
    * enough that 4096-point chunks starved the pool — the 65,536-point
    * PQ fits made 16 chunks and the 25,600-point coarse fit SEVEN, so
    * most of a 32-thread box idled through the two dominant build
    * stages. Measured on the reference-scale 100k×1536 build (same box,
    * back to back): 42.4 s at 4096 → 30.6 at 1024 → 28.3 at 512 → 27.1
    * at 256, where it flattens (compute-bound). The merge cost this
    * adds (16× the partial-sum rows, each k×dim doubles) stays
    * microseconds against the per-iter flops. */
  private[index] def parChunks[T](n: Int)(body: (Int, Int) => T): Seq[T] = {
    val size = 256
    val chunks = (n + size - 1) / size
    val ranges = (0 until chunks)
      .map(t => (t * size, math.min(n, (t + 1) * size)))
    implicit val ec: ExecutionContext = ExecutionContext.global
    Await.result(
      Future.sequence(ranges.map { case (s, e) => Future(body(s, e)) }),
      Duration.Inf)
  }

  /** Run `n` independent per-division bodies with a small fixed OVERLAP
    * of plain worker threads (deliberately NOT the shared
    * ExecutionContext — each body's own [[parChunks]] fans to it, and a
    * blocked submitter there would starve the pool). One fit alone
    * leaves the pool under-fed at its per-iteration barriers, so
    * overlapping fits fills the bubbles: measured on the 1536-dim
    * build's 12 PQ fits (65,536 × 128-dim slices, C=256) — sequential
    * 29.4 s vs overlap-4 16.6 s = 1.77× on the uniform bench corpus,
    * 1.53× on blobs, outputs BIT-IDENTICAL in both (each body is a pure
    * function of its index: per-division seed, range-ordered partial
    * merges; BENCH_NOTES "Round 14: PQ-fit overlap" has the A/B). Workers
    * pull indices from a counter, results keep index order; the first
    * body failure cancels the remaining pulls and rethrows. */
  private[index] def overlapIndexed[T: scala.reflect.ClassTag](
      n: Int, overlap: Int = 4)(body: Int => T): IndexedSeq[T] = {
    require(overlap >= 1, s"overlap must be >= 1, got $overlap")
    if (n == 0) return Vector.empty
    val out = new Array[T](n)
    if (n == 1 || overlap == 1) {
      var i = 0
      while (i < n) { out(i) = body(i); i += 1 }
      return out.toIndexedSeq
    }
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val workers = (0 until math.min(overlap, n)).map { _ =>
      val t = new Thread(() => {
        try {
          var i = next.getAndIncrement()
          while (i < n && failure.get() == null) {
            out(i) = body(i)
            i = next.getAndIncrement()
          }
        } catch {
          case e: Throwable => failure.compareAndSet(null, e)
        }
      })
      t.setDaemon(true)
      t.start()
      t
    }
    workers.foreach(_.join())
    if (failure.get() != null) throw failure.get()
    out.toIndexedSeq
  }
}
