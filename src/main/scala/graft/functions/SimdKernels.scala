package graft.functions

import jdk.incubator.vector.{ByteVector, DoubleVector, IntVector, VectorOperators, VectorSpecies}

/** Vector-API (JEP 438, public JDK incubator) kernels for the
  * memory/compute-bound WARM-SERVE paths — the per-query prep of
  * PQ serving (cell selection and ADC tables), the OPQ query rotation
  * and the SQ8 full-dim byte scan (measured priorities in BENCH_NOTES
  * r11-r12; `perfbench/README.md` names the standing serve metrics) —
  * and for the BUILD: [[graft.index.LocalKMeans]]'s nearest-centroid
  * search (every Lloyd round of the coarse and PQ fits, the training
  * residuals, OPQ's per-division encode) runs on [[centroidDists5]].
  * These kernels vectorize ACROSS OUTPUT ENTRIES with each entry's
  * reduction kept STRICTLY SEQUENTIAL, so every lane computes the exact
  * FP operation sequence of the scalar loop and results are
  * BIT-IDENTICAL (asserted by SimdKernelsSpec over random inputs, and
  * transitively by the bit-parity serve gates):
  *
  *  - [[adcTablesExact]]: the ADC table entries
  *    T_p(c) = Σ_i (loc_p(i) − cb(c)(i))² of one division for every
  *    probe p. 8 codes ride one accumulator over a CODE-BLOCK codebook
  *    (one contiguous m×8 run per 8 codes, [[codeBlocks]] once per
  *    model, so a pass reads it front to back instead of striding C·8
  *    bytes per step), and each loaded
  *    codebook vector serves a block of up to 5 probes, each with its
  *    own accumulator held in a local (an array of accumulators defeats
  *    C2's register allocation): `d = loc_p(i) − v; acc_p = d·d + acc_p`
  *    in ascending i — [[Kernels.subSqDist]] exactly (separate MUL then
  *    ADD; no FMA, which would round once instead of twice and diverge).
  *    One codebook pass serves every probe of a block, which is what
  *    makes it fast: the per-probe fold streams the whole codebook set
  *    once per probe.
  *  - [[centroidDists5]]: the build's twin of the ADC table kernel —
  *    five points' squared distances to every centroid.
  *  - [[cellDistsExact]]: the query's squared distance to the coarse
  *    centroids of a range of 8-cell lane blocks, 8 cells per
  *    accumulator (four independent chains) over a column-major
  *    centroid copy, i ascending — the same fold, so cell choice is
  *    unchanged; disjoint ranges split one selection across threads.
  *  - [[rotateExact]]: out(r) = Σ_t R(r,t)·v(t). Lane r accumulates
  *    `acc = (row·v) + acc` in ascending t — the scalar `s += row(t)*v(t)`
  *    exactly. Rows are independent, so 8 rows ride one 512-bit
  *    accumulator over the transposed matrix.
  *  - [[sq8DistExact]]: out(r) = Σ_i (loc(i) − (min(i) + code(r,i)·Δ(i)))².
  *    Same row-lane construction over a COLUMN-MAJOR byte layout
  *    (codesT(i·n + r), packed at pin time); bytes widen
  *    ZERO_EXTEND_B2I → I2D, the vector form of the scalar `& 0xFF`.
  *
  * IEEE addition is commutative bitwise and a−b ≡ a+(−b), so each lane
  * sequence reproduces the scalar bits op for op.
  *
  * The PQ scan's ADC fold is deliberately NOT vectorized: its inner loop
  * is a table GATHER by code index (D lookups/row), and gather-heavy
  * Vector-API loops on current x86 rarely beat scalar L1-resident
  * lookups — measured priorities per BENCH_NOTES r11.
  *
  * Requires an 8-lane double species (512-bit) — [[SimdSupport]] gates
  * callers; narrower machines use the scalar twins (same bits).
  */
object SimdKernels {
  private val SPD: VectorSpecies[java.lang.Double] =
    DoubleVector.SPECIES_PREFERRED
  private val SPB8: VectorSpecies[java.lang.Byte] = ByteVector.SPECIES_64
  private val SPI8: VectorSpecies[java.lang.Integer] = IntVector.SPECIES_256

  /** Preferred double lane count on this machine. */
  def lanes: Int = SPD.length()

  /** out(t·stride + r) = rows(r)(t): the one-time column-major copy that
    * turns the 8 lane loads per t into one contiguous read. `stride`
    * (≥ rows.length) pads each column; padded entries read 0. */
  def transposed(rows: Array[Array[Double]],
                 stride: Int = -1): Array[Double] = {
    val n = rows.length
    val s = if (stride < 0) n else stride
    require(s >= n, s"stride $s < $n rows")
    val width = if (n == 0) 0 else rows(0).length
    val out = new Array[Double](width * s)
    var r = 0
    while (r < n) {
      val row = rows(r)
      var t = 0
      while (t < width) { out(t * s + r) = row(t); t += 1 }
      r += 1
    }
    out
  }

  /** The centroids [[transposed]] with each column padded to a whole
    * number of vectors — the layout [[cellDistsExact]] reads. */
  def cellMajor(centroids: Array[Array[Double]]): Array[Double] =
    transposed(centroids, (centroids.length + lanes - 1) / lanes * lanes)

  /** The code-block layout [[adcTablesExact]] reads: the codebook's
    * codes in blocks of [[lanes]], each block ONE contiguous m×lanes run
    * (out(b·m·L + i·L + j) = codebook(b·L + j)(i)), so a table pass
    * streams the codebook front to back. The last block's missing codes
    * read 0; their lanes are computed and never stored. */
  def codeBlocks(codebook: Array[Array[Double]]): Array[Double] = {
    val L = SPD.length()
    val n = codebook.length
    val m = if (n == 0) 0 else codebook(0).length
    val out = new Array[Double]((n + L - 1) / L * L * m)
    var c = 0
    while (c < n) {
      val base = c / L * (m * L) + c % L
      val row = codebook(c)
      var i = 0
      while (i < m) { out(base + i * L) = row(i); i += 1 }
      c += 1
    }
    out
  }

  /** ADC tables of ONE division for every probe:
    * outs(p)(outOff + c) = Σ_{i<m} (locs(p)(locOff + i) − cb(c)(i))²
    * for c ∈ [0, C) — bit-identical to [[Kernels.subSqDist]] per entry
    * (see object doc). `cbB` is the division's codebook in
    * [[codeBlocks]] layout (C codes of m doubles). Probes go in blocks
    * of 5 that share each codebook load; a tail of 2–4 probes runs the
    * same block with its last probe repeated (identical stores), a lone
    * probe runs [[table1]]. */
  def adcTablesExact(cbB: Array[Double], m: Int, numCodes: Int,
                     locs: Array[Array[Double]], locOff: Int,
                     outs: Array[Array[Double]], outOff: Int): Unit = {
    val n = locs.length
    var p = 0
    while (p < n) {
      if (n - p == 1) table1(cbB, m, numCodes, locs(p), locOff, outs(p), outOff)
      else {
        val p1 = math.min(p + 1, n - 1); val p2 = math.min(p + 2, n - 1)
        val p3 = math.min(p + 3, n - 1); val p4 = math.min(p + 4, n - 1)
        table5(cbB, m, numCodes, locOff, outOff,
          locs(p), locs(p1), locs(p2), locs(p3), locs(p4),
          outs(p), outs(p1), outs(p2), outs(p3), outs(p4))
      }
      p += 5
    }
  }

  /** Five probes share each codebook vector load; block b's lane-i
    * vector sits at b·m·L + i·L. */
  private def table5(cbB: Array[Double], m: Int, numCodes: Int,
                     lo: Int, oo: Int,
                     l0: Array[Double], l1: Array[Double], l2: Array[Double],
                     l3: Array[Double], l4: Array[Double],
                     o0: Array[Double], o1: Array[Double], o2: Array[Double],
                     o3: Array[Double], o4: Array[Double]): Unit = {
    val L = SPD.length()
    var c = 0
    var base = 0
    while (c < numCodes) {
      var a0 = DoubleVector.zero(SPD); var a1 = a0; var a2 = a0
      var a3 = a0; var a4 = a0
      var i = 0
      while (i < m) {
        val v = DoubleVector.fromArray(SPD, cbB, base + i * L)
        val d0 = DoubleVector.broadcast(SPD, l0(lo + i)).sub(v)
        a0 = d0.mul(d0).add(a0)
        val d1 = DoubleVector.broadcast(SPD, l1(lo + i)).sub(v)
        a1 = d1.mul(d1).add(a1)
        val d2 = DoubleVector.broadcast(SPD, l2(lo + i)).sub(v)
        a2 = d2.mul(d2).add(a2)
        val d3 = DoubleVector.broadcast(SPD, l3(lo + i)).sub(v)
        a3 = d3.mul(d3).add(a3)
        val d4 = DoubleVector.broadcast(SPD, l4(lo + i)).sub(v)
        a4 = d4.mul(d4).add(a4)
        i += 1
      }
      if (c + L <= numCodes) {
        a0.intoArray(o0, oo + c); a1.intoArray(o1, oo + c)
        a2.intoArray(o2, oo + c); a3.intoArray(o3, oo + c)
        a4.intoArray(o4, oo + c)
      } else { // the padded last block: real codes only
        val mask = SPD.indexInRange(c, numCodes)
        a0.intoArray(o0, oo + c, mask); a1.intoArray(o1, oo + c, mask)
        a2.intoArray(o2, oo + c, mask); a3.intoArray(o3, oo + c, mask)
        a4.intoArray(o4, oo + c, mask)
      }
      c += L
      base += m * L
    }
  }

  /** One probe: four code blocks per pass, so four independent
    * accumulator chains hide the add latency. */
  private def table1(cbB: Array[Double], m: Int, numCodes: Int,
                     l0: Array[Double], lo: Int,
                     o0: Array[Double], oo: Int): Unit = {
    val L = SPD.length()
    val step = m * L
    var c = 0
    var base = 0
    while (c + 4 * L <= numCodes) {
      var a0 = DoubleVector.zero(SPD); var a1 = a0; var a2 = a0; var a3 = a0
      var i = 0
      while (i < m) {
        val b = DoubleVector.broadcast(SPD, l0(lo + i))
        val o = base + i * L
        val d0 = b.sub(DoubleVector.fromArray(SPD, cbB, o))
        a0 = d0.mul(d0).add(a0)
        val d1 = b.sub(DoubleVector.fromArray(SPD, cbB, o + step))
        a1 = d1.mul(d1).add(a1)
        val d2 = b.sub(DoubleVector.fromArray(SPD, cbB, o + 2 * step))
        a2 = d2.mul(d2).add(a2)
        val d3 = b.sub(DoubleVector.fromArray(SPD, cbB, o + 3 * step))
        a3 = d3.mul(d3).add(a3)
        i += 1
      }
      a0.intoArray(o0, oo + c); a1.intoArray(o0, oo + c + L)
      a2.intoArray(o0, oo + c + 2 * L); a3.intoArray(o0, oo + c + 3 * L)
      c += 4 * L
      base += 4 * step
    }
    while (c < numCodes) {
      var a0 = DoubleVector.zero(SPD)
      var i = 0
      while (i < m) {
        val d0 = DoubleVector.broadcast(SPD, l0(lo + i))
          .sub(DoubleVector.fromArray(SPD, cbB, base + i * L))
        a0 = d0.mul(d0).add(a0)
        i += 1
      }
      if (c + L <= numCodes) a0.intoArray(o0, oo + c)
      else a0.intoArray(o0, oo + c, SPD.indexInRange(c, numCodes))
      c += L
      base += step
    }
  }

  /** Squared distances from up to five points to every centroid column:
    * outs(p)(c) = Σ_{i<dim} (pts(p)(i) − centT(i·stride + c))² for
    * p < n ≤ 5 and c < stride — the nearest-centroid fold of
    * [[graft.index.LocalKMeans]], each lane the scalar `d += x·x` in
    * ascending i (the [[table5]] construction). `centT` is [[cellMajor]]
    * (stride = centT.length / dim); padded columns come out as ‖p‖². A
    * short block repeats its last point (identical stores).
    *
    * Deliberately NOT [[adcTablesExact]], which computes the same
    * entries: the build's 1536-long folds, run through the serve kernel,
    * left C2 compiling it for that profile, and serve-shape table prep
    * (12 divisions × 128 dims × 256 codes) then ran ~20% slower for the
    * rest of the JVM (≈93 vs 77 µs for 5 probes on a 4-core AMD EPYC,
    * AVX-512) — perfbench `reference` `op_p50_ms` +10%. */
  def centroidDists5(centT: Array[Double], dim: Int,
                     pts: Array[Array[Double]], outs: Array[Array[Double]],
                     n: Int): Unit = {
    val L = SPD.length()
    val stride = centT.length / dim
    val l0 = pts(0); val l1 = pts(math.min(1, n - 1))
    val l2 = pts(math.min(2, n - 1)); val l3 = pts(math.min(3, n - 1))
    val l4 = pts(math.min(4, n - 1))
    val o0 = outs(0); val o1 = outs(math.min(1, n - 1))
    val o2 = outs(math.min(2, n - 1)); val o3 = outs(math.min(3, n - 1))
    val o4 = outs(math.min(4, n - 1))
    var c = 0
    while (c < stride) {
      var a0 = DoubleVector.zero(SPD); var a1 = a0; var a2 = a0
      var a3 = a0; var a4 = a0
      var i = 0
      while (i < dim) {
        val v = DoubleVector.fromArray(SPD, centT, i * stride + c)
        val d0 = DoubleVector.broadcast(SPD, l0(i)).sub(v)
        a0 = d0.mul(d0).add(a0)
        val d1 = DoubleVector.broadcast(SPD, l1(i)).sub(v)
        a1 = d1.mul(d1).add(a1)
        val d2 = DoubleVector.broadcast(SPD, l2(i)).sub(v)
        a2 = d2.mul(d2).add(a2)
        val d3 = DoubleVector.broadcast(SPD, l3(i)).sub(v)
        a3 = d3.mul(d3).add(a3)
        val d4 = DoubleVector.broadcast(SPD, l4(i)).sub(v)
        a4 = d4.mul(d4).add(a4)
        i += 1
      }
      a0.intoArray(o0, c); a1.intoArray(o1, c); a2.intoArray(o2, c)
      a3.intoArray(o3, c); a4.intoArray(o4, c)
      c += L
    }
  }

  /** dist(p) = Σ_{i<dim} (q(i) − centT(i·stride + p))² for the cell
    * columns of lane blocks [b0, b1) (cells [b0·L, b1·L)), 8 cells per
    * accumulator in ascending i — [[Kernels.subSqDist]] of q and
    * centroid p, lane by lane. Four blocks share each q(i) broadcast
    * with four independent accumulator chains, which hides the add
    * latency; the chains never mix, so the bits are the one-chain
    * fold's. `centT` is [[cellMajor]] (stride = centT.length / dim);
    * padded cells come out as ‖q‖². Disjoint block ranges may run on
    * different threads into one `dist`. */
  def cellDistsExact(centT: Array[Double], q: Array[Double],
                     dist: Array[Double], b0: Int, b1: Int): Unit = {
    val L = SPD.length()
    val dim = q.length
    val stride = centT.length / dim
    require(stride * dim == centT.length && stride % L == 0,
      s"${centT.length} entries are not dim $dim x a multiple of $L lanes")
    require(0 <= b0 && b0 <= b1 && b1 * L <= stride,
      s"lane blocks [$b0, $b1) outside ${stride / L}")
    var p = b0 * L
    val end = b1 * L
    while (p + 4 * L <= end) {
      var a0 = DoubleVector.zero(SPD); var a1 = a0; var a2 = a0; var a3 = a0
      var i = 0
      while (i < dim) {
        val b = DoubleVector.broadcast(SPD, q(i))
        val o = i * stride + p
        val d0 = b.sub(DoubleVector.fromArray(SPD, centT, o))
        a0 = d0.mul(d0).add(a0)
        val d1 = b.sub(DoubleVector.fromArray(SPD, centT, o + L))
        a1 = d1.mul(d1).add(a1)
        val d2 = b.sub(DoubleVector.fromArray(SPD, centT, o + 2 * L))
        a2 = d2.mul(d2).add(a2)
        val d3 = b.sub(DoubleVector.fromArray(SPD, centT, o + 3 * L))
        a3 = d3.mul(d3).add(a3)
        i += 1
      }
      a0.intoArray(dist, p); a1.intoArray(dist, p + L)
      a2.intoArray(dist, p + 2 * L); a3.intoArray(dist, p + 3 * L)
      p += 4 * L
    }
    while (p < end) {
      var acc = DoubleVector.zero(SPD)
      var i = 0
      while (i < dim) {
        val d = DoubleVector.broadcast(SPD, q(i))
          .sub(DoubleVector.fromArray(SPD, centT, i * stride + p))
        acc = d.mul(d).add(acc)
        i += 1
      }
      acc.intoArray(dist, p)
      p += L
    }
  }

  /** Rows [r0, r1) of R·v into out — bit-identical to the scalar
    * `s += R(r,t)·v(t)` loop (see object doc). `rotT` is the
    * [[transposed]] layout; d the dimension. */
  def rotateExact(rotT: Array[Double], d: Int, v: Array[Double],
                  out: Array[Double], r0: Int, r1: Int): Unit = {
    val L = SPD.length()
    var r = r0
    val vecEnd = r0 + ((r1 - r0) / L) * L
    while (r < vecEnd) {
      var acc = DoubleVector.zero(SPD)
      var t = 0
      while (t < d) {
        // (row · v(t)) + acc — scalar's  s = s + row(t)*v(t)  per lane
        acc = DoubleVector.fromArray(SPD, rotT, t * d + r)
          .mul(v(t)).add(acc)
        t += 1
      }
      acc.intoArray(out, r)
      r += L
    }
    while (r < r1) { // tail rows: scalar, same t order
      var s = 0.0
      var t = 0
      while (t < d) { s += rotT(t * d + r) * v(t); t += 1 }
      out(r) = s
      r += 1
    }
  }

  /** Asymmetric SQ8 distances for rows [r0, r1) into out —
    * bit-identical to [[graft.query.LocalServeSq8]]'s scalar fold.
    * `codesT` is column-major (codesT(i·n + r)), n the cell's row
    * count, dim the vector dimension. */
  def sq8DistExact(codesT: Array[Byte], n: Int, dim: Int,
                   localized: Array[Double], mins: Array[Double],
                   scales: Array[Double], out: Array[Double],
                   r0: Int, r1: Int): Unit = {
    val L = SPD.length()
    var r = r0
    val vecEnd = r0 + ((r1 - r0) / L) * L
    while (r < vecEnd) {
      var acc = DoubleVector.zero(SPD)
      var i = 0
      while (i < dim) {
        // bytes → ints (sign-extend, then mask — together the exact
        // `& 0xFF` zero-extension; JDK 17's convertShape rejects the
        // direct ZERO_EXTEND_B2I across shapes) → doubles
        val code = ByteVector.fromArray(SPB8, codesT, i * n + r)
          .convertShape(VectorOperators.B2I, SPI8, 0)
          .asInstanceOf[IntVector].and(0xFF)
          .convertShape(VectorOperators.I2D, SPD, 0)
          .asInstanceOf[DoubleVector]
        // d = loc − (min + code·Δ); acc = d·d + acc — scalar op order
        val dv = DoubleVector.broadcast(SPD, localized(i))
          .sub(code.mul(scales(i)).add(mins(i)))
        acc = dv.mul(dv).add(acc)
        i += 1
      }
      acc.intoArray(out, r)
      r += L
    }
    while (r < r1) { // tail rows: scalar over the same layout/order
      var s = 0.0
      var i = 0
      while (i < dim) {
        val d = localized(i) -
          (mins(i) + (codesT(i * n + r) & 0xFF) * scales(i))
        s += d * d
        i += 1
      }
      out(r) = s
      r += 1
    }
  }
}
