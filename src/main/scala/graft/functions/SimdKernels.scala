package graft.functions

import jdk.incubator.vector.{ByteVector, DoubleVector, IntVector, VectorOperators, VectorSpecies}

/** Vector-API (JEP 438, public JDK incubator) kernels for the
  * memory/compute-bound WARM-SERVE paths: the per-query prep of
  * PQ serving (cell selection and ADC tables), the OPQ query rotation
  * and the SQ8 full-dim byte scan (measured priorities in BENCH_NOTES
  * r11-r12; `perfbench/README.md` names the standing serve metrics).
  * These kernels vectorize ACROSS OUTPUT ENTRIES with each entry's
  * reduction kept STRICTLY SEQUENTIAL, so every lane computes the exact
  * FP operation sequence of the scalar loop and results are
  * BIT-IDENTICAL (asserted by SimdKernelsSpec over random inputs, and
  * transitively by the bit-parity serve gates):
  *
  *  - [[adcTablesExact]]: the ADC table entries
  *    T_p(c) = Σ_i (loc_p(i) − cb(c)(i))² of one division for every
  *    probe p. 8 codes ride one accumulator over a COLUMN-MAJOR codebook
  *    (cbT(i·C + c), [[transposed]] once per model), and each loaded
  *    codebook vector serves a block of up to 5 probes, each with its
  *    own accumulator held in a local (an array of accumulators defeats
  *    C2's register allocation): `d = loc_p(i) − v; acc_p = d·d + acc_p`
  *    in ascending i — [[Kernels.subSqDist]] exactly (separate MUL then
  *    ADD; no FMA, which would round once instead of twice and diverge).
  *    One codebook pass serves every probe of a block, which is what
  *    makes it fast: the per-probe fold streams the whole codebook set
  *    once per probe.
  *  - [[cellDistsExact]]: the query's squared distance to every coarse
  *    centroid, 8 cells per accumulator over a column-major centroid
  *    copy, i ascending — the same fold, so cell choice is unchanged.
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

  /** ADC tables of ONE division for every probe:
    * outs(p)(outOff + c) = Σ_{i<m} (locs(p)(locOff + i) − cbT(i·C + c))²
    * for c ∈ [0, C) — bit-identical to [[Kernels.subSqDist]] per entry
    * (see object doc). `cbT` is the division's codebook [[transposed]]
    * (C codes of m doubles). Probes go in blocks of 5 that share each
    * codebook load; a tail of 2–4 probes runs the same block with its
    * last probe repeated (identical stores), a lone probe runs
    * [[table1]]. */
  def adcTablesExact(cbT: Array[Double], m: Int, numCodes: Int,
                     locs: Array[Array[Double]], locOff: Int,
                     outs: Array[Array[Double]], outOff: Int): Unit = {
    val n = locs.length
    var p = 0
    while (p < n) {
      if (n - p == 1) table1(cbT, m, numCodes, locs(p), locOff, outs(p), outOff)
      else {
        val p1 = math.min(p + 1, n - 1); val p2 = math.min(p + 2, n - 1)
        val p3 = math.min(p + 3, n - 1); val p4 = math.min(p + 4, n - 1)
        table5(cbT, m, numCodes, locOff, outOff,
          locs(p), locs(p1), locs(p2), locs(p3), locs(p4),
          outs(p), outs(p1), outs(p2), outs(p3), outs(p4))
      }
      p += 5
    }
  }

  /** Σ_{i<m} (loc(lo + i) − cbT(i·C + c))²: the scalar fold of one
    * column, for code tails that do not fill a vector. */
  private def column(cbT: Array[Double], m: Int, numCodes: Int, c: Int,
                     loc: Array[Double], lo: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < m) {
      val d = loc(lo + i) - cbT(i * numCodes + c)
      s += d * d
      i += 1
    }
    s
  }

  /** Five probes share each codebook vector load. */
  private def table5(cbT: Array[Double], m: Int, numCodes: Int,
                     lo: Int, oo: Int,
                     l0: Array[Double], l1: Array[Double], l2: Array[Double],
                     l3: Array[Double], l4: Array[Double],
                     o0: Array[Double], o1: Array[Double], o2: Array[Double],
                     o3: Array[Double], o4: Array[Double]): Unit = {
    val L = SPD.length()
    val vecEnd = (numCodes / L) * L
    var c = 0
    while (c < vecEnd) {
      var a0 = DoubleVector.zero(SPD); var a1 = a0; var a2 = a0
      var a3 = a0; var a4 = a0
      var i = 0
      while (i < m) {
        val v = DoubleVector.fromArray(SPD, cbT, i * numCodes + c)
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
      a0.intoArray(o0, oo + c); a1.intoArray(o1, oo + c)
      a2.intoArray(o2, oo + c); a3.intoArray(o3, oo + c)
      a4.intoArray(o4, oo + c)
      c += L
    }
    while (c < numCodes) {
      o0(oo + c) = column(cbT, m, numCodes, c, l0, lo)
      o1(oo + c) = column(cbT, m, numCodes, c, l1, lo)
      o2(oo + c) = column(cbT, m, numCodes, c, l2, lo)
      o3(oo + c) = column(cbT, m, numCodes, c, l3, lo)
      o4(oo + c) = column(cbT, m, numCodes, c, l4, lo)
      c += 1
    }
  }

  /** One probe: four code vectors per pass, so four independent
    * accumulator chains hide the add latency. */
  private def table1(cbT: Array[Double], m: Int, numCodes: Int,
                     l0: Array[Double], lo: Int,
                     o0: Array[Double], oo: Int): Unit = {
    val L = SPD.length()
    var c = 0
    while (c + 4 * L <= numCodes) {
      var a0 = DoubleVector.zero(SPD); var a1 = a0; var a2 = a0; var a3 = a0
      var i = 0
      while (i < m) {
        val b = DoubleVector.broadcast(SPD, l0(lo + i))
        val o = i * numCodes + c
        val d0 = b.sub(DoubleVector.fromArray(SPD, cbT, o))
        a0 = d0.mul(d0).add(a0)
        val d1 = b.sub(DoubleVector.fromArray(SPD, cbT, o + L))
        a1 = d1.mul(d1).add(a1)
        val d2 = b.sub(DoubleVector.fromArray(SPD, cbT, o + 2 * L))
        a2 = d2.mul(d2).add(a2)
        val d3 = b.sub(DoubleVector.fromArray(SPD, cbT, o + 3 * L))
        a3 = d3.mul(d3).add(a3)
        i += 1
      }
      a0.intoArray(o0, oo + c); a1.intoArray(o0, oo + c + L)
      a2.intoArray(o0, oo + c + 2 * L); a3.intoArray(o0, oo + c + 3 * L)
      c += 4 * L
    }
    while (c + L <= numCodes) {
      var a0 = DoubleVector.zero(SPD)
      var i = 0
      while (i < m) {
        val d0 = DoubleVector.broadcast(SPD, l0(lo + i))
          .sub(DoubleVector.fromArray(SPD, cbT, i * numCodes + c))
        a0 = d0.mul(d0).add(a0)
        i += 1
      }
      a0.intoArray(o0, oo + c)
      c += L
    }
    while (c < numCodes) {
      o0(oo + c) = column(cbT, m, numCodes, c, l0, lo)
      c += 1
    }
  }

  /** dist(p) = Σ_{i<dim} (q(i) − centT(i·stride + p))² for every cell
    * column p ∈ [0, stride), 8 cells per accumulator in ascending i —
    * [[Kernels.subSqDist]] of q and centroid p, lane by lane. `centT` is
    * [[cellMajor]] (stride = centT.length / dim); padded cells come out
    * as ‖q‖². */
  def cellDistsExact(centT: Array[Double], q: Array[Double],
                     dist: Array[Double]): Unit = {
    val L = SPD.length()
    val dim = q.length
    val stride = centT.length / dim
    require(stride * dim == centT.length && stride % L == 0,
      s"${centT.length} entries are not dim $dim x a multiple of $L lanes")
    var p = 0
    while (p < stride) {
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
