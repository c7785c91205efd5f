package graft.functions

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Hand-written JVM kernels for the per-row hot loops, invoked from plans
  * via Catalyst `StaticInvoke` (see [[FastFunctions]]) — so they run as a
  * single generated-code call inside WholeStageCodegen spans, unlike SQL
  * higher-order functions (`aggregate`/`zip_with`/`transform`) which
  * evaluate interpreted lambdas per element.
  *
  * These play the role of the reference's unrolled linalg kernels
  * (reference/src/linalg.rs:7-247) — tight scalar loops the JIT can
  * vectorize — but applied per row of a columnar scan on every executor
  * core.
  *
  * Numeric contract: identical operation order to the higher-order
  * variants in [[VectorFunctions]] (cast to double, sequential
  * left-to-right accumulation), so results are bit-identical and the
  * DuckDB oracle outputs do not change.
  */
object Kernels {

  /** Dimension guard for two-array kernels: UnsafeArrayData reads have no
    * bounds checks, so a length mismatch (inconsistent corpus, bad SQL
    * input) must fail loudly, not read garbage. */
  @inline private def sameDim(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"vector dimension mismatch: $n vs ${b.numElements()}")
    n
  }

  /** Σ (aᵢ−bᵢ)² over float arrays, accumulated in double. */
  def sqL2f(a: ArrayData, b: ArrayData): Double = {
    val n = sameDim(a, b)
    var i = 0
    var s = 0.0
    while (i < n) {
      val d = a.getFloat(i).toDouble - b.getFloat(i).toDouble
      s += d * d
      i += 1
    }
    s
  }

  /** Σ aᵢ·bᵢ over float arrays, accumulated in double. */
  def dotf(a: ArrayData, b: ArrayData): Double = {
    val n = sameDim(a, b)
    var i = 0
    var s = 0.0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  /** Cosine similarity over float arrays — one pass for dot and both
    * norms; 0.0 when either norm is zero (matches VectorFunctions.cosine). */
  def cosinef(a: ArrayData, b: ArrayData): Double = {
    val n = sameDim(a, b)
    var i = 0
    var dp = 0.0
    var na = 0.0
    var nb = 0.0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      dp += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) 0.0 else dp / denom
  }

  /** ‖x‖₂ with the reference's √max|x| pre-scaling (reference
    * src/linalg.rs:61-146, `norm2`/`norm2_scaled`): mx = max|xᵢ|;
    * result = √mx · √Σ(xᵢ/√mx)². Scaling by 1/√mx bounds every scaled
    * square by mx itself, so the accumulator never overflows even when
    * xᵢ² would. This closes the last documented divergence from the
    * reference: the plain double accumulation used everywhere else in
    * this file is exact for all f32 inputs (max f32² ≈ 1.2e77 ≪ double
    * max), but a DOUBLE vector with |xᵢ| beyond ~1.3e154 overflows xᵢ²
    * to +Inf — this kernel returns the finite norm there, and on the
    * small end keeps subnormal components (|xᵢ| < ~1.5e-162) from
    * squaring to 0. Returns 0.0 for an empty or all-zero vector, as the
    * reference does; any NaN element → NaN, any ±Inf element → +Inf
    * (checked in the max scan — `NaN > mx` is false, so without the
    * explicit checks an all-NaN vector would fall through the mx == 0
    * guard and report a clean zero norm). */
  def norm2Safe(a: ArrayData): Double = {
    val n = a.numElements()
    var mx = 0.0
    var hasInf = false
    var i = 0
    while (i < n) {
      val v = math.abs(a.getDouble(i))
      if (java.lang.Double.isNaN(v)) return Double.NaN
      if (java.lang.Double.isInfinite(v)) hasInf = true
      if (v > mx) mx = v
      i += 1
    }
    if (hasInf) return Double.PositiveInfinity
    if (mx == 0.0) return 0.0
    val ms = math.sqrt(mx)
    var s = 0.0
    i = 0
    while (i < n) {
      val v = a.getDouble(i) / ms
      s += v * v
      i += 1
    }
    math.sqrt(s) * ms
  }

  /** Float-array variant of [[norm2Safe]] — identical contract. f32
    * squares cannot overflow a double accumulator, so here the rescale
    * only guards the subnormal floor; it exists so the f32 engine
    * surface mirrors the reference's `norm2<f32>` exactly. */
  def norm2SafeF(a: ArrayData): Double = {
    val n = a.numElements()
    var mx = 0.0
    var hasInf = false
    var i = 0
    while (i < n) {
      val v = math.abs(a.getFloat(i).toDouble)
      if (java.lang.Double.isNaN(v)) return Double.NaN
      if (java.lang.Double.isInfinite(v)) hasInf = true
      if (v > mx) mx = v
      i += 1
    }
    if (hasInf) return Double.PositiveInfinity
    if (mx == 0.0) return 0.0
    val ms = math.sqrt(mx)
    var s = 0.0
    i = 0
    while (i < n) {
      val v = a.getFloat(i).toDouble / ms
      s += v * v
      i += 1
    }
    math.sqrt(s) * ms
  }

  /** Feature-hashing bag-of-words embedding (the "hashing trick",
    * Weinberger et al. 2009): token t increments bucket
    * `xxh64(t) mod dim`, yielding a dense float count vector. One
    * narrow kernel call per row — no vocabulary table, no shuffle, no
    * model — that bridges raw text into the whole ANN/kNN family
    * (cosine is scale-invariant, so raw counts behave like TF vectors).
    * Unsigned counts (no hash-sign trick) keep the exact invariant
    * Σ_buckets v = token count, which the gate checks cross-engine.
    * Null tokens (possible via the SQL surface) contribute nothing. */
  def hashEmbedF(toks: ArrayData, dim: Int): ArrayData = {
    require(dim > 0, s"hashEmbedF: dim must be positive, got $dim")
    val v = new Array[Float](dim)
    val n = toks.numElements()
    var i = 0
    while (i < n) {
      val u = toks.getUTF8String(i)
      if (u != null) {
        val h = XXH64.hashUTF8String(u, 42L)
        v((((h % dim) + dim) % dim).toInt) += 1f
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(v)
  }

  /** Sorted (ascending) xxhash64 values of a string array's DISTINCT
    * elements — the hashed token-set representation used by the dedup
    * family. 64-bit hashing makes equality/intersection counts collide
    * with probability ~n²/2⁶⁴ (negligible at corpus vocabulary sizes). */
  def tokenHashesSorted(toks: ArrayData): ArrayData = {
    val n = toks.numElements()
    val h = new Array[Long](n)
    var i = 0
    var w = 0
    while (i < n) {
      // null elements (possible via the SQL surface) contribute no token
      val u = toks.getUTF8String(i)
      if (u != null) { h(w) = XXH64.hashUTF8String(u, 42L); w += 1 }
      i += 1
    }
    java.util.Arrays.sort(h, 0, w)
    // dedupe in place (sorted)
    var m = 0
    i = 0
    while (i < w) {
      if (m == 0 || h(i) != h(m - 1)) { h(m) = h(i); m += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(h, m))
  }

  /** Sorted distinct xxhash64 values of the n-token shingles (sliding
    * windows joined by a single space) of a token array — the w-shingling
    * representation for n-gram Jaccard. Hashing the joined string keeps
    * the set in bijection with distinct shingle STRINGS (mod 64-bit
    * collisions), which is what a SQL oracle computes. */
  def shingleHashesSorted(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements() - n + 1
    if (m <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val sep = UTF8String.fromString(" ")
    val h = new Array[Long](m)
    val empty = UTF8String.EMPTY_UTF8
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        // null tokens (SQL surface) act as empty strings in the shingle
        val u = toks.getUTF8String(i + j)
        parts(j) = if (u == null) empty else u
        j += 1
      }
      h(i) = XXH64.hashUTF8String(UTF8String.concatWs(sep, parts: _*), 42L)
      i += 1
    }
    java.util.Arrays.sort(h)
    var k = 0
    i = 0
    while (i < m) {
      if (k == 0 || h(i) != h(k - 1)) { h(k) = h(i); k += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(h, k))
  }

  /** POSITIONAL xxhash64 values of the n-token shingles of a token
    * array: element i is the hash of tokens[i..i+n) joined by one space —
    * unsorted and non-distinct, in bijection with the window STRINGS at
    * each position (mod 64-bit collisions). The windowed representation
    * for span-level exact-substring dedup (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better" — the n-gram-window
    * formulation): a window's hash matching across documents marks a
    * duplicated span. Same shingle-string construction as
    * [[shingleHashesSorted]], so a SQL oracle grouping window strings
    * computes the same relation. */
  def shingleHashes(toks: ArrayData, n: Int): ArrayData = {
    val m = toks.numElements() - n + 1
    if (m <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val sep = UTF8String.fromString(" ")
    val empty = UTF8String.EMPTY_UTF8
    val h = new Array[Long](m)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        val u = toks.getUTF8String(i + j)
        parts(j) = if (u == null) empty else u
        j += 1
      }
      h(i) = XXH64.hashUTF8String(UTF8String.concatWs(sep, parts: _*), 42L)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(h)
  }

  /** Winnowed fingerprint set of a token array (Schleimer–Wilkerson–
    * Aiken, "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD'03): positional n-gram hashes as in [[shingleHashes]], then
    * for every window of `w` consecutive gram positions (truncated at
    * the left edge) select the position of the minimum hash — ties to
    * the smallest position — and return the sorted DISTINCT hashes at
    * the union of selected positions.
    *
    * The winnowing guarantee: any two documents sharing a substring of
    * n+w−1 tokens share at least one full w-window over an identical
    * hash multiset, whose minimum VALUE both select — so the shared
    * fingerprint survives regardless of tie positions. Expected density
    * on random text is 2/(w+1) of gram positions, which is the whole
    * point at scale: the corpus-sized exploded relation shrinks
    * (w+1)/2-fold versus emitting every window ([[shingleHashes]]),
    * while exact ≥(n+w−1)-token overlaps stay candidate-complete.
    *
    * One pass per row, no shuffle: the window argmin is maintained
    * incrementally (rescan only when the incumbent falls out), so the
    * loop is O(m) amortized, O(m·w) worst case. */
  def winnowedFingerprints(toks: ArrayData, n: Int, w: Int): ArrayData = {
    val m = toks.numElements() - n + 1
    if (m <= 0) return UnsafeArrayData.fromPrimitiveArray(new Array[Long](0))
    val sep = UTF8String.fromString(" ")
    val empty = UTF8String.EMPTY_UTF8
    val h = new Array[Long](m)
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        val u = toks.getUTF8String(i + j)
        parts(j) = if (u == null) empty else u
        j += 1
      }
      h(i) = XXH64.hashUTF8String(UTF8String.concatWs(sep, parts: _*), 42L)
      i += 1
    }
    val sel = new Array[Boolean](m)
    var best = 0
    var p = 0
    while (p < m) {
      val lo = if (p - w + 1 > 0) p - w + 1 else 0
      if (p == 0) best = 0
      else if (best < lo) {
        // the incumbent minimum slid out of the window: rescan it
        best = lo
        var q = lo + 1
        while (q <= p) { if (h(q) < h(best)) best = q; q += 1 }
      } else if (h(p) < h(best)) best = p
      sel(best) = true
      p += 1
    }
    var k = 0
    i = 0
    while (i < m) { if (sel(i)) { h(k) = h(i); k += 1 }; i += 1 }
    java.util.Arrays.sort(h, 0, k)
    var d = 0
    i = 0
    while (i < k) {
      if (d == 0 || h(i) != h(d - 1)) { h(d) = h(i); d += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(h, d))
  }

  /** Multiplicity of the most-repeated n-token shingle of a token array,
    * packed with the total shingle count as (max << 32) | total — the
    * Gopher-style repetition quality signal (Rae et al. 2021, §A1.1:
    * filter documents whose most frequent n-gram covers too much of the
    * text), computed per row with a small open-addressed counter, NO
    * shuffle (the SQL-oracle formulation needs an explode + groupBy).
    * Counts are capped at Int.MaxValue; empty docs pack (0, 0). */
  def shingleRepetition(toks: ArrayData, n: Int): Long = {
    val m = toks.numElements() - n + 1
    if (m <= 0) return 0L
    val sep = UTF8String.fromString(" ")
    val empty = UTF8String.EMPTY_UTF8
    var cap = 32
    while (cap < m * 2) cap <<= 1
    val mask = cap - 1
    val keys = new Array[Long](cap)
    val counts = new Array[Int](cap)
    var maxCount = 0
    var i = 0
    while (i < m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) {
        val u = toks.getUTF8String(i + j)
        parts(j) = if (u == null) empty else u
        j += 1
      }
      var h = XXH64.hashUTF8String(UTF8String.concatWs(sep, parts: _*), 42L)
      if (h == 0L) h = 1L // 0 is the empty-slot sentinel
      var idx = (mix64(h) & mask).toInt
      while (keys(idx) != 0L && keys(idx) != h) idx = (idx + 1) & mask
      keys(idx) = h
      counts(idx) += 1
      if (counts(idx) > maxCount) maxCount = counts(idx)
      i += 1
    }
    (maxCount.toLong << 32) | m.toLong
  }

  /** Greatest index i with times[i] <= t over an ascending-sorted long
    * array, −1 when every element exceeds t — the binary-search step of
    * the stream-static as-of join (O(log m) per row against a broadcast
    * per-key timeline). */
  def lastLeIdx(times: ArrayData, t: Long): Int = {
    var lo = 0
    var hi = times.numElements() - 1
    var ans = -1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      if (times.getLong(mid) <= t) { ans = mid; lo = mid + 1 }
      else hi = mid - 1
    }
    ans
  }

  /** |A ∩ B| of two ascending-sorted long arrays (merge intersect). */
  def interSortedSize(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /** First element of `a` (in a's order) that also occurs in `b` — for
    * arrays listing both docs' prefix tokens under the same global
    * order, this is the globally-least common prefix token, so it is
    * symmetric in a/b. Only called on rows a join already proved share
    * an element; the 0 fallback is unreachable there.
    *
    * O(na + nb): `b` is loaded into a per-call open-addressed long set
    * and `a` is scanned in order against it. At low thresholds prefixes
    * are ≈ (1−t)·|set|+1 elements — hundreds for shingle sets at t=0.6 —
    * so the nested O(na·nb) scan this replaces dominated the whole
    * candidate join. Tiny arrays keep the nested scan (no allocation). */
  def firstCommon(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 || nb == 0) return 0L
    if (na <= 16 || nb <= 16) {
      var i = 0
      while (i < na) {
        val x = a.getLong(i)
        var j = 0
        while (j < nb) {
          if (b.getLong(j) == x) return x
          j += 1
        }
        i += 1
      }
      return 0L
    }
    // open-addressed set over b; 0 is the empty sentinel, tracked aside
    var cap = 32
    while (cap < nb * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    var hasZero = false
    var j = 0
    while (j < nb) {
      val v = b.getLong(j)
      if (v == 0L) hasZero = true
      else {
        var idx = (mix64(v) & mask).toInt
        while (table(idx) != 0L && table(idx) != v) idx = (idx + 1) & mask
        table(idx) = v
      }
      j += 1
    }
    var i = 0
    while (i < na) {
      val x = a.getLong(i)
      if (x == 0L) {
        if (hasZero) return 0L
      } else {
        var idx = (mix64(x) & mask).toInt
        while (table(idx) != 0L) {
          if (table(idx) == x) return x
          idx = (idx + 1) & mask
        }
      }
      i += 1
    }
    0L
  }

  /** splitmix64 finalizer — cheap avalanche for open-addressing probes. */
  @inline private def mix64(v: Long): Long = {
    var z = v * 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** First index at which two long arrays hold the same value, −1 if
    * none — the "emit each LSH pair from its first shared band only"
    * dedupe (each candidate pair survives in exactly one joined row, so
    * no distinct() shuffle over the candidate multiset is needed). */
  def firstEqualIdx(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (a.getLong(i) == b.getLong(i)) return i
      i += 1
    }
    -1
  }

  /** MinHash signature over a hashed token set: n values
    * minₜ (h₁(t) + i·h₂(t)) for i in 0..n-1 — the standard
    * double-hashing construction of a hash family from two base hashes.
    * One pass over tokens, 2 byte-level hashes per token. */
  def minhashSig(hashes: ArrayData, n: Int): ArrayData = {
    val m = hashes.numElements()
    val sig = new Array[Long](n)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var t = 0
    while (t < m) {
      val h = hashes.getLong(t)
      val h1 = XXH64.hashLong(h, 0x9747b28c9747b28cL)
      val h2 = XXH64.hashLong(h, 0x5bd1e9955bd1e995L) | 1L
      var i = 0
      var g = h1
      while (i < n) {
        if (g < sig(i)) sig(i) = g
        g += h2
        i += 1
      }
      t += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** One-permutation MinHash (Li et al., "One Permutation Hashing",
    * NIPS'12) with rotation densification (Shrivastava & Li, "Improved
    * Densification of One Permutation Hashing", 2014 — both public):
    * each already-uniform token hash lands in ONE of n bins (top-32-bit
    * range mapping) and the bin keeps its minimum; empty bins borrow the
    * next non-empty bin's value cyclically, offset by distance·C so
    * different-distance borrows never spuriously collide. O(tokens + n)
    * per document vs O(tokens × n) for the k-hash construction — the
    * 100 TB signature cost cut ~n×, with banding behavior equivalent to
    * k independent permutations (verified pair-set-identical on the
    * corpus at both graded scales; DedupSpec covers clone recall). */
  def minhashSigOPH(hashes: ArrayData, n: Int): ArrayData = {
    val m = hashes.numElements()
    val sig = new Array[Long](n)
    java.util.Arrays.fill(sig, Long.MaxValue)
    var t = 0
    while (t < m) {
      val h = hashes.getLong(t)
      // top 32 bits → bin in [0, n): unbiased multiply-shift range map
      val bin = (((h >>> 32) * n) >>> 32).toInt
      if (h < sig(bin)) sig(bin) = h
      t += 1
    }
    // rotation densification: empty bin i takes the value of the nearest
    // non-empty bin j to its right (cyclic) plus (j−i)·C
    val C = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < n) {
      if (sig(i) == Long.MaxValue) {
        var d = 1
        while (d < n && sig((i + d) % n) == Long.MaxValue) d += 1
        if (d < n) sig(i) = sig((i + d) % n) + d * C
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sig)
  }

  /** Collapse a MinHash signature into `bands` 64-bit band keys (FNV-1a
    * fold over each band's rows, salted with the band index) — banded LSH
    * joins on a single long instead of an array slice. */
  def bandKeys(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    val r = n / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var k = 0xcbf29ce484222325L ^ b
      var i = b * r
      val end = i + r
      while (i < end) {
        k = (k ^ sig.getLong(i)) * 0x100000001b3L
        i += 1
      }
      out(b) = k
      b += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** 64-bit SimHash over a hashed token set: per bit, majority vote of the
    * tokens' rehashed bits. Permutation-invariant; equal sets ⇒ equal
    * SimHash. */
  def simhash64(hashes: ArrayData): Long = {
    val m = hashes.numElements()
    val votes = new Array[Int](64)
    var t = 0
    while (t < m) {
      // rehash so the vote bits are independent of the sort/dedupe hash
      var h = XXH64.hashLong(hashes.getLong(t), 0x1234567887654321L)
      var i = 0
      while (i < 64) {
        if ((h & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        h >>>= 1
        i += 1
      }
      t += 1
    }
    var sig = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) sig |= (1L << i)
      i += 1
    }
    sig
  }

  /** The nprobe nearest IVF cells of a float vector against a flattened
    * P×dim f64 centroid table, ordered by (distance, cell id) — the
    * multi-probe assignment step of the ANN similarity self-join. P is
    * small (the table is a plan literal), so selection is a tiny loop. */
  def topCellsL2(v: ArrayData, flatCentroids: ArrayData, nprobe: Int): ArrayData = {
    val dim = v.numElements()
    val p = flatCentroids.numElements() / dim
    val pd = widenFloats(v, dim) // read/widen each element once, not P×
    val flat = widenLit(flatCentroids)
    val dists = new Array[Double](p)
    var c = 0
    while (c < p) {
      var s = 0.0
      var i = 0
      val base = c * dim
      while (i < dim) {
        val d = pd(i) - flat(base + i)
        s += d * d
        i += 1
      }
      dists(c) = s
      c += 1
    }
    val n = math.min(nprobe, p)
    val out = new Array[Long](n)
    val taken = new Array[Boolean](p)
    var j = 0
    while (j < n) {
      var best = -1
      c = 0
      while (c < p) {
        if (!taken(c) && (best < 0 || dists(c) < dists(best))) best = c
        c += 1
      }
      taken(best) = true
      out(j) = best.toLong
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Per-thread scratch for kernels that scan one row's vector against a
    * many-row table: the vector is widened to double ONCE instead of per
    * table row (the argmin over P=100 cells was re-reading and widening
    * every element 100× through the ArrayData accessor), and the buffer
    * is reused across rows so the hot path allocates nothing. Safe
    * because expression evaluation is single-threaded per row and no
    * kernel using the buffer calls another. */
  private val dblScratch = new ThreadLocal[Array[Double]] {
    override def initialValue(): Array[Double] = new Array[Double](0)
  }

  private def widenFloats(v: ArrayData, dim: Int): Array[Double] = {
    var b = dblScratch.get()
    if (b.length < dim) { b = new Array[Double](dim); dblScratch.set(b) }
    var i = 0
    while (i < dim) { b(i) = v.getFloat(i).toDouble; i += 1 }
    b
  }

  /** Widened PRIMITIVE copy of a plan-literal f64 table (centroids,
    * codebooks, codecs, rotations), cached by object identity.
    *
    * The hot argmin/dot loops previously read these tables through
    * `ArrayData.getDouble` — an Unsafe load C2 will not
    * auto-vectorize; against a plain `Array[Double]` the same scalar
    * blocked loops run 1.5-2.1× faster (OPTIMIZATION_r14.md §5, both
    * assignment shapes, identical results bit for bit — the loop is
    * unchanged, only the load). A plan literal is one object reused
    * for every row of a stage, so the copy amortizes to zero.
    *
    * Sharing/eviction: ONE copy per distinct table JVM-wide (a global
    * identity pool — the tables are immutable after construction),
    * fronted by a per-thread identity map so the per-row lookup is an
    * unsynchronized `IdentityHashMap.get`. The pool evicts WHOLESALE
    * when its widened bytes exceed a fixed budget, and the thread maps
    * clear alongside (stale strong refs would otherwise pin evicted
    * tables); re-widening after an eviction is a per-stage, not
    * per-row, cost. A NON-literal argument (possible only through the
    * SQL registry with a computed array) busts the thread map once per
    * row — the budget bounds memory and correctness is unaffected. */
  private val litWidePoolBudgetBytes = 256L << 20
  private val litWidePool =
    new java.util.IdentityHashMap[ArrayData, Array[Double]]()
  private var litWidePoolBytes = 0L
  private var litWidePoolEpoch = 0L
  private final class LitLocal {
    var epoch: Long = -1L
    val map = new java.util.IdentityHashMap[ArrayData, Array[Double]]()
  }
  private val litWideLocal = new ThreadLocal[LitLocal] {
    override def initialValue(): LitLocal = new LitLocal
  }

  private def widenLit(a: ArrayData): Array[Double] = {
    val local = litWideLocal.get()
    val r0 = local.map.get(a)
    if (r0 != null) return r0
    val n = a.numElements()
    var r: Array[Double] = null
    var epoch = 0L
    litWidePool.synchronized {
      r = litWidePool.get(a)
      if (r == null) {
        if (litWidePoolBytes + n.toLong * 8 > litWidePoolBudgetBytes) {
          litWidePool.clear()
          litWidePoolBytes = 0L
          litWidePoolEpoch += 1
        }
        r = new Array[Double](n)
        var i = 0
        while (i < n) { r(i) = a.getDouble(i); i += 1 }
        litWidePool.put(a, r)
        litWidePoolBytes += n.toLong * 8
      }
      epoch = litWidePoolEpoch
    }
    if (local.epoch != epoch) { local.map.clear(); local.epoch = epoch }
    if (local.map.size >= 64) local.map.clear()
    local.map.put(a, r)
    r
  }

  /** Index of the nearest centroid (squared L2) of a float vector against
    * a flattened P×dim f64 centroid table — the full-corpus IVF
    * assignment pass (reference/src/db/build.rs:95-103), evaluated as one
    * codegen call per row with the P×dim table riding along as a plan
    * literal. Ties break to the lowest cell id.
    *
    * Same shape as [[graft.index.LocalKMeans]]'s assignment loop: the
    * vector widened once into the per-thread scratch, distances in diff
    * form with 32-element BLOCKED early-abandon (the per-element abandon
    * check serialized the dependent-add chain; blocking measured ~2× on
    * the 1M×1536 assignment pass). Identical results — the accumulation
    * order is unchanged, blocking only moves where a losing candidate
    * stops. */
  def nearestCentroidL2(v: ArrayData, flatCentroids: ArrayData): Int = {
    val dim = v.numElements()
    require(dim > 0 && flatCentroids.numElements() % dim == 0,
      s"centroid table ${flatCentroids.numElements()} not a multiple of dim $dim")
    val p = flatCentroids.numElements() / dim
    val pd = widenFloats(v, dim)
    val flat = widenLit(flatCentroids)
    var best = 0
    var bestD = Double.MaxValue
    var c = 0
    while (c < p) {
      val base = c * dim
      var s = 0.0
      var i = 0
      while (i < dim && s < bestD) {
        val end = math.min(i + 32, dim)
        while (i < end) {
          val d = pd(i) - flat(base + i)
          s += d * d
          i += 1
        }
      }
      if (s < bestD) { bestD = s; best = c }
      c += 1
    }
    best
  }

  /** v − centroids[p] as f32 (the IVF residual, reference
    * partitions.rs:119-143): subtraction in double, rounded to float —
    * the same numeric contract as the zip_with formulation it replaces. */
  def subCentroidF(v: ArrayData, flatCentroids: ArrayData, p: Int): ArrayData = {
    val dim = v.numElements()
    val base = p * dim
    require(p >= 0 && flatCentroids.numElements() >= base + dim,
      s"cell $p out of range for table ${flatCentroids.numElements()} / dim $dim")
    val flat = widenLit(flatCentroids)
    val out = new Array[Float](dim)
    var i = 0
    while (i < dim) {
      out(i) = (v.getFloat(i).toDouble - flat(base + i)).toFloat
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** R·v for an orthonormal rotation R (d×d, row-major f64 literal) over
    * an f32 vector, rounded back to f32 — the OPQ pre-quantization
    * rotation (Ge et al., CVPR 2013). Kept separate from [[matvecRows]]
    * (which returns f64 projections of arbitrary shape): the rotated
    * residual stays in the f32 residual domain that [[pqEncodeF]] and
    * the stored codes contract expect. */
  def rotateF(v: ArrayData, flatRot: ArrayData): ArrayData = {
    val d = v.numElements()
    require(flatRot.numElements() == d.toLong * d,
      s"rotation size ${flatRot.numElements()} != $d x $d")
    val rot = widenLit(flatRot)
    val vd = new Array[Double](d)
    var i = 0
    while (i < d) { vd(i) = v.getFloat(i).toDouble; i += 1 }
    val out = new Array[Float](d)
    var r = 0
    while (r < d) {
      val base = r * d
      var s = 0.0
      i = 0
      while (i < d) {
        s += rot(base + i) * vd(i)
        i += 1
      }
      out(r) = s.toFloat
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** PQ encoding: per division d, the argmin over the C codebook entries
    * of ‖residual[d·m .. d·m+m) − codebook[d][c]‖² — all D codes of a row
    * in one call (reference db/build.rs:446-483), against a flattened
    * D×C×m f64 codebook literal. Ties break to the lowest code. */
  def pqEncodeF(residual: ArrayData, flatCodebooks: ArrayData,
                d: Int, c: Int): ArrayData = {
    val dim = residual.numElements()
    require(d > 0 && dim % d == 0, s"dim $dim not divisible by $d divisions")
    val m = dim / d
    require(flatCodebooks.numElements() == d * c * m,
      s"codebook size ${flatCodebooks.numElements()} != $d x $c x $m")
    // residual widened once (each element was re-read C=256 times
    // through the accessor), blocked early-abandon as in
    // [[nearestCentroidL2]] — identical codes, same accumulation order
    val pd = widenFloats(residual, dim)
    val books = widenLit(flatCodebooks)
    val out = new Array[Int](d)
    var di = 0
    while (di < d) {
      val off = di * m
      var bestC = 0
      var bestD = Double.MaxValue
      var ci = 0
      while (ci < c) {
        val base = (di * c + ci) * m
        var s = 0.0
        var i = 0
        while (i < m && s < bestD) {
          val end = math.min(i + 32, m)
          while (i < end) {
            val diff = pd(off + i) - books(base + i)
            s += diff * diff
            i += 1
          }
        }
        if (s < bestD) { bestD = s; bestC = ci }
        ci += 1
      }
      out(di) = bestC
      di += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** PQ decode + de-residualize in one pass: vec[d·m + i] =
    * centroid[d·m + i] + codebook[d][codes[d]][i] as f32 — the inverse
    * of [[subCentroidF]] ∘ [[pqEncodeF]] up to quantization error (the
    * reconstruction the reference's query path builds per hit,
    * db/stored.rs:86-99, here as a whole-vector kernel so a store can
    * be decoded corpus-wide, e.g. to re-train a drifted model from its
    * own contents). */
  def pqReconstructF(centroid: ArrayData, codes: ArrayData,
                     flatCodebooks: ArrayData, c: Int): ArrayData = {
    val dim = centroid.numElements()
    val d = codes.numElements()
    require(d > 0 && dim % d == 0, s"dim $dim not divisible by $d divisions")
    val m = dim / d
    require(flatCodebooks.numElements() == d * c * m,
      s"codebook size ${flatCodebooks.numElements()} != $d x $c x $m")
    val books = widenLit(flatCodebooks)
    val out = new Array[Float](dim)
    var di = 0
    while (di < d) {
      val code = codes.getInt(di)
      require(code >= 0 && code < c, s"code $code out of range 0..${c - 1}")
      val base = (di * c + code) * m
      val off = di * m
      var i = 0
      while (i < m) {
        out(off + i) = (centroid.getDouble(off + i) +
          books(base + i)).toFloat
        i += 1
      }
      di += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ------------------------------------------- scalar quantization (SQ8)

  /** 8-bit scalar quantization encode: per-dimension affine codec
    * code_i = clamp(rint((x_i − min_i)/Δ_i), 0, 255), one byte per dim
    * (4× smaller than f32) — the FAISS ScalarQuantizer QT_8bit shape.
    * Δ_i = 0 (constant dimension) encodes 0. */
  def sq8Encode(v: ArrayData, mins: ArrayData, scales: ArrayData): Array[Byte] = {
    val n = v.numElements()
    require(mins.numElements() == n && scales.numElements() == n,
      s"codec dim ${mins.numElements()}/${scales.numElements()} != vector dim $n")
    val mn = widenLit(mins)
    val sc = widenLit(scales)
    val out = new Array[Byte](n)
    var i = 0
    while (i < n) {
      val s = sc(i)
      val c =
        if (s == 0.0) 0
        else {
          val r = math.rint((v.getFloat(i).toDouble - mn(i)) / s)
          if (r < 0) 0 else if (r > 255) 255 else r.toInt
        }
      out(i) = c.toByte
      i += 1
    }
    out
  }

  /** Decode SQ8 bytes back to doubles: min_i + code_i·Δ_i. */
  def sq8Decode(code: Array[Byte], mins: ArrayData, scales: ArrayData): ArrayData = {
    val n = code.length
    require(mins.numElements() == n && scales.numElements() == n,
      s"codec dim ${mins.numElements()}/${scales.numElements()} != code dim $n")
    val mn = widenLit(mins)
    val sc = widenLit(scales)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = mn(i) + (code(i) & 0xFF) * sc(i)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** ‖q − decode(code)‖² against the SQ8 codec — the asymmetric distance
    * (query in full precision, corpus quantized). */
  def sq8Dist(q: ArrayData, code: Array[Byte], mins: ArrayData,
              scales: ArrayData): Double = {
    val n = q.numElements()
    require(code.length == n && mins.numElements() == n &&
      scales.numElements() == n,
      s"dim mismatch: q $n, code ${code.length}")
    val mn = widenLit(mins)
    val sc = widenLit(scales)
    var s = 0.0
    var i = 0
    while (i < n) {
      val d = q.getDouble(i) -
        (mn(i) + (code(i) & 0xFF) * sc(i))
      s += d * d
      i += 1
    }
    s
  }

  /** Deterministic pseudo-random f32 vector in [0,1) from (id, seed) —
    * one call per row generates benchmark/test data without any
    * driver-side materialization (the analogue of the reference's random
    * fill, reference/README.md:107-116, but distributed). */
  def pseudoRandomVec(id: Long, dim: Int, seed: Long): ArrayData = {
    val out = new Array[Float](dim)
    var x = XXH64.hashLong(id, seed)
    var i = 0
    while (i < dim) {
      x = XXH64.hashLong(x, 0x9E3779B97F4A7C15L)
      out(i) = (x >>> 40).toFloat / (1 << 24) // top 24 bits → [0,1)
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Clustered synthetic corpus: k tight blobs + per-point uniform
    * noise — the benchmark data shape where coarse cells are REAL
    * (IVF pruning and k-means bounds can bite), vs [[pseudoRandomVec]]'s
    * distance-concentrated uniform cube. Pure function of (id, seed):
    * cluster = hash(id) mod k, its center uniform [0,1)^dim from
    * (cluster, seed), point = center + spread·(u − 1/2) per dim. The
    * same id always lands in the same cluster at the same coordinates —
    * rerun/repartition-stable like every synthetic source here. */
  def clusteredVec(id: Long, dim: Int, k: Int, spread: Double,
                   seed: Long): ArrayData = {
    val out = new Array[Float](dim)
    val cluster = java.lang.Math.floorMod(
      XXH64.hashLong(id, seed ^ 0x51ED270B4D2F3E85L), k.toLong)
    var cx = XXH64.hashLong(cluster, seed)
    var px = XXH64.hashLong(id, seed + 1L)
    var i = 0
    while (i < dim) {
      cx = XXH64.hashLong(cx, 0x9E3779B97F4A7C15L)
      px = XXH64.hashLong(px, 0x9E3779B97F4A7C15L)
      val c = (cx >>> 40).toDouble / (1 << 24)
      val nz = ((px >>> 40).toDouble / (1 << 24) - 0.5) * spread
      out(i) = (c + nz).toFloat
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Per-row PCA moment partial: [v₀..v_{d−1}, upper-triangle (incl.
    * diagonal) of v·vᵀ row-major] — length d + d(d+1)/2. Summing this
    * array over rows (posexplode + map-side-combined groupBy) yields the
    * first and second moments of the corpus in ONE pass with fixed-width
    * partials; the d×d covariance then assembles on the driver as
    * M2/n − μμᵀ. Accumulation stays in double. */
  def momentsUpper(v: ArrayData): ArrayData = {
    val d = v.numElements()
    val out = new Array[Double](d + d * (d + 1) / 2)
    var i = 0
    while (i < d) {
      out(i) = v.getFloat(i).toDouble
      i += 1
    }
    var idx = d
    i = 0
    while (i < d) {
      val vi = v.getFloat(i).toDouble
      var j = i
      while (j < d) {
        out(idx) = vi * v.getFloat(j).toDouble
        idx += 1
        j += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** k row-dots in one call: out[r] = Σᵢ flatRows[r·d + i] · v[i] for a
    * k×d row-major double matrix literal — the projection kernel (PCA
    * components, random projections, any small dense matmul against a
    * plan literal). */
  def matvecRows(v: ArrayData, flatRows: ArrayData): ArrayData = {
    val d = v.numElements()
    val total = flatRows.numElements()
    require(d > 0 && total % d == 0,
      s"matrix size $total not a multiple of vector dim $d")
    val k = total / d
    val pd = widenFloats(v, d) // read/widen each element once, not k×
    val rows = widenLit(flatRows)
    val out = new Array[Double](k)
    var r = 0
    while (r < k) {
      val base = r * d
      var s = 0.0
      var i = 0
      while (i < d) {
        s += rows(base + i) * pd(i)
        i += 1
      }
      out(r) = s
      r += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  // ------------------------------------------------- multimodal (binary)

  /** Bucketed byte histogram-sum: out[j] = Σ payload[i] for i ≡ j (mod
    * dim), bytes unsigned — the deterministic stand-in for a learned
    * feature extractor over an opaque media payload. Integer-only, so
    * results are oracle-comparable across engines. */
  def byteBucketSums(payload: Array[Byte], dim: Int): ArrayData = {
    val out = new Array[Long](dim)
    var i = 0
    while (i < payload.length) {
      out(i % dim) += payload(i) & 0xFF
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Per-segment audio stats over an 8-bit-unsigned-PCM payload split
    * into `nSegments` equal ⌊n/nSegments⌋-sample segments (the
    * remainder tail is ignored, like incomplete frames elsewhere):
    * out[2s] = segment energy Σ(v−128)², out[2s+1] = strict zero
    * crossings (consecutive in-segment samples whose centered product
    * is negative — a flat 128 never crosses). The two classic cheap
    * audio descriptors (energy envelope + ZCR, the noisiness proxy);
    * one pass, integer-only, oracle-comparable. A payload shorter than
    * `nSegments` samples has NO complete segment — every descriptor
    * would be a silent all-zero lie, so it fails loudly instead (the
    * decode-path philosophy: degenerate media is a caller error, not a
    * zero profile). */
  def audioSegmentStats(payload: Array[Byte], nSegments: Int): ArrayData = {
    require(payload.length >= nSegments,
      s"audioSegmentStats: payload of ${payload.length} samples cannot " +
        s"fill $nSegments segments — filter degenerate clips upstream")
    val out = new Array[Long](2 * nSegments)
    val segLen = payload.length / nSegments
    if (segLen > 0) {
      var s = 0
      while (s < nSegments) {
        var e = 0L
        var cr = 0L
        var i = s * segLen
        val end = i + segLen
        var prev = 0
        var first = true
        while (i < end) {
          val c = (payload(i) & 0xFF) - 128
          e += c.toLong * c
          if (!first && prev * c < 0) cr += 1
          prev = c
          first = false
          i += 1
        }
        out(2 * s) = e
        out(2 * s + 1) = cr
        s += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Per-frame byte sums for every stride-th complete frame of a payload
    * laid out as consecutive frameBytes-sized frames — the frame-sampling
    * primitive for video-shaped binaries. */
  def sampledFrameSums(payload: Array[Byte], frameBytes: Int, stride: Int): ArrayData = {
    val nFrames = payload.length / frameBytes
    val n = if (nFrames <= 0) 0 else (nFrames + stride - 1) / stride
    val out = new Array[Long](n)
    var f = 0
    var j = 0
    while (f < nFrames) {
      if (f % stride == 0) {
        var s = 0L
        var i = f * frameBytes
        val end = i + frameBytes
        while (i < end) { s += payload(i) & 0xFF; i += 1 }
        out(j) = s
        j += 1
      }
      f += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Jaro–Winkler similarity (the standard record-linkage name metric;
    * reference semantics pinned against DuckDB's
    * `jaro_winkler_similarity`): match window ⌊max/2⌋−1,
    * transpositions = half the out-of-order matches,
    * jaro = (m/|a| + m/|b| + (m−t)/m)/3, prefix boost l·0.1·(1−jaro)
    * with l ≤ 4 applied only when jaro > 0.7 (the boost threshold);
    * either side empty → 0. O(|a|·|b|) worst case over the match
    * window — pair it with a candidate generator
    * ([[graft.pipeline.Dedup]]'s rare-gram signatures), never a raw
    * cross join, at corpus scale. */
  def jaroWinkler(a: UTF8String, b: UTF8String): Double = {
    val s1 = a.toString
    val s2 = b.toString
    val l1 = s1.length
    val l2 = s2.length
    if (l1 == 0 || l2 == 0) return 0.0
    val window = math.max(0, math.max(l1, l2) / 2 - 1)
    val m1 = new Array[Boolean](l1)
    val m2 = new Array[Boolean](l2)
    var m = 0
    var i = 0
    while (i < l1) {
      val lo = math.max(0, i - window)
      val hi = math.min(l2 - 1, i + window)
      var j = lo
      var done = false
      while (j <= hi && !done) {
        if (!m2(j) && s1.charAt(i) == s2.charAt(j)) {
          m1(i) = true; m2(j) = true; m += 1; done = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < l1) {
      if (m1(i)) {
        while (!m2(k)) k += 1
        if (s1.charAt(i) != s2.charAt(k)) t += 1
        k += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / l1 + md / l2 + (md - t / 2) / md) / 3.0
    var l = 0
    val maxL = math.min(4, math.min(l1, l2))
    while (l < maxL && s1.charAt(l) == s2.charAt(l)) l += 1
    if (jaro > 0.7) jaro + l * 0.1 * (1.0 - jaro) else jaro
  }

  /** TRUE Damerau–Levenshtein distance (Lowrance–Wagner: adjacent
    * transposition is a first-class edit that later edits may cross —
    * unlike the restricted/OSA variant, so CA→ABC is 2, not 3;
    * reference semantics pinned against DuckDB's
    * `damerau_levenshtein`). Operates on UTF-16 code units (parity
    * fixtures are ASCII). O(|a|·|b|) time and space — pair it with a
    * candidate generator ([[graft.pipeline.Dedup]]'s rare-gram
    * signatures), never a raw cross join, at corpus scale. */
  def damerauLevenshtein(a: UTF8String, b: UTF8String): Long = {
    val s1 = a.toString
    val s2 = b.toString
    val la = s1.length
    val lb = s2.length
    if (la == 0) return lb.toLong
    if (lb == 0) return la.toLong
    val w = lb + 2
    // matrix rows -1..la, cols -1..lb; cell (i, j) at (i+1)*w + (j+1)
    val d = new Array[Int]((la + 2) * w)
    val maxDist = la + lb
    d(0) = maxDist
    var i = 0
    while (i <= la) {
      d((i + 1) * w) = maxDist
      d((i + 1) * w + 1) = i
      i += 1
    }
    var j = 0
    while (j <= lb) {
      d(j + 1) = maxDist
      d(w + j + 1) = j
      j += 1
    }
    val last = new java.util.HashMap[Character, Integer]()
    i = 1
    while (i <= la) {
      var db = 0
      j = 1
      while (j <= lb) {
        val k = { val v = last.get(s2.charAt(j - 1)); if (v == null) 0 else v.intValue() }
        val l = db
        val cost = if (s1.charAt(i - 1) == s2.charAt(j - 1)) { db = j; 0 } else 1
        val sub = d(i * w + j) + cost
        val ins = d((i + 1) * w + j) + 1
        val del = d(i * w + j + 1) + 1
        val trans = d(k * w + l) + (i - k - 1) + 1 + (j - l - 1)
        var best = sub
        if (ins < best) best = ins
        if (del < best) best = del
        if (trans < best) best = trans
        d((i + 1) * w + j + 1) = best
        j += 1
      }
      last.put(s1.charAt(i - 1), i)
      i += 1
    }
    d((la + 1) * w + lb + 1).toLong
  }

  /** Audio-silence profile over an 8-bit-PCM-shaped payload (samples
    * centered at 128): per COMPLETE frame the energy is the sum of
    * squared deviations; a frame is silent when energy < silentBelow.
    * One pass, returns [n_frames, n_silent, longest_silent_run,
    * lead_silent, trail_silent] — the last two are the trim offsets
    * (frames before the first / after the last non-silent frame;
    * n_frames for an all-silent clip). */
  def silenceProfile(payload: Array[Byte], frameBytes: Int,
                     silentBelow: Long): ArrayData = {
    val nFrames = payload.length / frameBytes
    var nSilent = 0L
    var longest = 0L
    var run = 0L
    var firstLoud = -1L
    var lastLoud = -1L
    var f = 0
    while (f < nFrames) {
      var s = 0L
      var i = f * frameBytes
      val end = i + frameBytes
      while (i < end) {
        val d = (payload(i) & 0xFF) - 128
        s += d.toLong * d
        i += 1
      }
      if (s < silentBelow) {
        nSilent += 1
        run += 1
        if (run > longest) longest = run
      } else {
        run = 0
        if (firstLoud < 0) firstLoud = f
        lastLoud = f
      }
      f += 1
    }
    val lead = if (firstLoud < 0) nFrames.toLong else firstLoud
    val trail = if (lastLoud < 0) nFrames.toLong else nFrames - 1 - lastLoud
    UnsafeArrayData.fromPrimitiveArray(
      Array(nFrames.toLong, nSilent, longest, lead, trail))
  }

  /** STUB image decode: cycles payload bytes into a w×h float gray image
    * in [0,1]. A real build links an actual codec here (same signature:
    * bytes in, pixel array out); the container has no image libraries, so
    * the decode is a deterministic fake while everything around it —
    * schema, batching, partitioning — is real. */
  def stubDecodeGray(payload: Array[Byte], w: Int, h: Int): ArrayData = {
    val n = w * h
    val out = new Array[Float](n)
    if (payload.length > 0) {
      var i = 0
      while (i < n) {
        out(i) = (payload(i % payload.length) & 0xFF) / 255.0f
        i += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Mean-pool a row-major w×h float image down by (fw, fh) — the resize
    * primitive. Requires fw | w and fh | h. */
  def meanPool(img: ArrayData, w: Int, h: Int, fw: Int, fh: Int): ArrayData = {
    val ow = w / fw
    val oh = h / fh
    val out = new Array[Float](ow * oh)
    var oy = 0
    while (oy < oh) {
      var ox = 0
      while (ox < ow) {
        var s = 0.0
        var dy = 0
        while (dy < fh) {
          var dx = 0
          val rowBase = (oy * fh + dy) * w + ox * fw
          while (dx < fw) { s += img.getFloat(rowBase + dx); dx += 1 }
          dy += 1
        }
        out(oy * ow + ox) = (s / (fw * fh)).toFloat
        ox += 1
      }
      oy += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** 64-bit perceptual hash of a pooled image: bit i (little-endian) is
    * set iff pixel i exceeds the image mean — the "aHash" (average hash)
    * construction over an 8×8 = 64-float thumbnail. Equal images hash
    * equal; small perturbations flip few bits, so near-duplicate images
    * sit at small Hamming distance and the SimHash banding machinery
    * (Dedup.hammingNearPairs) applies unchanged. Requires 1..64 pixels
    * (pad shorter inputs upstream via meanPool geometry).
    *
    * Documented false-positive class (standard aHash behavior): every
    * CONSTANT image maps to hash 0 — the strict `> mean` sets no bits —
    * so two uniformly-colored frames of different brightness land at
    * Hamming distance 0 and are reported near-duplicate. If constant
    * frames occur in real payloads and must be distinguished, fold a
    * brightness bucket into the signature downstream (e.g. pair the hash
    * with `floor(mean / 32)` as a composite key); the banding machinery
    * is unchanged by a wider key. */
  def bitsAboveMean(img: ArrayData): Long = {
    val n = img.numElements()
    require(n > 0 && n <= 64, s"aHash needs 1..64 pixels, got $n")
    var s = 0.0
    var i = 0
    while (i < n) { s += img.getFloat(i); i += 1 }
    val mean = s / n
    var bits = 0L
    i = 0
    while (i < n) {
      if (img.getFloat(i) > mean) bits |= (1L << i)
      i += 1
    }
    bits
  }

  /** dHash bit extraction: over a row-major w×h image with
    * (w−1)·h ≤ 64, bit r·(w−1)+c is set iff pixel (r, c) is STRICTLY
    * brighter than its right neighbor (r, c+1) — the difference-hash
    * gradient signature (classic dHash uses 9×8 → 64 bits). Compares
    * ADJACENT pixels, so it keys on local structure where
    * [[bitsAboveMean]] keys on the global mean — the two hashes fail
    * differently, which is why perceptual pipelines run both. Constant
    * images map to 0, same caveat as aHash. */
  def gradientBits(img: ArrayData, w: Int, h: Int): Long = {
    require(w >= 2 && h >= 1 && (w - 1) * h <= 64,
      s"dHash needs (w-1)*h in 1..64, got ${w}x$h")
    require(img.numElements() == w * h,
      s"image has ${img.numElements()} pixels, expected ${w * h}")
    var bits = 0L
    var r = 0
    while (r < h) {
      var c = 0
      while (c < w - 1) {
        if (img.getFloat(r * w + c) > img.getFloat(r * w + c + 1))
          bits |= (1L << (r * (w - 1) + c))
        c += 1
      }
      r += 1
    }
    bits
  }

  /** Sign binarization of a float vector against per-dimension
    * thresholds, packed little-endian into ⌈n/64⌉ 64-bit words: word j
    * bit i is set iff v[64j+i] > thr[64j+i]. The 1-bit-per-dimension
    * vector sketch (binary quantization): a 1536-dim f32 embedding
    * (6 KB) compresses to 24 longs (192 B), and Hamming distance over
    * the packed words approximates angular distance — pass
    * `litDoubles(new Array[Double](dim))` for plain sign bits on
    * centered embeddings, or fitted per-dim means for uncentered ones. */
  def signBits(v: ArrayData, thr: ArrayData): ArrayData = {
    val n = v.numElements()
    require(n == thr.numElements(),
      s"vector dimension mismatch: $n vs ${thr.numElements()}")
    require(n > 0, "signBits needs a non-empty vector")
    val t = widenLit(thr)
    val words = new Array[Long]((n + 63) >>> 6)
    var i = 0
    while (i < n) {
      if (v.getFloat(i).toDouble > t(i))
        words(i >>> 6) |= (1L << (i & 63))
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(words)
  }

  /** Hamming distance between two equal-length packed bit arrays —
    * Σ popcount(aⱼ xor bⱼ), one `Long.bitCount` per 64 dimensions. The
    * scan kernel of the binary-quantized index: ranking 100 TB of
    * embeddings by this distance reads the 8-byte-per-64-dims signature
    * column only. */
  def hammingDist(a: ArrayData, b: ArrayData): Int = {
    val n = a.numElements()
    require(n == b.numElements(),
      s"signature word-count mismatch: $n vs ${b.numElements()}")
    var s = 0
    var i = 0
    while (i < n) {
      s += java.lang.Long.bitCount(a.getLong(i) ^ b.getLong(i))
      i += 1
    }
    s
  }

  // Kirsch-Mitzenmacher double hashing shared by the Bloom builder and
  // probe: probe i tests bit (h1 + i·h2) mod m, both hashes derived
  // deterministically from ONE 64-bit input hash so the executor-side
  // probe replays the driver-side builder's exact positions. The
  // negative-combined flip is the Guava/Spark-sketch idiom (mod of a
  // negative long would index negatively).
  @inline private def bloomBit(h: Long, i: Int, m: Long): Long = {
    val h2 = java.lang.Long.rotateLeft(h, 31) * 0x9E3779B97F4A7C15L
    var combined = h + i.toLong * h2
    if (combined < 0L) combined = ~combined
    combined % m
  }

  /** Driver-side Bloom INSERT: set `numHashes` bits for `h` in the
    * word array (64 bits per long, m = words.length·64). */
  def bloomSet(words: Array[Long], numHashes: Int, h: Long): Unit = {
    val m = words.length.toLong << 6
    var i = 0
    while (i < numHashes) {
      val bit = bloomBit(h, i, m)
      words((bit >>> 6).toInt) |= (1L << (bit & 63L))
      i += 1
    }
  }

  /** Executor-side Bloom PROBE (codegen StaticInvoke): true iff every
    * one of `h`'s `numHashes` bits is set — no false negatives, ~
    * (1−e^(−k·n/m))^k false positives; callers that need exactness
    * verify hits against the true set afterwards. */
  def bloomHit(bits: ArrayData, numHashes: Int, h: Long): Boolean = {
    val m = bits.numElements().toLong << 6
    var i = 0
    while (i < numHashes) {
      val bit = bloomBit(h, i, m)
      if ((bits.getLong((bit >>> 6).toInt) & (1L << (bit & 63L))) == 0L)
        return false
      i += 1
    }
    true
  }

  /** Table-free asymmetric PQ distance ‖(q − centroid) − decode(codes)‖²
    * against a flattened D×C×m codebook: the same quantity the ADC-table
    * path computes (reference/src/db/stored.rs:549-595) but evaluated
    * directly per row, so it needs NO per-(query, cell) precomputation —
    * the kernel that makes ANN probing a plain executor-side expression
    * (streaming micro-batches, ad-hoc joins) instead of a driver-planned
    * literal. dim mul-adds per row vs D lookups; D, C, m are derived from
    * the argument shapes. */
  def pqDistDirect(q: ArrayData, centroid: ArrayData, codes: ArrayData,
                   flatCodebooks: ArrayData): Double = {
    val dim = sameDim(q, centroid)
    val d = codes.numElements()
    require(d > 0 && dim % d == 0, s"dim $dim not divisible by $d divisions")
    val m = dim / d
    val c = flatCodebooks.numElements() / (d * m)
    require(flatCodebooks.numElements() == d * c * m,
      s"codebook size ${flatCodebooks.numElements()} != $d x $c x $m")
    val books = widenLit(flatCodebooks)
    var s = 0.0
    var di = 0
    while (di < d) {
      val code = codes.getInt(di)
      require(code >= 0 && code < c, s"code $code out of range 0..${c - 1}")
      val base = (di * c + code) * m
      var i = 0
      while (i < m) {
        val idx = di * m + i
        val diff = q.getFloat(idx).toDouble - centroid.getDouble(idx) -
          books(base + i)
        s += diff * diff
        i += 1
      }
      di += 1
    }
    s
  }

  /** DEFLATE length of a string's UTF-8 bytes (fixed level 6, raw
    * deflate) — the compression-ratio quality signal: near-random text
    * compresses ~1:1, template/repetitive boilerplate far below, so
    * deflate_len/raw_len separates them with zero linguistics. Output
    * depends only on (input bytes, zlib), so it is rerun-stable on a
    * given JVM; cross-engine gates use invariant oracles, not byte
    * equality. */
  def deflateLen(s: UTF8String): Long = {
    val bytes = s.getBytes
    val d = new java.util.zip.Deflater(6, true)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }

  /** Accent/diacritic stripping: NFD-decompose, drop combining marks,
    * NFC-recompose — "café" → "cafe", the search-normalization fold
    * (DuckDB's strip_accents, Lucene's ASCIIFoldingFilter for the
    * combining-mark subset). ASCII fast path shares [[nfcNormalize]]'s
    * isNormalized discipline: pure-ASCII rows never allocate. */
  def stripAccents(s: UTF8String): UTF8String = {
    val str = s.toString
    // a string with no combining marks after NFD has none to strip;
    // cheap pre-test: already-NFD strings with no marks, or pure ASCII
    val nfd = java.text.Normalizer.normalize(str,
      java.text.Normalizer.Form.NFD)
    var hasMark = false
    var i = 0
    while (i < nfd.length && !hasMark) {
      val t = Character.getType(nfd.charAt(i))
      hasMark = t == Character.NON_SPACING_MARK ||
        t == Character.COMBINING_SPACING_MARK ||
        t == Character.ENCLOSING_MARK
      i += 1
    }
    if (!hasMark) s
    else {
      val sb = new java.lang.StringBuilder(nfd.length)
      var j = 0
      while (j < nfd.length) {
        val ch = nfd.charAt(j)
        val t = Character.getType(ch)
        if (t != Character.NON_SPACING_MARK &&
          t != Character.COMBINING_SPACING_MARK &&
          t != Character.ENCLOSING_MARK) sb.append(ch)
        j += 1
      }
      UTF8String.fromString(java.text.Normalizer.normalize(
        sb.toString, java.text.Normalizer.Form.NFC))
    }
  }

  /** Unicode NFC normalization (canonical composition) — the text-
    * canonicalization step before hashing/dedup: "café" typed as
    * e+COMBINING ACUTE and as the precomposed é must hash identically.
    * The isNormalized fast path makes the overwhelmingly-ASCII case a
    * scan with zero allocation. */
  def nfcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }

  /** Unicode NFKC normalization (compatibility composition): NFC plus
    * compatibility folds — ligatures (ﬁ → fi), fullwidth forms (Ａ → A),
    * superscripts — the fold text pipelines actually want before
    * tokenization. */
  def nfkcNormalize(s: UTF8String): UTF8String = {
    val str = s.toString
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFKC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFKC))
  }

  /** Flattened D×C ADC distance table for one (query, cell) pair —
    * table[d·C + c] = ‖(q − centroids[cell])[slice d] − codebook[d][c]‖²,
    * the in-plan form of the driver-side
    * [[graft.query.AnnQuery.adcTable]] (reference db/stored.rs:549-573,
    * identical arithmetic: localize in double, diff² sums). Evaluated
    * once per (query, probed cell) row, it turns the batch scan's
    * per-code cost from D×m multiply-adds ([[pqDistDirect]]) into D
    * lookups ([[adcDist]]) while keeping query planning fully
    * distributed — no driver loop, nothing broadcast per query. */
  def adcTableF(q: ArrayData, flatCentroids: ArrayData, cell: Int,
                flatCodebooks: ArrayData, d: Int, c: Int): ArrayData = {
    val dim = q.numElements()
    require(d > 0 && dim % d == 0, s"dim $dim not divisible by $d divisions")
    val m = dim / d
    require(flatCodebooks.numElements() == d * c * m,
      s"codebook size ${flatCodebooks.numElements()} != $d x $c x $m")
    val base = cell * dim
    require(cell >= 0 && flatCentroids.numElements() >= base + dim,
      s"cell $cell out of range for table ${flatCentroids.numElements()} / dim $dim")
    val cents = widenLit(flatCentroids)
    val books = widenLit(flatCodebooks)
    val loc = widenFloats(q, dim)
    var i = 0
    while (i < dim) { loc(i) -= cents(base + i); i += 1 }
    val out = new Array[Double](d * c)
    var di = 0
    while (di < d) {
      var ci = 0
      while (ci < c) {
        out(di * c + ci) = subSqDist(loc, di * m, books, (di * c + ci) * m, m)
        ci += 1
      }
      di += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  /** Σ_{i<m} (a(ao + i) − b(bo + i))², folded in ascending i: one ADC
    * table entry (reference db/stored.rs:549-573) and one coarse-cell
    * distance. The one scalar copy of that fold — [[adcTableF]] and the
    * in-process query prep ([[graft.query.AnnQuery.adcTables]],
    * [[graft.query.AnnQuery.selectPartitions]]) fold through it, and
    * [[SimdKernels.adcTablesExact]] / [[SimdKernels.cellDistsExact]]
    * reproduce its bits lane by lane. */
  def subSqDist(a: Array[Double], ao: Int, b: Array[Double], bo: Int,
                m: Int): Double = {
    var s = 0.0
    var i = 0
    while (i < m) {
      val diff = a(ao + i) - b(bo + i)
      s += diff * diff
      i += 1
    }
    s
  }

  /** ADC distance Σ_d table[d·C + codes[d]] — pure lookups into the
    * flattened D×C distance table (reference/src/db/stored.rs:575-595). */
  def adcDist(codes: ArrayData, flatTable: ArrayData, numCodes: Int): Double = {
    val d = codes.numElements()
    require(flatTable.numElements() == d * numCodes,
      s"ADC table size ${flatTable.numElements()} != $d divisions x $numCodes codes")
    var i = 0
    var s = 0.0
    while (i < d) {
      s += flatTable.getDouble(i * numCodes + codes.getInt(i))
      i += 1
    }
    s
  }
}
