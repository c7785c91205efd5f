package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.functions.{FastFunctions, Kernels}

/** Seeded input generators. Every value is a pure function of the seed
  * and an integer key, so Spark tasks and the benchmark process produce
  * the same inputs, and the same seed gives the same inputs on every run. */
object Gen {

  def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, key: Long): SplittableRandom = new SplittableRandom(mix(seed, key))

  // ---- uniform vectors: graft's own deterministic generator ----

  /** (id, vec) for ids [from, from+n), uniform in [0,1)^dim. */
  def uniform(spark: SparkSession, n: Long, dim: Int, seed: Long,
              parts: Int): DataFrame =
    spark.range(0L, n, 1L, parts)
      .select(col("id"), FastFunctions.pseudoRandomVec(col("id"), dim, seed).as("vec"))

  /** The in-process twin of [[uniform]]'s row `id`. */
  def uniformVec(id: Long, dim: Int, seed: Long): Array[Float] =
    Kernels.pseudoRandomVec(id, dim, seed).toFloatArray()

  // ---- clustered vectors: blobs with seeded centres ----

  /** `count` blobs: a uniform centre per blob, and points spread
    * uniformly over `spread` per coordinate around it. */
  final case class Blobs(dim: Int, count: Int, spread: Double, seed: Long) {
    @transient lazy val centers: Array[Array[Float]] = Array.tabulate(count) { b =>
      val r = rng(seed, 0x100000000L + b)
      Array.fill(dim)(r.nextDouble().toFloat)
    }

    /** Point `key` of blob `b`. */
    def point(b: Int, key: Long): Array[Float] = {
      val c = centers(b)
      val r = rng(seed ^ 0x5DEECE66DL, key)
      Array.tabulate(dim)(i => (c(i) + spread * (r.nextDouble() - 0.5)).toFloat)
    }

    /** Blob of a base vector: uniform over blobs. */
    def baseBlob(id: Long): Int = java.lang.Math.floorMod(mix(seed, id), count.toLong).toInt

    /** Blob of vector `id` in append batch `round`: a window of
      * `count / 4` blobs that moves by `count / 8` each round, so the
      * ingest mix drifts away from the base distribution. */
    def driftBlob(id: Long, round: Int): Int = {
      val width = math.max(1, count / 4)
      val off = round * math.max(1, count / 8)
      (off + java.lang.Math.floorMod(mix(seed + round, id), width.toLong).toInt) % count
    }

    def baseVec(id: Long): Array[Float] = point(baseBlob(id), id)
    def driftVec(id: Long, round: Int): Array[Float] = point(driftBlob(id, round), id)
  }

  /** (id, vec) for ids [from, until) with `vec = f(id)` computed in tasks. */
  def vectors(spark: SparkSession, from: Long, until: Long, parts: Int)
             (f: Long => Array[Float]): DataFrame = {
    import spark.implicits._
    spark.range(from, until, 1L, parts).as[Long]
      .map(id => (id, f(id)))
      .toDF("id", "vec")
  }

  // ---- query popularity ----

  /** Zipf(s) sampler over ranks 0 until n; rank r is drawn with weight
    * 1 / (r + 1)^s. `perm` maps ranks to items so the hot items are not
    * always the lowest-numbered. */
  final class Zipf(n: Int, s: Double, seed: Long) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    private val perm: Array[Int] = {
      val r = rng(seed, 77L)
      val a = Array.tabulate(n)(identity)
      var i = n - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = a(i); a(i) = a(j); a(j) = t
        i -= 1
      }
      a
    }

    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      var idx = java.util.Arrays.binarySearch(cdf, u)
      if (idx < 0) idx = -idx - 1
      perm(math.min(idx, n - 1))
    }
  }

  // ---- documents ----

  private val words: Array[String] = (
    "batch part spark line column order small sort fast value scan hash slow " +
    "group agg filter query key window row table stream merge data big index " +
    "vector cell code probe shard cache node graph token text page model train " +
    "split pack shuffle join plan stage task store write read load build fit " +
    "time rate heap disk file log map set list tree heap queue range bound").split(" ")
  private val stops: Array[String] = Array("the", "a", "an", "of", "to", "and", "in", "is")

  /** A fresh document: 8-120 tokens with about one stopword in six. */
  def freshDoc(key: Long, seed: Long): String = {
    val r = rng(seed, key)
    val n = if (r.nextInt(10) == 0) 8 + r.nextInt(10) else 20 + r.nextInt(100)
    Array.fill(n) {
      if (r.nextInt(6) == 0) stops(r.nextInt(stops.length))
      else words(r.nextInt(words.length)) + (if (r.nextInt(4) == 0) r.nextInt(50).toString else "")
    }.mkString(" ")
  }

  /** Document `id` of an amplified corpus of fresh documents with a
    * fixed share of duplicates: about 5% exact copies and 20% near
    * duplicates (one token in 40 replaced) of an earlier document. */
  def doc(id: Long, seed: Long): String = {
    val r = rng(seed ^ 0xD0C5L, id)
    val kind = r.nextInt(100)
    if (id < 64 || kind >= 25) freshDoc(id, seed)
    else {
      val src = r.nextLong(id)
      val base = freshDoc(src, seed)
      if (kind < 5) base
      else base.split(" ").map { t =>
        if (r.nextInt(40) == 0) words(r.nextInt(words.length)) else t
      }.mkString(" ")
    }
  }

  def documents(spark: SparkSession, n: Long, seed: Long, parts: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, parts).as[Long]
      .map(id => (id, doc(id, seed)))
      .toDF("doc_id", "text")
  }
}
