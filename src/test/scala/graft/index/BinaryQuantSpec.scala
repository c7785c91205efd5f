package graft.index

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.Dedup
import graft.query.ExactKnn

/** Binary-quantization invariants: exact bit semantics of the packing
  * kernel, Hamming ranking vs brute force, multi-word signatures, refine
  * recall, threshold fitting on uncentered data, and composition with the
  * banded Hamming near-dup join. */
class BinaryQuantSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16
  // three well-separated direction clusters on the unit circle of a
  // 16-dim space, plus noise — sign bits separate them perfectly
  private lazy val data: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(7)
    Seq.tabulate(90) { i =>
      val c = i % 3
      (i.toLong, Seq.tabulate(dim) { j =>
        val base = if (j % 3 == c) 1.0 else -1.0
        (base + rnd.nextGaussian() * 0.2).toFloat
      })
    }
  }
  private lazy val df = data.toDF("id", "vec")

  private def brutePack(v: Seq[Float], thr: Array[Double]): Array[Long] =
    BinaryQuant.pack(v, thr)

  test("signBits kernel: exact little-endian packing, multi-word") {
    val v = Seq.tabulate(70)(i => if (i % 5 == 0) 1.0f else -1.0f)
    val sig = Seq((1L, v)).toDF("id", "vec")
      .select(BinaryQuant.signature(col("vec"), new Array[Double](70)))
      .head().getSeq[Long](0)
    assert(sig.length === 2)
    val expected = brutePack(v, new Array[Double](70))
    assert(sig === expected.toSeq)
    // bit 0 set (i=0 positive), bit 1 clear
    assert((sig.head & 1L) === 1L && ((sig.head >> 1) & 1L) === 0L)
  }

  test("hamming ranking matches brute-force bit counting") {
    val q = data.head._2
    val thr = new Array[Double](dim)
    val qs = brutePack(q, thr)
    val expected = data.map { case (id, v) =>
      val s = brutePack(v, thr)
      val ham = s.zip(qs).map { case (a, b) => java.lang.Long.bitCount(a ^ b) }.sum
      (id, ham)
    }.sortBy { case (id, h) => (h, id) }.take(10)
    val got = BinaryQuant.rankedIds(df, "vec", "id", q, 10)
      .collect().map(r => (r.getLong(1), r.getLong(2).toInt)).toSeq
    assert(got === expected)
  }

  test("sign bits recover cluster structure: top-k shares the query's cluster") {
    val q = data(1)._2 // cluster 1
    val hits = BinaryQuant.rankedIds(df, "vec", "id", q, 10)
      .collect().map(_.getLong(1))
    assert(hits.forall(id => id % 3 == 1))
  }

  test("rerank: exact order over hamming nominees, recall ≥ raw hamming") {
    val q = data(2)._2
    val exact = ExactKnn.rankedIds(df, "vec", "id", q, 10)
      .collect().map(_.getLong(1)).toSet
    val raw = BinaryQuant.rankedIds(df, "vec", "id", q, 10)
      .collect().map(_.getLong(1)).toSet
    val reranked = BinaryQuant.rankedIdsRerank(df, "vec", "id", q, 10,
      kFactor = 4).collect().map(_.getLong(1)).toSet
    assert((reranked & exact).size >= (raw & exact).size)
    // with 4x nominees over clustered data the refine is near-exact
    assert((reranked & exact).size >= 8)
  }

  test("fitThresholds centers uncentered data: bits split ~50/50") {
    // shift every dimension by +10: sign bits all saturate to 1 (useless),
    // fitted mean thresholds restore the split
    val shifted = df.select(col("id"),
      transform(col("vec"), x => x + lit(10.0f)).as("vec"))
    val thr = BinaryQuant.fitThresholds(shifted, "vec")
    assert(thr.length === dim && thr.forall(t => t > 9.0 && t < 11.0))
    val sat = shifted
      .select(BinaryQuant.signature(col("vec"), new Array[Double](dim)).as("s"))
      .select(element_at(col("s"), 1)).distinct().count()
    assert(sat === 1L) // sign bits: every signature identical → no signal
    val q = data(4)._2.map(x => x + 10.0f)
    val hits = BinaryQuant.rankedIds(shifted, "vec", "id", q, 10,
      thresholds = thr).collect().map(_.getLong(1))
    assert(hits.forall(id => id % 3 == 1))
  }

  test("signature64 feeds hammingNearPairs: same-cluster pairs at small distance") {
    val thr = new Array[Double](dim)
    val sigs = df.select(col("id"),
      BinaryQuant.signature64(col("vec"), thr).as("sig"))
    val pairs = Dedup.hammingNearPairs(sigs, "id", "sig", maxHamming = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    assert(pairs.forall { case (a, b) => a % 3 == b % 3 })
  }

  test("batchTopK ≡ per-query rankedIds for every query") {
    val qids = Seq(0L, 1L, 2L, 5L)
    val qs = df.where(col("id").isin(qids: _*))
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val batch = BinaryQuant
      .batchTopK(df, "vec", "id", qs, "qid", "qvec", 10,
        thresholds = null, dim = dim)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3), r.getLong(1), r.getLong(2)))
      .sorted
    val single = qids.flatMap { qid =>
      val q = data(qid.toInt)._2
      BinaryQuant.rankedIds(df, "vec", "id", q, 10).collect()
        .map(r => (qid, r.getLong(0), r.getLong(1), r.getLong(2)))
    }.sorted
    assert(batch.toSeq === single)
  }

  test("plans: single-query top-k is TakeOrderedAndProject; batch has no sort") {
    val singlePlan = BinaryQuant.topK(df, "vec", "id", data.head._2, 10)
      .queryExecution.executedPlan.toString
    assert(singlePlan.contains("TakeOrderedAndProject"))
    val qs = df.where(col("id") < 3)
      .select(col("id").as("qid"), col("vec").as("qvec"))
    val batchPlan = BinaryQuant
      .batchTopK(df, "vec", "id", qs, "qid", "qvec", 10, null, dim)
      .queryExecution.executedPlan.toString
    // the bounded aggregate replaces any per-group sort; the only join is
    // the broadcast of the query side
    assert(!batchPlan.contains("CartesianProduct"))
    assert(batchPlan.contains("BroadcastNestedLoopJoin")
      || batchPlan.contains("BroadcastHashJoin"))
    assert(!batchPlan.contains("SortExec"))
  }

  test("dimension mismatch and empty vectors fail loudly") {
    intercept[IllegalArgumentException] {
      BinaryQuant.pack(Seq(1.0f), new Array[Double](2))
    }
    val bad = Seq((1L, Seq(1.0f, 2.0f))).toDF("id", "vec")
      .select(BinaryQuant.signature(col("vec"), new Array[Double](3)))
    val e = intercept[Exception] { bad.collect() }
    assert(e.getMessage != null)
  }

  test("appendToStore validates thresholds against the store manifest: " +
      "wrong dim refuses, same-dim wrong values refuse (fingerprint), " +
      "the frozen thresholds append fine") {
    val thr = BinaryQuant.fitThresholds(df, "vec")
    val dir = java.nio.file.Files.createTempDirectory("bq_append").toString
    BinaryQuant.save(thr, df.where(col("id") < 60), "id", "vec", dir)
    // wrong dimension: a loud shape error BEFORE anything is written
    val exDim = intercept[IllegalArgumentException] {
      BinaryQuant.appendToStore(new Array[Double](dim + 1),
        df.where(col("id") >= 60), "id", "vec", dir)
    }
    assert(exDim.getMessage.contains("dims"))
    // same dim, different values: the fingerprint catches it
    val skewed = thr.map(_ + 0.5)
    val exVal = intercept[IllegalArgumentException] {
      BinaryQuant.appendToStore(skewed, df.where(col("id") >= 60),
        "id", "vec", dir)
    }
    assert(exVal.getMessage.contains("fingerprint"))
    // nothing was written by the refused appends
    val (_, afterRefusals) = BinaryQuant.load(spark, dir)
    assert(afterRefusals.count() === 60L)
    // the frozen thresholds append, and the store answers over the union
    BinaryQuant.appendToStore(thr, df.where(col("id") >= 60),
      "id", "vec", dir)
    val (thrLoaded, sigs) = BinaryQuant.load(spark, dir)
    assert(sigs.count() === data.length.toLong)
    val q = data.head._2
    val fromStore = BinaryQuant.topKSignatures(sigs, q, 5, thrLoaded)
      .select(col("id").cast("long"), col("hamming").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val fresh = BinaryQuant.topK(df, "vec", "id", q, 5, thr)
      .select(col("id").cast("long"), col("hamming").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(fromStore.toSeq === fresh.toSeq)
  }
}
