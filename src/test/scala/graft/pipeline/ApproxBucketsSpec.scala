package graft.pipeline

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Parity contract of the histogram-boundary (100 TB) bucketing paths
  * vs their exact-ntile twins: identical when no tie straddles a
  * boundary and the population divides evenly; otherwise the ONLY
  * diverging rows sit between the two cut positions of the same
  * boundary index (tie-class extension + ntile's remainder rounding —
  * the documented frontier). Plus the structural scale guarantee: the
  * approx plans' windows run over the score HISTOGRAM (an aggregate),
  * never over corpus rows.
  */
class ApproxBucketsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val K = 4

  /** exact-path cut ranks: ntile gives the first (n mod k) buckets one
    * extra row, so bucket i ends at rank i*q + min(i, r). */
  private def ntileCuts(n: Int, k: Int): Seq[Long] = {
    val q = n / k; val r = n % k
    (1 until k).map(i => i.toLong * q + math.min(i, r))
  }

  /** approx-path cut ranks: boundary score b_i sits at rank
    * ceil(i*n/k); every row of its tie class stays below the cut, so
    * the effective cut is the tie class's HIGHEST rank. */
  private def approxCuts(sortedScores: IndexedSeq[Long], k: Int): Seq[Long] = {
    val n = sortedScores.length
    (1 until k).map { i =>
      val bRank = (i.toLong * n + k - 1) / k // ceil(i*n/k), 1-based
      val b = sortedScores(bRank.toInt - 1)
      sortedScores.lastIndexOf(b) + 1L // hi rank of b's tie class
    }
  }

  /** Assert the frontier contract on (score, id) rows: rows whose exact
    * and approx buckets differ all lie strictly inside the interval
    * between the two cut positions of one boundary index, and differ by
    * exactly that one boundary. */
  private def assertFrontierOnly(rows: Seq[(Long, Long)]): Unit = {
    val df = rows.toDF("doc_id", "score")
    val exact = df.withColumn("bucket",
        ntile(K).over(Window.orderBy(col("score"), col("doc_id"))).cast("long"))
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    val approx = TrainingData
      .equalFreqBucket(df, "score", Seq.empty, K, descending = false)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    assert(exact.keySet === approx.keySet)

    val sorted = rows.sortBy(r => (r._2, r._1))
    val rank = sorted.zipWithIndex.map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val cutsE = ntileCuts(rows.length, K)
    val cutsA = approxCuts(sorted.map(_._2).toIndexedSeq, K)

    val diverging = exact.keys.filter(id => exact(id) != approx(id))
    diverging.foreach { id =>
      val t = rank(id)
      val hit = (1 until K).exists { i =>
        val lo = math.min(cutsE(i - 1), cutsA(i - 1))
        val hi = math.max(cutsE(i - 1), cutsA(i - 1))
        lo < t && t <= hi &&
          Set(exact(id), approx(id)) == Set(i.toLong, i + 1L)
      }
      assert(hit, s"row $id (rank $t, exact=${exact(id)}, " +
        s"approx=${approx(id)}) diverges outside every boundary frontier " +
        s"(ntile cuts $cutsE, approx cuts $cutsA)")
    }
  }

  test("equalFreqBucket == ntile on unique scores with n divisible by k") {
    val rows = (0L until 200L).map(i => (i, 1000L + i * 7))
    val df = rows.toDF("doc_id", "score")
    val exact = df.withColumn("bucket",
        ntile(K).over(Window.orderBy(col("score"), col("doc_id"))).cast("long"))
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    val approx = TrainingData
      .equalFreqBucket(df, "score", Seq.empty, K, descending = false)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    assert(approx === exact)
  }

  test("ties straddling a boundary diverge frontier-only and stay whole") {
    // 96 rows, k=4 → exact cuts at 24/48/72; a 10-row tie class spans
    // ranks 20..29 (straddles the first cut), a 6-row class spans
    // ranks 45..50 (straddles the second)
    val scores =
      (1 to 19).map(_ * 10L) ++ Seq.fill(10)(200L) ++
        (21 to 35).map(_ * 10L) ++ Seq.fill(6)(460L) ++
        (47 to 92).map(_ * 10L)
    assert(scores.length === 96)
    val rows = scores.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    assertFrontierOnly(rows)
    // tie classes never split in the approx path
    val approx = TrainingData
      .equalFreqBucket(rows.toDF("doc_id", "score"), "score",
        Seq.empty, K, descending = false)
      .select("score", "bucket").as[(Long, Long)].collect()
    approx.groupBy(_._1).foreach { case (s, bs) =>
      assert(bs.map(_._2).distinct.length === 1,
        s"tie class at score $s split across buckets")
    }
  }

  test("remainder rows (n not divisible by k) diverge frontier-only") {
    val rows = (0L until 97L).map(i => (i, 5000L + i * 3))
    assertFrontierOnly(rows)
  }

  test("curriculumSampleApprox keeps exactly the md5-selected rows") {
    val rows = (0L until 200L).map(i => (i, 1000L + i * 7))
    val df = rows.toDF("doc_id", "score")
    val weights = Seq(32, 64, 128, 255)
    // divisible + unique ⇒ bucket-identical ⇒ output-identical
    val exact = TrainingData
      .curriculumSample(df, "score", "doc_id", weights)
      .select("doc_id", "score", "bucket").as[(Long, Long, Long)]
      .collect().sorted.toSeq
    val approx = TrainingData
      .curriculumSampleApprox(df, "score", "doc_id", weights)
      .select("doc_id", "score", "bucket").as[(Long, Long, Long)]
      .collect().sorted.toSeq
    assert(approx === exact)
    assert(approx.nonEmpty && approx.size < rows.size)
  }

  test("approx plans sort only the histogram, never corpus rows") {
    val df = (0L until 500L).map(i => (i, i % 91)).toDF("doc_id", "score")
    val bucketed = TrainingData
      .equalFreqBucket(df, "score", Seq.empty, K, descending = false)
    val wins = bucketed.queryExecution.optimizedPlan
      .collect { case w: LWindow => w }
    assert(wins.nonEmpty)
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.nonEmpty,
        "a window in the approx path runs over non-aggregated corpus rows")
    }
  }

  test("k == 1 short-circuits to a constant bucket (grouped and global)") {
    val df = (0L until 40L).map(i => (i, i * 13, "g" + (i % 3)))
      .toDF("doc_id", "score", "grp")
    val global = TrainingData
      .equalFreqBucket(df, "score", Seq.empty, 1, descending = false)
      .select("bucket").as[Long].collect()
    assert(global.length === 40 && global.forall(_ == 1L))
    val grouped = TrainingData
      .equalFreqBucket(df, "score", Seq("grp"), 1, descending = true)
      .select("bucket").as[Long].collect()
    assert(grouped.length === 40 && grouped.forall(_ == 1L))
  }

  test("cardinality contract is loud: past maxDistinct the job fails") {
    val df = (0L until 300L).map(i => (i, 1000000L + i)).toDF("doc_id", "score")
    val e = intercept[Exception] {
      TrainingData.equalFreqBucket(df, "score", Seq.empty, K,
        descending = false, maxDistinct = 100L).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => x.getMessage +: msgs(x.getCause))
    assert(msgs(e).exists(m => m != null && m.contains("quantize the score")),
      s"expected the loud cardinality message, got: ${e.getMessage}")
  }

  test("curriculumSampleApprox quantize pre-buckets high-cardinality scores") {
    // 5000 distinct raw scores; quantize=1 would trip a 1000-row guard,
    // quantize=8 floor-divides them to 625 histogram rows first
    val rows = (0L until 5000L).map(i => (i, 7919L * i % 1000000007L))
    val df = rows.toDF("doc_id", "score")
    val weights = Seq(16, 64, 192, 255)
    val out = TrainingData
      .curriculumSampleApprox(df, "score", "doc_id", weights, quantize = 1600000L)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    // reference: the same md5 keep rule over equalFreqBucket of the
    // explicitly floor-divided score
    val pre = df.withColumn("qs",
      expr("(cast(score as bigint) - pmod(cast(score as bigint), 1600000)) div 1600000"))
    val refBuckets = TrainingData
      .equalFreqBucket(pre, "qs", Seq.empty, weights.length, descending = false)
      .select("doc_id", "bucket").as[(Long, Long)].collect().toMap
    def hex(w: Int) = f"$w%02x"
    val expected = rows.flatMap { case (id, _) =>
      val b = refBuckets(id)
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"cur:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(2)
      if (md < hex(weights(b.toInt - 1))) Some(id -> b) else None
    }.toMap
    assert(out === expected)
    assert(out.nonEmpty && out.size < rows.size)
  }

  test("qualityBucketsApprox: per-language frontier contract vs exact") {
    val langs = Seq("en", "de", "fr")
    val docs = (0L until 240L).map { i =>
      val lang = langs((i % 3).toInt)
      // engineered text so bigram LM scores produce ties within langs
      val rep = (i / 3) % 8 + 1
      (i, Seq.fill(rep.toInt + 1)("w" + (i % 10)).mkString(" "), lang)
    }.toDF("doc_id", "text", "lang")
    val exact = TextAnalysis.qualityBuckets(docs, docs, "lang", 3)
      .select("doc_id", "lang", "mean_p_x1e6", "bucket")
      .as[(Long, String, Long, Long)].collect()
    val approx = TextAnalysis.qualityBucketsApprox(docs, docs, "lang", 3)
      .select("doc_id", "lang", "mean_p_x1e6", "bucket")
      .as[(Long, String, Long, Long)].collect()
    assert(exact.map(_._1).sorted.toSeq === approx.map(_._1).sorted.toSeq)
    val aMap = approx.map(r => r._1 -> r._4).toMap
    // per language: descending rank; diverging rows sit between the two
    // cut positions of one boundary index (desc mirror of the asc check)
    langs.foreach { lg =>
      val rowsL = exact.filter(_._2 == lg).sortBy(r => (-r._3, r._1))
      val n = rowsL.length
      val sortedDesc = rowsL.map(_._3).toIndexedSeq
      val cutsE = ntileCuts(n, 3)
      val cutsA = (1 until 3).map { i =>
        val bRank = (i.toLong * n + 2) / 3
        val b = sortedDesc(bRank.toInt - 1)
        sortedDesc.lastIndexOf(b) + 1L
      }
      rowsL.zipWithIndex.foreach { case ((id, _, _, be), idx) =>
        val ba = aMap(id); val t = idx + 1L
        if (be != ba) {
          val hit = (1 until 3).exists { i =>
            val lo = math.min(cutsE(i - 1), cutsA(i - 1))
            val hi = math.max(cutsE(i - 1), cutsA(i - 1))
            lo < t && t <= hi && Set(be, ba) == Set(i.toLong, i + 1L)
          }
          assert(hit, s"doc $id lang $lg rank $t exact=$be approx=$ba " +
            s"diverges outside every frontier (cutsE=$cutsE cutsA=$cutsA)")
        }
      }
      // tie classes whole per language
      approx.filter(_._2 == lg).groupBy(_._3).foreach { case (s, rs) =>
        assert(rs.map(_._4).distinct.length === 1,
          s"lang $lg tie class at score $s split across buckets")
      }
    }
  }
}
