package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SkewJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // hot key 1 with 80 rows, keys 2..21 with 1 row each: n=100, mean=~4.8
  private lazy val skewed = ((1 to 80).map(_ => (1L, "h")) ++
    (2 to 21).map(k => (k.toLong, "c"))).toDF("k", "tag")
  private lazy val dim = (1 to 25).map(k => (k.toLong, s"d$k")).toDF("k", "name")

  test("keyStats: integer max/mean telemetry and salt") {
    val r = SkewJoin.keyStats(skewed, Seq("k")).head()
    assert(r.getAs[Long]("n_keys") === 21L)
    assert(r.getAs[Long]("n_rows") === 100L)
    assert(r.getAs[Long]("max_cnt") === 80L)
    // ceil(80*21*100/100) = 1680; salt = ceil(80*21/100) = 17
    assert(r.getAs[Long]("skew_x100") === 1680L)
    assert(r.getAs[Long]("salt") === 17L)
    assert(SkewJoin.recommendedSalt(skewed, Seq("k")) === 17)
  }

  test("keyStats: uniform keys recommend salt 1; empty input salt 1") {
    val uniform = (1 to 40).map(k => (k.toLong, "u")).toDF("k", "tag")
    assert(SkewJoin.recommendedSalt(uniform, Seq("k")) === 1)
    assert(SkewJoin.recommendedSalt(uniform.limit(0), Seq("k")) === 1)
  }

  test("saltedInnerJoin output is identical to the plain join") {
    for (salt <- Seq(1, 4, 9)) {
      val got = SkewJoin.saltedInnerJoin(skewed, dim, Seq("k"), salt)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sorted.toSeq
      val want = skewed.join(dim, Seq("k"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
        .sorted.toSeq
      assert(got === want, s"salt $salt")
      assert(got.size === 100) // every skewed row matches the 25-key dim
    }
  }

  test("salted plan joins on keys plus the salt column") {
    val df = SkewJoin.saltedInnerJoin(skewed, dim, Seq("k"), salt = 4)
    val joins = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
    }
    assert(joins.nonEmpty)
    val cond = joins.head.condition.map(_.toString).getOrElse("")
    assert(cond.contains("__sj_salt"), cond)
  }

  test("saltedInnerJoinAuto derives the salt and matches the plain join") {
    val got = SkewJoin.saltedInnerJoinAuto(skewed, dim, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    val want = skewed.join(dim, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sorted.toSeq
    assert(got === want)
  }
}
