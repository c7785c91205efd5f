package graft.functions

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class VecCollectSpec extends AnyFunSuite {

  test("blobBytes computes rows x dim x 4 in Long and refuses past 2 GB") {
    assert(VecCollect.blobBytes(0, 1536) === 0)
    assert(VecCollect.blobBytes(65536, 1536) === 65536 * 1536 * 4)
    // the largest 1536-d partition that fits; one more row used to wrap
    // the Int product negative
    assert(VecCollect.blobBytes(349525, 1536) === 2147481600)
    assert(349526 * 1536 * 4 < 0)
    val ex = intercept[IllegalArgumentException] {
      VecCollect.blobBytes(349526, 1536)
    }
    assert(ex.getMessage.contains("349526 rows x dim 1536"))
    assert(ex.getMessage.contains("2147487744 bytes"))
    intercept[IllegalArgumentException](VecCollect.blobBytes(Int.MaxValue, 1))
  }

  test("collectVecs keeps collect() order and values") {
    val spark = TestSpark.spark
    import spark.implicits._
    val rows = Seq(Array(1f, 2f), Array(3f, 4f), Array(-5f, 6.5f))
    val df = rows.toDF("v")
    val got = VecCollect.collectVecs(df)
    assert(got.map(_.toSeq).toSeq === df.as[Array[Float]].collect().map(_.toSeq).toSeq)
    assert(got.map(_.toSeq).toSet === rows.map(_.toSeq).toSet)
  }
}
