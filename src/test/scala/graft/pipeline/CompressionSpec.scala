package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CompressionSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("compressionSignals: repetitive text compresses far below prose") {
    val prose = "the quick brown fox jumps over a lazy dog while seven " +
      "wizards mix unique chemical potions at midnight frequencies"
    val boiler = ("spam " * 40).trim
    val rows = Seq((1L, prose), (2L, boiler)).toDF("doc_id", "text")
    val got = TextAnalysis.compressionSignals(rows)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3))).toMap
    val (pBytes, pDef, pRatio) = got(1L)
    val (bBytes, bDef, bRatio) = got(2L)
    assert(pBytes === prose.length.toLong && bBytes === boiler.length.toLong)
    assert(pDef > 0 && bDef > 0)
    assert(bRatio < pRatio / 2, s"boiler $bRatio vs prose $pRatio")
    assert(pRatio > 0 && pRatio <= 150)
  }

  test("deflate length is rerun-stable and empty-safe; SQL registered") {
    graft.GraftFunctions.register(spark)
    val a = spark.sql("SELECT graft_deflate_len('abcabcabc')").head().getLong(0)
    val b = spark.sql("SELECT graft_deflate_len('abcabcabc')").head().getLong(0)
    assert(a === b && a > 0)
    val z = TextAnalysis.compressionSignals(
      Seq((1L, "")).toDF("doc_id", "text")).head()
    assert(z.getLong(1) === 0L && z.getLong(3) === 0L)
  }
}
