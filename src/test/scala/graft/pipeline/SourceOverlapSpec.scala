package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class SourceOverlapSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("sourceOverlapMatrix counts distinct shared n-grams per pair") {
    // sources a and b share one 6-token phrase (three 4-gram windows);
    // c shares nothing; a's second doc repeats the phrase (distinct
    // fingerprints count once)
    val docs = Seq(
      ("a", "alpha beta gamma delta epsilon zeta unique-a tail here"),
      ("a", "other words alpha beta gamma delta epsilon zeta again"),
      ("b", "prefix b alpha beta gamma delta epsilon zeta something"),
      ("c", "totally different vocabulary nothing shared at all ever"))
      .toDF("source", "text")
    val got = TrainingData.sourceOverlapMatrix(docs, "source", "text", n = 4)
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    assert(got.keySet === Set(("a", "b")))
    assert(got(("a", "b")) === 3L) // the 3 windows inside the phrase
  }
}
