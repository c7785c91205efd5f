package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class DocTopKSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("docTopK ranks documents by their best passage (MaxP), ties to " +
      "the smaller doc id") {
    // query 1: doc 10's best passage at 0.5, doc 20 at 0.5 (tie), doc 30
    // has TWO passages (1.0 and 0.2 -> best 0.2 wins overall)
    val hits = Seq(
      (1L, 10L, 0.5), (1L, 20L, 0.5), (1L, 30L, 1.0), (1L, 30L, 0.2),
      (2L, 40L, 3.0), (2L, 50L, 2.0)).toDF("qid", "doc_id", "sq")
    val got = ExactKnn.docTopK(hits, "qid", "doc_id", "sq", k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (1L, 30L, 1L), (1L, 10L, 2L), // 0.2 best; tie 0.5/0.5 -> doc 10
      (2L, 50L, 1L), (2L, 40L, 2L)))
  }
}
