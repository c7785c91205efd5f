package graft.operators

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** BloomJoin contracts: zero false negatives (exhaustive), bounded false
  * positives, and semi-join reduction that never changes the exact
  * downstream result. */
class BloomJoinSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val keys = (1L to 1000L).toDF("k")
  private lazy val bits = BloomJoin.buildBits(keys, "k", BloomJoin.sizeFor(1000))

  test("no false negatives: every inserted key passes") {
    val missed = keys.where(!BloomJoin.mightContain($"k", bits)).count()
    assert(missed === 0L)
  }

  test("false-positive rate near the 16-bits/key design point") {
    val foreign = (100001L to 120000L).toDF("k")
    val fp = foreign.where(BloomJoin.mightContain($"k", bits)).count()
    assert(fp < 20000 * 0.03, s"fp rate ${fp / 20000.0}") // design ≈ 0.5%
  }

  test("reduceProbe keeps every matching row; downstream join unchanged") {
    val probe = (900L to 1200L).map(i => (i, s"p$i")).toDF("k", "payload")
    val reduced = BloomJoin.reduceProbe(probe, "k", keys, "k")
    val exactFromReduced = reduced.join(keys, Seq("k"), "left_semi")
      .select("k", "payload").as[(Long, String)].collect().toSeq.sorted
    val exact = probe.join(keys, Seq("k"), "left_semi")
      .select("k", "payload").as[(Long, String)].collect().toSeq.sorted
    assert(exactFromReduced === exact)
    assert(exact.size === 101) // 900..1000 match
    // the reduction is a superset of the matches, subset of the probe
    val nReduced = reduced.count()
    assert(nReduced >= 101 && nReduced <= probe.count())
  }

  test("sizeFor rounds to words and floors at 64 bits") {
    assert(BloomJoin.sizeFor(0) === 64)
    assert(BloomJoin.sizeFor(1000) % 64 === 0)
    assert(BloomJoin.sizeFor(1000) >= 16000)
  }
}
