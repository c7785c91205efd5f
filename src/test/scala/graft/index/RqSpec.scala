package graft.index

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class RqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def fixture = {
    val vecs = (0 until 400).map { i =>
      (i.toLong, Array.tabulate(16)(j =>
        (math.sin(i * 0.37 + j) * 10 + (i % 4) * 25).toFloat))
    }.toDF("id", "vec")
    val (model, encoded) = IvfPqBuilder.fit(vecs, "id", "vec", 16,
      IvfPqConfig(numPartitions = 4, numDivisions = 4, numCodes = 8,
        maxIter = 15))
    (vecs, model, encoded)
  }

  test("refine strictly reduces total reconstruction error") {
    val (vecs, model, encoded) = fixture
    val (rq, enc2) = Rq.fitRefine(encoded, model, numDivisions2 = 4,
      numCodes2 = 8, trainPointsPerCentroid = 0)
    val joined = enc2.join(vecs, "id")
    val books1 = graft.functions.FastFunctions.litDoubles(
      model.codebooks.flatten.flatten)
    val cent = typedlit(model.partitionCentroids.map(_.toSeq).toSeq)
    val lvl1 = graft.functions.FastFunctions.pqReconstructF(
      element_at(cent, col("partition").cast("int") + 1),
      col("codes"), books1, model.config.numCodes)
    val errs = joined.select(
      graft.functions.FastFunctions.squaredL2F(col("vec"), lvl1).as("e1"),
      graft.functions.FastFunctions.squaredL2F(col("vec"),
        Rq.reconstruct2(rq)).as("e2"))
      .agg(sum(col("e1")).as("s1"), sum(col("e2")).as("s2")).head()
    assert(errs.getDouble(1) < errs.getDouble(0) * 0.9,
      s"level-2 total error ${errs.getDouble(1)} should be well below " +
        s"level-1 ${errs.getDouble(0)}")
  }

  test("topKRefined returns k rows ranked by refined distance") {
    val (vecs, model, encoded) = fixture
    val (rq, enc2) = Rq.fitRefine(encoded, model, numDivisions2 = 4,
      numCodes2 = 8, trainPointsPerCentroid = 0)
    val q = vecs.where(col("id") === 0L).head()
      .getSeq[Float](1).map(_.toDouble).toArray
    val hits = Rq.topKRefined(enc2.cache(), rq, q, k = 5, nprobe = 4)
      .collect()
    assert(hits.length === 5)
    assert(hits.map(_.getDouble(1)).toSeq ===
      hits.map(_.getDouble(1)).sorted.toSeq)
    // the query's own id should surface with a refine step at this scale
    assert(hits.map(_.getLong(0)).contains(0L))
  }

  test("save/load round-trips the refined store and refined results") {
    val (vecs, model, encoded) = fixture
    val (rq, enc2) = Rq.fitRefine(encoded, model, numDivisions2 = 4,
      numCodes2 = 8, trainPointsPerCentroid = 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_rq").toString
    Rq.save(rq, enc2, dir)
    val (rq2, enc2b) = Rq.load(spark, dir)
    assert(rq2.numDivisions2 === 4 && rq2.numCodes2 === 8)
    assert(rq2.refineBooks.map(_.map(_.toSeq).toSeq).toSeq ===
      rq.refineBooks.map(_.map(_.toSeq).toSeq).toSeq)
    val q = vecs.where(col("id") === 3L).head()
      .getSeq[Float](1).map(_.toDouble).toArray
    val a = Rq.topKRefined(enc2, rq, q, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val b = Rq.topKRefined(enc2b, rq2, q, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(a === b)
  }

  test("batchTopKRefined equals per-query topKRefined") {
    val (vecs, model, encoded) = fixture
    val (rq, enc2raw) = Rq.fitRefine(encoded, model, numDivisions2 = 4,
      numCodes2 = 8, trainPointsPerCentroid = 0)
    val enc2 = enc2raw.cache()
    val queries = Seq(0L, 7L, 42L).map { id =>
      id -> vecs.where(col("id") === id).head()
        .getSeq[Float](1).map(_.toDouble).toArray
    }
    val batch = Rq.batchTopKRefined(enc2, rq, queries, k = 5, nprobe = 4)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .groupBy(_._1)
    queries.foreach { case (qid, q) =>
      val single = Rq.topKRefined(enc2, rq, q, k = 5, nprobe = 4)
        .collect().zipWithIndex
        .map { case (r, i) => (qid, r.getLong(0), r.getDouble(1), i + 1L) }
        .toSeq
      assert(batch(qid).sortBy(_._4).toSeq === single, s"qid $qid")
    }
  }

  test("level-1 delete + compact keep the refined store consistent") {
    val (vecs, model, encoded) = fixture
    val (rq, enc2) = Rq.fitRefine(encoded, model, numDivisions2 = 4,
      numCodes2 = 8, trainPointsPerCentroid = 0)
    val dir = java.nio.file.Files.createTempDirectory("graft_rq_m").toString
    Rq.save(rq, enc2, dir)
    import spark.implicits._
    Rq.deleteFromStore(dir, Seq(3L, 7L, 11L).toDF("id"), "id")
    // two-layer compaction (round 12): level-1 cell rewrite AND the
    // refine/codes2 flat rewrite — dead refine rows fold away
    // physically, not just through the id join
    Rq.compactStore(spark, dir)
    val (rq2, enc2b) = Rq.load(spark, dir)
    // deleted ids are gone from the refined relation too (codes2 joins
    // onto the tombstone-filtered, compacted codes)
    val ids = enc2b.select("id").collect().map(_.getLong(0)).toSet
    assert(!ids.contains(3L) && !ids.contains(7L) && !ids.contains(11L))
    assert(ids.size === 397)
    // the codes2 TABLE itself holds exactly the live ids post-compaction
    val ids2 = spark.read.parquet(s"$dir/refine/codes2").select("id")
      .collect().map(_.getLong(0))
    assert(ids2.length === 397)
    assert(ids2.toSet === (0L until 400L).toSet -- Set(3L, 7L, 11L))
    assert(!StoreLifecycle.hasTombstones(spark, dir))
    // both swaps finished: no parked or half-written table is left
    val leftovers = scala.util.Using.resource(
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir))) { w =>
      w.toArray.map(_.toString)
        .filter(f => f.endsWith(".compacting") || f.endsWith(".old"))
    }
    assert(leftovers.isEmpty, leftovers.mkString(", "))
    // surviving rows still answer refined queries deterministically
    val q = vecs.where(col("id") === 5L).head()
      .getSeq[Float](1).map(_.toDouble).toArray
    val hits = Rq.topKRefined(enc2b, rq2, q, k = 5, nprobe = 4).collect()
    assert(hits.length === 5)
    assert(!hits.map(_.getLong(0)).toSet.exists(Set(3L, 7L, 11L)))
  }
}
