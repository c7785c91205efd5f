package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.{IvfPqBuilder, IvfPqConfig}

/** Cell-sharded serving parity: a [[ServeRouter]] over cell-disjoint
  * shards must answer bit-identically to one [[LocalServe]] holding all
  * the cells — same ids, partitions, bit-identical sq_dist, same
  * (sq_dist, id) order — for any shard split, plus the fleet-level
  * refusal and disjointness contracts. */
class ServeRouterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16
  private val config =
    IvfPqConfig(numPartitions = 6, numDivisions = 4, numCodes = 16,
      maxIter = 20)

  private lazy val data: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(29)
    val blobs = Seq.tabulate(6)(_ => Array.fill(dim)(rnd.nextDouble() * 20 - 10))
    for {
      (blob, b) <- blobs.zipWithIndex
      seed <- 0 until 8
      seedVec = blob.map(v => v + rnd.nextGaussian() * 0.8)
      clone <- 0 until 4
    } yield (((b * 8 + seed) * 4 + clone).toLong,
      seedVec.map(v => (v + rnd.nextGaussian() * 0.02).toFloat).toSeq)
  }

  private lazy val df = data.toDF("id", "vec")
  private lazy val (model, encoded) =
    IvfPqBuilder.fit(df, "id", "vec", dim, config)
  private lazy val storeDir = {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_router").toString
    IvfPqBuilder.save(model, encoded, dir)
    dir
  }

  private def shardsFor(splits: Seq[Seq[Int]]): Seq[LocalServe] =
    splits.map(cells => LocalServe.fromStore(spark, storeDir, cells))

  test("router over 2 and 3 cell-disjoint shards matches the single " +
      "box bit-exactly across queries, k, nprobe") {
    val single = LocalServe.fromStore(spark, storeDir)
    val allCells = single.cells
    val byParity = Seq(allCells.filter(_ % 2 == 0), allCells.filter(_ % 2 == 1))
    val byThirds = allCells.grouped((allCells.size + 2) / 3).toSeq
    for (split <- Seq(byParity, byThirds)) {
      val router = ServeRouter(model, shardsFor(split))
      assert(router.numShards === split.length)
      for {
        qid <- Seq(0L, 63L, 127L, 191L)
        (k, nprobe) <- Seq((5, 1), (10, 3), (7, 6))
      } {
        val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
        assert(router.query(q, k, nprobe).toSeq ===
          single.query(q, k, nprobe).toSeq,
          s"router mismatch at qid=$qid k=$k nprobe=$nprobe " +
            s"shards=${split.length}")
      }
    }
  }

  test("overlapping shards are refused at assembly; a probe into an " +
      "unheld cell is refused at query time") {
    val single = LocalServe.fromStore(spark, storeDir)
    val cells = single.cells
    val overlapping =
      shardsFor(Seq(cells.take(4), cells.drop(3))) // cell shared
    val ex = intercept[IllegalArgumentException] {
      ServeRouter(model, overlapping)
    }
    assert(ex.getMessage.contains("more than one shard"))
    // a fleet missing one cell refuses a full-probe query
    val partial = ServeRouter(model, shardsFor(Seq(cells.dropRight(1))))
    val q = data.head._2.map(_.toDouble).toArray
    val ex2 = intercept[IllegalArgumentException] {
      partial.query(q, 5, nprobe = config.numPartitions)
    }
    assert(ex2.getMessage.contains("owned by no shard"))
  }

  test("a single-shard router is exactly the single box") {
    val single = LocalServe.fromStore(spark, storeDir)
    val router = ServeRouter(model, Seq(single))
    val q = data.find(_._1 == 63L).get._2.map(_.toDouble).toArray
    assert(router.query(q, 10, 4).toSeq === single.query(q, 10, 4).toSeq)
  }

  test("filtered fleet: ServeRouter.queryFiltered over attr-pinned " +
      "shards matches the single filtered box bit-exactly; a fleet " +
      "with an attr-less shard refuses") {
    import org.apache.spark.sql.functions._
    val (loaded, codes) = IvfPqBuilder.load(spark, storeDir)
    val withAttr = codes.withColumn("tag", pmod(col("id"), lit(3)))
    val single = LocalServe.fromCodesWithAttrs(loaded, withAttr, "tag")
    val cells = single.cells
    val shards = Seq(cells.filter(_ % 2 == 0), cells.filter(_ % 2 == 1))
      .map(cs => LocalServe.fromCodesWithAttrs(loaded,
        withAttr.where(col("partition").isin(cs: _*)), "tag"))
    val router = ServeRouter(loaded, shards)
    for (qid <- Seq(0L, 63L, 127L); (k, nprobe) <- Seq((5, 3), (10, 6))) {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(router.queryFiltered(q, k, nprobe)(_ == 1L).toSeq ===
        single.queryFiltered(q, k, nprobe)(_ == 1L).toSeq,
        s"filtered fleet mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
    val mixed = ServeRouter(loaded,
      Seq(shards(0), LocalServe.fromStore(spark, storeDir,
        cells.filter(_ % 2 == 1))))
    val ex = intercept[IllegalArgumentException] {
      mixed.queryFiltered(data.head._2.map(_.toDouble).toArray, 5, 2)(_ => true)
    }
    assert(ex.getMessage.contains("EVERY shard"))
  }

  test("SQ8 shards: ServeRouterSq8 matches the single LocalServeSq8 " +
      "bit-exactly; overlapping shards refuse") {
    import org.apache.spark.sql.functions.col
    val (sqModel, sqEnc0) = graft.index.IvfSq8.fit(df, "id", "vec", dim,
      numPartitions = 6)
    val sqEnc = sqEnc0.localCheckpoint()
    val single = LocalServeSq8.fromCodes(sqModel, sqEnc)
    val cells = single.cells
    val shards = Seq(cells.filter(_ % 2 == 0), cells.filter(_ % 2 == 1))
      .map(cs => LocalServeSq8.fromCodes(sqModel,
        sqEnc.where(col("partition").isin(cs: _*))))
    val router = ServeRouter(sqModel, shards)
    for {
      qid <- Seq(0L, 63L, 127L, 191L)
      (k, nprobe) <- Seq((5, 1), (10, 3), (7, 6))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(router.query(q, k, nprobe).toSeq ===
        single.query(q, k, nprobe).toSeq,
        s"SQ8 router mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
    val ex = intercept[IllegalArgumentException] {
      ServeRouter(sqModel, Seq(single, shards(0)))
    }
    assert(ex.getMessage.contains("more than one shard"))
  }

  test("RQ shards: ServeRouterRq's two-phase merge (global level-1 cut " +
      "then refined order) matches the single LocalServeRq bit-exactly " +
      "across kFactor") {
    import org.apache.spark.sql.functions.col
    import graft.index.Rq
    val (rq, enc2raw) = Rq.fitRefine(encoded, model,
      numDivisions2 = 8, numCodes2 = 8, trainPointsPerCentroid = 0)
    val enc2 = enc2raw.localCheckpoint()
    val single = LocalServeRq.fromCodes(rq, enc2)
    val cells = single.cells
    val shards = Seq(cells.filter(_ % 2 == 0), cells.filter(_ % 2 == 1))
      .map(cs => LocalServeRq.fromCodes(rq,
        enc2.where(col("partition").isin(cs: _*))))
    val router = ServeRouterRq(rq, shards)
    for {
      qid <- Seq(0L, 63L, 127L, 191L)
      (k, nprobe, kf) <- Seq((5, 2, 1), (10, 3, 4), (7, 6, 2))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(router.query(q, k, nprobe, kf).toSeq ===
        single.query(q, k, nprobe, kf).toSeq,
        s"RQ router mismatch at qid=$qid k=$k nprobe=$nprobe kf=$kf")
    }
  }

  test("Hamming shards: ServeRouterHamming matches the single box for " +
      "raw top-k AND the two-phase rerank; id overlap refuses") {
    import graft.index.BinaryQuant
    val thr = BinaryQuant.fitThresholds(df, "vec")
    val single = LocalServeHamming.fromVectors(df, "vec", "id", dim,
      thresholds = thr, pinFloats = true)
    val shards = Seq(
      df.where(org.apache.spark.sql.functions.col("id") % 2 === 0),
      df.where(org.apache.spark.sql.functions.col("id") % 2 === 1))
      .map(part => LocalServeHamming.fromVectors(part, "vec", "id", dim,
        thresholds = thr, pinFloats = true))
    val router = ServeRouterHamming(shards)
    for (qid <- Seq(0L, 63L, 127L); k <- Seq(5, 12)) {
      val q = data.find(_._1 == qid).get._2.toArray
      assert(router.query(q, k).toSeq === single.query(q, k).toSeq,
        s"hamming router mismatch at qid=$qid k=$k")
      assert(router.queryRerank(q, k, kFactor = 3).toSeq ===
        single.queryRerank(q, k, kFactor = 3).toSeq,
        s"hamming rerank router mismatch at qid=$qid k=$k")
    }
    val ex = intercept[IllegalArgumentException] {
      ServeRouterHamming(Seq(single, shards(0)))
    }
    assert(ex.getMessage.contains("more than one shard"))
  }

  test("lazy SQ8 + RQ fleets: ServeRouterSq8Lazy and ServeRouterRqLazy " +
      "match their single boxes bit-exactly, pinning only routed cells") {
    // SQ8 lazy fleet
    val (sqModel, sqEnc0) = graft.index.IvfSq8.fit(df, "id", "vec", dim,
      numPartitions = 6)
    val sqEnc = sqEnc0.localCheckpoint()
    val sqDir = java.nio.file.Files.createTempDirectory("sq8_fleet").toString
    graft.index.IvfSq8.save(sqModel, sqEnc, sqDir)
    val sqSingle = LocalServeSq8.fromCodes(sqModel, sqEnc)
    val sqShards = (0 until 2).map(_ =>
      LocalServeSq8Lazy.fromStore(spark, sqDir))
    val sqRouter = ServeRouter(sqModel, sqShards, _ % 2)
    for (qid <- Seq(0L, 63L, 127L); (k, nprobe) <- Seq((5, 2), (10, 6))) {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(sqRouter.query(q, k, nprobe).toSeq ===
        sqSingle.query(q, k, nprobe).toSeq,
        s"lazy SQ8 fleet mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
    assert(sqShards(0).cells.forall(_ % 2 == 0))
    assert(sqShards(1).cells.forall(_ % 2 == 1))
    // RQ lazy fleet (two-phase merge over lazily-pinned shards)
    import graft.index.Rq
    val (rq, enc2raw) = Rq.fitRefine(encoded, model,
      numDivisions2 = 8, numCodes2 = 8, trainPointsPerCentroid = 0)
    val enc2 = enc2raw.localCheckpoint()
    val rqSingle = LocalServeRq.fromCodes(rq, enc2)
    val rqShards = (0 until 2).map(_ =>
      LocalServeRqLazy.fromCodes(rq, enc2))
    val rqRouter = ServeRouterRq(rq, rqShards, _ % 2)
    for {
      qid <- Seq(0L, 63L, 127L)
      (k, nprobe, kf) <- Seq((5, 2, 1), (10, 3, 4), (7, 6, 2))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(rqRouter.query(q, k, nprobe, kf).toSeq ===
        rqSingle.query(q, k, nprobe, kf).toSeq,
        s"lazy RQ fleet mismatch at qid=$qid k=$k nprobe=$nprobe kf=$kf")
    }
    assert(rqShards(0).cells.forall(_ % 2 == 0))
    assert(rqShards(1).cells.forall(_ % 2 == 1))
  }

  test("OPQ shards: a router over fromOpqStore shards matches the " +
      "single OPQ box bit-exactly (rotation rides inside each shard)") {
    import graft.index.OpqBuilder
    val (opqModel, opqEncoded) =
      OpqBuilder.fit(df, "id", "vec", dim, config, opqIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("opq_router").toString
    OpqBuilder.save(opqModel, opqEncoded, dir)
    val single = LocalServe.fromOpqStore(spark, dir)
    val cells = single.cells
    val shards = Seq(cells.filter(_ % 2 == 0), cells.filter(_ % 2 == 1))
      .map(cs => LocalServe.fromOpqStore(spark, dir, cs))
    val router = ServeRouter(opqModel.ivf, shards)
    for (qid <- Seq(0L, 63L, 127L); (k, nprobe) <- Seq((5, 2), (10, 6))) {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(router.query(q, k, nprobe).toSeq ===
        single.query(q, k, nprobe).toSeq,
        s"OPQ router mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
  }

  test("ServeRouterLazy: a lazy fleet under a static cell%N assignment " +
      "matches the single box bit-exactly, each shard pins only the " +
      "cells routed to it, and per-shard caps hold") {
    val single = LocalServe.fromStore(spark, storeDir)
    val shards = (0 until 2).map(_ =>
      LocalServeLazy.fromStore(spark, storeDir))
    val router = ServeRouter(model, shards, _ % 2)
    for {
      qid <- Seq(0L, 63L, 127L, 191L)
      (k, nprobe) <- Seq((5, 1), (10, 3), (7, 6))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(router.query(q, k, nprobe).toSeq ===
        single.query(q, k, nprobe).toSeq,
        s"lazy fleet mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
    // residency discipline: every pinned cell sits on its assigned shard
    assert(shards(0).cells.forall(_ % 2 == 0))
    assert(shards(1).cells.forall(_ % 2 == 1))
    assert((shards(0).cells ++ shards(1).cells).nonEmpty)
    // capped lazy shards still answer correctly (eviction under the hood)
    val capped = (0 until 2).map(_ =>
      LocalServeLazy.fromStore(spark, storeDir, maxResidentCells = 2))
    val cappedRouter = ServeRouter(model, capped, _ % 2)
    for (qid <- Seq(0L, 63L, 127L, 191L, 0L)) {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(cappedRouter.query(q, 5, 2).toSeq ===
        single.query(q, 5, 2).toSeq)
      assert(capped(0).cells.size <= 2 && capped(1).cells.size <= 2)
    }
    // out-of-range assignment refuses loudly: one shard, %2 assignment
    // routes every odd probed cell out of range at full nprobe
    val underProvisioned = ServeRouter(model, Seq(shards(0)), _ % 2)
    val ex = intercept[IllegalArgumentException] {
      underProvisioned.query(data.head._2.map(_.toDouble).toArray, 5,
        config.numPartitions)
    }
    assert(ex.getMessage.contains("owned by no shard"))

    // FILTERED lazy fleet: attr-pinned lazy shards match the single
    // filtered box; an attr-less fleet refuses
    import org.apache.spark.sql.functions._
    val (loaded, codes) = graft.index.IvfPqBuilder.load(spark, storeDir)
    val withAttr = codes.withColumn("tag", pmod(col("id"), lit(3)))
    val singleF = LocalServe.fromCodesWithAttrs(loaded, withAttr, "tag")
    val lazyShards = (0 until 2).map(_ =>
      LocalServeLazy.fromCodesWithAttrs(loaded, withAttr, "tag"))
    val fRouter = ServeRouter(loaded, lazyShards, _ % 2)
    for (qid <- Seq(0L, 63L, 127L); (k, nprobe) <- Seq((5, 3), (10, 6))) {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(fRouter.queryFiltered(q, k, nprobe)(_ == 1L).toSeq ===
        singleF.queryFiltered(q, k, nprobe)(_ == 1L).toSeq,
        s"lazy filtered fleet mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
    val exF = intercept[IllegalArgumentException] {
      router.queryFiltered(data.head._2.map(_.toDouble).toArray, 5, 2)(_ => true)
    }
    assert(exF.getMessage.contains("EVERY shard"))
  }

  test("the one merge is split-invariant: random 1-4 shard splits under " +
      "both ownership kinds answer bit-identically to the single box " +
      "(PQ, SQ8, RQ)") {
    import org.scalacheck.{Gen, Prop, Test => SchkTest}
    import org.scalacheck.Prop.propBoolean
    // every codec's cells load once; each sample re-splits them in memory
    val (loaded, codes) = IvfPqBuilder.load(spark, storeDir)
    val pq = LocalServe.loadCells(loaded, codes, Seq.empty)
    val (sqModel, sqEnc) = graft.index.IvfSq8.fit(df, "id", "vec", dim,
      numPartitions = config.numPartitions)
    val sq = LocalServeSq8.loadCells(sqModel, sqEnc, Seq.empty)
    val (rq, enc2) = graft.index.Rq.fitRefine(encoded, model,
      numDivisions2 = 8, numCodes2 = 8, trainPointsPerCentroid = 0)
    val rqc = LocalServeRq.loadCells(rq, enc2, Seq.empty)
    val pqSingle = new LocalServe(loaded, pq, None)
    val sqSingle = new LocalServeSq8(sqModel, sq)
    val rqSingle = new LocalServeRq(rq, rqc)
    def split[C](cells: Map[Int, C], owner: Int => Int, n: Int) =
      (0 until n).map(i => cells.filter { case (c, _) => owner(c) == i })
    val gen = for {
      n <- Gen.choose(1, 4)
      owners <- Gen.listOfN(config.numPartitions, Gen.choose(0, n - 1))
      // a point anywhere in the blobs' box: far from most rows, so the
      // RQ level-1 and refined orders often disagree across cells (about
      // one sample in 40 tells the two-phase merge from a one-phase one;
      // queries on a data point almost never do)
      v <- Gen.listOfN(dim, Gen.choose(-10.0, 10.0))
      // a far query: every distance saturates to +Inf, so candidates of
      // different cells tie and only the merge's id rule orders them
      // (finite distances of different cells practically never tie)
      far <- Gen.frequency(3 -> false, 1 -> true)
      k <- Gen.choose(1, 12)
      nprobe <- Gen.choose(1, config.numPartitions)
      kFactor <- Gen.choose(1, 4)
    } yield (n, owners.toIndexedSeq, v, far, k, nprobe, kFactor)
    val prop = Prop.forAllNoShrink(gen) {
      case (n, owners, v, far, k, nprobe, kFactor) =>
        val q = (if (far) v.map(_ + 1e300) else v).toArray
        val owner: Int => Int = owners
        val pqShards = split(pq, owner, n).map(new LocalServe(loaded, _, None))
        val sqShards = split(sq, owner, n).map(new LocalServeSq8(sqModel, _))
        val rqShards = split(rqc, owner, n).map(new LocalServeRq(rq, _))
        val pqWant = pqSingle.query(q, k, nprobe).toSeq
        val sqWant = sqSingle.query(q, k, nprobe).toSeq
        val rqWant = rqSingle.query(q, k, nprobe, kFactor).toSeq
        Prop.all(
          (ServeRouter(loaded, pqShards).query(q, k, nprobe).toSeq ==
            pqWant) :| "PQ, ownership from cells",
          (ServeRouter(loaded, pqShards, owner).query(q, k, nprobe).toSeq ==
            pqWant) :| "PQ, static assignment",
          (ServeRouter(sqModel, sqShards).query(q, k, nprobe).toSeq ==
            sqWant) :| "SQ8, ownership from cells",
          (ServeRouter(sqModel, sqShards, owner).query(q, k, nprobe).toSeq ==
            sqWant) :| "SQ8, static assignment",
          (ServeRouterRq(rq, rqShards).query(q, k, nprobe, kFactor).toSeq ==
            rqWant) :| "RQ, ownership from cells",
          (ServeRouterRq(rq, rqShards, owner)
            .query(q, k, nprobe, kFactor).toSeq == rqWant) :|
            "RQ, static assignment")
    }
    val res = SchkTest.check(SchkTest.Parameters.default
      .withMinSuccessfulTests(400)
      .withInitialSeed(org.scalacheck.rng.Seed(2911L)), prop)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
}
