package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.{IvfPqBuilder, IvfPqConfig}

/** Driver-local serving parity: LocalServe.query must return EXACTLY
  * what AnnQuery.topK returns on the same store — same ids, same
  * partitions, bit-identical sq_dist, same (sq_dist, id) ordering —
  * across queries, k, and nprobe. */
class LocalServeSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16
  private val config =
    IvfPqConfig(numPartitions = 4, numDivisions = 4, numCodes = 16,
      maxIter = 20)

  private lazy val data: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(11)
    val blobs = Seq.tabulate(4)(_ => Array.fill(dim)(rnd.nextDouble() * 20 - 10))
    for {
      (blob, b) <- blobs.zipWithIndex
      seed <- 0 until 10
      seedVec = blob.map(v => v + rnd.nextGaussian() * 0.8)
      clone <- 0 until 5
    } yield (((b * 10 + seed) * 5 + clone).toLong,
      seedVec.map(v => (v + rnd.nextGaussian() * 0.02).toFloat).toSeq)
  }

  private lazy val df = data.toDF("id", "vec")
  private lazy val (model, encoded) =
    IvfPqBuilder.fit(df, "id", "vec", dim, config)
  private lazy val storeDir = {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_serve").toString
    IvfPqBuilder.save(model, encoded, dir)
    dir
  }

  test("parity with AnnQuery.topK across queries, k, nprobe") {
    val (loaded, codes) = IvfPqBuilder.load(spark, storeDir)
    val serve = LocalServe.fromStore(spark, storeDir)
    assert(serve.size === data.length)
    for {
      qid <- Seq(0L, 57L, 123L, 199L)
      (k, nprobe) <- Seq((5, 1), (10, 2), (7, 4))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      val cluster = AnnQuery.topK(codes, loaded, q, k, nprobe)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val local = serve.query(q, k, nprobe)
      assert(local.toSeq === cluster.toSeq,
        s"mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
  }

  test("every probe block of the table prep, nprobe = 1 to P, matches " +
      "AnnQuery.topK") {
    // P = 9 cells: nprobe 1 is the lone-probe kernel, 2-4 the repeated
    // 5-block, 5 one full block, 6-9 a block plus each tail; C = 32
    // codes fill whole code vectors in both kernels
    val cfg = IvfPqConfig(numPartitions = 9, numDivisions = 4,
      numCodes = 32, maxIter = 10)
    val (m9, enc9) = IvfPqBuilder.fit(df, "id", "vec", dim, cfg)
    val codes = enc9.select("id", "partition", "codes").localCheckpoint()
    val serve = LocalServe.fromCodes(m9, codes)
    for {
      qid <- Seq(3L, 171L)
      nprobe <- 1 to cfg.numPartitions
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      val cluster = AnnQuery.topK(codes, m9, q, 10, nprobe)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      assert(serve.query(q, 10, nprobe).toSeq === cluster.toSeq,
        s"mismatch at qid=$qid nprobe=$nprobe")
    }
  }

  test("cell-subset residency: resident probes serve, missing cells throw") {
    val serve2 = LocalServe.fromStore(spark, storeDir, cells = Seq(0, 1))
    assert(serve2.cells === Seq(0, 1))
    // a full-probe query must refuse rather than silently drop cells
    val q = data.head._2.map(_.toDouble).toArray
    val ex = intercept[IllegalArgumentException] {
      serve2.query(q, k = 5, nprobe = config.numPartitions)
    }
    assert(ex.getMessage.contains("not resident"))
  }

  test("OPQ parity: fromOpqStore matches OpqBuilder.topK bit-exactly") {
    import graft.index.OpqBuilder
    val (opqModel, opqEncoded) =
      OpqBuilder.fit(df, "id", "vec", dim, config, opqIters = 3)
    val dir = java.nio.file.Files.createTempDirectory("opq_serve").toString
    OpqBuilder.save(opqModel, opqEncoded, dir)
    val (loaded, codes) = OpqBuilder.load(spark, dir)
    val serve = LocalServe.fromOpqStore(spark, dir)
    assert(serve.size === data.length)
    for {
      qid <- Seq(0L, 57L, 123L, 199L)
      (k, nprobe) <- Seq((5, 1), (10, 2), (7, 4))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      val cluster = OpqBuilder.topK(codes, loaded, q, k, nprobe)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val local = serve.query(q, k, nprobe)
      assert(local.toSeq === cluster.toSeq,
        s"OPQ mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
  }

  test("SQ8 parity: LocalServeSq8 matches IvfSq8.topK bit-exactly") {
    import graft.index.IvfSq8
    val (sqModel, sqEncoded0) =
      IvfSq8.fit(df, "id", "vec", dim, numPartitions = 4)
    val sqEncoded = sqEncoded0.localCheckpoint()
    val serve = LocalServeSq8.fromCodes(sqModel, sqEncoded)
    assert(serve.size === data.length)
    for {
      qid <- Seq(0L, 57L, 123L, 199L)
      (k, nprobe) <- Seq((5, 1), (10, 2), (7, 4))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      val cluster = IvfSq8.topK(sqEncoded, sqModel, q, k, nprobe)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val local = serve.query(q, k, nprobe)
      assert(local.toSeq === cluster.toSeq,
        s"SQ8 mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
    // missing-cell refusal, same contract as the PQ server
    val sub = LocalServeSq8.fromCodes(sqModel,
      sqEncoded.where(org.apache.spark.sql.functions.col("partition") === 0))
    val ex = intercept[IllegalArgumentException] {
      sub.query(data.head._2.map(_.toDouble).toArray, 5, 4)
    }
    assert(ex.getMessage.contains("not resident"))
  }

  test("RQ parity: LocalServeRq matches Rq.topKRefined bit-exactly") {
    import graft.index.Rq
    val (rq, enc2raw) = Rq.fitRefine(encoded, model,
      numDivisions2 = 8, numCodes2 = 8, trainPointsPerCentroid = 0)
    val enc2 = enc2raw.localCheckpoint()
    val serve = LocalServeRq.fromCodes(rq, enc2)
    assert(serve.size === data.length)
    for {
      qid <- Seq(0L, 57L, 123L, 199L)
      (k, nprobe) <- Seq((5, 1), (10, 2), (7, 4))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      val cluster = Rq.topKRefined(enc2, rq, q, k, nprobe)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val local = serve.query(q, k, nprobe)
      assert(local.toSeq === cluster.toSeq,
        s"RQ mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
  }

  test("k larger than resident rows returns everything, ordered") {
    val serve = LocalServe.fromStore(spark, storeDir)
    val q = data.head._2.map(_.toDouble).toArray
    val all = serve.query(q, k = data.length + 50,
      nprobe = config.numPartitions)
    assert(all.length === data.length)
    assert(all.toSeq === all.sortBy(t => (t._3, t._1)).toSeq)
  }

  test("filtered warm parity: queryFiltered == AnnQuery.topK over the " +
      "pre-filtered codes, bit-exact; unpinned attrs refuse") {
    import org.apache.spark.sql.functions._
    val (loaded, codes) = IvfPqBuilder.load(spark, storeDir)
    // attribute = id % 3, pinned alongside the codes
    val withAttr = codes.withColumn("tag", pmod(col("id"), lit(3)))
    val serve = LocalServe.fromCodesWithAttrs(loaded, withAttr, "tag")
    val filtered = withAttr.where(col("tag") === 1)
      .select("id", "partition", "codes")
    for {
      qid <- Seq(0L, 57L, 123L)
      (k, nprobe) <- Seq((5, 2), (10, 4))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      val cluster = AnnQuery.topK(filtered, loaded, q, k, nprobe)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val local = serve.queryFiltered(q, k, nprobe)(_ == 1L)
      assert(local.toSeq === cluster.toSeq,
        s"filtered mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
    // a serve box without pinned attrs must refuse the filtered path
    val plain = LocalServe.fromStore(spark, storeDir)
    val ex = intercept[IllegalArgumentException] {
      plain.queryFiltered(data.head._2.map(_.toDouble).toArray, 5, 2)(_ => true)
    }
    assert(ex.getMessage.contains("fromCodesWithAttrs"))
  }

  test("Hamming warm parity: query == BinaryQuant.rankedIds and " +
      "queryRerank == rankedIdsRerank, bit-exact; floats-unpinned refuses") {
    import graft.index.BinaryQuant
    val thr = BinaryQuant.fitThresholds(df, "vec")
    val serve = LocalServeHamming.fromVectors(df, "vec", "id", dim,
      thresholds = thr, pinFloats = true)
    assert(serve.size === data.length)
    for (qid <- Seq(0L, 57L, 123L); k <- Seq(5, 12)) {
      val q = data.find(_._1 == qid).get._2.toArray
      val cluster = BinaryQuant.rankedIds(df, "vec", "id", q.toSeq, k, thr)
        .collect().map(r => (r.getLong(1), r.getLong(2)))
      assert(serve.query(q, k).toSeq === cluster.toSeq,
        s"hamming mismatch at qid=$qid k=$k")
      val clusterRr = BinaryQuant
        .rankedIdsRerank(df, "vec", "id", q.toSeq, k, kFactor = 3,
          thresholds = thr)
        .collect().map(_.getLong(1))
      assert(serve.queryRerank(q, k, kFactor = 3).map(_._1).toSeq ===
        clusterRr.toSeq, s"rerank mismatch at qid=$qid k=$k")
    }
    // sign-bit default (null thresholds) also matches
    val signServe = LocalServeHamming.fromVectors(df, "vec", "id", dim)
    val q0 = data.head._2.toArray
    val signCluster = BinaryQuant.rankedIds(df, "vec", "id", q0.toSeq, 8)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(signServe.query(q0, 8).toSeq === signCluster.toSeq)
    val ex = intercept[IllegalArgumentException] {
      signServe.queryRerank(q0, 5)
    }
    assert(ex.getMessage.contains("pinFloats"))
  }

  test("LocalServeLazy: cold-start answers are bit-identical to the " +
      "eager pin, cells pin on first probe only, and the LRU cap " +
      "evicts least-recently-probed cells") {
    val eager = LocalServe.fromStore(spark, storeDir)
    val lazySrv = LocalServeLazy.fromStore(spark, storeDir)
    assert(lazySrv.cells.isEmpty && lazySrv.coldLoads === 0L)
    for {
      qid <- Seq(0L, 57L, 123L, 199L)
      (k, nprobe) <- Seq((5, 1), (10, 2), (7, 4))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(lazySrv.query(q, k, nprobe).toSeq ===
        eager.query(q, k, nprobe).toSeq,
        s"lazy/eager mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
    // all 4 cells probed by now; re-querying loads nothing new
    assert(lazySrv.cells.size === 4)
    val loadsAfterWarm = lazySrv.coldLoads
    assert(loadsAfterWarm === 4L) // one cold load per cell, ever
    val q0 = data.find(_._1 == 0L).get._2.map(_.toDouble).toArray
    lazySrv.query(q0, 5, 4)
    assert(lazySrv.coldLoads === loadsAfterWarm)

    // capped residency: nprobe=1 queries against different blobs keep
    // at most 2 cells pinned, evicting the least-recently-probed
    val capped = LocalServeLazy.fromStore(spark, storeDir,
      maxResidentCells = 2)
    for (qid <- Seq(0L, 57L, 123L, 199L, 0L)) {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(capped.query(q, 5, 1).toSeq === eager.query(q, 5, 1).toSeq)
      assert(capped.cells.size <= 2)
    }
    // the cap must cover every probed cell of a single query
    intercept[IllegalArgumentException] {
      capped.query(q0, 5, 3)
    }
  }

  test("LocalServeLazy: OPQ store serves lazily with the same bits as " +
      "the eager OPQ pin") {
    val (opqModel, opqEncoded) = graft.index.OpqBuilder.fit(
      df, "id", "vec", dim, config, opqIters = 2)
    val dir = java.nio.file.Files.createTempDirectory("opq_lazy").toString
    graft.index.OpqBuilder.save(opqModel, opqEncoded, dir)
    val eager = LocalServe.fromOpqStore(spark, dir)
    val lazySrv = LocalServeLazy.fromOpqStore(spark, dir)
    for (qid <- Seq(0L, 123L)) {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(lazySrv.query(q, 10, 2).toSeq === eager.query(q, 10, 2).toSeq)
    }
  }

  test("LocalServeSq8Lazy: lazy IVF+SQ8 serving is bit-identical to the " +
      "eager pin, with one cold load per cell and LRU capping") {
    val (sqModel, sqEnc0) = graft.index.IvfSq8.fit(df, "id", "vec", dim,
      numPartitions = 4)
    val sqEnc = sqEnc0.localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("ivfsq8_lazy").toString
    graft.index.IvfSq8.save(sqModel, sqEnc, dir)
    val eager = LocalServeSq8.fromCodes(sqModel, sqEnc)
    val lazySrv = LocalServeSq8Lazy.fromStore(spark, dir)
    assert(lazySrv.cells.isEmpty)
    for {
      qid <- Seq(0L, 57L, 123L, 199L)
      (k, nprobe) <- Seq((5, 1), (10, 2), (7, 4))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(lazySrv.query(q, k, nprobe).toSeq ===
        eager.query(q, k, nprobe).toSeq,
        s"sq8 lazy/eager mismatch at qid=$qid k=$k nprobe=$nprobe")
    }
    assert(lazySrv.coldLoads === 4L) // once per cell, ever
    val capped = LocalServeSq8Lazy.fromStore(spark, dir,
      maxResidentCells = 2)
    for (qid <- Seq(0L, 57L, 123L, 199L)) {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(capped.query(q, 5, 1).toSeq === eager.query(q, 5, 1).toSeq)
      assert(capped.cells.size <= 2)
    }
  }

  test("LocalServeLazy: bytes cap evicts down to the cap and reports " +
      "residentBytes; evicted cells reload on re-probe with the same " +
      "bits") {
    val eager = LocalServe.fromStore(spark, storeDir)
    // each cell holds 50 vectors → 50·(8 + 4·4) = 1200 B; cap at two
    // cells' worth so a third probe evicts the least-recently-probed
    val capped = LocalServeLazy.fromStore(spark, storeDir,
      maxResidentBytes = 2400L)
    for (qid <- Seq(0L, 57L, 123L, 199L, 0L)) {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(capped.query(q, 5, 1).toSeq === eager.query(q, 5, 1).toSeq)
      assert(capped.residentBytes <= 2400L,
        s"resident ${capped.residentBytes} B exceeds the 2400 B cap")
      assert(capped.cells.size <= 2)
    }
    assert(capped.coldLoads > 4L, "the cap must have forced reloads")
  }

  test("LocalServeLazy: a probed cell with zero live rows pins as an " +
      "EMPTY resident and the answer matches the cluster path") {
    import org.apache.spark.sql.functions.col
    // fresh store; tombstone EVERY vector of one cell — the pruned scan
    // then yields no rows for it, exactly an empty k-means cell's shape
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_empty").toString
    IvfPqBuilder.save(model, encoded, dir)
    val cellOf = encoded.select(col("partition").cast("int")).head.getInt(0)
    val deadIds = encoded.where(col("partition") === cellOf).select("id")
    IvfPqBuilder.deleteFromStore(dir, deadIds, "id")
    val (loaded, codes) = IvfPqBuilder.load(spark, dir)
    val lazySrv = LocalServeLazy.fromStore(spark, dir)
    // query vectors FROM the dead cell probe it first at nprobe=all
    val qid = encoded.where(col("partition") === cellOf)
      .select("id").head.getLong(0)
    val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
    val cluster = AnnQuery.topK(codes, loaded, q, 10, config.numPartitions)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    assert(lazySrv.query(q, 10, config.numPartitions).toSeq ===
      cluster.toSeq, "empty-cell probe must match the cluster answer")
    assert(lazySrv.cells.contains(cellOf),
      "the empty cell pins as a resident (zero candidates, no reload)")
    val loads = lazySrv.coldLoads
    lazySrv.query(q, 10, config.numPartitions)
    assert(lazySrv.coldLoads === loads, "empty residents are warm")
  }

  test("LocalServeLazy.fromCodesWithAttrs: lazy FILTERED serving is " +
      "bit-identical to the eager filtered pin and the pre-filtered " +
      "cluster query") {
    import org.apache.spark.sql.functions._
    val (loaded, codes) = IvfPqBuilder.load(spark, storeDir)
    val withAttr = codes.withColumn("tag", pmod(col("id"), lit(3)))
    val eager = LocalServe.fromCodesWithAttrs(loaded, withAttr, "tag")
    val lazySrv = LocalServeLazy.fromCodesWithAttrs(loaded, withAttr, "tag")
    val filtered = withAttr.where(col("tag") === 1)
      .select("id", "partition", "codes")
    for {
      qid <- Seq(0L, 57L, 123L)
      (k, nprobe) <- Seq((5, 2), (10, 4))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      val cluster = AnnQuery.topK(filtered, loaded, q, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val lz = lazySrv.queryFiltered(q, k, nprobe)(_ == 1L)
      assert(lz.toSeq === cluster.toSeq,
        s"lazy filtered vs cluster mismatch at qid=$qid k=$k nprobe=$nprobe")
      assert(lz.toSeq === eager.queryFiltered(q, k, nprobe)(_ == 1L).toSeq)
    }
    // plain query works on the same lazily-pinned cells too
    val q0 = data.head._2.map(_.toDouble).toArray
    assert(lazySrv.query(q0, 10, 4).toSeq ===
      LocalServe.fromStore(spark, storeDir).query(q0, 10, 4).toSeq)
    // a store-opened (attr-less) lazy box refuses the filtered path
    val plain = LocalServeLazy.fromStore(spark, storeDir)
    val ex = intercept[IllegalArgumentException] {
      plain.queryFiltered(q0, 5, 2)(_ => true)
    }
    assert(ex.getMessage.contains("fromCodesWithAttrs"))
  }

  test("LocalServeRqLazy: lazy two-level RQ serving is bit-identical " +
      "to the eager pin and Rq.topKRefined, with LRU capping") {
    import graft.index.Rq
    val (rq, enc2raw) = Rq.fitRefine(encoded, model,
      numDivisions2 = 8, numCodes2 = 8, trainPointsPerCentroid = 0)
    val enc2 = enc2raw.localCheckpoint()
    val dir = java.nio.file.Files.createTempDirectory("rq_lazy").toString
    Rq.save(rq, enc2, dir)
    val eager = LocalServeRq.fromCodes(rq, enc2)
    val lazySrv = LocalServeRqLazy.fromStore(spark, dir)
    assert(lazySrv.cells.isEmpty)
    for {
      qid <- Seq(0L, 57L, 123L, 199L)
      (k, nprobe) <- Seq((5, 1), (10, 2), (7, 4))
    } {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      val cluster = Rq.topKRefined(enc2, rq, q, k, nprobe)
        .collect().map(r => (r.getLong(0), r.getDouble(1)))
      val lz = lazySrv.query(q, k, nprobe)
      assert(lz.toSeq === cluster.toSeq,
        s"lazy RQ vs cluster mismatch at qid=$qid k=$k nprobe=$nprobe")
      assert(lz.toSeq === eager.query(q, k, nprobe).toSeq)
    }
    assert(lazySrv.coldLoads === 4L) // once per cell, ever
    val capped = LocalServeRqLazy.fromStore(spark, dir,
      maxResidentCells = 2)
    for (qid <- Seq(0L, 57L, 123L, 199L)) {
      val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
      assert(capped.query(q, 5, 1).toSeq === eager.query(q, 5, 1).toSeq)
      assert(capped.cells.size <= 2)
    }
  }

  test("LocalServeHamming.fromStore: serving straight off the signature " +
      "store (no float corpus) matches the vector-packed pin, " +
      "tombstones honored") {
    import org.apache.spark.sql.functions.{col, not}
    val thr = graft.index.BinaryQuant.fitThresholds(df, "vec")
    val dir = java.nio.file.Files.createTempDirectory("ham_store").toString
    graft.index.BinaryQuant.save(thr, df, "id", "vec", dir)
    graft.index.BinaryQuant.deleteFromStore(dir,
      spark.range(2).select((col("id") + 7L).as("id")), "id")
    val fromVecs = LocalServeHamming.fromVectors(
      df.where(not(col("id").isin(7L, 8L))), "vec", "id", dim, thr)
    val fromStore = LocalServeHamming.fromStore(spark, dir)
    assert(fromStore.size === data.length - 2)
    for (qid <- Seq(0L, 57L, 123L)) {
      val q = data.find(_._1 == qid).get._2.toArray
      assert(fromStore.query(q, 8).toSeq === fromVecs.query(q, 8).toSeq)
    }
  }

  test("a cell buffer is sized in Long: one too large for a JVM array " +
      "fails loudly with its cell, rows and width") {
    // 1,400,000 rows × 1536 bytes = 2,150,400,000 > Int.MaxValue — the
    // size a 1536-d SQ8 cell reaches; checked without allocating
    val ex = intercept[IllegalArgumentException] {
      LocalServe.flatLength(cell = 7, rows = 1400000, width = 1536)
    }
    assert(ex.getMessage.contains("cell 7: 1400000 rows × 1536"))
    assert(ex.getMessage.contains("2150400000"))
    assert(LocalServe.flatLength(cell = 7, rows = 1000000, width = 1536) ===
      1536000000)
    assert(LocalServe.flatLength(cell = 0, rows = 0, width = 1536) === 0)
  }
}
