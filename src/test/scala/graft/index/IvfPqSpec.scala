package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.query.{AnnQuery, ExactKnn}

/** IVF+PQ build/query invariants on a synthetic clustered dataset —
  * mirrors the reference's build pipeline semantics (ids → partition →
  * divide → quantize) without asserting seed-dependent cluster ids. */
class IvfPqSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16
  private val config =
    IvfPqConfig(numPartitions = 4, numDivisions = 4, numCodes = 16, maxIter = 20)

  // 4 well-separated macro blobs (IVF structure) × 10 seeds × 5 near-clones
  // (k-NN structure: each point's true neighbors are its clone group,
  // clearly separated from everything else) — ids 0..49 are blob 0, etc.
  private lazy val data: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(7)
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
  private lazy val (model, encoded) = IvfPqBuilder.fit(df, "id", "vec", dim, config)

  test("model shapes match config (reference db/stored.rs:659-722 invariants)") {
    assert(model.partitionCentroids.length === config.numPartitions)
    assert(model.partitionCentroids.forall(_.length === dim))
    assert(model.codebooks.length === config.numDivisions)
    assert(model.codebooks.forall(_.length === config.numCodes))
    assert(model.codebooks.forall(_.forall(_.length === model.subDim)))
  }

  test("encoded table: every vector, partition and codes in range") {
    val rows = encoded.collect()
    assert(rows.length === data.length)
    assert(rows.forall { r =>
      val p = r.getAs[Int]("partition")
      p >= 0 && p < config.numPartitions
    })
    assert(rows.forall { r =>
      val codes = r.getSeq[Int](r.fieldIndex("codes"))
      codes.length == config.numDivisions &&
        codes.forall(c => c >= 0 && c < config.numCodes)
    })
  }

  test("residual + centroid reconstructs the original vector") {
    val centroids = model.partitionCentroids
    val byId = data.toMap
    encoded.select("id", "partition", "residual").collect().foreach { r =>
      val orig = byId(r.getLong(0))
      val c = centroids(r.getInt(1))
      val res = r.getSeq[Float](2)
      orig.indices.foreach { i =>
        assert(math.abs(res(i) + c(i) - orig(i)) < 1e-5)
      }
    }
  }

  test("well-separated blobs: same-blob points land in the same IVF cell") {
    val cells = encoded.select("id", "partition").collect()
      .groupBy(r => r.getLong(0) / 50).view
      .mapValues(_.map(_.getInt(1)).toSet).toMap
    // each blob maps to exactly one cell, and distinct blobs to distinct cells
    assert(cells.values.forall(_.size === 1))
    assert(cells.values.flatten.toSet.size === 4)
  }

  test("ann query recovers the planted neighbor group (recall vs exact)") {
    // query = clone 0 of seed 0: true top-5 is its clone group (ids 0..4)
    val q = data.head._2.map(_.toDouble).toArray
    val approx = AnnQuery.topK(encoded, model, q, k = 5, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    val exact = ExactKnn.topK(df, "vec", "id", data.head._2, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(exact.toSet === Set(0L, 1L, 2L, 3L, 4L))
    assert(AnnQuery.recallAtK(approx, exact) >= 0.8,
      s"recall too low: approx=$approx exact=$exact")
  }

  test("topKCosine: unit-sphere reduction matches exact cosine ranking") {
    // index fit over NORMALIZED vectors; query raw — topKCosine
    // normalizes it driver-side. On the sphere the L2 ranking IS the
    // cosine ranking, so the planted clone group must surface.
    val unit = graft.pipeline.Embeddings.l2Normalized(
      df.withColumnRenamed("vec", "embedding"), "embedding")
      .withColumnRenamed("embedding", "vec")
    val (cm, cEncoded) = IvfPqBuilder.fit(unit, "id", "vec", dim, config)
    val q = data.head._2.map(_.toDouble).toArray
    val hits = AnnQuery.topKCosine(cEncoded, cm, q, k = 5, nprobe = 4)
      .collect()
    assert(hits.length === 5)
    // cosine descends (the L2-ascending scan, sign-flipped)
    val cos = hits.map(_.getAs[Double]("cos_approx")).toSeq
    assert(cos === cos.sorted.reverse)
    val exact = ExactKnn.rankedIdsCosine(
        df.withColumnRenamed("vec", "embedding"), "embedding", "id",
        data.head._2, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(AnnQuery.recallAtK(hits.map(_.getLong(0)).toSeq, exact) >= 0.8)
    // approximate cosine of the self-match is near 1
    assert(cos.head > 0.95)
  }

  test("MIPS via augmentation: L2 scan on augmented vectors ranks by IP") {
    val (aug, m) = graft.pipeline.Embeddings.mipsAugmented(df, "vec")
    // every augmented vector lands on the radius-M sphere (f32 rounding)
    val norms = aug.select("vec").collect()
      .map(_.getSeq[Float](0).map(x => x.toDouble * x).sum)
    norms.foreach(n2 => assert(math.abs(math.sqrt(n2) - m) < 1e-3 * m))
    // dim 17 is prime: 17 one-dim subquantizers
    val (mm, enc) = IvfPqBuilder.fit(aug, "id", "vec", dim + 1,
      IvfPqConfig(numPartitions = 4, numDivisions = 17, numCodes = 16,
        maxIter = 20))
    val q = data.head._2.map(_.toDouble).toArray :+ 0.0
    val approx = AnnQuery.topK(enc, mm, q, k = 5, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    val exact = ExactKnn.rankedIdsIp(df, "vec", "id", data.head._2, 5)
      .collect().map(_.getLong(0)).toSeq
    assert(AnnQuery.recallAtK(approx, exact) >= 0.6,
      s"MIPS recall too low: approx=$approx exact=$exact")
  }

  test("ann query distances ascend and rows come from probed cells only") {
    val q = data(1)._2.map(_.toDouble).toArray
    val probes = AnnQuery.selectPartitions(model, q, 2).map(_._1).toSet
    val rows = AnnQuery.topK(encoded, model, q, k = 20, nprobe = 2).collect()
    val dists = rows.map(_.getAs[Double]("sq_dist")).toSeq
    assert(dists == dists.sorted)
    assert(rows.forall(r => probes.contains(r.getAs[Int]("partition"))))
  }

  test("batch ANN equals per-query ANN for every query") {
    val qs = Seq(0L, 7L, 55L).map(i => i -> data(i.toInt)._2.map(_.toDouble).toArray)
    val batch = AnnQuery.batchTopK(encoded, model, qs, k = 5, nprobe = 2)
      .collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(3)).map(_.getLong(1)).toSeq).toMap
    qs.foreach { case (qid, q) =>
      val single = AnnQuery.topK(encoded, model, q, k = 5, nprobe = 2)
        .collect().map(_.getLong(0)).toSeq
      assert(batch(qid) === single, s"query $qid")
    }
  }

  test("batchTopKDirect: parity with batchTopK; plan needs NO broadcast") {
    val qids = Seq(0L, 7L, 55L)
    val queries = qids.map(i => i -> data(i.toInt)._2).toDF("qid", "qvec")
    val qs = qids.map(i => i -> data(i.toInt)._2.map(_.toDouble).toArray)
    // the scale contract: with auto-broadcast disabled the table-free plan
    // still executes (shuffle join on the cell id) and its FINAL adaptive
    // plan carries no BroadcastExchange — probe planning never produces a
    // driver-resident relation, unlike batchTopK's broadcast ADC tables
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val direct = AnnQuery
        .batchTopKDirect(encoded, model, queries, "qid", "qvec", k = 5, nprobe = 2)
      val got = direct.collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.sortBy(_.getLong(3))
          .map(r => r.getLong(1) -> r.getDouble(2)).toSeq).toMap
      assert(!direct.queryExecution.executedPlan.toString
        .contains("BroadcastExchange"))
      val planned = AnnQuery.batchTopK(encoded, model, qs, k = 5, nprobe = 2)
        .collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.sortBy(_.getLong(3))
          .map(r => r.getLong(1) -> r.getDouble(2)).toSeq).toMap
      qids.foreach { qid =>
        assert(got(qid).map(_._1) === planned(qid).map(_._1), s"ids, query $qid")
        got(qid).zip(planned(qid)).foreach { case ((_, d1), (_, d2)) =>
          assert(math.abs(d1 - d2) <= 1e-9 * math.max(1.0, d2), s"dist, q $qid")
        }
      }
      // pruneCells: the selective-batch variant (static partition IN
      // filter from the ≤ P distinct probe cells) returns the same hits
      val pruned = AnnQuery
        .batchTopKDirect(encoded, model, queries, "qid", "qvec", k = 5,
          nprobe = 2, pruneCells = true)
        .collect()
        .groupBy(_.getLong(0)).view
        .mapValues(_.sortBy(_.getLong(3))
          .map(r => r.getLong(1) -> r.getDouble(2)).toSeq).toMap
      qids.foreach(qid => assert(pruned(qid) === got(qid), s"pruned, q $qid"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("batchTopKAdc: parity with batchTopK; no broadcast, tables in-plan") {
    val qids = Seq(0L, 7L, 55L)
    val queries = qids.map(i => i -> data(i.toInt)._2).toDF("qid", "qvec")
    val qs = qids.map(i => i -> data(i.toInt)._2.map(_.toDouble).toArray)
    def collectHits(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0)).view
        .mapValues(_.sortBy(_.getLong(3))
          .map(r => r.getLong(1) -> r.getDouble(2)).toSeq).toMap
    val adc = AnnQuery.batchTopKAdc(encoded, model, queries,
      "qid", "qvec", k = 5, nprobe = 2)
    val got = collectHits(adc)
    // the high-throughput contract: nothing query-scaled is ever
    // broadcast — the shuffled-hash join streams the table rows
    assert(!adc.queryExecution.executedPlan.toString
      .contains("BroadcastExchange"))
    val planned = collectHits(
      AnnQuery.batchTopK(encoded, model, qs, k = 5, nprobe = 2))
    qids.foreach { qid =>
      assert(got(qid).map(_._1) === planned(qid).map(_._1), s"ids, q $qid")
      got(qid).zip(planned(qid)).foreach { case ((_, d1), (_, d2)) =>
        assert(math.abs(d1 - d2) <= 1e-9 * math.max(1.0, d2), s"dist, q $qid")
      }
    }
    val pruned = collectHits(AnnQuery.batchTopKAdc(encoded, model, queries,
      "qid", "qvec", k = 5, nprobe = 2, pruneCells = true))
    qids.foreach(qid => assert(pruned(qid) === got(qid), s"pruned, q $qid"))
  }

  test("rerank returns exact distances and never loses recall vs raw ADC") {
    val qf = data.head._2
    val q = qf.map(_.toDouble).toArray
    val exact = ExactKnn.topK(df, "vec", "id", qf, 5).collect()
    val exactIds = exact.map(_.getLong(0)).toSeq
    val exactDists = exact.map(_.getAs[Double]("sq_dist")).toSeq
    val rr = AnnQuery.topKRerank(encoded, df, "vec", "id", model, q,
      k = 5, nprobe = 4, kFactor = 4).collect()
    val rrIds = rr.map(_.getLong(0)).toSeq
    val rrDists = rr.map(_.getAs[Double]("sq_dist")).toSeq
    // exact distances: each reported (id, dist) matches the brute-force
    // value for that id wherever the id sets overlap
    rrIds.zip(rrDists).foreach { case (id, d) =>
      val i = exactIds.indexOf(id)
      if (i >= 0) assert(math.abs(d - exactDists(i)) < 1e-9, s"id $id")
    }
    assert(rrDists == rrDists.sorted)
    val adcIds = AnnQuery.topK(encoded, model, q, k = 5, nprobe = 4)
      .collect().map(_.getLong(0)).toSeq
    assert(AnnQuery.recallAtK(rrIds, exactIds)
      >= AnnQuery.recallAtK(adcIds, exactIds))
    // on this well-separated fixture the refined result IS the exact one
    assert(rrIds === exactIds)
  }

  test("batch rerank equals per-query rerank for every query") {
    val qs = Seq(0L, 7L, 55L).map(i => i -> data(i.toInt)._2.map(_.toDouble).toArray)
    val batch = AnnQuery.batchTopKRerank(encoded, df, "vec", "id", model, qs,
      k = 5, nprobe = 2).collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getLong(3)).map(_.getLong(1)).toSeq).toMap
    qs.foreach { case (qid, q) =>
      val single = AnnQuery.topKRerank(encoded, df, "vec", "id", model, q,
        k = 5, nprobe = 2).collect().map(_.getLong(0)).toSeq
      assert(batch(qid) === single, s"query $qid")
    }
  }

  test("selectPartitions validates nprobe (reference db/stored.rs:403-409)") {
    intercept[IllegalArgumentException] {
      AnnQuery.selectPartitions(model, new Array[Double](dim), 0)
    }
    intercept[IllegalArgumentException] {
      AnnQuery.selectPartitions(model, new Array[Double](dim),
        config.numPartitions + 1)
    }
  }

  test("fit rejects indivisible dim (reference vector.rs:162-168)") {
    intercept[IllegalArgumentException] {
      IvfPqBuilder.fit(df, "id", "vec", dim, config.copy(numDivisions = 5))
    }
  }

  test("deleteFromStore: tombstoned ids vanish from load; idempotent") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_del").toString
    IvfPqBuilder.save(model, encoded, dir)
    val victims = Seq(0L, 7L, 13L).toDF("id")
    IvfPqBuilder.deleteFromStore(dir, victims, "id")
    IvfPqBuilder.deleteFromStore(dir, victims, "id") // duplicate tombstones
    val (loaded, codes) = IvfPqBuilder.load(spark, dir)
    assert(codes.count() === data.length - 3)
    assert(codes.where(org.apache.spark.sql.functions.col("id")
      .isin(0L, 7L, 13L)).count() === 0)
    // stored query over survivors equals in-memory query over survivors
    val q = data.head._2.map(_.toDouble).toArray
    val live = encoded.join(victims, Seq("id"), "left_anti")
    val fromStored = AnnQuery.topK(codes, loaded, q, 5, 4)
      .collect().map(_.getLong(0)).toSeq
    val fromMem = AnnQuery.topK(live, model, q, 5, 4)
      .collect().map(_.getLong(0)).toSeq
    assert(fromStored === fromMem)
    assert(!fromStored.contains(0L))
  }

  test("query events: a stored query logs select-partitions / " +
      "build-adc-tables / scan / merge, in order (db/stored.rs:513-532)") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_qlog").toString
    IvfPqBuilder.save(model, encoded, dir)
    val (loaded, codes) = IvfPqBuilder.load(spark, dir)
    val events = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = data.head._2.map(_.toDouble).toArray
    val res = AnnQuery.topK(codes, loaded, q, 5, 2, events += _)
    assert(res.count() === 5)
    assert(events.map(_.split(" ").head).toSeq ===
      Seq("select-partitions", "build-adc-tables", "scan", "merge"))
    assert(events(0).contains("nprobe=2"))
    assert(events(1).contains(s"shape=${config.numDivisions}x${config.numCodes}"))
    assert(events(3).contains("k=5"))
    // the default callback stays silent and changes nothing
    val quiet = AnnQuery.topK(codes, loaded, q, 5, 2)
      .collect().map(_.getLong(0)).toSeq
    assert(quiet === res.collect().map(_.getLong(0)).toSeq)
  }

  test("save/load round-trips model and codes") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    try {
      IvfPqBuilder.save(model, encoded, dir)
      val (loaded, codes) = IvfPqBuilder.load(spark, dir)
      assert(loaded.dim === model.dim)
      assert(loaded.config.numPartitions === config.numPartitions)
      assert(loaded.config.numDivisions === config.numDivisions)
      assert(loaded.config.numCodes === config.numCodes)
      assert(loaded.partitionCentroids.map(_.toSeq).toSeq ===
        model.partitionCentroids.map(_.toSeq).toSeq)
      assert(loaded.codebooks.map(_.map(_.toSeq).toSeq).toSeq ===
        model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      assert(codes.count() === data.length)
      // query against the stored codes gives the same result
      val q = data.head._2.map(_.toDouble).toArray
      val fromStored = AnnQuery.topK(codes, loaded, q, 5, 4)
        .collect().map(_.getLong(0)).toSeq
      val fromMem = AnnQuery.topK(encoded, model, q, 5, 4)
        .collect().map(_.getLong(0)).toSeq
      assert(fromStored === fromMem)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("encode against a frozen model equals the build's own encoding") {
    val byBuild = encoded.select("id", "partition", "codes")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getSeq[Int](2).toSeq)).toMap
    val reEnc = IvfPqBuilder.encode(model, df, "id", "vec")
      .select("id", "partition", "codes")
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), r.getSeq[Int](2).toSeq)).toMap
    assert(reEnc === byBuild)
  }

  test("appendToStore: save half, append half, stored equals in-memory") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_append").toString
    try {
      IvfPqBuilder.save(model,
        IvfPqBuilder.encode(model, df.where(col("id") % 2 === 0), "id", "vec"),
        dir)
      IvfPqBuilder.appendToStore(model, df.where(col("id") % 2 =!= 0),
        "id", "vec", dir)
      val (loaded, codes) = IvfPqBuilder.load(spark, dir)
      assert(codes.count() === data.length)
      val q = data.head._2.map(_.toDouble).toArray
      val fromStored = AnnQuery.topK(codes, loaded, q, 5, 4)
        .collect().map(r => (r.getLong(0), r.getAs[Double]("sq_dist"))).toSeq
      val fromMem = AnnQuery.topK(encoded, model, q, 5, 4)
        .collect().map(r => (r.getLong(0), r.getAs[Double]("sq_dist"))).toSeq
      assert(fromStored === fromMem)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("compactStore: bit-exact answers, tombstones folded, idempotent") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_compact").toString
    try {
      // half save + half append + deletes → multi-batch store with tombstones
      IvfPqBuilder.save(model,
        IvfPqBuilder.encode(model, df.where(col("id") % 2 === 0), "id", "vec"),
        dir)
      IvfPqBuilder.appendToStore(model, df.where(col("id") % 2 =!= 0),
        "id", "vec", dir)
      val victims = Seq(0L, 7L, 13L).toDF("id")
      IvfPqBuilder.deleteFromStore(dir, victims, "id")
      val q = data.head._2.map(_.toDouble).toArray
      def answer(): Seq[(Long, Double)] = {
        val (m, codes) = IvfPqBuilder.load(spark, dir)
        AnnQuery.topK(codes, m, q, 5, 4)
          .collect().map(r => (r.getLong(0), r.getAs[Double]("sq_dist"))).toSeq
      }
      def files(): Long = IvfPqBuilder.parquetFileCount(spark, s"$dir/codes")
      val pre = answer()
      val preFiles = files()
      IvfPqBuilder.compactStore(spark, dir)
      val post = answer()
      assert(post === pre, "compaction changed query answers")
      assert(!new java.io.File(s"$dir/tombstones").exists,
        "tombstone log survived compaction")
      assert((IvfPqBuilder.load(spark, dir)._2.count(): Long) ===
        data.length - 3L)
      assert(files() < preFiles, "compaction did not reduce the file count")
      // idempotent: compacting a compacted store is a no-op on answers
      val filesAfterOnce = files()
      IvfPqBuilder.compactStore(spark, dir)
      assert(answer() === pre)
      assert(files() === filesAfterOnce)
      // fully-tombstoned store: compaction must leave a LOADABLE zero-row
      // table (zero-row partitionBy writes nothing readable — the
      // unpartitioned fallback keeps the schema in a footer)
      val (_, allLive) = IvfPqBuilder.load(spark, dir)
      IvfPqBuilder.deleteFromStore(dir, allLive.select("id"), "id")
      IvfPqBuilder.compactStore(spark, dir)
      val (m2, codes2) = IvfPqBuilder.load(spark, dir)
      assert(codes2.count() === 0L)
      assert(AnnQuery.topK(codes2, m2, q, 5, 4).count() === 0L)
      // appending into the placeholder store must clear the zero-row
      // unpartitioned file first — otherwise the partitioned append
      // creates the mixed layout partition discovery rejects and the
      // store becomes unreadable
      IvfPqBuilder.appendToStore(model, df.where(col("id") < 10),
        "id", "vec", dir)
      val (m3, codes3) = IvfPqBuilder.load(spark, dir)
      assert((codes3.count(): Long) ===
        (df.where(col("id") < 10).count(): Long))
      assert(AnnQuery.topK(codes3, m3, q, 5, 4).count() === 5L)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("manifest integrity: a corrupted manifest fails load loudly") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_sha").toString
    try {
      IvfPqBuilder.save(model, encoded, dir)
      // sanity: intact store loads
      IvfPqBuilder.load(spark, dir)
      // flip a digit in the manifest (valid JSON, wrong content — the
      // shape checks alone would NOT catch a compatible-looking edit)
      val mPath = java.nio.file.Paths.get(s"$dir/manifest.json")
      val txt = new String(java.nio.file.Files.readAllBytes(mPath))
      java.nio.file.Files.write(mPath,
        txt.replace(s""""vector_size":$dim""", s""""vector_size":${dim * 2}""")
          .getBytes)
      // drop Hadoop's local-FS CRC sidecar: on checksum-less filesystems
      // (RawLocal, most object-store clients) nothing else would catch
      // the edit — exactly the case the manifest SHA exists for
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$dir/.manifest.json.crc"))
      val e = intercept[IllegalArgumentException] {
        IvfPqBuilder.load(spark, dir)
      }
      assert(e.getMessage.contains("integrity check failed") &&
        e.getMessage.contains("manifest.json"))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("pqReconstructF: ‖v − reconstruction‖² equals the direct PQ distance") {
    import org.apache.spark.sql.functions._
    import graft.functions.FastFunctions.{litDoubles, pqDistDirect, pqReconstructF, squaredL2F}
    // identity check against the independently-tested distance kernel:
    // both compute the quantization error of a row's own codes
    val centLit = typedlit(model.partitionCentroids.map(_.toSeq).toSeq)
    val cbLit = litDoubles(model.codebooks.flatten.flatten)
    val cent = element_at(centLit, col("partition").cast("int") + 1)
    val rows = encoded.select(col("id"), col("partition"), col("codes"))
      .join(df, Seq("id"))
      .select(
        squaredL2F(col("vec"),
          pqReconstructF(cent, col("codes"), cbLit, config.numCodes))
          .as("recon_err"),
        pqDistDirect(col("vec"), cent, col("codes"), cbLit).as("direct"))
      .collect()
    assert(rows.length === data.length)
    rows.foreach { r =>
      val (e, d) = (r.getDouble(0), r.getDouble(1))
      assert(math.abs(e - d) <= 1e-3 * math.max(1.0, d), s"$e vs $d")
    }
  }

  test("rebalanceStore: drifted store re-fits balanced from its own contents") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_rebal").toString
    val out = java.nio.file.Files.createTempDirectory("ivfpq_rebal_new").toString
    try {
      val (m8, enc8) = IvfPqBuilder.fit(df, "id", "vec", dim,
        IvfPqConfig(numPartitions = 8, numDivisions = 4, numCodes = 16,
          maxIter = 20))
      IvfPqBuilder.save(m8, enc8, dir)
      // drifted ingest: a broad new cloud around one seed — most of the
      // corpus mass ends up in a region the frozen model covers with one
      // hot cell
      val hot = data.head._2
      val rnd = new scala.util.Random(5)
      val batch = Seq.tabulate(400)(i => ((20000 + i).toLong,
        hot.map(v => v + rnd.nextGaussian().toFloat * 1f)))
        .toDF("id", "vec")
      IvfPqBuilder.appendToStore(m8, batch, "id", "vec", dir)
      def imbalance(p: String): Double = {
        val counts = IvfPqBuilder.cellHistogram(spark, p)
          .collect().map(_.getLong(1))
        counts.max / (counts.sum.toDouble / 8)
      }
      val before = imbalance(dir)
      assert(before > IvfPqBuilder.driftImbalanceThreshold,
        s"fixture not drifted enough: $before")
      val log = scala.collection.mutable.ArrayBuffer.empty[String]
      IvfPqBuilder.rebalanceStore(spark, dir, out, log.append(_))
      assert(log.exists(_.contains("rebalance")))
      // blue/green: the old store is untouched, the new one holds every
      // live row under a flattened layout
      assert((IvfPqBuilder.load(spark, dir)._2.count(): Long) ===
        data.length + 400L)
      val (mNew, codesNew) = IvfPqBuilder.load(spark, out)
      assert((codesNew.count(): Long) === data.length + 400L)
      val after = imbalance(out)
      assert(after < before && after < IvfPqBuilder.driftImbalanceThreshold,
        s"rebalance did not flatten the layout: $before -> $after")
      // the refreshed store still answers: the hot region's query finds
      // the hot cloud, not stale geometry
      val q = hot.map(_.toDouble).toArray
      val hits = AnnQuery.topK(codesNew, mNew, q, 10, 3)
        .collect().map(_.getLong(0))
      assert(hits.length === 10)
      assert(hits.count(h => h >= 20000L || h < 50L) >= 8,
        s"hot-region query lost its neighborhood: ${hits.toSeq}")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
      new Directory(new java.io.File(out)).deleteRecursively()
    }
  }

  test("rebalanceStorePartial: hot cells split in place, cold files byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_rebal_part").toString
    def fileHashes(): Map[String, String] = {
      val root = new java.io.File(s"$dir/codes")
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).map { f =>
        val bytes = java.nio.file.Files.readAllBytes(f.toPath)
        f.getPath -> IvfPqBuilder.sha256Hex(new String(
          java.util.Base64.getEncoder.encode(bytes),
          java.nio.charset.StandardCharsets.UTF_8))
      }.toMap
    }
    try {
      val (m8, enc8) = IvfPqBuilder.fit(df, "id", "vec", dim,
        IvfPqConfig(numPartitions = 8, numDivisions = 4, numCodes = 16,
          maxIter = 20))
      IvfPqBuilder.save(m8, enc8, dir)
      val hot = data.head._2
      val rnd = new scala.util.Random(5)
      val batch = Seq.tabulate(400)(i => ((20000 + i).toLong,
        hot.map(v => v + rnd.nextGaussian().toFloat * 1f)))
        .toDF("id", "vec")
      IvfPqBuilder.appendToStore(m8, batch, "id", "vec", dir)
      def imbalance(): Double = {
        val counts = IvfPqBuilder.cellHistogram(spark, dir)
          .collect().map(_.getLong(1))
        counts.max / (counts.sum.toDouble / 8)
      }
      val before = imbalance()
      assert(before > 2.0, s"fixture not drifted enough: $before")
      val hashesBefore = fileHashes()
      val idsBefore = IvfPqBuilder.load(spark, dir)._2
        .select("id").as[Long].collect().sorted.toSeq
      val log = scala.collection.mutable.ArrayBuffer.empty[String]
      val (m2, refreshed) =
        IvfPqBuilder.rebalanceStorePartial(spark, dir, 200L, log.append(_))
      assert(refreshed.nonEmpty, "drifted store produced no hot cells")
      assert(log.exists(_.contains("rebalance-partial")))
      // cold cells' files byte-identical; every changed/removed file
      // sits under a refreshed cell directory
      val touched = refreshed.map(c => s"partition=$c" +
        java.io.File.separator).toSet
      val hashesAfter = fileHashes()
      hashesBefore.foreach { case (f, h) =>
        if (!touched.exists(f.contains))
          assert(hashesAfter.get(f).contains(h), s"untouched file $f changed")
      }
      hashesAfter.keys.filterNot(hashesBefore.contains).foreach { f =>
        assert(touched.exists(f.contains) || f.endsWith("_SUCCESS"),
          s"new file $f outside every refreshed cell")
      }
      // rows preserved exactly (same id multiset)
      val idsAfter = IvfPqBuilder.load(spark, dir)._2
        .select("id").as[Long].collect().sorted.toSeq
      assert(idsAfter === idsBefore)
      // imbalance strictly reduced; refreshed centroids differ, cold
      // centroids bit-identical
      assert(imbalance() < before, s"imbalance not reduced: $before")
      (0 until 8).foreach { c =>
        if (refreshed.contains(c))
          assert(!m2.partitionCentroids(c).sameElements(m8.partitionCentroids(c)))
        else
          assert(m2.partitionCentroids(c) === m8.partitionCentroids(c))
      }
      // the reloaded store agrees with the returned model and answers
      val (mL, codesL) = IvfPqBuilder.load(spark, dir)
      (0 until 8).foreach { c =>
        assert(mL.partitionCentroids(c) === m2.partitionCentroids(c)) }
      val hits = AnnQuery.topK(codesL, mL, hot.map(_.toDouble).toArray, 10, 3)
        .collect().map(_.getLong(0))
      assert(hits.length === 10)
      assert(hits.count(h => h >= 20000L || h < 50L) >= 8,
        s"hot-region query lost its neighborhood: ${hits.toSeq}")
      // the maintenance loop converges: repeated passes reach a store
      // with no cell above threshold within a few rounds, and the
      // fixpoint pass is a no-op that writes nothing
      var rounds = 0
      while (rounds < 5 &&
          IvfPqBuilder.rebalanceStorePartial(spark, dir, 200L)._2.nonEmpty)
        rounds += 1
      assert(rounds < 5, "partial rebalance did not converge in 5 rounds")
      val hashes2 = fileHashes()
      val (_, refreshed2) = IvfPqBuilder.rebalanceStorePartial(spark, dir, 200L)
      assert(refreshed2.isEmpty, s"balanced store still flagged $refreshed2")
      assert(fileHashes() === hashes2, "no-op pass modified the store")
      assert(IvfPqBuilder.load(spark, dir)._2
        .select("id").as[Long].collect().sorted.toSeq === idsBefore)
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("reconcileStats: detects a desynced sidecar and re-backfills it") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_recon").toString
    try {
      IvfPqBuilder.save(model,
        IvfPqBuilder.encode(model, df, "id", "vec"), dir)
      // in-sync store: no repair
      assert(!IvfPqBuilder.reconcileStats(spark, dir))
      // simulate a crash between the codes append and the stats append:
      // the sidecar is gone/desynced while codes kept growing
      import scala.reflect.io.Directory
      new Directory(new java.io.File(s"$dir/stats")).deleteRecursively()
      assert(IvfPqBuilder.reconcileStats(spark, dir), "missing sidecar not repaired")
      val repaired = IvfPqBuilder.cellHistogram(spark, dir)
        .agg(org.apache.spark.sql.functions.sum(col("cnt")))
        .collect()(0).getLong(0)
      assert(repaired === df.count())
      assert(!IvfPqBuilder.reconcileStats(spark, dir), "repair not idempotent")
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("append-drift telemetry: skewed appends trigger the rebalance log") {
    import org.apache.spark.sql.functions.col
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_drift").toString
    try {
      // max/mean ≤ P, so a meaningful imbalance test needs P comfortably
      // above the 4.0 threshold — 8 cells over the 4-blob corpus
      val (m8, enc8) = IvfPqBuilder.fit(df, "id", "vec", dim,
        IvfPqConfig(numPartitions = 8, numDivisions = 4, numCodes = 16,
          maxIter = 20))
      IvfPqBuilder.save(m8, enc8, dir)
      val log = scala.collection.mutable.ArrayBuffer.empty[String]
      // balanced append: blobs cover all cells → no recommendation
      IvfPqBuilder.appendToStore(m8,
        df.select((col("id") + 1000).as("id"), col("vec")),
        "id", "vec", dir, log.append(_))
      assert(log.exists(_.contains("imbalance")), "no telemetry emitted")
      assert(!log.exists(_.contains("REBALANCE")),
        s"balanced append flagged: $log")
      // drifted ingest: every new batch is clones of ONE seed → one cell
      // grows unboundedly and the recommendation must fire
      log.clear()
      val hot = data.take(1).head._2
      val rnd = new scala.util.Random(3)
      for (b <- 0 until 3) {
        val batch = Seq.tabulate(data.length)(i =>
          ((10000 + b * 1000 + i).toLong,
            hot.map(v => v + rnd.nextGaussian().toFloat * 0.01f)))
          .toDF("id", "vec")
        IvfPqBuilder.appendToStore(m8, batch, "id", "vec", dir,
          log.append(_))
      }
      assert(log.exists(_.contains("REBALANCE")),
        s"drifted ingest not flagged: $log")
      // the same drift signal sizes the salt for cell-bucketed joins
      // run against the store in the meantime: a drifted histogram must
      // recommend MORE than the default sub-bucketing
      assert(graft.query.AnnJoin.autoSaltFromStore(spark, dir, 8) > 4,
        "drifted store did not raise the recommended salt")
      // pre-sidecar store (backward compat): with the stats dir gone, the
      // next telemetry append must backfill the histogram from the codes
      // table instead of silently reporting on one batch
      log.clear()
      import scala.reflect.io.Directory
      new Directory(new java.io.File(s"$dir/stats")).deleteRecursively()
      IvfPqBuilder.appendToStore(m8,
        df.select((col("id") + 50000).as("id"), col("vec")),
        "id", "vec", dir, log.append(_))
      assert(log.exists(_.contains("backfilling")), s"no backfill: $log")
      assert(log.exists(_.contains("imbalance")))
    } finally {
      import scala.reflect.io.Directory
      new Directory(new java.io.File(dir)).deleteRecursively()
    }
  }

  test("withAssignedIds: uuid and deterministic paths (reference db/build.rs:86-91)") {
    import org.apache.spark.sql.functions.col
    val noIds = df.drop("id").select(col("vec"))
    val uuids = IvfPqBuilder.withAssignedIds(noIds)
      .select("id").collect().map(_.getString(0))
    assert(uuids.length === data.length)
    assert(uuids.distinct.length === uuids.length) // unique
    assert(uuids.forall(_.matches(
      "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}")))
    val longs = IvfPqBuilder.withAssignedIds(noIds, deterministic = true)
      .select("id").collect().map(_.getLong(0))
    assert(longs.distinct.length === longs.length)
  }
}
