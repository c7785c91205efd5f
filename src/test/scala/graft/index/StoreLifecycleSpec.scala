package graft.index

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.TestSpark

/** The shared append/tombstone/compact lifecycle across codec families
  * (round 12: parity beyond IVF+PQ). The gates (`ann_opq_delete`,
  * `ann_sq8_compact`, `ann_ivfsq8_compact`, `knn_hamming_stored`, …)
  * prove answer-level bit-equality at sf scale; this spec covers the
  * lifecycle edge cases the gates don't reach: idempotent re-delete,
  * fully-tombstoned compaction, append into a compacted-empty store,
  * double compaction, and the file layout every append leaves behind. */
class StoreLifecycleSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 8

  private def vecs(n: Int, seed: Long): Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(seed)
    Seq.tabulate(n)(i =>
      (i.toLong, Seq.fill(dim)(rnd.nextFloat() * 2 - 1)))
  }

  private def tmpDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def files(path: String): Long =
    IvfPqBuilder.parquetFileCount(spark, path)

  private val pqConfig = IvfPqConfig(numPartitions = 4, numDivisions = 4,
    numCodes = 16, maxIter = 10)

  /** Runs `append` and checks the cell-partitioned append layout: the
    * codes table gains exactly one file per cell the batch touches (its
    * rows arrive from several input splits), and the stats sidecar still
    * reconciles with the codes table. */
  private def checkAppendLayout(path: String, encodedBatch: DataFrame)(
      append: => Unit): Unit = {
    val touched = encodedBatch.select("partition").distinct().count()
    val before = files(s"$path/codes")
    append
    assert(files(s"$path/codes") === before + touched)
    assert(!IvfPqBuilder.reconcileStats(spark, path))
  }

  // ---------------------------------------------------------- SQ8 (flat)

  test("SQ8: delete is idempotent and the live view shrinks exactly once") {
    val df = vecs(40, 1L).toDF("id", "vec")
    val model = Sq8.fit(df, "vec", dim)
    val enc = Sq8.encode(model, df, "id", "vec")
    val path = tmpDir("sq8_life")
    Sq8.save(model, enc, path)
    val dead = Seq(3L, 5L).toDF("id")
    Sq8.deleteFromStore(path, dead, "id")
    Sq8.deleteFromStore(path, dead, "id") // re-delete: duplicate tombstones
    val (_, live) = Sq8.load(spark, path)
    assert(live.count() === 38)
    assert(live.where(col("id").isin(3L, 5L)).isEmpty)
  }

  test("SQ8: compaction folds appends+tombstones, is idempotent, " +
       "and appending after compact still works") {
    val df = vecs(40, 2L).toDF("id", "vec")
    val model = Sq8.fit(df, "vec", dim)
    val path = tmpDir("sq8_compact")
    Sq8.save(model, Sq8.encode(model, df.where(col("id") < 20), "id", "vec"),
      path)
    Sq8.appendToStore(model, df.where(col("id") >= 20), "id", "vec", path)
    Sq8.deleteFromStore(path, Seq(1L, 2L).toDF("id"), "id")
    val preLive = Sq8.load(spark, path)._2
      .select("id").as[Long].collect().sorted
    val filesBefore = IvfPqBuilder.parquetFileCount(spark, s"$path/codes")
    Sq8.compactStore(spark, path, rowsPerFile = 1000)
    assert(!StoreLifecycle.hasTombstones(spark, path))
    assert(IvfPqBuilder.parquetFileCount(spark, s"$path/codes") < filesBefore)
    val postLive = Sq8.load(spark, path)._2
      .select("id").as[Long].collect().sorted
    assert(postLive.toSeq === preLive.toSeq)
    // idempotence: a second compaction rewrites the same rows
    Sq8.compactStore(spark, path, rowsPerFile = 1000)
    assert(Sq8.load(spark, path)._2.count() === 38)
    // append after compact
    val more = Seq((100L, Seq.fill(dim)(0.1f))).toDF("id", "vec")
    Sq8.appendToStore(model, more, "id", "vec", path)
    assert(Sq8.load(spark, path)._2.count() === 39)
  }

  test("SQ8: fully-tombstoned store compacts to a readable zero-row table") {
    val df = vecs(10, 3L).toDF("id", "vec")
    val model = Sq8.fit(df, "vec", dim)
    val path = tmpDir("sq8_empty")
    Sq8.save(model, Sq8.encode(model, df, "id", "vec"), path)
    Sq8.deleteFromStore(path, df.select("id"), "id")
    Sq8.compactStore(spark, path)
    val (_, live) = Sq8.load(spark, path)
    assert(live.count() === 0)
    assert(live.columns.toSeq === Seq("id", "sq8"))
  }

  // ------------------------------------------------ IVF+SQ8 (partitioned)

  test("IvfSq8: store round-trips bit-exactly and the lifecycle " +
       "(append, delete, compact) preserves live answers") {
    val df = vecs(60, 4L).toDF("id", "vec")
    val (model, enc) = IvfSq8.fit(df, "id", "vec", dim, numPartitions = 3)
    val path = tmpDir("ivfsq8_life")
    IvfSq8.save(model, enc.where(col("id") < 30), path)
    IvfSq8.appendToStore(model, df.where(col("id") >= 30), "id", "vec", path)
    val q = Array.fill(dim)(0.25)
    IvfSq8.deleteFromStore(path, Seq(0L, 7L).toDF("id"), "id")
    val (m1, live1) = IvfSq8.load(spark, path)
    assert(m1.dim === dim && m1.numPartitions === 3)
    val pre = IvfSq8.topK(live1, m1, q, k = 5, nprobe = 3)
      .select("id", "sq_dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(!pre.exists(h => h._1 == 0L || h._1 == 7L))
    IvfSq8.compactStore(spark, path)
    assert(!StoreLifecycle.hasTombstones(spark, path))
    val (m2, live2) = IvfSq8.load(spark, path)
    val post = IvfSq8.topK(live2, m2, q, k = 5, nprobe = 3)
      .select("id", "sq_dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(post === pre) // bit-exact: rows rode unchanged
    // append into a store whose cells were compacted to one file each
    IvfSq8.appendToStore(model,
      Seq((200L, Seq.fill(dim)(0.2f))).toDF("id", "vec"), "id", "vec", path)
    assert(IvfSq8.load(spark, path)._2.count() === 59)
  }

  test("IvfSq8: fully-tombstoned compaction leaves a loadable store " +
       "and a fresh append revives it") {
    val df = vecs(12, 5L).toDF("id", "vec")
    val (model, enc) = IvfSq8.fit(df, "id", "vec", dim, numPartitions = 2)
    val path = tmpDir("ivfsq8_empty")
    IvfSq8.save(model, enc, path)
    IvfSq8.deleteFromStore(path, df.select("id"), "id")
    IvfSq8.compactStore(spark, path)
    assert(IvfSq8.load(spark, path)._2.count() === 0)
    // the unpartitioned zero-row placeholder must be swept before a
    // partitioned append (the IVF+PQ placeholder discipline, shared)
    IvfSq8.appendToStore(model, df.where(col("id") < 3), "id", "vec", path)
    assert(IvfSq8.load(spark, path)._2.count() === 3)
  }

  // ------------------------------------------------------ Binary (flat)

  test("BinaryQuant: store round-trip is integer-bit-exact and the " +
       "lifecycle preserves Hamming answers") {
    val df = vecs(50, 6L).toDF("id", "vec")
    val thr = BinaryQuant.fitThresholds(df, "vec")
    val path = tmpDir("ham_life")
    BinaryQuant.save(thr, df.where(col("id") < 25), "id", "vec", path)
    BinaryQuant.appendToStore(thr, df.where(col("id") >= 25), "id", "vec",
      path)
    val q = Seq.fill(dim)(0.3f)
    // in-memory answer over the same corpus minus deletions
    BinaryQuant.deleteFromStore(path, Seq(4L, 9L).toDF("id"), "id")
    val (thrL, sigs) = BinaryQuant.load(spark, path)
    assert(java.util.Arrays.equals(thrL, thr))
    val mem = BinaryQuant
      .topK(df.where(not(col("id").isin(4L, 9L))), "vec", "id", q, 5, thr)
      .select(col("id"), col("hamming").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val st = BinaryQuant.topKSignatures(sigs, q, 5, thrL)
      .select(col("id"), col("hamming").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(st === mem)
    BinaryQuant.compactStore(spark, path, rowsPerFile = 1000)
    assert(!StoreLifecycle.hasTombstones(spark, path))
    val (thr2, sigs2) = BinaryQuant.load(spark, path)
    val post = BinaryQuant.topKSignatures(sigs2, q, 5, thr2)
      .select(col("id"), col("hamming").cast("long")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(post === mem)
  }

  // ------------------------------------------------------ OPQ delegation

  test("OPQ: append encodes through the frozen rotation — store answers " +
       "equal the in-memory full-build answers bit-exactly") {
    val df = vecs(64, 7L).toDF("id", "vec")
    val config = IvfPqConfig(numPartitions = 2, numDivisions = 4,
      numCodes = 16, maxIter = 10)
    val (model, encoded) =
      OpqBuilder.fit(df, "id", "vec", dim, config, opqIters = 2)
    val path = tmpDir("opq_life")
    OpqBuilder.save(model,
      OpqBuilder.encode(model, df.where(col("id") < 32), "id", "vec"), path)
    OpqBuilder.appendToStore(model, df.where(col("id") >= 32), "id", "vec",
      path)
    OpqBuilder.deleteFromStore(path, Seq(11L).toDF("id"), "id")
    val (mL, codes) = OpqBuilder.load(spark, path)
    val q = Array.fill(dim)(0.1)
    val st = OpqBuilder.topK(codes, mL, q, k = 6, nprobe = 2)
      .select("id", "sq_dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val mem = OpqBuilder.topK(encoded.where(col("id") =!= 11L), model, q,
        k = 6, nprobe = 2)
      .select("id", "sq_dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(st === mem)
    OpqBuilder.compactStore(spark, path)
    assert(!StoreLifecycle.hasTombstones(spark, path))
    val (mC, codesC) = OpqBuilder.load(spark, path)
    val post = OpqBuilder.topK(codesC, mC, q, k = 6, nprobe = 2)
      .select("id", "sq_dist").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(post === mem)
  }

  test("OPQ: rebalanceStore re-fits rotation + codebooks from unrotated " +
       "reconstructions — new store preserves rows and answers sanely") {
    val df = vecs(120, 9L).toDF("id", "vec")
    val config = IvfPqConfig(numPartitions = 2, numDivisions = 4,
      numCodes = 16, maxIter = 10)
    val (model, encoded) =
      OpqBuilder.fit(df, "id", "vec", dim, config, opqIters = 2)
    val src0 = tmpDir("opq_rebal_src")
    val out = tmpDir("opq_rebal_out")
    OpqBuilder.save(model, encoded, src0)
    val newModel = OpqBuilder.rebalanceStore(spark, src0, out)
    assert(newModel.orthonormalityError < 1e-6)
    val (mL, codesL) = OpqBuilder.load(spark, out)
    assert(codesL.count() === 120)
    val q = vecs(120, 9L).head._2.map(_.toDouble).toArray
    val hits = OpqBuilder.topK(codesL, mL, q, k = 5, nprobe = 2).collect()
    assert(hits.length === 5)
    // the query vector is IN the corpus: its reconstruction must rank
    // near the top of the rebuilt index (self-hit within k)
    assert(hits.map(_.getLong(0)).contains(0L))
    // blue/green: the source store is untouched and still loads
    assert(OpqBuilder.load(spark, src0)._2.count() === 120)
  }

  test("IvfSq8: appends carry the shared drift telemetry — a skewed " +
       "ingest trips the REBALANCE recommendation, compaction resets " +
       "the sidecar to the live histogram") {
    val df = vecs(60, 10L).toDF("id", "vec")
    // P=6: the max-cell/mean-cell ratio is bounded by P, so the 4.0
    // threshold needs P > 4 to be reachable at all
    val (model, enc) = IvfSq8.fit(df, "id", "vec", dim, numPartitions = 6)
    val path = tmpDir("ivfsq8_drift")
    IvfSq8.save(model, enc, path)
    // a drifted cloud: 2000 clones of one vector -> one hot cell
    // (2060 rows / 6 cells: hot ~2010 vs mean ~343 = 5.9x > 4)
    val base = vecs(60, 10L).head._2
    val clones = (1000L until 3000L).map(i =>
      (i, base.map(v => v + 0.001f))).toDF("id", "vec")
    var msgs = List.empty[String]
    IvfSq8.appendToStore(model, clones, "id", "vec", path,
      (m: String) => msgs = msgs :+ m)
    assert(msgs.exists(_.contains("imbalance")))
    assert(msgs.exists(_.contains("REBALANCE RECOMMENDED")))
    // sidecar totals equal the codes table (cumulative discipline)
    val statTotal = IvfPqBuilder.cellHistogram(spark, path)
      .agg(sum(col("cnt"))).head().getLong(0)
    assert(statTotal === 2060L)
    // compaction resets the sidecar to the live histogram
    IvfSq8.deleteFromStore(path, (1000L until 2000L).toDF("id"), "id")
    IvfSq8.compactStore(spark, path)
    val postTotal = IvfPqBuilder.cellHistogram(spark, path)
      .agg(sum(col("cnt"))).head().getLong(0)
    assert(postTotal === 1060L)
    assert(IvfSq8.load(spark, path)._2.count() === 1060L)
  }

  // ------------------------------------------------------ append layout

  test("IVF+PQ, OPQ and IVF+SQ8: an append adds one codes file per " +
       "touched cell and the stats sidecar still reconciles") {
    val df = vecs(96, 11L).toDF("id", "vec")
    val base = df.where(col("id") < 48)
    val batch = df.where(col("id") >= 48).repartition(4)

    val (pq, _) = IvfPqBuilder.fit(df, "id", "vec", dim, pqConfig)
    val pqPath = tmpDir("pq_layout")
    IvfPqBuilder.save(pq, IvfPqBuilder.encode(pq, base, "id", "vec"), pqPath)
    checkAppendLayout(pqPath, IvfPqBuilder.encode(pq, batch, "id", "vec")) {
      IvfPqBuilder.appendToStore(pq, batch, "id", "vec", pqPath)
    }
    assert(IvfPqBuilder.load(spark, pqPath)._2.count() === 96L)

    val (opq, _) = OpqBuilder.fit(df, "id", "vec", dim, pqConfig, opqIters = 2)
    val opqPath = tmpDir("opq_layout")
    OpqBuilder.save(opq, OpqBuilder.encode(opq, base, "id", "vec"), opqPath)
    checkAppendLayout(opqPath, OpqBuilder.encode(opq, batch, "id", "vec")) {
      OpqBuilder.appendToStore(opq, batch, "id", "vec", opqPath)
    }
    assert(OpqBuilder.load(spark, opqPath)._2.count() === 96L)

    val (sq, _) = IvfSq8.fit(df, "id", "vec", dim, numPartitions = 4)
    val sqPath = tmpDir("ivfsq8_layout")
    IvfSq8.save(sq, IvfSq8.encode(sq, base, "id", "vec"), sqPath)
    checkAppendLayout(sqPath, IvfSq8.encode(sq, batch, "id", "vec")) {
      IvfSq8.appendToStore(sq, batch, "id", "vec", sqPath)
    }
    assert(IvfSq8.load(spark, sqPath)._2.count() === 96L)
  }

  test("an empty append leaves a compacted-empty store loadable " +
       "(IVF+PQ and IVF+SQ8)") {
    val df = vecs(40, 12L).toDF("id", "vec")
    val empty = df.where(lit(false))

    val (pq, enc) = IvfPqBuilder.fit(df, "id", "vec", dim, pqConfig)
    val pqPath = tmpDir("pq_empty_append")
    IvfPqBuilder.save(pq, enc, pqPath)
    IvfPqBuilder.deleteFromStore(pqPath, df.select("id"), "id")
    IvfPqBuilder.compactStore(spark, pqPath)
    IvfPqBuilder.appendToStore(pq, empty, "id", "vec", pqPath)
    assert(IvfPqBuilder.load(spark, pqPath)._2.count() === 0L)
    IvfPqBuilder.appendToStore(pq, df.where(col("id") < 5), "id", "vec", pqPath)
    assert(IvfPqBuilder.load(spark, pqPath)._2.count() === 5L)

    val (sq, sqEnc) = IvfSq8.fit(df, "id", "vec", dim, numPartitions = 2)
    val sqPath = tmpDir("ivfsq8_empty_append")
    IvfSq8.save(sq, sqEnc, sqPath)
    IvfSq8.deleteFromStore(sqPath, df.select("id"), "id")
    IvfSq8.compactStore(spark, sqPath)
    IvfSq8.appendToStore(sq, empty, "id", "vec", sqPath)
    assert(IvfSq8.load(spark, sqPath)._2.count() === 0L)
    IvfSq8.appendToStore(sq, df.where(col("id") < 5), "id", "vec", sqPath)
    assert(IvfSq8.load(spark, sqPath)._2.count() === 5L)
  }

  test("a small tombstone batch and a small attribute set each add " +
       "exactly one parquet file") {
    val path = tmpDir("log_layout")
    val ids = spark.range(0L, 200L, 1L, 4).toDF("id")
    StoreLifecycle.deleteFromStore(path, ids, "id")
    assert(files(s"$path/tombstones") === 1L)
    StoreLifecycle.deleteFromStore(path, ids, "id")
    assert(files(s"$path/tombstones") === 2L)
    val kv = ids.select(col("id"), (col("id") * 3).as("v"))
    graft.attrs.VectorAttributes.setU64Attribute(path, kv, "id", "u", "v")
    assert(files(s"$path/attrs") === 1L)
    graft.attrs.VectorAttributes.setU64Attribute(path, kv, "id", "u", "v")
    assert(files(s"$path/attrs") === 2L)
    assert(graft.attrs.VectorAttributes.getAttribute(spark, path, "u")
      .count() === 200L)
  }

  test("writeCellAligned in Append mode salts a populous cell across " +
       "writer tasks and keeps the files already there") {
    // a session of its own with AQE coalescing off: at test sizes AQE
    // would fold every salted shuffle partition back into one task
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    val rows = (0L until 130L).map(i => (i, if (i < 120) 0 else 1, Seq(1, 2)))
    val df = s2.createDataFrame(rows).toDF("id", "partition", "codes")
    val dest = tmpDir("salted_append") + "/codes"
    StoreLifecycle.writeCellAligned(df, dest, Seq(120L, 10L),
      org.apache.spark.sql.SaveMode.Overwrite)
    def cellFiles(cell: Int): Set[java.io.File] =
      new java.io.File(s"$dest/partition=$cell").listFiles()
        .filter(_.getName.endsWith(".parquet")).toSet
    val (old0, old1) = (cellFiles(0), cellFiles(1))
    assert(old0.size === 1 && old1.size === 1)
    val rowsPerFile = 30L
    StoreLifecycle.writeCellAligned(df, dest, Seq(120L, 10L),
      org.apache.spark.sql.SaveMode.Append, rowsPerFile)
    assert(old0.subsetOf(cellFiles(0)) && old1.subsetOf(cellFiles(1)))
    val added = cellFiles(0) -- old0
    assert(added.size >= 4) // ceil(120 / 30)
    added.foreach(f =>
      assert(s2.read.parquet(f.getPath).count() <= rowsPerFile))
    val tasks = added.map(_.getName.split("-")(1))
    assert(tasks.size > 1, s"populous cell written by one task: $added")
    assert(s2.read.parquet(dest).count() === 260L)
  }
}
