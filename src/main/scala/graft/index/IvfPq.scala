package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.FastFunctions.{litDoubles, nearestCentroidL2, pqEncodeF, subCentroidF}

/** IVF+PQ index configuration — mirrors the reference's builder knobs
  * (reference/src/db/build.rs:44-70: defaults P=10, D=8, C=16) plus the
  * k-means bounds (reference/src/kmeans.rs:114: ≤100 rounds; kmeans.rs:24-34:
  * ε-convergence). MLlib's tol is center-movement based like the
  * reference's normalized max-displacement — close enough in spirit, and
  * documented as an accepted divergence (SURVEY.md §7).
  */
case class IvfPqConfig(
    numPartitions: Int = 10, // P — IVF cells
    numDivisions: Int = 8,   // D — PQ subvector divisions
    numCodes: Int = 16,      // C — PQ codes per division
    maxIter: Int = 100,
    tol: Double = 1e-6,
    seed: Long = 42L,
    // k-means TRAINING sample cap, per centroid (standard IVF/PQ
    // practice at scale — e.g. FAISS's max_points_per_centroid=256:
    // centroids/codebooks are estimated from k·cap points, then ALL
    // vectors are assigned/encoded in single passes). Training is
    // driver-local (LocalKMeans), so the k·cap sample — and, with the
    // cap DISABLED (0), the ENTIRE input — is collect()ed: 0 is for
    // corpora that fit in driver memory (tests, the reference's own
    // in-memory scale), never the 100 TB path, where an uncapped
    // iterative fit would be wrong twice over (collect + maxIter
    // full scans). Quality loss from sampling is negligible once
    // cap ≫ the per-centroid d.o.f.; small inputs are unaffected
    // (cap ≥ n ⇒ no sampling).
    trainPointsPerCentroid: Int = 256,
    // init for the D codebook fits: "random" (FAISS's PQ practice —
    // sampled training points as initial centroids) skips k-means||'s
    // multi-pass seeding, which costs several extra scans per fit and
    // buys little for 256 fine codes refined over maxIter rounds anyway.
    // The coarse IVF fit keeps k-means|| (few centroids, quality
    // matters for partition balance).
    pqInitMode: String = "random")

/** Driver-side index artifacts. Deliberately tiny (P·N + D·C·(N/D) floats ≈
  * a few MB even at README scale P=100, D=12, C=256, N=1536) so they are
  * broadcast, never shuffled — the same insight the reference exploits by
  * keeping centroids/codebooks in memory (reference/src/db/stored.rs:48-56).
  */
case class IvfPqModel(
    config: IvfPqConfig,
    dim: Int,
    partitionCentroids: Array[Array[Double]],     // P × N
    codebooks: Array[Array[Array[Double]]]) {     // D × C × (N/D)
  def subDim: Int = dim / config.numDivisions

  // copies read by the Vector-API query prep (graft.functions.SimdKernels),
  // built once per model on its first query through that path and never
  // serialized: each division's codebook as contiguous m×8 code blocks
  // (codeBlocks) and the centroids column-major (cellMajor)
  @transient private[graft] lazy val codebookBlocks: Array[Array[Double]] =
    codebooks.map(graft.functions.SimdKernels.codeBlocks)
  @transient private[graft] lazy val centroidsT: Array[Double] =
    graft.functions.SimdKernels.cellMajor(partitionCentroids)
}

/** Builds an IVF+PQ index as DataFrame transformations + driver-local
  * k-means over sampled training sets ([[LocalKMeans]]) — the Spark-first
  * re-expression of the reference's 4-stage build
  * (reference/src/db/build.rs:78-129: ids → partition → divide → quantize).
  *
  * Where the reference is a single-threaded loop over an in-memory
  * `BlockVectorSet` (906 s for 100k×1536, README.md:139), this build is a
  * handful of cluster-parallel passes:
  *   1. ids         — provided by the caller (deterministic keys)
  *   2. IVF         — LocalKMeans(P) over a driver-sized sample + one
  *                    projection adding (partition, residual) via a
  *                    centroid-table literal
  *   3. divide + PQ — D LocalKMeans(C) fits over local slices of one
  *                    shared residual sample
  *   4. encode      — one projection adding `codes: array<int>` (D codes)
  *
  * No stage shuffles vectors at all: training samples are collected to
  * the driver (k·cap rows by construction), and assignment/encoding are
  * narrow projections. The only exchange in the whole build is the final
  * `partitionBy("partition")` write. At 100 TB that write produces one
  * directory per IVF cell,
  * giving file-level partition pruning at query time — the moral
  * equivalent of the reference's per-partition files
  * (reference/src/db/build/proto.rs:59-62).
  */
object IvfPqBuilder {

  /** Fit the index over `df(idCol, vecCol: array<float>)`.
    * Returns (model, encoded) where encoded = (id, partition, codes,
    * residual) — residual retained for PQ-error inspection and rebuilds.
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, dim: Int,
          config: IvfPqConfig): (IvfPqModel, DataFrame) =
    fit(df, idCol, vecCol, dim, config, _ => ())

  /** As [[fit]], with a stage-event callback — the analogue of the
    * reference's BuildEvent instrumentation (db/build.rs:132-153). */
  def fit(df: DataFrame, idCol: String, vecCol: String, dim: Int,
          config: IvfPqConfig, log: String => Unit): (IvfPqModel, DataFrame) = {
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = body
      log(f"$name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }
    require(dim % config.numDivisions == 0,
      s"dim $dim must divide into ${config.numDivisions} divisions") // vector.rs:162-168
    val subDim = dim / config.numDivisions

    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))

    // training sample: k-means estimates k centroids; it does not need
    // every row, and at corpus scale it MUST not see every row (maxIter
    // full scans). Assignment/encoding below still cover all vectors.
    // ONE driver-collected sample (the larger of the two caps) serves
    // both the coarse fit (over a strided subset) and the PQ fits (over
    // locally computed residuals) — one scan, one collect, then every
    // fit runs in [[LocalKMeans]], an in-process parallel Lloyd loop,
    // instead of maxIter scheduler round-trips per fit.
    val nRows = if (config.trainPointsPerCentroid > 0) base.count() else 0L
    val coarseCap = config.numPartitions.toLong * config.trainPointsPerCentroid
    val pqCap = config.numCodes.toLong * config.trainPointsPerCentroid
    val sampleCap = math.max(coarseCap, pqCap)
    val trainVecs: Array[Array[Float]] = timed("collect-train-sample") {
      val src =
        if (config.trainPointsPerCentroid > 0 && sampleCap < nRows) {
          log(s"train-sample $sampleCap of $nRows rows")
          base.sample(withReplacement = false,
            sampleCap.toDouble / nRows, config.seed)
        } else base
      graft.functions.VecCollect.collectVecs(src.select("vec"))
    }

    // --- stage 2: coarse IVF k-means (reference partitions.rs:96-143) ---
    // strided subset of the (already uniform) sample when the coarse cap
    // is smaller than the collected sample
    val coarseData =
      if (config.trainPointsPerCentroid > 0 && coarseCap < trainVecs.length) {
        val step = trainVecs.length.toDouble / coarseCap
        Array.tabulate(coarseCap.toInt)(i => trainVecs((i * step).toInt))
      } else trainVecs
    require(coarseData.length >= config.numPartitions,
      s"IVF+PQ build: coarse training sample has ${coarseData.length} " +
        s"vectors < numPartitions P=${config.numPartitions} — lower P or " +
        "ingest more vectors (k-means needs n >= k; reference kmeans.rs " +
        "errors on this config)")
    val coarseFit = timed("coarse-kmeans")(
      LocalKMeans.fit(coarseData, config.numPartitions, config.maxIter,
        config.tol, config.seed, init = "kmeans++"))
    // rounds actually used: < maxIter means the tol-based stop fired,
    // i.e. the fit converged like the reference's ε-stop (kmeans.rs:24-34)
    log(s"coarse-kmeans rounds=${coarseFit.iters}/${config.maxIter}")
    val centroids = coarseFit.centroids

    // --- stage 3: D PQ codebooks over residual slices (db/build.rs:107-118).
    // Residuals of the already-collected training sample are computed
    // locally (assignResiduals — same numeric contract as the
    // distributed kernels); each division's fit slices its own subDim
    // columns out. The D fits run with a small OVERLAP (round 14): one
    // fit's chunk barriers leave the pool under-fed, so overlapping 4
    // measured 1.77× on this exact shape with BIT-IDENTICAL codebooks
    // (pure function of slice + per-division seed — see
    // LocalKMeans.overlapIndexed).
    val pqVecs =
      if (config.trainPointsPerCentroid > 0 && pqCap < trainVecs.length) {
        val step = trainVecs.length.toDouble / pqCap
        Array.tabulate(pqCap.toInt)(i => trainVecs((i * step).toInt))
      } else trainVecs
    require(pqVecs.length >= config.numCodes,
      s"IVF+PQ build: PQ training sample has ${pqVecs.length} vectors < " +
        s"numCodes C=${config.numCodes} — lower C or ingest more vectors " +
        "(k-means needs n >= k; reference kmeans.rs errors on this config)")
    val pqData = timed("local-residuals")(
      LocalKMeans.assignResiduals(pqVecs, centroids))
    val pqFits = timed("pq-kmeans-all")(
      LocalKMeans.overlapIndexed(config.numDivisions) { dI =>
        val sliceData = pqData.map(r =>
          java.util.Arrays.copyOfRange(r, dI * subDim, (dI + 1) * subDim))
        LocalKMeans.fit(sliceData, config.numCodes, config.maxIter,
          config.tol, config.seed + dI, init = config.pqInitMode)
      })
    log(s"pq-kmeans rounds=${pqFits.map(_.iters).min}.." +
      s"${pqFits.map(_.iters).max}/${config.maxIter}")
    val codebooks = pqFits.map(_.centroids).toArray

    // partition assignment + residual v − centroid[p] in one projection —
    // two kernel calls per row with the P×N centroid table riding along
    // as a codegen literal, no join (the assignment argmin is shared
    // between the two columns by codegen subexpression elimination).
    // Residuals are f32, as in the reference (partitions.rs:119-143) —
    // half the cache footprint and PQ scan traffic of doubles.
    //
    // ORDERED AFTER the PQ fits (round 13): the fits read only the
    // driver sample + centroids, and materializing the corpus-sized
    // residual relation first left ~6 GB of checkpoint blocks resident
    // in the shared local-mode heap while the fit threads ran — the
    // measured cause of the 1M pq-kmeans-all inflation (80.9 s with the
    // relation resident vs 47.6 s fits-first at n=1M, same 65,536-row
    // sample; 100k fits read ~29 s in both orders — BENCH_NOTES,
    // "Round 13: pq-kmeans-all inflation"). On a real cluster driver
    // and executors are separate JVMs, but fits-first is strictly
    // better locally and free remotely.
    val flatCentLit = litDoubles(centroids.flatten)
    // localCheckpoint, not cache(): the stage itself costs the same
    // (the write is bandwidth-bound either way at 1M×1536), but raw
    // checkpointed rows skip the columnar cache's per-element
    // builder/accessor work on every later scan AND its heap churn —
    // measured at 1M: the downstream stages ran 61.5 s → ~50 s total
    // under the lower GC pressure. Blocks are freed by the
    // ContextCleaner once the encoded relation lets go (the CorpusClean
    // discipline).
    val assigned = timed("materialize-residuals")(base
      .withColumn("partition", nearestCentroidL2(col("vec"), flatCentLit))
      .withColumn("residual",
        subCentroidF(col("vec"), flatCentLit, col("partition")))
      .select(col("id"), col("partition"), col("residual"))
      .localCheckpoint())

    // --- stage 4: encode — all D argmin assignments in ONE kernel call
    // per row (reference Partition::new, db/build.rs:446-483); one pass
    // over the cached residuals, no per-division stages.
    val model = IvfPqModel(config, dim, centroids, codebooks)
    val encoded = encodeResiduals(model, assigned)
    (model, encoded)
  }

  /** Encode NEW vectors against an EXISTING model — assignment, residual
    * and all D PQ codes in one narrow projection, no refit, no shuffle.
    * This is the incremental-ingest path: the reference can only rebuild
    * from scratch (update is reference-absent, README.md:73-74), but a
    * partitioned codes store appends naturally. Centroids/codebooks are
    * frozen, so existing codes stay valid and queries see old + new rows
    * through the same partition-pruned scan. */
  def encode(model: IvfPqModel, df: DataFrame, idCol: String,
             vecCol: String): DataFrame = {
    val flatCentLit = litDoubles(model.partitionCentroids.flatten)
    val assigned = df
      .select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("partition", nearestCentroidL2(col("vec"), flatCentLit))
      .withColumn("residual",
        subCentroidF(col("vec"), flatCentLit, col("partition")))
      .select(col("id"), col("partition"), col("residual"))
    encodeResiduals(model, assigned)
  }

  /** Append freshly encoded vectors to a stored index's codes table —
    * one new parquet file per touched cell directory (a populous cell
    * salts across several, [[StoreLifecycle.writeCellAligned]]); nothing
    * existing is rewritten (the same append-only discipline as the
    * attribute log). An empty batch changes nothing on disk. The
    * per-cell stats sidecar is maintained but no drift report is
    * computed — use the `log`-taking overload for telemetry. */
  def appendToStore(model: IvfPqModel, df: DataFrame, idCol: String,
                    vecCol: String, path: String): Unit =
    appendToStoreImpl(model, df, idCol, vecCol, path, None)

  /** As the 5-arg [[appendToStore]], plus APPEND-DRIFT TELEMETRY through
    * the same log-callback shape as `fit`: vectors are encoded against a
    * FROZEN model forever, so as the ingest distribution drifts the cell
    * population skews — queries over a hot cell scan ever more codes per
    * probe, and nothing would say so. Each append writes its per-cell
    * batch histogram to a tiny `stats` sidecar (P rows per batch —
    * cumulative totals come from aggregating the sidecar, never from
    * rescanning the codes table; a pre-sidecar store gets a one-time
    * backfill scan of its existing codes, logged), and the imbalance of
    * the cumulative histogram (max cell / mean cell) is reported; past
    * `driftImbalanceThreshold` the log carries an explicit REBALANCE
    * recommendation — re-fit on a fresh sample and re-encode (a rebuild,
    * [[fit]] + [[save]]), the documented recovery for model drift. */
  def appendToStore(model: IvfPqModel, df: DataFrame, idCol: String,
                    vecCol: String, path: String,
                    log: String => Unit): Unit =
    appendToStoreImpl(model, df, idCol, vecCol, path, Some(log))

  private def appendToStoreImpl(model: IvfPqModel, df: DataFrame,
                                idCol: String, vecCol: String, path: String,
                                log: Option[String => Unit]): Unit =
    StoreLifecycle.appendPartitioned(
      encode(model, df, idCol, vecCol).select("id", "partition", "codes"),
      path, model.config.numPartitions, log)

  /** Cells whose cumulative population exceeds this multiple of the mean
    * trigger the rebalance recommendation in [[appendToStore]]'s log. */
  val driftImbalanceThreshold: Double = 4.0

  // the histogram AGGREGATION stays distributed (codes are corpus-sized);
  // only the P-row result lands via the driver-local writer — no
  // write-job + commit round-trip for a KB sidecar
  private[index] def writeStats(codes: DataFrame, path: String,
                         mode: SaveMode): Unit =
    writeStatRows(codes.sparkSession, path,
      StoreLifecycle.cellCounts(codes), mode)

  private[index] def writeStatRows(spark: SparkSession, path: String,
      counts: Seq[(Int, Long)], mode: SaveMode): Unit = {
    val cols = Seq("partition" -> MetaIO.IntT, "cnt" -> MetaIO.LongT)
    val rows = counts.map { case (p, c) => Seq[Any](p, c) }
    if (mode == SaveMode.Append)
      MetaIO.append(hconf(spark), s"$path/stats", cols, rows)
    else
      MetaIO.write(hconf(spark), s"$path/stats", cols, rows)
  }

  /** Cumulative per-cell totals from the stats sidecar (P rows) — read
    * driver-locally and returned as a local relation (zero scan jobs). */
  def cellHistogram(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    MetaIO.read(hconf(spark), s"$path/stats",
        Seq("partition" -> MetaIO.IntT, "cnt" -> MetaIO.LongT))
      .map(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[Long]))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sorted
      .toDF("partition", "cnt")
  }

  /** Reconcile the stats sidecar against the codes table. The codes
    * append and the sidecar append are two non-atomic writes, so a
    * failure between them leaves the cumulative histogram desynced with
    * nothing to detect it — drift telemetry (and the auto-salt derived
    * from it) would be silently wrong thereafter. Compares totals (one
    * codes count — skipped-column scan, cheap on parquet) and
    * re-backfills the sidecar from the codes table on mismatch.
    * Compaction re-derives the sidecar as a matter of course; call this
    * opportunistically between compactions, or after a crashed append.
    * Returns true when a repair was performed. */
  def reconcileStats(spark: SparkSession, path: String): Boolean = {
    val codes = spark.read.parquet(s"$path/codes")
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // an unreadable sidecar (e.g. a partial file left by a crashed
    // pre-rename writer) must fall through to the backfill, not throw
    // before the repair path can run
    val statTotal =
      if (!fs.exists(statsPath)) -1L
      else
        try cellHistogram(spark, path)
          .agg(coalesce(sum(col("cnt")), lit(0L))).collect()(0).getLong(0)
        catch { case scala.util.control.NonFatal(_) => -1L }
    if (statTotal == codes.count()) false
    else {
      writeStats(codes, path, SaveMode.Overwrite)
      true
    }
  }

  private[index] def reportDrift(spark: SparkSession, path: String,
                          numPartitions: Int, log: String => Unit): Unit = {
    val counts = cellHistogram(spark, path)
      .collect().map(_.getLong(1))
    // empty cells count toward the mean: a drifted ingest that abandons
    // most cells must read as imbalanced, not as a small dense index
    val mean = counts.sum.toDouble / math.max(numPartitions, 1)
    val imbalance = if (mean > 0) counts.max / mean else 0.0
    log(f"append-drift: max-cell/mean-cell imbalance $imbalance%.2f " +
      f"(threshold $driftImbalanceThreshold%.1f)")
    if (imbalance > driftImbalanceThreshold)
      log("append-drift: REBALANCE RECOMMENDED — the ingest distribution " +
        "has drifted from the frozen model; re-fit on a fresh sample and " +
        "re-encode (IvfPqBuilder.fit + save)")
  }

  private def encodeResiduals(model: IvfPqModel, assigned: DataFrame): DataFrame = {
    val flatCbLit = litDoubles(model.codebooks.flatten.flatten)
    assigned
      .withColumn("codes", pqEncodeF(col("residual"), flatCbLit,
        model.config.numDivisions, model.config.numCodes))
      .select(col("id"), col("partition"), col("codes"), col("residual"))
  }

  /** Assign fresh ids to an id-less vector table — the reference's UUID
    * assignment when vectors arrive without keys (db/build.rs:86-91).
    * `uuid()` draws RFC-4122 v4 ids per row (non-deterministic across
    * runs, like the reference); pass deterministic = true for
    * `monotonically_increasing_id` — unique and repeatable for a FIXED
    * partition layout, but neither contiguous nor repartition-stable.
    * When ids must be a stable 0..n−1 enumeration of a sort order, use
    * [[graft.pipeline.TrainingData.denseIds]] instead. */
  def withAssignedIds(df: DataFrame, idCol: String = "id",
                      deterministic: Boolean = false): DataFrame =
    if (deterministic)
      df.withColumn(idCol, monotonically_increasing_id())
    else
      df.withColumn(idCol, expr("uuid()"))

  /** Persist the index: codes partitioned by IVF cell (→ partition-pruned
    * scans, the analogue of reference per-partition files), centroids +
    * codebooks as small parquet, manifest as JSON — replacing the
    * reference's content-addressed zlib protobuf store (io.rs:242-300)
    * with parquet codecs + checksums.
    *
    * Documented divergence from the reference's f32-only persistence
    * (protos/database.proto:66-74): centroids/codebooks stay f64 here.
    * They are KBs against a codes table that dominates storage by orders
    * of magnitude, and keeping them f64 makes save/load BIT-EXACT — a
    * loaded index answers queries identically to the in-memory one (the
    * ann_ivfpq_stored invariant). Residuals, the only per-vector floats,
    * are f32 like the reference's. */
  def save(model: IvfPqModel, encoded: DataFrame, path: String): Unit = {
    val spark = encoded.sparkSession
    // the per-cell histogram is collected FIRST (it seeds the stats
    // sidecar below anyway) so the cell-aligned write can salt populous
    // cells across writer tasks instead of serializing them into one
    val statRows = StoreLifecycle.cellCounts(encoded)
    // cell-aligned write (the compaction rewrite's shape): without the
    // repartition every input split writes its own file into every cell
    // dir it touches — up to splits × P files for the base build —
    // which costs commit time now and listing + open overhead on every
    // later load (guide: output files sized by layout, not by accident)
    StoreLifecycle.writeCellAligned(encoded.select("id", "partition", "codes"),
      s"$path/codes", statRows.map(_._2), SaveMode.Overwrite)
    // model sidecars (centroids/codebooks) are driver-resident KBs —
    // written with the driver-local parquet writer ([[MetaIO]]): same
    // files, no Spark job + commit round-trip per table (round-14 job
    // profile: each such write cost 0.1-0.6 s of pure scheduling)
    writeCentroids(spark, path, model.partitionCentroids)
    writeCodebooks(spark, s"$path/codebooks", model.codebooks)
    // seed the drift-telemetry sidecar with the initial cell histogram
    // so the first append's cumulative totals include the base build
    writeStatRows(spark, path, statRows, SaveMode.Overwrite)
    val m = model
    val manifest =
      s"""{"vector_size":${m.dim},"num_partitions":${m.config.numPartitions},
         |"num_divisions":${m.config.numDivisions},"num_codes":${m.config.numCodes}}"""
        .stripMargin.replace("\n", "")
    // through the Hadoop filesystem of the path, not java.nio — the index
    // must round-trip on hdfs://, s3a://, etc. like every other artifact
    writeString(spark, s"$path/manifest.json", manifest)
    // read-verify discipline for the one artifact parquet doesn't
    // checksum for us (matches the reference's re-hash-on-read,
    // reference/src/io.rs:286-300): a SHA-256 sidecar, checked on load
    writeString(spark, s"$path/manifest.json.sha256", sha256Hex(manifest))
  }

  private def hconf(spark: SparkSession) =
    spark.sparkContext.hadoopConfiguration

  /** Centroid sidecar (partition, centroid) — driver-local parquet. */
  private[index] def writeCentroids(spark: SparkSession, path: String,
      cents: Array[Array[Double]]): Unit =
    MetaIO.write(hconf(spark), s"$path/centroids",
      Seq("partition" -> MetaIO.IntT, "centroid" -> MetaIO.DoublesT),
      cents.zipWithIndex.map { case (c, i) => Seq(i, c) }.toSeq)

  private[index] def readCentroids(spark: SparkSession,
      path: String): Array[Array[Double]] =
    MetaIO.read(hconf(spark), s"$path/centroids",
      Seq("partition" -> MetaIO.IntT, "centroid" -> MetaIO.DoublesT))
      .sortBy(_(0).asInstanceOf[Int])
      .map(_(1).asInstanceOf[Array[Double]]).toArray

  /** Codebook sidecar (division, code, code_vector) — shared with the
    * RQ refine layer (same schema at a different directory). */
  private[index] def writeCodebooks(spark: SparkSession, dir: String,
      books: Array[Array[Array[Double]]]): Unit =
    MetaIO.write(hconf(spark), dir,
      Seq("division" -> MetaIO.IntT, "code" -> MetaIO.IntT,
        "code_vector" -> MetaIO.DoublesT),
      books.zipWithIndex.flatMap { case (cb, d) =>
        cb.zipWithIndex.map { case (cv, c) => Seq(d, c, cv) }
      }.toSeq)

  private[index] def readCodebooks(spark: SparkSession,
      dir: String): Array[Array[Array[Double]]] =
    MetaIO.read(hconf(spark), dir,
      Seq("division" -> MetaIO.IntT, "code" -> MetaIO.IntT,
        "code_vector" -> MetaIO.DoublesT))
      .map(r => (r(0).asInstanceOf[Int], r(1).asInstanceOf[Int],
        r(2).asInstanceOf[Array[Double]]))
      .groupBy(_._1).toArray.sortBy(_._1)
      .map { case (_, rows) =>
        rows.sortBy(_._2).map(_._3).toArray
      }

  private[graft] def writeString(spark: SparkSession, path: String,
                          content: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private[graft] def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Read `path`/manifest.json and, when its SHA-256 sidecar exists,
    * verify it (re-hash on read — reference io.rs:286-300). Shared by
    * every store family's load path so the integrity rule cannot
    * drift between them. Pre-sidecar stores still load. */
  private[index] def readVerifiedManifest(spark: SparkSession,
                                          path: String): String =
    readVerifiedString(spark, s"$path/manifest.json")

  /** Read a text artifact and, when its `.sha256` sidecar exists, verify
    * it (re-hash on read — reference io.rs:286-300). The general form of
    * [[readVerifiedManifest]], shared by every small-JSON sidecar
    * artifact (index manifests, LSH strategy records). */
  private[graft] def readVerifiedString(spark: SparkSession,
                                        filePath: String): String = {
    val mPath = new org.apache.hadoop.fs.Path(filePath)
    val fs = mPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def readString(p: org.apache.hadoop.fs.Path): String = {
      val in = fs.open(p)
      try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
      finally in.close()
    }
    val content = readString(mPath)
    val shaPath = new org.apache.hadoop.fs.Path(filePath + ".sha256")
    if (fs.exists(shaPath)) {
      val expected = readString(shaPath).trim
      val actual = sha256Hex(content)
      require(actual == expected,
        s"integrity check failed at $filePath: sha256 $actual != recorded $expected")
    }
    content
  }

  /** Count of parquet data files under a store subtree (any Hadoop
    * filesystem) — the compaction effectiveness metric. */
  def parquetFileCount(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext)
        if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }

  /** Load index artifacts back; validates the same invariants the
    * reference checks on load (db/stored.rs:659-722: shape cross-checks). */
  def load(spark: SparkSession, path: String): (IvfPqModel, DataFrame) = {
    val manifest = ujsonLite(readVerifiedManifest(spark, path))
    val dim = manifest("vector_size")
    val p = manifest("num_partitions")
    val d = manifest("num_divisions")
    val c = manifest("num_codes")
    val centroids = readCentroids(spark, path)
    require(centroids.length == p, s"expected $p centroids, got ${centroids.length}")
    require(centroids.forall(_.length == dim), "centroid dim mismatch")
    val codebooks = readCodebooks(spark, s"$path/codebooks")
    require(codebooks.length == d && codebooks.forall(_.length == c),
      "codebook shape mismatch")
    val model = IvfPqModel(
      IvfPqConfig(numPartitions = p, numDivisions = d, numCodes = c), dim,
      centroids, codebooks)
    val codes = spark.read.parquet(s"$path/codes")
    (model, StoreLifecycle.liveView(spark, path, codes))
  }

  /** Append-only DELETE (a capability the reference leaves unimplemented,
    * reference/README.md:73): dead ids land in a `tombstones` parquet
    * beside the codes; [[load]] anti-joins them out, so readers never see
    * deleted vectors and nothing in the partitioned codes table is
    * rewritten. The anti-join broadcasts while tombstones are small; a
    * maintenance compaction (rewrite codes minus tombstones, drop the
    * tombstone table) bounds their growth — the same append-then-compact
    * discipline as log-structured stores. Idempotent: re-deleting an id
    * appends a duplicate tombstone row, which the anti-join ignores. */
  def deleteFromStore(storePath: String, ids: DataFrame,
                      idCol: String): Unit =
    StoreLifecycle.deleteFromStore(storePath, ids, idCol)

  /** MAINTENANCE COMPACTION — the step that keeps the append-then-
    * tombstone discipline honest: a year of daily [[appendToStore]]
    * batches grows one file per append per touched cell, and
    * [[deleteFromStore]] tombstones accumulate into an ever-larger
    * anti-join side. Compaction folds both back to the minimal layout:
    * read the LIVE rows (codes minus tombstones), rewrite ONE compacted
    * file per cell directory, swap it in place of the old codes table,
    * drop the tombstone log, and reset the stats sidecar to the actual
    * per-cell histogram.
    *
    * Bit-exact by construction — the rewrite carries (id, partition,
    * codes) rows unchanged, so the compacted store answers every query
    * identically to the live pre-compaction view. Idempotent — a second
    * compaction rewrites the same rows to the same layout. The swap is
    * write-new → park-old → install-new → drop-old: no point in the
    * sequence deletes data that is not already installed elsewhere, so
    * a crash at any step is recoverable (the table sits at `codes`,
    * `codes.old`, or `codes.compacting` — never nowhere). A concurrent
    * reader in the instant between the two renames can still miss the
    * table: run maintenance under the same table lock you'd use for any
    * rewrite. A fully-tombstoned store compacts to a zero-row but
    * schema-bearing codes table (load and queries keep working). */
  def compactStore(spark: SparkSession, path: String): Unit = {
    val (_, live0) = load(spark, path)
    val live = live0.select("id", "partition", "codes")
    // the rewrite + crash-recoverable swap is the shared lifecycle
    // (StoreLifecycle.compactPartitioned); the one IVF+PQ-specific step
    // is resetting the drift-telemetry sidecar to the live histogram it
    // returns (collected BEFORE the swap — reading the new table after
    // the swap would crash on a zero-row store)
    writeStatRows(spark, path,
      StoreLifecycle.compactPartitioned(spark, path, live), SaveMode.Overwrite)
  }

  /** Re-fit + re-encode a DRIFTED store from its own contents into a
    * NEW store at `outPath` — the operation the append-drift REBALANCE
    * recommendation points at ([[reportDrift]]), closing the loop from
    * telemetry to repair. The store keeps codes, not original vectors,
    * so the training corpus is the store's own reconstructions
    * ([[graft.functions.Kernels.pqReconstructF]]: coarse centroid +
    * decoded residual, one codegen projection) — the standard
    * re-train-from-reconstructions trade: distortion is bounded by the
    * OLD model's quantization error, and the refreshed coarse layout
    * restores balanced cells, so nprobe pruning stops scanning one hot
    * cell for most queries. BLUE/GREEN by design: a corpus-scale
    * re-encode is never in-place — the new store is built beside the
    * old one, which stays live and untouched until the caller flips the
    * pointer. The attribute log is keyed by vector id, so it applies to
    * either store; share or copy it at the flip. Tombstones are folded
    * out (load anti-joins them), like compaction. Returns the new
    * model. */
  def rebalanceStore(spark: SparkSession, path: String, outPath: String,
                     log: String => Unit = _ => ()): IvfPqModel = {
    val (model, codes) = load(spark, path)
    val dim = model.partitionCentroids.headOption
      .map(_.length).getOrElse(0)
    require(dim > 0, "cannot rebalance a store with no centroids")
    val centLit = org.apache.spark.sql.functions
      .typedlit(model.partitionCentroids.map(_.toSeq).toSeq)
    val cbLit = litDoubles(model.codebooks.flatten.flatten)
    val recon = codes.select(col("id"),
      graft.functions.FastFunctions.pqReconstructF(
        element_at(centLit, col("partition").cast("int") + 1),
        col("codes"), cbLit, model.config.numCodes).as("vec"))
    val (newModel, newEnc) =
      fit(recon, "id", "vec", dim, model.config, log)
    save(newModel, newEnc, outPath)
    log(s"rebalance: re-fit ${model.config.numPartitions} cells from " +
      s"reconstructions; new store at $outPath (old store untouched)")
    newModel
  }

  /** CELL-TARGETED partial rebalance — the nightly-maintenance twin of
    * [[rebalanceStore]]: where the blue/green path re-fits and rewrites
    * the WHOLE store, this repairs drift confined to a few cells by
    * touching only those cells' files, in place. At 100 TB that is the
    * difference between re-encoding everything and a job bounded by the
    * drifted region.
    *
    * Mechanics: cells whose live count exceeds `factorX100`/100 × the
    * mean are HOT (exact integer compare `cnt·100·P > factor·n`); an
    * equal number of the EMPTIEST cells join them as capacity donors.
    * The hot∪donor ("refresh") region's vectors are reconstructed
    * ([[graft.functions.Kernels.pqReconstructF]]) through a
    * partition-pruned scan, a local BISECTING k-means
    * ([[LocalKMeans.fitBisecting]] — heaviest-cluster-first splits, the
    * mass guarantee a flat fit lacks on blob-dominated regions) over a
    * capped id-hash sample (the
    * [[IvfPqConfig.trainPointsPerCentroid]] discipline; membership and
    * order are pure functions of the ids, so the operator is immune to
    * file/partition-layout variation) re-fits exactly |refresh|
    * centroids, and the region's vectors are reassigned AMONG THE
    * REFRESHED CENTROIDS ONLY and re-encoded against the unchanged PQ
    * codebooks. Confining reassignment to the
    * refreshed centroids is what keeps every untouched cell's files
    * byte-identical — no row can migrate into a cold cell — and it is
    * sound because cell membership affects only which probes see a
    * vector, not its distance math; the refreshed centroids cover the
    * drifted region by construction.
    *
    * Writes (all under the same maintenance lock as [[compactStore]]):
    * a dynamic-partition-overwrite of exactly the refresh cell
    * directories, deletion of refresh dirs left with zero rows, then
    * the centroids table and a rebuilt stats sidecar. The artifact
    * writes are not mutually atomic; a crash mid-sequence is repaired
    * by re-running the operation or falling back to the blue/green
    * [[rebalanceStore]]. The manifest (P, D, C, dim) never changes.
    *
    * Returns the refreshed model and the refreshed cell ids (empty ⇒
    * the store was already balanced and nothing was written). */
  def rebalanceStorePartial(spark: SparkSession, path: String,
                            factorX100: Long = 200L,
                            log: String => Unit = _ => ()): (IvfPqModel, Seq[Int]) = {
    require(factorX100 > 100L,
      s"imbalance factor must exceed 1.0 (100), got $factorX100")
    val (model, live) = load(spark, path)
    val p = model.config.numPartitions
    val countMap = live.groupBy("partition").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val histo = Array.tabulate(p)(i => countMap.getOrElse(i, 0L))
    val n = histo.sum
    // threshold and sizing arithmetic in BigInt: cnt·100·P and
    // 2·hotMass·100·P overflow a Long at plausible scale (1e12 rows ×
    // 1e5 cells × 100 > 2⁶³), and a silent wrap would mis-flag hot
    // cells or produce a negative donor count
    val hot = (0 until p).filter(i =>
      BigInt(histo(i)) * 100 * p > BigInt(factorX100) * n)
    if (hot.isEmpty || n == 0L) {
      log("rebalance-partial: no cell above threshold; store untouched")
      return (model, Seq.empty)
    }
    // donor count sized by the region's MASS, not the hot-cell count:
    // after the re-split each refresh cell carries ~regionMass/k rows,
    // so k must be at least regionMass/(factor×mean) for the result to
    // clear the threshold — ×2 headroom for k-means imperfection and
    // the (small) mass the donors themselves contribute
    val hotMass = hot.map(histo).sum
    val neededK = ((BigInt(2) * hotMass * 100 * p + BigInt(factorX100) * n - 1) /
      (BigInt(factorX100) * n)).toInt
    val donors = (0 until p).filterNot(hot.contains)
      .sortBy(i => (histo(i), i))
      .take(math.max(hot.size, neededK - hot.size))
    val refresh = (hot ++ donors).sorted
    log(s"rebalance-partial: hot cells ${hot.mkString(",")} " +
      s"(max ${hot.map(histo).max} vs mean ${n / p}), donors " +
      s"${donors.mkString(",")} — re-encoding ${refresh.map(histo).sum} " +
      s"of $n rows")

    // reconstruct ONLY the refresh region (partition-pruned scan);
    // checkpointed because it feeds both the train sample and the
    // reassignment pass
    val centLit = typedlit(model.partitionCentroids.map(_.toSeq).toSeq)
    val cbLit = litDoubles(model.codebooks.flatten.flatten)
    val recon = live
      .where(col("partition").isin(refresh.map(Integer.valueOf): _*))
      .select(col("id"),
        graft.functions.FastFunctions.pqReconstructF(
          element_at(centLit, col("partition").cast("int") + 1),
          col("codes"), cbLit, model.config.numCodes).as("vec"))
      .localCheckpoint()

    // capped local k-means over the region: k = |refresh| new centroids.
    // Sample membership is a PURE FUNCTION OF THE ID (hash-bucket
    // filter) and the collected rows are sorted by id — `df.sample`
    // seeds its RNG per partition and `collect` returns scan-split
    // order, so both vary with file/partition layout, which made the
    // re-fit (and therefore the convergence trajectory of repeated
    // maintenance passes) depend on how the store happened to be split.
    // A maintenance operator must be a pure function of store CONTENTS.
    val k = refresh.size
    val nRegion = refresh.map(histo).sum
    val cap = model.config.trainPointsPerCentroid.toLong * k
    val trainVecs = graft.functions.VecCollect.collectVecs(
      (if (model.config.trainPointsPerCentroid > 0 && cap < nRegion) {
        val fracX1e6 = math.max(1L, math.min(1000000L,
          (BigInt(cap) * 1000000 / nRegion).toLong))
        recon.where(pmod(xxhash64(col("id")), lit(1000000L)) < fracX1e6)
      } else recon)
      .orderBy("id")
      .select("vec"))
    require(trainVecs.length >= k,
      s"rebalance-partial: region sample has ${trainVecs.length} vectors " +
        s"< $k refresh cells — k-means needs n >= k")
    // BISECTING k-means, not a flat k-fit: the refresh region is by
    // construction dominated by one overweight blob, exactly the shape
    // where a flat fit can stably leave the blob under a single center
    // (no mass guarantee ⇒ repeated maintenance passes may never
    // converge); heaviest-first bisection divides the hot mass at every
    // split, so each pass provably shrinks the max cell toward
    // regionMass/k (see LocalKMeans.fitBisecting)
    val regionFit = LocalKMeans.fitBisecting(trainVecs, k,
      model.config.maxIter, model.config.tol, model.config.seed)
    val newCents = model.partitionCentroids.map(_.clone())
    refresh.zipWithIndex.foreach { case (cell, j) =>
      newCents(cell) = regionFit.centroids(j)
    }
    val newModel = model.copy(partitionCentroids = newCents)

    // reassign among the refreshed centroids only, then re-encode the
    // residuals against the UNCHANGED codebooks — one narrow projection
    val refreshArr = refresh.toArray
    val flatSub = litDoubles(refreshArr.flatMap(newCents(_)))
    val mapLit = typedlit(refreshArr.toSeq)
    // untouched cells' sidecar rows survive verbatim (the sidecar
    // tracks codes-table totals, tombstoned rows included, so live
    // counts would desync it); captured before any write
    val sideMap = cellHistogram(spark, path)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val reEnc = encodeResiduals(newModel, recon
        .withColumn("__li", nearestCentroidL2(col("vec"), flatSub))
        .withColumn("partition",
          element_at(mapLit, col("__li").cast("int") + 1))
        .withColumn("residual",
          graft.functions.FastFunctions.subCentroidF(
            col("vec"), flatSub, col("__li")))
        .select(col("id"), col("partition"), col("residual")))
      .select("id", "partition", "codes")
      .localCheckpoint()
    val newCellCounts = reEnc.groupBy("partition")
      .agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    // install: overwrite exactly the refresh dirs that received rows —
    // the overwrite mode rides as a WRITER option, never a session-conf
    // mutation (a temporarily-dynamic session conf would silently change
    // every concurrent Overwrite+partitionBy write in the session)
    reEnc.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("partition").parquet(s"$path/codes")
    // …and drop refresh dirs whose rows all moved elsewhere (a stale
    // dir would resurrect pre-rebalance encodings of migrated ids)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    refresh.filterNot(newCellCounts.contains).foreach { cell =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"$path/codes/partition=$cell"), true)
    }

    // refreshed centroids + a stats sidecar rebuilt from exact counts
    // (untouched cells keep their live counts, refresh cells get the
    // recomputed ones) — no rescan of the codes table
    writeCentroids(spark, path, newCents)
    val statRows = (0 until p).map { i =>
      if (refresh.contains(i)) i -> newCellCounts.getOrElse(i, 0L)
      else i -> sideMap.getOrElse(i, 0L)
    }.filter(_._2 > 0L)
    writeStatRows(spark, path, statRows, SaveMode.Overwrite)
    log(s"rebalance-partial: rewrote ${refresh.size} of $p cell dirs " +
      s"in place; centroids + stats refreshed")
    (newModel, refresh)
  }

  /** Minimal flat-JSON int-field extractor (manifest only; avoids deps). */
  private def ujsonLite(s: String): Map[String, Int] =
    """"(\w+)"\s*:\s*(\d+)""".r.findAllMatchIn(s)
      .map(m => m.group(1) -> m.group(2).toInt).toMap
}
