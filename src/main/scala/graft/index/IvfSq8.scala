package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.FastFunctions._

/** IVF + SQ8: coarse k-means partitioning with 8-bit scalar-quantized
  * RESIDUALS — the FAISS IndexIVFScalarQuantizer shape, completing this
  * engine's index-family matrix (flat/exact → SQ8 → IVF+SQ8 → IVF+PQ in
  * increasing compression): nprobe cell pruning like IVF+PQ, but the
  * within-cell code is the per-dimension affine byte codec instead of
  * codebook lookups — finer-grained distances (≤ Δ/2 error per dim, no
  * codebook training) at dim bytes/vector instead of D codes.
  *
  * Build = ONE driver-sized sample + in-process Lloyd for the coarse
  * cells (the [[IvfPqBuilder]] discipline), then a single distributed
  * pass: assignment + residual kernels, a posexplode min/max pass for
  * the residual codec, one `sq8Encode` call per row. Query = driver-side
  * cell selection, partition-pruned scan, one `sq8Dist` kernel call per
  * row against the per-cell localized query dispatched by a CASE over
  * the probe set — the same single-codegen-span plan as
  * [[graft.query.AnnQuery.topK]].
  */
final case class IvfSq8Model(dim: Int, numPartitions: Int,
                             partitionCentroids: Array[Array[Double]],
                             codec: Sq8Model) {
  // see IvfPqModel.centroidsT
  @transient private[graft] lazy val centroidsT: Array[Double] =
    graft.functions.SimdKernels.cellMajor(partitionCentroids)
}

object IvfSq8 {

  /** Fit coarse cells + residual codec; returns the model and the
    * encoded corpus (id, partition, sq8). */
  def fit(df: DataFrame, idCol: String, vecCol: String, dim: Int,
          numPartitions: Int, maxIter: Int = 20,
          trainPointsPerCentroid: Int = 256, seed: Long = 42L)
      : (IvfSq8Model, DataFrame) = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val cap = numPartitions.toLong * trainPointsPerCentroid
    val nRows = base.count()
    val sample =
      if (cap < nRows)
        base.sample(withReplacement = false, cap.toDouble / nRows, seed)
      else base
    val train = graft.functions.VecCollect.collectVecs(sample.select("vec"))
    require(train.length >= numPartitions,
      s"IVF+SQ8 build: training sample has ${train.length} vectors < " +
        s"numPartitions P=$numPartitions — lower P or ingest more vectors " +
        "(k-means needs n >= k)")
    val coarse = LocalKMeans.fit(train, numPartitions, maxIter,
      tol = 1e-4, seed = seed, init = "kmeans++")
    val flatCentLit = litDoubles(coarse.centroids.flatten)
    val assigned = base
      .withColumn("partition", nearestCentroidL2(col("vec"), flatCentLit))
      .withColumn("residual",
        subCentroidF(col("vec"), flatCentLit, col("partition")))
      .select(col("id"), col("partition"), col("residual"))
    val codec = Sq8.fit(assigned, "residual", dim)
    val encoded = assigned.select(col("id"), col("partition"),
      sq8Encode(col("residual"), litDoubles(codec.mins),
        litDoubles(codec.scales)).as("sq8"))
    (IvfSq8Model(dim, numPartitions, coarse.centroids, codec), encoded)
  }

  /** Encode `df` against a FROZEN model — assignment to the nearest
    * coarse centroid, residual, one `sq8Encode` pass — the single
    * distributed projection every vector rides through at build time,
    * exposed for incremental ingest ([[appendToStore]]). */
  def encode(model: IvfSq8Model, df: DataFrame, idCol: String,
             vecCol: String): DataFrame = {
    val flatCentLit = litDoubles(model.partitionCentroids.flatten)
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("partition", nearestCentroidL2(col("vec"), flatCentLit))
      .withColumn("residual",
        subCentroidF(col("vec"), flatCentLit, col("partition")))
      .select(col("id"), col("partition"),
        sq8Encode(col("residual"), litDoubles(model.codec.mins),
          litDoubles(model.codec.scales)).as("sq8"))
  }

  /** Persist the IVF+SQ8 index: byte codes partitioned by IVF cell
    * (partition-pruned scans like the IVF+PQ store), centroids + the
    * 2·dim f64 codec constants as small parquet, manifest + SHA-256
    * sidecar under the shared read-verify discipline. Constants stay
    * f64 ⇒ a loaded index answers BIT-IDENTICALLY to the in-memory one
    * (the ann_ivfsq8_stored invariant). */
  def save(model: IvfSq8Model, encoded: DataFrame, path: String): Unit = {
    val spark = encoded.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    // histogram first (it seeds the stats sidecar anyway) so the
    // cell-aligned write can salt populous cells (IvfPqBuilder.save)
    val statRows = encoded.groupBy("partition").agg(count(lit(1)).as("cnt"))
      .collect().map(r => Seq[Any](r.getInt(0), r.getLong(1))).toSeq
    // cell-aligned write — one file per cell (the IvfPqBuilder.save
    // rationale)
    StoreLifecycle.writeCellAligned(encoded.select("id", "partition", "sq8"),
      s"$path/codes", statRows.map(_(1).asInstanceOf[Long]))
    IvfPqBuilder.writeCentroids(spark, path, model.partitionCentroids)
    MetaIO.write(spark.sparkContext.hadoopConfiguration, s"$path/codec",
      Seq("mins" -> MetaIO.DoublesT, "scales" -> MetaIO.DoublesT),
      Seq(Seq(model.codec.mins, model.codec.scales)))
    val manifest = s"""{"vector_size":${model.dim},""" +
      s""""num_partitions":${model.numPartitions}}"""
    IvfPqBuilder.writeString(spark, s"$path/manifest.json", manifest)
    IvfPqBuilder.writeString(spark, s"$path/manifest.json.sha256",
      IvfPqBuilder.sha256Hex(manifest))
    // seed the drift-telemetry sidecar (the IVF+PQ discipline): appends
    // against the frozen model report cumulative cell imbalance from it
    IvfPqBuilder.writeStatRows(spark, path, statRows,
      org.apache.spark.sql.SaveMode.Overwrite)
  }

  /** Load an IVF+SQ8 store; validates centroid/codec shapes against the
    * manifest (the shared load-time invariant discipline). Returns the
    * LIVE view — tombstones anti-joined out. */
  def load(spark: org.apache.spark.sql.SparkSession, path: String)
      : (IvfSq8Model, DataFrame) = {
    val manifestStr = IvfPqBuilder.readVerifiedManifest(spark, path)
    def intField(name: String): Int =
      ("\"" + name + "\"\\s*:\\s*(\\d+)").r.findFirstMatchIn(manifestStr)
        .getOrElse(sys.error(s"bad IvfSq8 manifest: $manifestStr"))
        .group(1).toInt
    val dim = intField("vector_size")
    val p = intField("num_partitions")
    val centroids = IvfPqBuilder.readCentroids(spark, path)
    require(centroids.length == p,
      s"expected $p centroids, got ${centroids.length}")
    require(centroids.forall(_.length == dim), "centroid dim mismatch")
    val codec = MetaIO.read(spark.sparkContext.hadoopConfiguration,
      s"$path/codec",
      Seq("mins" -> MetaIO.DoublesT, "scales" -> MetaIO.DoublesT)).head
    val mins = codec(0).asInstanceOf[Array[Double]]
    val scales = codec(1).asInstanceOf[Array[Double]]
    require(mins.length == dim && scales.length == dim,
      s"codec shape ${mins.length}/${scales.length} != manifest dim $dim")
    (IvfSq8Model(dim, p, centroids, Sq8Model(dim, mins, scales)),
      StoreLifecycle.liveView(spark, path,
        spark.read.parquet(s"$path/codes")))
  }

  /** Incremental ingest against the FROZEN model (coarse centroids AND
    * residual codec never move — the same frozen-model contract as
    * [[IvfPqBuilder.appendToStore]], including its drift consequence:
    * the codec's min/Δ were fit on the build corpus, so drifted appends
    * clamp at the range edges; the recovery is a rebuild, like IVF+PQ's
    * REBALANCE). Carries the shared drift telemetry: each append writes
    * its per-cell batch histogram to the stats sidecar (backfilled once
    * for pre-sidecar stores) and, when `log` listens, reports the
    * cumulative max-cell/mean-cell imbalance with the REBALANCE
    * recommendation past the shared threshold — for this family the
    * recommendation means a REBUILD ([[fit]] + [[save]]; there is no
    * codebook-preserving partial repair, the byte codec itself drifts). */
  def appendToStore(model: IvfSq8Model, df: DataFrame, idCol: String,
                    vecCol: String, path: String): Unit =
    appendImpl(model, df, idCol, vecCol, path, None)

  /** As the 5-arg [[appendToStore]], with the drift report delivered to
    * `log` (the sidecar read + collect runs only when someone listens —
    * the [[IvfPqBuilder.appendToStore]] discipline). */
  def appendToStore(model: IvfSq8Model, df: DataFrame, idCol: String,
                    vecCol: String, path: String,
                    log: String => Unit): Unit =
    appendImpl(model, df, idCol, vecCol, path, Some(log))

  private def appendImpl(model: IvfSq8Model, df: DataFrame, idCol: String,
                         vecCol: String, path: String,
                         log: Option[String => Unit]): Unit = {
    import org.apache.spark.sql.SaveMode
    val spark = df.sparkSession
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath)) {
      log.foreach(_("append-drift: no stats sidecar — backfilling the " +
        "histogram from the existing codes table (one-time scan)"))
      IvfPqBuilder.writeStats(spark.read.parquet(s"$path/codes"), path,
        SaveMode.Overwrite)
    }
    IvfPqBuilder.removeEmptyPlaceholder(spark, path)
    val enc = encode(model, df, idCol, vecCol).persist()
    try {
      enc.write.mode(SaveMode.Append).partitionBy("partition")
        .parquet(s"$path/codes")
      IvfPqBuilder.writeStats(enc, path, SaveMode.Append)
      log.foreach(IvfPqBuilder.reportDrift(spark, path,
        model.numPartitions, _))
    } finally enc.unpersist()
  }

  /** Append-only DELETE — the shared tombstone log. */
  def deleteFromStore(storePath: String, ids: DataFrame,
                      idCol: String): Unit =
    StoreLifecycle.deleteFromStore(storePath, ids, idCol)

  /** Maintenance compaction — the shared cell-partitioned rewrite
    * (one file per cell dir, crash-recoverable swap, tombstones
    * dropped), with the drift-telemetry sidecar reset to the live
    * histogram. Bit-exact by construction. */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
                   path: String): Unit = {
    import spark.implicits._
    val (_, live) = load(spark, path)
    val statRows = StoreLifecycle.compactPartitioned(spark, path,
      live.select("id", "partition", "sq8"))
    IvfPqBuilder.writeStatRows(spark, path,
      statRows.map { case (p, c) => Seq[Any](p, c) },
      org.apache.spark.sql.SaveMode.Overwrite)
  }

  /** Selected cells: (partition id, localized query q − centroid), by
    * the same rule and arithmetic as
    * [[graft.query.AnnQuery.selectPartitions]]. */
  def selectPartitions(model: IvfSq8Model, q: Array[Double],
                       nprobe: Int): Array[(Int, Array[Double])] = {
    require(nprobe >= 1 && nprobe <= model.numPartitions,
      s"nprobe $nprobe out of range 1..${model.numPartitions}")
    graft.query.AnnQuery.nearestCells(model.partitionCentroids,
      model.centroidsT, q, nprobe)
  }

  /** Approximate top-k: (id, partition, sq_dist) ascending — asymmetric
    * distance between the localized query and each cell's decoded
    * residuals, over the nprobe-pruned scan only. */
  def topK(encoded: DataFrame, model: IvfSq8Model, q: Array[Double],
           k: Int, nprobe: Int): DataFrame = {
    val probes = selectPartitions(model, q, nprobe)
    val mins = litDoubles(model.codec.mins)
    val scales = litDoubles(model.codec.scales)
    def distFor(localized: Array[Double]) =
      sq8Dist(litDoubles(localized), col("sq8"), mins, scales)
    val pruned = encoded.where(col("partition").isin(probes.map(_._1): _*))
    val dist = probes.tail.foldLeft(
      when(col("partition") === probes.head._1, distFor(probes.head._2))) {
      case (acc, (p, localized)) =>
        acc.when(col("partition") === p, distFor(localized))
    }
    pruned.withColumn("sq_dist", dist)
      .orderBy(col("sq_dist"), col("id"))
      .limit(k)
      .select(col("id"), col("partition"), col("sq_dist"))
  }
}
