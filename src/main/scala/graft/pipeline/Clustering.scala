package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.FastFunctions.{litDoubles, nearestCentroidL2}
import graft.index.LocalKMeans

/** Unsupervised corpus clustering over an embedding column — the missing
  * topic-balance primitive: k-means cells assign every document a
  * cluster, and per-cluster quotas materialize a cluster-proportional or
  * cluster-BALANCED corpus sample (the unsupervised analogue of
  * [[TrainingData.stratifiedSample]]'s source strata).
  *
  * The fit reuses the IVF coarse-fit machinery
  * ([[graft.index.IvfPqBuilder]]'s discipline): centroid ESTIMATION runs
  * driver-local ([[LocalKMeans]]) over a capped uniform sample
  * (k·trainPointsPerCentroid rows — never the corpus), then the
  * corpus-scaled ASSIGNMENT is one distributed codegen projection
  * (`nearestCentroidL2` with the k×dim centroid table riding as a
  * primitive literal — no join, no shuffle). Quota arithmetic is exact
  * integer apportionment; sampling is the md5 race of
  * [[TrainingData.stratifiedSample]], so the whole composite is
  * deterministic for a fixed (data, k, seed).
  */
object Clustering {

  /** Fitted cluster model: k × dim centroids (row-major). */
  final case class ClusterModel(centroids: Array[Array[Double]], k: Int,
                                iters: Int)

  /** Fit k centroids from a capped uniform sample of `vecCol`.
    * `trainPointsPerCentroid` caps the driver-collected sample at
    * k·cap rows (0 = collect everything — in-memory corpora only). */
  def fit(df: DataFrame, vecCol: String, k: Int, seed: Long,
          trainPointsPerCentroid: Int = 256, maxIter: Int = 25,
          tol: Double = 1e-4): ClusterModel = {
    require(k >= 1, s"k must be >= 1, got $k")
    val base = df.select(col(vecCol).as("vec"))
    val cap = k.toLong * trainPointsPerCentroid
    val nRows = if (trainPointsPerCentroid > 0) base.count() else 0L
    val src =
      if (trainPointsPerCentroid > 0 && cap < nRows)
        base.sample(withReplacement = false, cap.toDouble / nRows, seed)
      else base
    val train = graft.functions.VecCollect.collectVecs(src)
    require(train.length >= k,
      s"corpus clustering: training sample has ${train.length} vectors " +
        s"< k=$k — lower k or raise trainPointsPerCentroid " +
        "(k-means needs n >= k)")
    val r = LocalKMeans.fit(train, k, maxIter, tol, seed, init = "kmeans++")
    ClusterModel(r.centroids, k, r.iters)
  }

  /** Centroid table as a plan literal (flat row-major doubles). */
  private def centLit(model: ClusterModel): Column =
    litDoubles(model.centroids.flatten)

  /** The corpus-scaled assignment: input + `cluster` (long in [0, k)) —
    * ONE codegen projection, no join, no shuffle. */
  def assign(df: DataFrame, vecCol: String, model: ClusterModel): DataFrame =
    df.withColumn("cluster",
      nearestCentroidL2(col(vecCol), centLit(model)).cast("long"))

  /** [[assign]] plus `d2`, the squared L2 distance to the ASSIGNED
    * centroid: the k-row centroid table broadcast-joins on the cluster
    * id and the distance is one sequential higher-order fold per row —
    * array-order addition, so d2 is bit-deterministic (never a parallel
    * float reduction). */
  def assignWithDistance(df: DataFrame, vecCol: String,
                         model: ClusterModel): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = model.centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c) }.toSeq.toDF("cluster", "__cent")
    assign(df, vecCol, model)
      .join(broadcast(cents), "cluster")
      .withColumn("d2", aggregate(
        zip_with(col(vecCol), col("__cent"),
          (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
        lit(0.0), (acc, x) => acc + x))
      .drop("__cent")
  }

  /** Prototype pruning (Sorscher et al. 2022's "keep the hard
    * examples"; the density companion of SemDeDup): per cluster, DROP
    * the `dropPct`% of rows CLOSEST to the centroid — the most
    * prototypical, least informative mass — and keep the rest. Rank is
    * (d2 asc, id asc), so ties cannot flake the cut; the per-cluster
    * drop count is exact-integer floor(size·dropPct/100).
    *
    * Shape: [[assignWithDistance]] (no shuffle beyond the k-row
    * broadcast) + one window per CLUSTER partition over (id, cluster,
    * d2) — the vectors never reach the window, but each CLUSTER sorts
    * in one task: fine when k is large, a giant-group plan when a few
    * topic cells cover the corpus — use [[prototypePruneHist]] at scale
    * (identical kept set). Output: the kept rows of `df` +
    * (cluster, d2). */
  def prototypePrune(df: DataFrame, idCol: String, vecCol: String,
                     model: ClusterModel, dropPct: Int): DataFrame = {
    require(dropPct >= 0 && dropPct <= 100,
      s"dropPct must be in 0..100, got $dropPct")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("cluster")
      .orderBy(col("d2").asc, col(idCol).asc)
    assignWithDistance(df, vecCol, model)
      .withColumn("__rk", row_number().over(w))
      .withColumn("__n",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .where(col("__rk") > expr(s"(__n * $dropPct) div 100"))
      .drop("__rk", "__n")
  }

  /** The 100 TB twin of [[prototypePrune]]: IDENTICAL kept set, no
    * cluster-partitioned window over the corpus. The exact form sends
    * every row of a cluster to one task's sort — fine when k is large,
    * a giant-group plan when k is small (a handful of topic cells over
    * a 100 TB corpus). Here the per-cluster drop threshold comes from a
    * QUANTIZED-d2 histogram (bucket = ⌊d2·quantScale⌋; quantization is
    * order-preserving, and equal d2 always means equal bucket, so
    * bucket boundaries never split a d2 tie class): a domain-sized
    * cumulative window finds the BOUNDARY bucket where the cumulative
    * count first reaches the cluster's exact integer drop quota, rows
    * in buckets below it are dropped outright, rows above are kept
    * outright, and only the boundary bucket's rows — bounded by one
    * bucket's population, never the cluster — are resolved exactly by
    * the same (d2 asc, id asc) rank as the exact form. The result is
    * therefore EXACTLY [[prototypePrune]]'s kept set at any
    * `quantScale`; the scale only trades histogram width against
    * boundary-bucket size (a degenerate all-equal-d2 cluster puts its
    * whole population in the boundary bucket — the documented worst
    * case, where the exact rank is unavoidable).
    *
    * CARDINALITY CONTRACT (loud): ≤ `maxDistinct` histogram buckets per
    * cluster, asserted in-plan. Output: the kept rows of `df` +
    * (cluster, d2), exactly [[prototypePrune]]. */
  def prototypePruneHist(df: DataFrame, idCol: String, vecCol: String,
                         model: ClusterModel, dropPct: Int,
                         quantScale: Double = 1e4,
                         maxDistinct: Long = 4L << 20): DataFrame = {
    require(dropPct >= 0 && dropPct <= 100,
      s"dropPct must be in 0..100, got $dropPct")
    require(quantScale > 0, s"quantScale must be positive, got $quantScale")
    import org.apache.spark.sql.expressions.Window
    val ad = assignWithDistance(df, vecCol, model)
      .withColumn("__b", floor(col("d2") * lit(quantScale)).cast("long"))
    val hist = ad.groupBy(col("cluster"), col("__b"))
      .agg(count(lit(1)).as("__c"))
    val wCum = Window.partitionBy("cluster").orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy("cluster")
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wTot))
      .withColumn("__nd", count(lit(1)).over(wTot))
      .where(assert_true(col("__nd") <= maxDistinct,
        lit(s"prototypePruneHist: more than $maxDistinct distinct d2 " +
          s"buckets in one cluster — lower quantScale")).isNull)
      .withColumn("__drop", expr(s"(__n * $dropPct) div 100"))
    // the boundary bucket: the first whose cumulative count reaches the
    // drop quota (min over (__b, …) structs — __b is unique per cluster
    // in the histogram, so the struct min IS the min-bucket row)
    val bound = cum.where(col("__cum") >= col("__drop"))
      .groupBy(col("cluster"))
      .agg(min(struct(col("__b"), (col("__cum") - col("__c")).as("__cb"),
        col("__drop"))).as("__bi"))
      .select(col("cluster"), col("__bi.__b").as("__bb"),
        col("__bi.__cb").as("__cb"), col("__bi.__drop").as("__dc"))
    val j = ad.join(broadcast(bound), Seq("cluster"))
    val above = j.where(col("__b") > col("__bb"))
    // exact resolution INSIDE the boundary bucket only: local rank over
    // (d2, id) + the buckets-below offset reproduces the exact form's
    // cluster-wide rank for precisely the rows whose fate the histogram
    // cannot decide
    val wLoc = Window.partitionBy("cluster").orderBy(col("d2"), col(idCol))
    val keptAtBound = j.where(col("__b") === col("__bb"))
      .withColumn("__lr", row_number().over(wLoc))
      .where(col("__lr") > col("__dc") - col("__cb"))
      .drop("__lr")
    above.unionByName(keptAtBound)
      .drop("__b", "__bb", "__cb", "__dc")
  }

  /** [[fit]] + [[assign]] in one call. */
  def cluster(df: DataFrame, vecCol: String, k: Int, seed: Long,
              trainPointsPerCentroid: Int = 256, maxIter: Int = 25,
              tol: Double = 1e-4): DataFrame =
    assign(df, vecCol,
      fit(df, vecCol, k, seed, trainPointsPerCentroid, maxIter, tol))

  /** Exact integer apportionment of `total` across the clusters present
    * in `assigned` — METADATA-sized (k rows). Modes:
    *  - "balanced": equal shares (total div k′ each, the first
    *    total mod k′ clusters by id get one more) — inverse-proportional
    *    corpus balancing, the flat-topic-mixture quota;
    *  - "proportional": largest-remainder apportionment of
    *    floor(total·size/N) with the leftover units going to the largest
    *    fractional remainders (ties toward the smaller cluster id) —
    *    preserves the corpus mixture at a smaller budget.
    * Quotas are NOT capped at cluster size ([[TrainingData
    * .stratifiedSample]] naturally yields min(quota, size) rows); a
    * caller needing strict-total output under short clusters water-fills
    * with [[TrainingData.mixtureBudget]].
    *
    * The apportionment runs on the DRIVER over the collected k-row size
    * histogram (the [[TrainingData.mixtureBudget]] precedent for
    * metadata-sized planning) in BigInt — sz·total would overflow Long
    * in-plan once both pass ~3e9, which multi-billion-row corpora with
    * corpus-sized budgets reach. Output: (cluster, n). */
  def clusterQuotas(assigned: DataFrame, total: Long,
                    mode: String): DataFrame = {
    require(total >= 0, s"negative total $total")
    require(mode == "balanced" || mode == "proportional",
      s"unknown quota mode '$mode' (balanced | proportional)")
    val spark = assigned.sparkSession
    import spark.implicits._
    val sizes = assigned.groupBy("cluster")
      .agg(count(lit(1)).as("sz"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
    val quotas: Seq[(Long, Long)] = mode match {
      case "balanced" =>
        // equal shares; the first total mod k' clusters by id get +1
        val kp = sizes.length.max(1)
        sizes.zipWithIndex.map { case ((c, _), i) =>
          (c, total / kp + (if (i < total % kp) 1L else 0L))
        }.toSeq
      case _ =>
        // largest-remainder apportionment, ties toward smaller id
        val tot = sizes.map(s => BigInt(s._2)).sum
        require(tot > 0, "proportional quotas need a non-empty corpus")
        val base = sizes.map { case (c, sz) =>
          val prod = BigInt(sz) * BigInt(total)
          (c, (prod / tot).toLong, prod % tot)
        }
        val leftover = total - base.map(_._2).sum
        val bump = base.sortBy { case (c, _, rem) => (-rem, c) }
          .take(leftover.toInt).map(_._1).toSet
        base.map { case (c, b, _) =>
          (c, b + (if (bump(c)) 1L else 0L))
        }.toSeq
    }
    quotas.toDF("cluster", "n")
  }

  /** Adapt a fitted IVF coarse model as a cluster model: a stored vector
    * index's partition centroids double as the corpus topic-clusterer —
    * one fit serves both retrieval and balancing. */
  def fromIvf(model: graft.index.IvfPqModel): ClusterModel =
    ClusterModel(model.partitionCentroids, model.config.numPartitions, 0)

  /** Cluster-balanced corpus sample: assign clusters, apportion `total`
    * by `mode`, then take each cluster's quota by the deterministic
    * md5 race ([[TrainingData.stratifiedSample]] with cluster strata).
    * Output: the sampled input rows + their `cluster`. */
  def balancedSample(df: DataFrame, idCol: String, vecCol: String, k: Int,
                     total: Long, seed: Long, mode: String = "balanced",
                     trainPointsPerCentroid: Int = 256): DataFrame =
    balancedSampleAssigned(
      cluster(df, vecCol, k, seed, trainPointsPerCentroid)
        .localCheckpoint(), // quota sizes + the race share the assignment
      idCol, total, seed, mode)

  /** [[balancedSample]] over a PRECOMPUTED `cluster` assignment — the
    * reuse path when the assignment already exists (an IVF store's
    * partitions via [[fromIvf]] + [[assign]], or a persisted one). */
  def balancedSampleAssigned(assigned: DataFrame, idCol: String,
                             total: Long, seed: Long,
                             mode: String = "balanced"): DataFrame =
    TrainingData.stratifiedSample(assigned, "cluster", idCol,
      clusterQuotas(assigned, total, mode), seed)
}
