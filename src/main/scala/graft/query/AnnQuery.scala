package graft.query

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{Kernels, SimdKernels, SimdSupport}
import graft.index.IvfPqModel

/** IVF+PQ approximate k-NN over an encoded codes table — the reference's
  * query path (reference/src/db/stored.rs:315-389) as one declarative plan:
  *
  *   1. partition selection — distances to the P coarse centroids, computed
  *      on the DRIVER (P×N floats; reference does the same in-process,
  *      db/stored.rs:394-442). Yields nprobe winning cells plus the
  *      localized query q − centroid_p per cell.
  *   2. ADC tables — per probed cell, the D×C table of
  *      ‖subv_d(q−centroid_p) − codebook[d][c]‖² (db/stored.rs:549-573).
  *      nprobe×D×C doubles — embedded as codegen literals, not broadcast
  *      variables, so the whole scan stays in WholeStageCodegen.
  *   3. pruned scan + table-lookup distance — `partition IN probes` prunes
  *      parquet directories (the analogue of only reading nprobe partition
  *      files, db/stored.rs:554); per row the distance is
  *      Σ_d table[d][codes[d]] — pure lookups (db/stored.rs:575-595).
  *   4. global top-k — orderBy(dist).limit(k) → TakeOrderedAndProject:
  *      per-partition bounded top-k + driver merge, exactly the
  *      reference's NBestByKey-then-merge (nbest.rs:7-137,
  *      db/stored.rs:378-387) but data-parallel.
  *
  * The async overlap machinery of the reference (asyncdb/stored/query.rs)
  * disappears: Spark schedules the pruned partition scans concurrently.
  */
object AnnQuery {

  /** Selected cells: (partition id, localized query). */
  def selectPartitions(model: IvfPqModel, q: Array[Double], nprobe: Int)
      : Array[(Int, Array[Double])] = {
    require(nprobe >= 1 && nprobe <= model.config.numPartitions,
      s"nprobe $nprobe out of range 1..${model.config.numPartitions}") // db/stored.rs:403-409
    nearestCells(model.partitionCentroids, model.centroidsT, q, nprobe)
  }

  /** Lane-block × dimension steps one selection unit must cover before
    * [[nearestCells]] splits its distances across the serve crew. */
  private val SelectUnitSteps = 4096

  /** The nprobe cells nearest q, ascending by (squared distance, cell
    * id), each with the localized query q − centroid. Distances fold
    * through [[Kernels.subSqDist]] or its lane-exact twin
    * [[SimdKernels.cellDistsExact]] over `centT` (the
    * [[SimdKernels.cellMajor]] copy, forced only on that path), whose
    * lane blocks split into up to one range per core on the
    * [[ServeCrew]] once there are enough of them (a 1536-d, 100-cell
    * model makes 4 units). The top-n pass and the localization of the
    * winners are serial. */
  private[graft] def nearestCells(centroids: Array[Array[Double]],
      centT: => Array[Double], q: Array[Double],
      nprobe: Int): Array[(Int, Array[Double])] = {
    val n = centroids.length
    val dim = q.length
    require(n == 0 || centroids(0).length == dim,
      s"query has dim $dim, centroids ${centroids(0).length}")
    val dist =
      if (SimdSupport.available) {
        val ct = centT
        val out = new Array[Double](ct.length / dim)
        val blocks = out.length / SimdKernels.lanes
        val units = math.max(1, math.min(ServeCrew.helpers + 1,
          (blocks.toLong * dim / SelectUnitSteps).toInt))
        ServeCrew.fanOut(units, units) { u =>
          SimdKernels.cellDistsExact(ct, q, out,
            u * blocks / units, (u + 1) * blocks / units)
        }
        out
      } else Array.tabulate(n)(p => Kernels.subSqDist(q, 0, centroids(p), 0, dim))
    // insertion into the sorted best-so-far; cells arrive in id order,
    // so the strict < keeps the lower id ahead on equal distances
    def before(a: Int, b: Int) = java.lang.Double.compare(dist(a), dist(b)) < 0
    val best = new Array[Int](nprobe)
    var filled = 0
    var p = 0
    while (p < n) {
      if (filled < nprobe || before(p, best(nprobe - 1))) {
        var j = if (filled < nprobe) { filled += 1; filled - 1 } else nprobe - 1
        while (j > 0 && before(p, best(j - 1))) { best(j) = best(j - 1); j -= 1 }
        best(j) = p
      }
      p += 1
    }
    best.map { p =>
      val c = centroids(p)
      val localized = new Array[Double](dim)
      var i = 0
      while (i < dim) { localized(i) = q(i) - c(i); i += 1 }
      (p, localized)
    }
  }

  /** D×C ADC table for one localized query (db/stored.rs:549-573). */
  def adcTable(model: IvfPqModel, localized: Array[Double]): Array[Array[Double]] = {
    val flat = adcTables(model, Array(localized))(0)
    val c = model.config.numCodes
    Array.tabulate(model.config.numDivisions)(d =>
      java.util.Arrays.copyOfRange(flat, d * c, (d + 1) * c))
  }

  /** [[adcTable]] of every localized query, each flattened as the scan
    * reads it: tables(p)(d·C + c). */
  private[graft] def adcTables(model: IvfPqModel,
                               locs: Array[Array[Double]]): Array[Array[Double]] = {
    val d = model.config.numDivisions
    val flats = locs.map(_ => new Array[Double](d * model.config.numCodes))
    adcTablesInto(model, locs, flats, 0, d)
    flats
  }

  /** Divisions [div0, div1) of [[adcTables]] into `flats` — the unit a
    * server splits one query's table prep into. The Vector-API kernel
    * ([[SimdKernels.adcTablesExact]]) makes one codebook pass for every
    * probe; the scalar path folds each entry through
    * [[Kernels.subSqDist]]; both give the same bits. */
  private[graft] def adcTablesInto(model: IvfPqModel, locs: Array[Array[Double]],
      flats: Array[Array[Double]], div0: Int, div1: Int): Unit = {
    val m = model.subDim
    val numCodes = model.config.numCodes
    var div = div0
    while (div < div1) {
      if (SimdSupport.available)
        SimdKernels.adcTablesExact(model.codebookBlocks(div), m, numCodes,
          locs, div * m, flats, div * numCodes)
      else {
        val cbs = model.codebooks(div)
        var p = 0
        while (p < locs.length) {
          var c = 0
          while (c < numCodes) {
            flats(p)(div * numCodes + c) =
              Kernels.subSqDist(locs(p), div * m, cbs(c), 0, m)
            c += 1
          }
          p += 1
        }
      }
      div += 1
    }
  }

  /** ADC distance column: Σ_d table[d][codes[d]] as one kernel call
    * against the flattened D×C table literal. No UDF, no broadcast
    * variable — the table rides in the generated code as a constant. */
  private def adcDistCol(flatTable: Array[Double], numCodes: Int,
                         codes: Column): Column =
    graft.functions.FastFunctions.adcDist(codes, flatTable.toSeq, numCodes)

  /** Approximate top-k: returns (id, partition, sq_dist) ascending.
    * `codes` must carry (id, partition, codes) — typically the
    * partitionBy("partition") parquet written by IvfPqBuilder.save, so the
    * IN-filter prunes at file level.
    *
    * `log` is the QUERY-side stage-event callback, the analogue of the
    * reference's QueryEvents around partition selection / table build /
    * scan / merge (reference/src/db/stored.rs:513-532,
    * asyncdb/stored/query.rs:150-177) and the twin of the build side's
    * `fit(log=)`. Driver-side planning stages (`select-partitions`,
    * `build-adc-tables`) are timed; `scan` and `merge` are emitted when
    * their plan halves are assembled — they execute as ONE fused lazy
    * Spark job (the pruned scan feeds TakeOrderedAndProject directly),
    * whose scheduling is Spark's analogue of the reference's async
    * runtime (Q9 by design, SURVEY §2). */
  def topK(codes: DataFrame, model: IvfPqModel, q: Array[Double],
           k: Int, nprobe: Int,
           log: String => Unit = _ => ()): DataFrame = {
    val t0 = System.nanoTime()
    val probes = selectPartitions(model, q, nprobe)
    log(f"select-partitions nprobe=$nprobe " +
      f"cells=${probes.map(_._1).mkString(",")} " +
      f"${(System.nanoTime() - t0) / 1e9}%.4f s")
    topKWithProbes(codes, model, probes, k, log)
  }

  /** Cosine-metric ANN via the unit-sphere reduction — the fourth
    * metric of the exact family (L2 / cosine / IP) brought to the
    * INDEXED family with no new machinery: with `codes` built over
    * L2-NORMALIZED vectors ([[graft.pipeline.Embeddings.l2Normalized]]),
    * ‖q−x‖² = 2 − 2·cos(q,x) on the sphere, so the ordinary L2 ADC scan
    * ranks exactly by descending cosine and the approximate distance
    * converts in one projection: cos ≈ 1 − sq_dist/2 (the standard
    * normalize-then-L2 practice for inner-product-metric IVF indexes).
    * `q` is normalized here, driver-side, so callers pass raw queries.
    * Output: (id, partition, cos_approx), cosine descending. */
  def topKCosine(codes: DataFrame, model: IvfPqModel, q: Array[Double],
                 k: Int, nprobe: Int,
                 log: String => Unit = _ => ()): DataFrame = {
    val n = math.sqrt(q.map(x => x * x).sum)
    val qUnit = if (n == 0.0) q else q.map(_ / n)
    topK(codes, model, qUnit, k, nprobe, log)
      .withColumn("cos_approx", lit(1.0) - col("sq_dist") / lit(2.0))
      .drop("sq_dist")
  }

  /** The scan half of [[topK]], from an EXPLICIT probe set of
    * (cell, localized query) pairs — shared with the OPQ query path
    * ([[graft.index.OpqBuilder.topK]]), which rotates each localized
    * query into code space before the ADC tables are built. Emits the
    * `build-adc-tables` / `scan` / `merge` query events (see [[topK]]). */
  def topKWithProbes(codes: DataFrame, model: IvfPqModel,
                     probes: Array[(Int, Array[Double])], k: Int,
                     log: String => Unit = _ => ()): DataFrame = {
    // one scan with a pruning IN-filter; per-cell ADC tables dispatched by
    // a CASE over the (small) probe set — single pass, single codegen span.
    val t0 = System.nanoTime()
    val tables = probes.map(_._1).zip(adcTables(model, probes.map(_._2)))
    val numCodes = model.config.numCodes
    log(f"build-adc-tables n=${tables.length} " +
      f"shape=${model.config.numDivisions}x${model.config.numCodes} " +
      f"${(System.nanoTime() - t0) / 1e9}%.4f s")
    val pruned = codes.where(col("partition").isin(probes.map(_._1): _*))
    val dist = tables.tail.foldLeft(
      when(col("partition") === tables.head._1,
        adcDistCol(tables.head._2, numCodes, col("codes")))) {
      case (acc, (p, table)) =>
        acc.when(col("partition") === p,
          adcDistCol(table, numCodes, col("codes")))
    }
    log(s"scan cells=${probes.map(_._1).mkString(",")} — pruned IN-filter " +
      s"+ ADC lookup distance, lazy (fused with merge)")
    val out = pruned.withColumn("sq_dist", dist)
      .orderBy(col("sq_dist"), col("id"))
      .limit(k)
      .select(col("id"), col("partition"), col("sq_dist"))
    log(s"merge k=$k — per-partition bounded top-k + driver merge " +
      s"(TakeOrderedAndProject), lazy")
    out
  }

  /** Batch ANN: many queries against the coded table in ONE job — the
    * reference's per-query loop (Q2-Q5) re-expressed as joins, which is
    * where a cluster beats a single process (SURVEY.md §7 phase 7).
    *
    * Probe planning (cell selection + ADC tables) happens driver-side per
    * query — centroids/codebooks are driver-resident by design and
    * queries are small relative to the corpus. The resulting
    * (qid, partition, flat_table) relation is broadcast and joined to the
    * codes on `partition`: every scanned code row computes one ADC lookup
    * per matching query, and the per-query bounded top-k aggregate ships
    * k·|queries| rows to the reducers — codes are scanned once no matter
    * how many queries ride along.
    */
  def batchTopK(codes: DataFrame, model: IvfPqModel,
                queries: Seq[(Long, Array[Double])], k: Int,
                nprobe: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val probes = queries.flatMap { case (qid, q) =>
      val sel = selectPartitions(model, q, nprobe)
      sel.map(_._1).zip(adcTables(model, sel.map(_._2))).map { case (p, t) =>
        (qid, p, t.toSeq)
      }
    }.toDF("qid", "partition", "flat_table")
    // static IN-filter on the union of probed cells → parquet partition
    // pruning; the broadcast join then fans each row out per query
    val probedCells = probes.select("partition").distinct()
      .collect().map(_.getInt(0)).toSeq
    codes.where(col("partition").isin(probedCells: _*))
      .join(broadcast(probes), "partition")
      .select(col("qid"), col("id"),
        graft.functions.FastFunctions
          .adcDistCol(col("codes"), col("flat_table"), model.config.numCodes)
          .as("sq_dist"))
      .groupBy(col("qid"))
      .agg(TopKAggregator.topK(k)(col("sq_dist"), col("id")).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("qid"), col("hit.id").as("id"),
        col("hit.dist").as("sq_dist"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Table-free batch ANN: queries arrive as a DATAFRAME and nothing is
    * planned or broadcast per query on the driver — the shape that
    * survives a million-query batch, where [[batchTopK]]'s driver-side
    * ADC-table planning (~nprobe·D·C·8 B per query) would exhaust driver
    * memory before the job starts.
    *
    * Per query ROW (all executor-side): nprobe cells via the
    * [[graft.functions.Kernels.topCellsL2]] kernel, an equi-join on the
    * cell id against the coded table, distances from the table-free
    * [[graft.functions.Kernels.pqDistDirect]] kernel — centroids and
    * codebooks ride as plan literals (driver-resident by IVF design, a
    * few MB total, independent of batch size). Same distance semantics
    * as [[batchTopK]] (asymmetric ‖(q−c) − decode(codes)‖², equal up to
    * float summation order) and the same cell tie-breaking (lowest id).
    * The join needs no broadcast: with auto-broadcast off it plans as a
    * shuffle join on the cell id, so both sides scale out.
    *
    * This is also exactly the per-micro-batch plan of
    * [[graft.streaming.StreamingKnn.annTopKPerQuery]] (which delegates
    * here) — the reference's async per-query loop
    * (asyncdb/stored/query.rs:221-355) generalized to a relation of
    * queries. Trade-off vs [[batchTopK]]: dim mul-adds per (row, query)
    * instead of D table lookups — the ADC-table path stays preferable
    * for driver-small batches; this one has no driver bottleneck.
    *
    * `queries` must carry (`qidCol`: long, `qvecCol`: array<float>);
    * names must not collide with id/partition/codes. Output
    * (qid, id, sq_dist, rank), rank 1..k ascending per query.
    *
    * @param pruneCells when true, pre-compute the batch's distinct
    *        probe-cell set (≤ P values — BOUNDED BY THE MODEL, not the
    *        batch, so the collect can never grow with query count) with
    *        one extra pass over `queries`, and push it into the codes
    *        scan as a static `partition IN` filter — the same partition
    *        pruning the driver-planned [[batchTopK]] gets for free.
    *        Worth it when the batch is SELECTIVE (probes few cells);
    *        a corpus-wide batch probes every cell and only pays the
    *        extra pass. Leave false for streaming inputs (an eager
    *        action on an unbounded relation) and for huge diverse
    *        batches. */
  def batchTopKDirect(codes: DataFrame, model: IvfPqModel, queries: DataFrame,
                      qidCol: String, qvecCol: String, k: Int,
                      nprobe: Int, pruneCells: Boolean = false): DataFrame =
    batchTopKDirectWith(codes, model, queries, qidCol, qvecCol, k, nprobe,
      pruneCells, model.partitionCentroids, identity)

  /** [[batchTopKDirect]] with the scan geometry made explicit — the OPQ
    * hook ([[graft.index.OpqBuilder.batchTopKDirect]]): cell SELECTION
    * always uses the model's unrotated centroids, while `distCentroids`
    * (the per-cell vectors subtracted inside pqDistDirect) and `qMap`
    * (a per-row transform of the query vector) let a caller scan in a
    * rotated code space — R·(q − c) = (R·q) − (R·c). */
  private[graft] def batchTopKDirectWith(codes: DataFrame, model: IvfPqModel,
      queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
      nprobe: Int, pruneCells: Boolean,
      distCentroids: Array[Array[Double]],
      qMap: Column => Column): DataFrame = {
    require(nprobe >= 1 && nprobe <= model.config.numPartitions,
      s"nprobe $nprobe out of range 1..${model.config.numPartitions}")
    val centLit = typedlit(distCentroids.map(_.toSeq).toSeq)
    // flat codebook: primitive-backed literal — pqDistDirect reads it in
    // full (D×C×m doubles) per row; boxed typedlit reads would dominate
    val cbLit = graft.functions.FastFunctions
      .litDoubles(model.codebooks.flatten.flatten)
    val probed = queries.select(col(qidCol).as("qid"),
      qMap(col(qvecCol)).as("qvec"),
      explode(graft.functions.FastFunctions.topCellsL2(col(qvecCol),
        model.partitionCentroids.flatten.toSeq, nprobe)).as("probe_cell"))
    val scanned =
      if (!pruneCells) codes
      else {
        val cells = probed.select("probe_cell").distinct()
          .collect().map(_.getLong(0)).toSeq
        codes.where(col("partition").isin(cells: _*))
      }
    probed.join(scanned, col("probe_cell") === col("partition"))
      .select(col("qid"), col("id"),
        graft.functions.FastFunctions.pqDistDirect(col("qvec"),
          element_at(centLit, col("probe_cell").cast("int") + 1),
          col("codes"), cbLit).as("sq_dist"))
      .groupBy(col("qid"))
      .agg(TopKAggregator.topK(k)(col("sq_dist"), col("id")).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("qid"), col("hit.id").as("id"),
        col("hit.dist").as("sq_dist"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Batch ANN with IN-PLAN ADC tables — the third batch shape, and the
    * high-throughput default:
    *
    *  - [[batchTopK]] builds tables on the DRIVER and broadcasts them —
    *    right for tens of queries, a scale-killer past that (driver
    *    loop, nprobe·D·C·8 B broadcast per query);
    *  - [[batchTopKDirect]] is table-free — nothing planned per query,
    *    but every scanned code pays D×m multiply-adds
    *    (`pqDistDirect`), which dominates large batches;
    *  - THIS path computes each (query, probed cell)'s D×C table as one
    *    kernel call IN the plan (`adcTableF` — distributed, no driver
    *    loop, nothing broadcast per query), then scans codes at D
    *    LOOKUPS per row (`adcDist`). Measured at the reference scale
    *    (100k×1536 store, 10k queries, K=10/nprobe=5): 29.8 s direct →
    *    2.3 s here — ~4400 queries/s vs the reference's ~676/s warm
    *    single-threaded rate.
    *
    * Join geometry: the probe side shuffles on the cell key while still
    * SLIM (qid + query vector, ~dim·4 B/row) and the tables are
    * computed POST-shuffle, so the query-scaled exchange is vectors,
    * never D×C tables; codes co-partition on the same key, so the join
    * reuses both exchanges with nothing query-scaled broadcast or
    * collected (the naive formulation let Catalyst broadcast the table
    * relation off a stale size estimate — nprobe·D·C·8 B per query
    * blows past any driver limit at real batch sizes). Hot cells at
    * cluster scale are the usual skew story — AQE skew-join or salting
    * on the cell key. Output (qid, id, sq_dist, rank), identical to the
    * other batch paths. */
  def batchTopKAdc(codes: DataFrame, model: IvfPqModel, queries: DataFrame,
                   qidCol: String, qvecCol: String, k: Int,
                   nprobe: Int, pruneCells: Boolean = false): DataFrame = {
    require(nprobe >= 1 && nprobe <= model.config.numPartitions,
      s"nprobe $nprobe out of range 1..${model.config.numPartitions}")
    val centFlat = graft.functions.FastFunctions
      .litDoubles(model.partitionCentroids.flatten)
    val cbLit = graft.functions.FastFunctions
      .litDoubles(model.codebooks.flatten.flatten)
    val slim = queries.select(col(qidCol).as("qid"),
        col(qvecCol).as("qvec"),
        explode(graft.functions.FastFunctions.topCellsL2(col(qvecCol),
          model.partitionCentroids.flatten.toSeq, nprobe)).as("cell64"))
      // int cell key: matches the codes table's partition column type, so
      // the two REPARTITION_BY_COL exchanges satisfy the join's
      // requirement directly (a long/int mismatch re-exchanged one side)
      .withColumn("probe_cell", col("cell64").cast("int")).drop("cell64")
      .repartition(col("probe_cell"))
    val probed = slim
      .select(col("qid"), col("probe_cell"),
        graft.functions.FastFunctions.adcTableF(col("qvec"), centFlat,
          col("probe_cell"), cbLit,
          model.config.numDivisions, model.config.numCodes)
          .as("flat_table"))
    val scanned0 =
      if (!pruneCells) codes
      else {
        val cells = slim.select("probe_cell").distinct()
          .collect().map(_.getInt(0)).toSeq
        codes.where(col("partition").isin(cells: _*))
      }
    // SHUFFLE_HASH with CODES as the build side: each task hash-maps
    // its cells' codes (fixed-width rows) and STREAMS the probe rows,
    // so a table exists only as the stream row being scanned — the
    // planner's stats would otherwise happily broadcast the table
    // relation (nprobe·D·C·8 B per query) off the slim pre-projection
    // estimate and melt the driver at real batch sizes.
    val scanned = scanned0.repartition(col("partition")).hint("SHUFFLE_HASH")
    probed.join(scanned, col("probe_cell") === col("partition"))
      .select(col("qid"), col("id"),
        graft.functions.FastFunctions.adcDistCol(col("codes"),
          col("flat_table"), model.config.numCodes).as("sq_dist"))
      .groupBy(col("qid"))
      .agg(TopKAggregator.topK(k)(col("sq_dist"), col("id")).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("qid"), col("hit.id").as("id"),
        col("hit.dist").as("sq_dist"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** ADC top-k′ then exact re-rank over the original vectors — the
    * standard refine pattern (FAISS IndexRefineFlat; the reference keeps
    * full vectors per partition for the same reason, db/stored.rs:86-99):
    * the quantized scan nominates kFactor·k candidates, only those rows'
    * true vectors are re-scored exactly, and the top-k of the EXACT
    * distances is returned. ADC ranking error collapses to candidate
    * error — a true neighbor is lost only if it misses the ADC top-k′
    * entirely.
    *
    * Scale shape: the candidate id set (k′ rows, driver-small by
    * contract) becomes a pushed-down IN filter on the vector table scan,
    * so parquet row-group stats skip non-candidate data; no shuffle and
    * nothing large broadcast. Output (id, sq_dist) ascending, exact. */
  def topKRerank(codes: DataFrame, vectors: DataFrame, vecCol: String,
                 idCol: String, model: IvfPqModel, q: Array[Double],
                 k: Int, nprobe: Int, kFactor: Int = 4): DataFrame = {
    val cand = topK(codes, model, q, k * kFactor, nprobe)
      .select("id").collect().map(_.getLong(0)).toSeq
    val qf = q.map(_.toFloat).toSeq
    vectors.where(col(idCol).isin(cand: _*))
      .select(col(idCol).as("id"),
        graft.functions.FastFunctions.squaredL2F(
          col(vecCol), graft.functions.VectorFunctions.vecLit(qf))
          .as("sq_dist"))
      .orderBy(col("sq_dist"), col("id"))
      .limit(k)
  }

  /** Batch refine: ADC batch top-k′ nominates per-query candidates, one
    * pass over the vector table re-scores them exactly, and a map-side-
    * combining bounded top-k keeps k per query. Both joined relations are
    * broadcast-small — (qid, id) pairs at k′·|queries| rows and the query
    * vectors at |queries| rows — so the big side streams once with no
    * shuffle; the aggregate ships k·|queries| rows. Output
    * (qid, id, sq_dist, rank), exact distances, rank 1..k ascending. */
  def batchTopKRerank(codes: DataFrame, vectors: DataFrame, vecCol: String,
                      idCol: String, model: IvfPqModel,
                      queries: Seq[(Long, Array[Double])], k: Int,
                      nprobe: Int, kFactor: Int = 4): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val cand = batchTopK(codes, model, queries, k * kFactor, nprobe)
      .select(col("qid"), col("id"))
    val qDf = queries.map { case (qid, q) => (qid, q.map(_.toFloat).toSeq) }
      .toDF("qid", "qvec")
    vectors.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .join(broadcast(cand), "id")
      .join(broadcast(qDf), "qid")
      .select(col("qid"), col("id"),
        graft.functions.FastFunctions.squaredL2F(col("vec"), col("qvec"))
          .as("sq_dist"))
      .groupBy(col("qid"))
      .agg(TopKAggregator.topK(k)(col("sq_dist"), col("id")).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("qid"), col("hit.id").as("id"),
        col("hit.dist").as("sq_dist"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Batch IVF-FLAT search: EXACT distances inside the nprobe probed
    * cells — the FAISS `IndexIVFFlat` shape, and the missing middle
    * between brute force (all cells, exact) and IVF+PQ (probed cells,
    * quantized). Recall is governed purely by cell selection, which is
    * what makes it the measurement arm of [[Calibrate]]: its recall at
    * nprobe = n EQUALS the calibration curve's value at n (a probed true
    * neighbor always outranks non-neighbors under exact scoring), so a
    * calibrated promise can be verified end-to-end deterministically.
    *
    * Plan: queries (driver-small, broadcast) explode to (qid, cell) via
    * the [[graft.functions.FastFunctions.topCellsL2]] kernel; an
    * equi-join on the cell id against the (id, partition) codes
    * projection nominates candidates; one keyed join against the vector
    * table scores them exactly; the bounded top-k aggregate ships
    * k·|queries| rows. No cartesian, nothing corpus × corpus; the codes
    * and vector scans are both pruned to probed-cell candidates.
    * Output (qid, id, sq_dist, rank), exact, rank 1..k ascending. */
  def batchTopKIvfFlat(codes: DataFrame, vectors: DataFrame, vecCol: String,
                       idCol: String, model: IvfPqModel, queries: DataFrame,
                       qidCol: String, qvecCol: String, k: Int,
                       nprobe: Int): DataFrame =
    batchTopKCellsFlat(codes, vectors, vecCol, idCol,
      model.partitionCentroids, queries, qidCol, qvecCol, k, nprobe)

  /** [[batchTopKIvfFlat]] over a RAW coarse-centroid table — the same
    * exact-in-probed-cells plan for any IVF family that shares the
    * coarse-quantizer geometry (IVF+SQ8, OPQ — whose cells live in
    * ORIGINAL space; only its code space is rotated). This is the
    * measurement arm of [[Calibrate]]: candidate-generation recall is a
    * pure function of the coarse centroids, never of the within-cell
    * codec. */
  def batchTopKCellsFlat(codes: DataFrame, vectors: DataFrame,
                         vecCol: String, idCol: String,
                         centroids: Array[Array[Double]], queries: DataFrame,
                         qidCol: String, qvecCol: String, k: Int,
                         nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= centroids.length,
      s"nprobe $nprobe out of range 1..${centroids.length}")
    val flat = centroids.flatten.toSeq
    val probed = queries.select(col(qidCol).as("qid"),
      col(qvecCol).as("__qvec"),
      explode(graft.functions.FastFunctions.topCellsL2(col(qvecCol),
        flat, nprobe)).as("__cell"))
    codes.select(col("id"), col("partition"))
      .join(broadcast(probed), col("partition") === col("__cell"))
      .join(vectors.select(col(idCol).as("id"), col(vecCol).as("__vec")),
        "id")
      .select(col("qid"), col("id"),
        graft.functions.FastFunctions.squaredL2F(col("__vec"), col("__qvec"))
          .as("sq_dist"))
      .groupBy(col("qid"))
      .agg(TopKAggregator.topK(k)(col("sq_dist"), col("id")).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("qid"), col("hit.id").as("id"),
        col("hit.dist").as("sq_dist"), (col("pos") + 1).cast("long").as("rank"))
  }

  /** Exact recall of an approximate result against brute force: fraction
    * of true top-k ids recovered. Driver-side, for tests and calibration. */
  def recallAtK(approx: Seq[Any], exact: Seq[Any]): Double =
    if (exact.isEmpty) 1.0
    else approx.toSet.intersect(exact.toSet).size.toDouble / exact.size
}
