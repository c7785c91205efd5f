package graft.query

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.index.{IvfPqBuilder, IvfPqModel}

/** Driver-local WARM-PATH serving over loaded IVF+PQ cells — the one
  * axis where the reference's in-process query loop beats a cluster:
  * a warm single query answers in ~1.5 ms in-memory
  * (reference/src/db/stored.rs:513-532) while any Spark job pays a
  * ~100 ms scheduling floor regardless of data size. This class closes
  * that gap WITHOUT touching cluster semantics: the model artifacts
  * (centroids + codebooks) are driver-resident by design already, and a
  * serving box additionally pins the code arrays of the cells it
  * serves. Everything here reuses the cluster path's arithmetic —
  * [[AnnQuery.selectPartitions]] for cell choice, [[AnnQuery.adcTable]]'s
  * entries for table build, and an ADC fold in the same index order as
  * [[graft.functions.Kernels.adcDist]] — so results are IDENTICAL to
  * [[AnnQuery.topK]] on the same store (asserted by the
  * `ann_local_serve` gate and LocalServeSpec).
  *
  * Scale contract (loud): [[LocalServe.fromStore]] collect()s the code
  * rows of the requested cells to the driver — ~(4·D + 8) bytes per
  * vector (e.g. 56 MB per 1M vectors at D = 12). That is the SERVING
  * TIER's residency budget, the same deliberate driver-residency class
  * as k-means training samples: a box serves the cells it holds, a
  * fleet shards cells across boxes, and the batch/cluster paths
  * ([[AnnQuery.batchTopK]] and friends) remain the throughput surface.
  * This path exists for LATENCY, not throughput.
  */
final class LocalServe private[query] (
    val model: IvfPqModel,
    pinned: Map[Int, PqCell],
    rotation: Option[Array[Array[Double]]]) extends CellShard {

  // private[this]: the scan reads plain fields (getfield), no accessors
  private[this] val cellIds = pinned.view.mapValues(_.ids).toMap
  private[this] val cellCodes = pinned.view.mapValues(_.codes).toMap
  // only the cells whose loader pinned attributes (the filtered tier)
  private[this] val cellAttrs =
    pinned.collect { case (c, p) if p.attrs != null => c -> p.attrs }

  /** Cells resident on this server. */
  def cells: Seq[Int] = cellIds.keys.toSeq.sorted

  /** Total resident vectors. */
  def size: Long = cellIds.valuesIterator.map(_.length.toLong).sum

  /** Whether this box pinned attributes (the filtered-path residency) —
    * the sharded router's assembly check for fleet-wide queryFiltered. */
  private[query] def attrsPinned: Boolean = cellAttrs.nonEmpty

  // column-major rotation copy for the Vector-API mat-vec
  // (SimdKernels.rotateExact — bit-identical lanes, see its doc);
  // built once per server, absent when the scalar path serves
  private lazy val rotT: Option[Array[Double]] =
    rotation.filter(_ => graft.functions.SimdSupport.available)
      .map(graft.functions.SimdKernels.transposed(_))

  /** FILTERED warm top-k — the warm twin of the pre-filtered cluster
    * composition (`ann_filtered`: the attribute join narrows the coded
    * relation BEFORE the ADC top-k): rows whose pinned attribute fails
    * `pred` never enter the heap, everything else — tables, fold
    * order, tie rule — is byte-for-byte [[query]], so results are
    * bit-identical to `AnnQuery.topK` over the equivalently-filtered
    * codes. Requires attributes pinned at load
    * ([[LocalServe.fromCodesWithAttrs]]); the predicate runs
    * driver-side per candidate row (one long test — noise next to the
    * D-term ADC fold). */
  def queryFiltered(q: Array[Double], k: Int, nprobe: Int)
                   (pred: Long => Boolean): Array[(Long, Int, Double)] = {
    require(cellAttrs.nonEmpty,
      "queryFiltered needs attributes pinned — load via fromCodesWithAttrs")
    queryImpl(AnnQuery.selectPartitions(model, q, nprobe), k, pred)
  }

  /** Warm top-k: (id, partition, sq_dist) ascending by (sq_dist, id) —
    * the exact ordering contract of [[AnnQuery.topK]]'s
    * `orderBy(sq_dist, id).limit(k)`. Probed cells not resident on this
    * server throw (a sharded fleet routes by cell; silently skipping
    * cells would silently change results — a box that should instead
    * LOAD missing cells on demand serves through [[LocalServeLazy]],
    * which turns the refusal into a pin with optional LRU eviction and
    * answers bit-identically). For an OPQ store
    * ([[LocalServe.fromOpqStore]]) the learned rotation is applied to
    * the nprobe LOCALIZED query vectors right here — exact doubles,
    * the identical driver-side step [[graft.index.OpqBuilder.topK]]
    * performs — so everything downstream (tables, fold order, heap) is
    * byte-for-byte the plain path and results stay bit-identical to
    * the cluster OPQ query. */
  def query(q: Array[Double], k: Int, nprobe: Int)
      : Array[(Long, Int, Double)] =
    queryImpl(AnnQuery.selectPartitions(model, q, nprobe), k, null)

  /** Top-k over an EXPLICIT probe set — (cell, localized query) pairs
    * some caller already selected. This is the seam the lazy tiers (one
    * probe selection shared by residency and query) and the sharded
    * [[ServeRouter]] (a subset of one query's probes per shard) compose
    * through; the arithmetic is byte-for-byte [[query]]'s, which is
    * exactly what makes a shard-merge bit-equal the single box. */
  override private[query] def queryProbes(probes: Array[(Int, Array[Double])],
                                 k: Int, pred: Long => Boolean)
      : Array[(Long, Int, Double)] =
    queryImpl(probes, k, pred)

  private def queryImpl(probes: Array[(Int, Array[Double])], k: Int,
                        pred: Long => Boolean)
      : Array[(Long, Int, Double)] = {
    require(k >= 1, s"k must be >= 1, got $k")
    val missing = probes.map(_._1).filterNot(cellIds.contains)
    require(missing.isEmpty,
      s"probed cells not resident on this server: ${missing.mkString(",")}" +
        s" (resident: ${cells.mkString(",")})")
    val d = model.config.numDivisions
    val numCodes = model.config.numCodes
    val flats = prepare(probes)
    // bounded top-k over all probed cells: a size-k max-heap on
    // (sq_dist desc, id desc) so the worst survivor is evicted first
    val heap = new java.util.PriorityQueue[(Long, Int, Double)](
      math.max(k, 1),
      (a: (Long, Int, Double), b: (Long, Int, Double)) => {
        val c = java.lang.Double.compare(b._3, a._3)
        if (c != 0) c else java.lang.Long.compare(b._1, a._1)
      })
    probes.zipWithIndex.foreach { case ((cell, _), pi) =>
      val flat = flats(pi)
      val ids = cellIds(cell)
      val codes = cellCodes(cell)
      val attrs = if (pred == null) null else cellAttrs(cell)
      var r = 0
      while (r < ids.length) {
        if (pred == null || pred(attrs(r))) {
          val base = r * d
          var i = 0
          var s = 0.0
          while (i < d) { // identical fold order to Kernels.adcDist
            s += flat(i * numCodes + codes(base + i))
            i += 1
          }
          if (heap.size < k) heap.add((ids(r), cell, s))
          else {
            val worst = heap.peek()
            if (s < worst._3 || (s == worst._3 && ids(r) < worst._1)) {
              heap.poll(); heap.add((ids(r), cell, s))
            }
          }
        }
        r += 1
      }
    }
    val out = new Array[(Long, Int, Double)](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 }
    out
  }

  /** One query's prep: the OPQ rotation (when present) of each localized
    * query, then one flat D·C ADC table per probe
    * ([[AnnQuery.adcTablesInto]]: entries, fold order and bits of
    * [[AnnQuery.adcTable]], so sq_dist stays bit-identical to the
    * cluster path). The table prep is the whole of a warm query's cost
    * bar a few-µs scan, so it runs as D units of one division each —
    * every probe's tables for that division, in one pass over its
    * codebook — and the rotation as 128-row units of every probe. Up to
    * min(D, cores) workers claim units: the calling thread and helpers
    * on the global pool ([[LocalServe.fanOut]]) — one query's prep in
    * parallel, which at low concurrency beats a calling-thread-only
    * prep (the r12 A/B in BENCH_NOTES.md). `perfbench` `reference`
    * measures it (`op_p50_ms`, `query.adc_table_us`,
    * `query.select_partitions_us`). */
  private def prepare(probes: Array[(Int, Array[Double])]): Array[Array[Double]] = {
    val d = model.config.numDivisions
    val workers = math.min(d, Runtime.getRuntime.availableProcessors())
    val locs = rotation match {
      case None => probes.map(_._2)
      case Some(r) =>
        // exact doubles, the identical step OpqBuilder.topK performs
        // before its scan (OpqBuilder.rotateVec's per-row t order)
        val dim = r.length
        val block = 128
        val rotated = probes.map(_ => new Array[Double](dim))
        LocalServe.fanOut(workers, (dim + block - 1) / block) { u =>
          val (r0, r1) = (u * block, math.min(dim, (u + 1) * block))
          var pi = 0
          while (pi < probes.length) {
            val (v, out) = (probes(pi)._2, rotated(pi))
            rotT match {
              case Some(rt) =>
                graft.functions.SimdKernels.rotateExact(rt, dim, v, out, r0, r1)
              case None =>
                var rr = r0
                while (rr < r1) {
                  val row = r(rr)
                  var s = 0.0
                  var i = 0
                  while (i < dim) { s += row(i) * v(i); i += 1 }
                  out(rr) = s
                  rr += 1
                }
            }
            pi += 1
          }
        }
        rotated
    }
    val flats = probes.map(_ => new Array[Double](d * model.config.numCodes))
    LocalServe.fanOut(workers, d) { div =>
      AnnQuery.adcTablesInto(model, locs, flats, div, div + 1)
    }
    flats
  }
}

/** Driver-local warm serving over a two-level RESIDUAL-QUANTIZED store
  * ([[graft.index.Rq]]) — completes the warm path across all four
  * stored codec families (PQ / OPQ / SQ8 / RQ). Nomination reuses the
  * level-1 [[LocalServe]] ADC loop verbatim (k·kFactor candidates),
  * then each candidate re-scores against its TWO-LEVEL reconstruction
  * driver-side, replaying the cluster path's float-cast chain exactly
  * (pqReconstructF's per-element `(centroid + book).toFloat`, the
  * zip_with float add, sqL2f's double fold) so results are
  * bit-identical to [[graft.index.Rq.topKRefined]] (gated by
  * `ann_rq_local_serve`). Residency: level-1 codes + D₂ refine codes
  * per pinned vector. */
final class LocalServeRq private[query] (
    val model: graft.index.Rq.RqModel,
    pinned: Map[Int, RqCell]) extends RqShard {

  private val lvl1 = new LocalServe(model.base,
    pinned.view.mapValues(c => PqCell(c.ids, c.codes, null)).toMap, None)

  /** Cells resident on this server. */
  def cells: Seq[Int] = pinned.keys.toSeq.sorted

  /** Total resident vectors. */
  def size: Long = pinned.valuesIterator.map(_.ids.length.toLong).sum

  /** Warm refined top-k: (id, sq_dist) ascending by (sq_dist, id) —
    * the exact contract of [[graft.index.Rq.topKRefined]]. */
  def query(q: Array[Double], k: Int, nprobe: Int,
            kFactor: Int = 4): Array[(Long, Double)] =
    queryProbes(AnnQuery.selectPartitions(model.base, q, nprobe),
      q, k, kFactor)

  /** Refined top-k over an explicit level-1 probe set — the seam the
    * lazy RQ tier shares one probe selection through (see
    * [[LocalServe.queryProbes]]). */
  private[query] def queryProbes(probes: Array[(Int, Array[Double])],
                                 q: Array[Double], k: Int,
                                 kFactor: Int): Array[(Long, Double)] = {
    require(k >= 1 && kFactor >= 1, s"bad k=$k / kFactor=$kFactor")
    nomineesScored(probes, q, k * kFactor)
      .map(t => (t._1, t._4))
      .sortBy(t => (t._2, t._1)).take(k)
  }

  /** The refine pattern's two scores for this box's level-1 top-`n`
    * nominees: (id, cell, lvl1_sq_dist, refined_sq_dist), ordered by
    * (lvl1_sq_dist, id). The SHARDED router needs both: a naive
    * per-shard refined top-k merge is NOT bit-equal to the single box
    * (a shard-local nominee the GLOBAL level-1 cut would have dropped
    * can refine well and enter the merge), so [[ServeRouterRq]] merges
    * nominees by the level-1 order first — reconstructing the single
    * box's nomination set exactly — and only then applies the refined
    * order. Each refined score is a pure function of (model, q, row),
    * so where it is computed cannot change its bits. */
  private[query] def nomineesScored(probes: Array[(Int, Array[Double])],
                                    q: Array[Double], n: Int)
      : Array[(Long, Int, Double, Double)] = {
    require(n >= 1, s"nominee count must be >= 1, got $n")
    val cands = lvl1.queryProbes(probes, n)
    val dim = model.base.dim
    val d1 = model.base.config.numDivisions
    val m1 = dim / d1
    val d2 = model.numDivisions2
    val m2 = dim / d2
    val books1 = model.base.codebooks
    val books2 = model.refineBooks
    val cents = model.base.partitionCentroids
    val qf = q.map(_.toFloat)
    // per-cell row index of each candidate (ids are sorted per cell)
    cands.map { case (id, cell, lvl1Dist) =>
      val pin = pinned(cell)
      val r = java.util.Arrays.binarySearch(pin.ids, id)
      require(r >= 0, s"candidate $id missing from its cell $cell")
      val k1 = pin.codes
      val k2 = pin.codes2
      val cent = cents(cell)
      var s = 0.0
      var i = 0
      while (i < dim) {
        // identical float-cast chain to pqReconstructF + the
        // reconstruct2 zip_with float add
        val lvl1f = (cent(i) +
          books1(i / m1)(k1(r * d1 + i / m1))(i % m1)).toFloat
        val lvl2f = (0.0 +
          books2(i / m2)(k2(r * d2 + i / m2))(i % m2)).toFloat
        val rec = lvl1f + lvl2f
        val d = rec.toDouble - qf(i).toDouble // sqL2f's fold
        s += d * d
        i += 1
      }
      (id, cell, lvl1Dist, s)
    }
  }
}

object LocalServeRq {

  /** Pin a refined (id, partition, codes, codes2) relation (what
    * [[graft.index.Rq.fitRefine]]/load return) — callers prune to this
    * box's cells FIRST, the shared residency contract. */
  def fromCodes(model: graft.index.Rq.RqModel,
                encoded2: org.apache.spark.sql.DataFrame): LocalServeRq =
    new LocalServeRq(model, loadCells(model, encoded2, Seq.empty))

  /** The RQ cell loader, shared by the eager pin and [[LocalServeRqLazy]]:
    * each cell's id-sorted rows packed into both row-major code layers. */
  private[query] def loadCells(model: graft.index.Rq.RqModel,
                               encoded2: org.apache.spark.sql.DataFrame,
                               cells: Seq[Int]): Map[Int, RqCell] = {
    val d1 = model.base.config.numDivisions
    val d2 = model.numDivisions2
    LocalServe.rowsByCell(encoded2, cells, col("codes"), col("codes2"))
      .map { case (cell, sorted) =>
        cell -> RqCell(sorted.map(_.getLong(1)),
          LocalServe.packInts(cell, sorted, 2, d1),
          LocalServe.packInts(cell, sorted, 3, d2))
      }
  }
}

/** One pinned RQ cell: id-sorted ids and both row-major code layers. */
private[query] final case class RqCell(ids: Array[Long], codes: Array[Int],
                                       codes2: Array[Int]) {
  def bytes: Long = 8L * ids.length + 4L * codes.length + 4L * codes2.length
}

/** Driver-local warm serving over IVF+SQ8 cells — the scalar-quantized
  * sibling of [[LocalServe]], completing the warm path across the
  * stored codec family (PQ / OPQ / SQ8). Same residency contract
  * (dim bytes per vector here), same bounded-heap result assembly; the
  * per-row distance replays [[graft.functions.Kernels.sq8Dist]]'s fold
  * EXACTLY, so results are bit-identical to [[graft.index.IvfSq8.topK]]
  * (gated by `ann_sq8_local_serve`). Distances are computed into a
  * per-cell array by row-chunked futures (each element independent —
  * deterministic) and the heap pass runs single-threaded in row order,
  * preserving the (sq_dist, id) tie contract. */
final class LocalServeSq8 private[query] (
    val model: graft.index.IvfSq8Model,
    pinned: Map[Int, Sq8Cell]) extends CellShard {

  /** Cells resident on this server. */
  def cells: Seq[Int] = pinned.keys.toSeq.sorted

  /** Total resident vectors. */
  def size: Long = pinned.valuesIterator.map(_.ids.length.toLong).sum

  /** SQ8 boxes pin no attributes: a filtered fleet refuses them. */
  private[query] def attrsPinned: Boolean = false

  /** Warm top-k: (id, partition, sq_dist) ascending by (sq_dist, id). */
  def query(q: Array[Double], k: Int, nprobe: Int)
      : Array[(Long, Int, Double)] =
    queryProbes(graft.index.IvfSq8.selectPartitions(model, q, nprobe), k)

  /** Top-k over an explicit probe set — see [[LocalServe.queryProbes]];
    * the lazy tier and the sharded [[ServeRouter]] share one probe
    * selection through this seam. `pred` must be null: no attributes
    * are pinned, and ignoring the filter would silently change results. */
  override private[query] def queryProbes(probes: Array[(Int, Array[Double])],
                                          k: Int, pred: Long => Boolean)
      : Array[(Long, Int, Double)] = {
    require(pred == null,
      "SQ8 shards pin no attributes — serve filtered queries from " +
        "attr-pinned PQ shards (fromCodesWithAttrs)")
    require(k >= 1, s"k must be >= 1, got $k")
    val missing = probes.map(_._1).filterNot(pinned.contains)
    require(missing.isEmpty,
      s"probed cells not resident on this server: ${missing.mkString(",")}" +
        s" (resident: ${cells.mkString(",")})")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val dim = model.dim
    val mins = model.codec.mins
    val scales = model.codec.scales
    val columnMajor = LocalServeSq8.columnMajor
    val futs = probes.map { case (cell, localized) =>
      val codes = pinned(cell).codes
      val n = pinned(cell).ids.length
      val out = new Array[Double](n)
      val block = math.max(1, n / 32)
      Future.sequence((0 until n by block).map { s0 =>
        Future {
          val e = math.min(s0 + block, n)
          if (columnMajor)
            // Vector-API fold over the column-major layout — the
            // scalar fold's exact bits, 8 rows per accumulator
            graft.functions.SimdKernels.sq8DistExact(codes, n, dim,
              localized, mins, scales, out, s0, e)
          else {
            var r = s0
            while (r < e) {
              val base = r * dim
              var s = 0.0
              var i = 0
              while (i < dim) { // identical fold to Kernels.sq8Dist
                val d = localized(i) -
                  (mins(i) + (codes(base + i) & 0xFF) * scales(i))
                s += d * d
                i += 1
              }
              out(r) = s
              r += 1
            }
          }
        }
      }).map(_ => out)
    }
    val dists: Array[Array[Double]] =
      Await.result(Future.sequence(futs.toSeq), Duration.Inf).toArray
    val heap = new java.util.PriorityQueue[(Long, Int, Double)](
      math.max(k, 1),
      (a: (Long, Int, Double), b: (Long, Int, Double)) => {
        val c = java.lang.Double.compare(b._3, a._3)
        if (c != 0) c else java.lang.Long.compare(b._1, a._1)
      })
    probes.zipWithIndex.foreach { case ((cell, _), pi) =>
      val ids = pinned(cell).ids
      val ds = dists(pi)
      var r = 0
      while (r < ids.length) {
        val s = ds(r)
        if (heap.size < k) heap.add((ids(r), cell, s))
        else {
          val worst = heap.peek()
          if (s < worst._3 || (s == worst._3 && ids(r) < worst._1)) {
            heap.poll(); heap.add((ids(r), cell, s))
          }
        }
        r += 1
      }
    }
    val out = new Array[(Long, Int, Double)](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 }
    out
  }
}

object LocalServeSq8 {

  // one layout per process: COLUMN-major (codesT(i·n + r)) when the
  // Vector-API fold (SimdKernels.sq8DistExact, 8 rows per accumulator,
  // same bits) runs, row-major for the scalar fold; residency is dim
  // bytes/vector either way
  private val columnMajor = graft.functions.SimdSupport.available

  /** Pin an IVF+SQ8 encoded (id, partition, sq8) relation — callers
    * prune to the cells this box serves FIRST (the [[LocalServe]]
    * residency contract; SQ8 pins dim bytes per vector). */
  def fromCodes(model: graft.index.IvfSq8Model,
                encoded: org.apache.spark.sql.DataFrame): LocalServeSq8 =
    new LocalServeSq8(model, loadCells(model, encoded, Seq.empty))

  /** The SQ8 cell loader, shared by the eager pin and
    * [[LocalServeSq8Lazy]]: each cell's id-sorted rows packed into one
    * byte array in this process's layout. */
  private[query] def loadCells(model: graft.index.IvfSq8Model,
                               encoded: org.apache.spark.sql.DataFrame,
                               cells: Seq[Int]): Map[Int, Sq8Cell] = {
    val dim = model.dim
    LocalServe.rowsByCell(encoded, cells, col("sq8")).map { case (cell, sorted) =>
      val n = sorted.length
      val flat = new Array[Byte](LocalServe.flatLength(cell, n, dim))
      var r = 0
      while (r < n) {
        val cs = sorted(r).getAs[Array[Byte]](2)
        require(cs.length == dim,
          s"sq8 row has ${cs.length} bytes, model dim is $dim")
        if (columnMajor) {
          var i = 0
          while (i < dim) { flat(i * n + r) = cs(i); i += 1 }
        } else System.arraycopy(cs, 0, flat, r * dim, dim)
        r += 1
      }
      cell -> Sq8Cell(sorted.map(_.getLong(1)), flat)
    }
  }
}

/** One pinned SQ8 cell: id-sorted ids and their byte codes. */
private[query] final case class Sq8Cell(ids: Array[Long], codes: Array[Byte]) {
  def bytes: Long = 8L * ids.length + codes.length.toLong
}

object LocalServe {

  /** Runs body(u) for every unit u ∈ [0, units) on up to `workers`
    * threads: the calling thread and workers − 1 helpers on the global
    * pool claim units from one counter, so a helper that starts late
    * finds less work instead of holding the query up (on a 4-core box,
    * claimed units answered in ~80 µs where four fixed division ranges
    * took ~115 µs, waiting on the slowest helper to wake). Returns once
    * every unit has finished, rethrowing the first failure. */
  private def fanOut(workers: Int, units: Int)(body: Int => Unit): Unit = {
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    val left = new java.util.concurrent.CountDownLatch(units)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    def work(): Unit = {
      var u = next.getAndIncrement()
      while (u < units) {
        try body(u)
        catch { case t: Throwable => failure.compareAndSet(null, t) }
        finally left.countDown()
        u = next.getAndIncrement()
      }
    }
    var h = 1
    while (h < workers) {
      scala.concurrent.ExecutionContext.global.execute(() => work())
      h += 1
    }
    work()
    left.await()
    if (failure.get != null) throw failure.get
  }

  /** Load a saved store's model and pin the requested cells' code
    * arrays driver-side (all cells when `cells` is empty — tests and
    * single-box serving). Integrity discipline is [[IvfPqBuilder.load]]'s
    * (manifest + SHA-256); the cell read is the same pruned
    * `partition IN` scan the cluster query path plans, so only the
    * served cells' files are touched. */
  def fromStore(spark: SparkSession, path: String,
                cells: Seq[Int] = Seq.empty): LocalServe = {
    val (model, codes) = IvfPqBuilder.load(spark, path)
    new LocalServe(model, loadCells(model, codes, cells), None)
  }

  /** OPQ twin of [[fromStore]]: loads an [[graft.index.OpqBuilder]]
    * store (rotation validated orthonormal by the shared load path) and
    * pins the requested cells. The serving loop differs from the plain
    * one by exactly one driver-side step — the rotation of the nprobe
    * localized query vectors — matching the cluster OPQ query's
    * geometry bit for bit (gated by `ann_opq_local_serve`). */
  def fromOpqStore(spark: SparkSession, path: String,
                   cells: Seq[Int] = Seq.empty): LocalServe = {
    val (model, codes) = graft.index.OpqBuilder.load(spark, path)
    new LocalServe(model.ivf, loadCells(model.ivf, codes, cells),
      Some(model.rotation))
  }

  /** Pin an already-loaded (id, partition, codes) relation. The
    * collect() is the serving-tier residency contract documented on the
    * class — callers prune to the cells this box serves FIRST. */
  def fromCodes(model: IvfPqModel,
                codes: org.apache.spark.sql.DataFrame): LocalServe =
    new LocalServe(model, loadCells(model, codes, Seq.empty), None)

  /** OPQ twin of [[fromCodes]] — pin an already-loaded OPQ-encoded
    * (id, partition, codes) relation with the model's rotation. */
  def fromCodesOpq(model: graft.index.OpqModel,
                   codes: org.apache.spark.sql.DataFrame): LocalServe =
    new LocalServe(model.ivf, loadCells(model.ivf, codes, Seq.empty),
      Some(model.rotation))

  /** [[fromCodes]] plus ONE pinned long attribute per vector (the
    * filtered-serving residency: 8 extra bytes/vector) — enables
    * [[LocalServe.queryFiltered]]. `codes` must carry `attrCol`
    * alongside (id, partition, codes); the usual producer is the
    * cluster path's own attribute join (the `ann_filtered` narrowing),
    * collected for exactly the cells this box serves. */
  def fromCodesWithAttrs(model: IvfPqModel,
                         codes: org.apache.spark.sql.DataFrame,
                         attrCol: String): LocalServe =
    new LocalServe(model, loadCells(model, codes, Seq.empty, attrCol), None)

  /** The PQ/OPQ cell loader, shared by every eager pin and by
    * [[LocalServeLazy]]: each cell's id-sorted rows packed into one
    * row-major code array, plus the `attrCol` long per row when it is
    * non-null (the filtered tier). */
  private[query] def loadCells(model: IvfPqModel,
                               codes: org.apache.spark.sql.DataFrame,
                               cells: Seq[Int],
                               attrCol: String = null): Map[Int, PqCell] = {
    val d = model.config.numDivisions
    val extra = col("codes") +: Option(attrCol).map(col(_).cast("long")).toSeq
    rowsByCell(codes, cells, extra: _*).map { case (cell, sorted) =>
      cell -> PqCell(sorted.map(_.getLong(1)), packInts(cell, sorted, 2, d),
        if (attrCol == null) null else sorted.map(_.getLong(3)))
    }
  }

  /** One collect of a codes relation's (partition, id, `extra`…) rows,
    * pruned to `cells` (empty = every cell it holds) by the same
    * `partition IN` scan the cluster query path plans, grouped by cell
    * and sorted by id. The id order makes a cell's packed layout a pure
    * function of the store rows whatever the scan order, which is what
    * keeps eager, lazy and per-shard pins of one cell bit-equal. */
  private[query] def rowsByCell(codes: org.apache.spark.sql.DataFrame,
                                cells: Seq[Int],
                                extra: org.apache.spark.sql.Column*)
      : Map[Int, Array[org.apache.spark.sql.Row]] = {
    val pruned =
      if (cells.isEmpty) codes
      else codes.where(col("partition").isin(cells: _*))
    val keys = Seq(col("partition").cast("int"), col("id").cast("long"))
    pruned.select(keys ++ extra: _*).collect()
      .groupBy(_.getInt(0))
      .map { case (cell, rs) => cell -> rs.sortBy(_.getLong(1)) }
  }

  /** Pack int-array column `field` of a cell's sorted rows row-major,
    * `width` values per row. */
  private[query] def packInts(cell: Int, sorted: Array[org.apache.spark.sql.Row],
                              field: Int, width: Int): Array[Int] = {
    val flat = new Array[Int](flatLength(cell, sorted.length, width))
    var r = 0
    while (r < sorted.length) {
      val cs = sorted(r).getSeq[Int](field)
      require(cs.length == width,
        s"codes row has ${cs.length} divisions, expected $width")
      var i = 0
      while (i < width) { flat(r * width + i) = cs(i); i += 1 }
      r += 1
    }
    flat
  }

  /** The largest array length every JVM allocates (the JDK's own soft
    * limit, `ArraysSupport.SOFT_MAX_ARRAY_LENGTH`). */
  private val MaxArrayLength = Int.MaxValue - 8

  /** Length of a cell's flat `rows` × `width` buffer, computed in Long:
    * a cell too large for one JVM array fails loudly, naming the cell,
    * instead of wrapping Int to a negative or short size (a 1536-d SQ8
    * cell passes 2^31 at ~1.4M rows). */
  private[query] def flatLength(cell: Int, rows: Int, width: Int): Int = {
    val n = rows.toLong * width
    require(n <= MaxArrayLength,
      s"cell $cell: $rows rows × $width per row = $n elements, more than " +
        s"one JVM array holds ($MaxArrayLength)")
    n.toInt
  }
}

/** One pinned PQ/OPQ cell: id-sorted ids, their row-major codes and,
  * on the filtered tier only, one long attribute per row (else null). */
private[query] final case class PqCell(ids: Array[Long], codes: Array[Int],
                                       attrs: Array[Long]) {
  def bytes: Long = 8L * ids.length + 4L * codes.length +
    (if (attrs == null) 0L else 8L * attrs.length)
}

/** Driver-local warm serving over BINARY-QUANTIZED signatures — the
  * cheapest residency of the whole serving matrix: ⌈dim/64⌉ 8-byte
  * words + an 8-byte id per vector (32× smaller than the f32 vectors,
  * ~24 MB per 1M vectors at dim ≤ 64), so one box warm-serves a corpus
  * slice that would not fit as floats. The scan replays
  * [[graft.index.BinaryQuant]]'s arithmetic exactly — the query packs
  * through `BinaryQuant.pack` (the spec'd driver twin of the
  * `signBits` kernel), distances are `popcount(xor)` per word in the
  * same word order as `Kernels.hammingDist`, and the bounded heap
  * applies the cluster path's (hamming, id) tie rule — so results are
  * bit-identical to `BinaryQuant.rankedIds` (gated by
  * `knn_hamming_local_serve`).
  *
  * Rerank: a box that ALSO pins the float vectors (4·dim bytes/vector —
  * optional, the [[LocalServeHamming.fromVectors]] `pinFloats` knob)
  * re-scores the Hamming nominees by exact L2 in `Kernels.sqL2f`'s
  * fold, matching `BinaryQuant.rankedIdsRerank`'s candidates-then-exact
  * composition bit for bit. */
final class LocalServeHamming private (
    thresholds: Array[Double],
    ids: Array[Long],
    sigs: Array[Long],
    wordsPerVec: Int,
    floats: Array[Float], // null unless pinned for rerank
    dim: Int) extends HammingShard {

  /** Total resident vectors. */
  def size: Long = ids.length.toLong

  /** Warm Hamming top-k: (id, hamming) ascending by (hamming, id) —
    * the exact ordering of `BinaryQuant.topK`'s
    * `orderBy(hamming, id).limit(k)`. */
  def query(q: Array[Float], k: Int): Array[(Long, Long)] = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(q.length == dim, s"query dim ${q.length}, corpus dim $dim")
    val qs = graft.index.BinaryQuant.pack(
      scala.collection.immutable.ArraySeq.unsafeWrapArray(q), thresholds)
    val heap = new java.util.PriorityQueue[(Long, Long)](
      math.max(k, 1),
      (a: (Long, Long), b: (Long, Long)) => {
        val c = java.lang.Long.compare(b._2, a._2)
        if (c != 0) c else java.lang.Long.compare(b._1, a._1)
      })
    var r = 0
    while (r < ids.length) {
      val base = r * wordsPerVec
      var w = 0
      var h = 0L
      while (w < wordsPerVec) { // same word fold as Kernels.hammingDist
        h += java.lang.Long.bitCount(sigs(base + w) ^ qs(w))
        w += 1
      }
      if (heap.size < k) heap.add((ids(r), h))
      else {
        val worst = heap.peek()
        if (h < worst._2 || (h == worst._2 && ids(r) < worst._1)) {
          heap.poll(); heap.add((ids(r), h))
        }
      }
      r += 1
    }
    val out = new Array[(Long, Long)](heap.size)
    var i = out.length - 1
    while (i >= 0) { out(i) = heap.poll(); i -= 1 }
    out
  }

  /** Hamming-nominate + exact L2 re-rank — the warm twin of
    * `BinaryQuant.rankedIdsRerank`: top k·kFactor signatures nominate,
    * the pinned float rows re-score in `Kernels.sqL2f`'s exact fold
    * (float→double per element, sequential), output ascending by
    * (sq_dist, id). Requires floats pinned at load. */
  def queryRerank(q: Array[Float], k: Int,
                  kFactor: Int = 4): Array[(Long, Double)] = {
    require(kFactor >= 1, s"kFactor must be >= 1, got $kFactor")
    rerankCandidates(q, k * kFactor)
      .map(t => (t._1, t._3))
      .sortBy(t => (t._2, t._1)).take(k)
  }

  /** Both rerank scores for this box's Hamming top-`n` nominees:
    * (id, hamming, exact_sq_dist), ordered by (hamming, id). The
    * sharded router merges by the HAMMING order first — reconstructing
    * the single box's nomination cut exactly (see
    * [[LocalServeRq.nomineesScored]] for why a per-shard reranked
    * merge is not bit-equal) — then applies the exact order. */
  private[query] def rerankCandidates(q: Array[Float], n: Int)
      : Array[(Long, Long, Double)] = {
    require(floats != null,
      "queryRerank needs pinned float vectors — load with pinFloats = true")
    query(q, n).map { case (id, h) =>
      val r = java.util.Arrays.binarySearch(ids, id)
      var s = 0.0
      var i = 0
      while (i < dim) { // Kernels.sqL2f's fold
        val d = floats(r * dim + i).toDouble - q(i).toDouble
        s += d * d
        i += 1
      }
      (id, h, s)
    }
  }

  /** Resident ids (shared reference, do not mutate) — the sharded
    * router's id-disjointness assembly check. */
  private[query] def idsSnapshot: Array[Long] = ids
}

object LocalServeHamming {

  /** Pin a SAVED binary-signature store ([[graft.index.BinaryQuant.save]])
    * — the serving shape that never touches the float corpus: the store
    * already holds packed words (⌈dim/64⌉ longs + an id per vector), so
    * a box pins the 32×-compressed representation directly; thresholds
    * and integrity checks ride the store's load path (manifest re-hash,
    * tombstones anti-joined). No rerank (floats aren't resident) — a
    * rerank tier pins vectors via [[fromVectors]] instead. */
  def fromStore(spark: SparkSession, path: String): LocalServeHamming = {
    val (thr, sigs) = graft.index.BinaryQuant.load(spark, path)
    val dim = thr.length
    val w = (dim + 63) >>> 6
    val rows = sigs.select(col("id").cast("long"), col("sig"))
      .collect()
      .sortBy(_.getLong(0))
    val ids = new Array[Long](rows.length)
    val packed = new Array[Long](rows.length * w)
    var r = 0
    while (r < rows.length) {
      ids(r) = rows(r).getLong(0)
      val s = rows(r).getSeq[Long](1)
      require(s.length == w,
        s"signature ${ids(r)} has ${s.length} words, expected $w")
      var i = 0
      while (i < w) { packed(r * w + i) = s(i); i += 1 }
      r += 1
    }
    new LocalServeHamming(thr, ids, packed, w, null, dim)
  }

  /** Pin a vector relation's signatures (and optionally the float
    * vectors, for [[LocalServeHamming.queryRerank]]) driver-side.
    * `thresholds` null means sign bits, matching `BinaryQuant`'s
    * convention; rows sort by id so the layout is deterministic. The
    * collect() is the serving-tier residency contract — callers prune
    * to the slice this box serves FIRST. */
  def fromVectors(df: org.apache.spark.sql.DataFrame, vecCol: String,
                  idCol: String, dim: Int,
                  thresholds: Array[Double] = null,
                  pinFloats: Boolean = false): LocalServeHamming = {
    val thr = if (thresholds != null) thresholds else new Array[Double](dim)
    require(thr.length == dim,
      s"thresholds have ${thr.length} dims, expected $dim")
    val rows = df.select(col(idCol).cast("long"), col(vecCol))
      .collect()
      .sortBy(_.getLong(0))
    val w = (dim + 63) >>> 6
    val ids = new Array[Long](rows.length)
    val sigs = new Array[Long](rows.length * w)
    val floats = if (pinFloats) new Array[Float](rows.length * dim) else null
    var r = 0
    while (r < rows.length) {
      ids(r) = rows(r).getLong(0)
      val v = rows(r).getSeq[Float](1)
      require(v.length == dim,
        s"vector ${ids(r)} has ${v.length} dims, expected $dim")
      val packed = graft.index.BinaryQuant.pack(v, thr)
      System.arraycopy(packed, 0, sigs, r * w, w)
      if (pinFloats) {
        var i = 0
        while (i < dim) { floats(r * dim + i) = v(i); i += 1 }
      }
      r += 1
    }
    new LocalServeHamming(thr, ids, sigs, w, floats, dim)
  }
}


/** LAZY-residency warm serving — the reference's cold-start shape
  * (db/stored.rs:824-881: a stored DB loads centroids + codebooks up
  * front but pulls each partition's codes only when a query first
  * probes it; cold query 7.8 ms vs 1.5 ms warm, reference README.md:204)
  * over the [[LocalServe]] machinery: the model artifacts stay
  * driver-resident, cells pin ON FIRST PROBE through the same pruned
  * `partition IN` scan the cluster path plans, and optional
  * `maxResidentCells` / `maxResidentBytes` caps evict
  * least-recently-probed cells — so a serving box holds the HOT
  * FRACTION of a store bigger than its RAM instead of refusing it.
  *
  * Results are BIT-IDENTICAL to the eager pin: every query delegates
  * to a plain [[LocalServe]] over the currently-resident cells (the
  * same cell loader, [[LocalServe.loadCells]], the same ADC fold and
  * heap tie rule — asserted by LocalServeSpec), and a cell's packed
  * layout is a pure function of the store rows, so pin-time does not
  * affect answers. Relation to
  * the eager tier's REFUSAL contract: [[LocalServe.query]] throws on a
  * non-resident probe (a sharded fleet routes by cell; silence would
  * change results) — this tier is the documented alternative, turning
  * the refusal into a load. A probed cell the store has NO live rows
  * for (empty k-means cell, or fully deleted + compacted) pins as an
  * EMPTY resident and contributes zero candidates — the cluster path's
  * behavior for the same probe.
  *
  * Concurrency (see [[LazyResidency]], which owns the machinery): warm
  * queries run lock-free on the immutable delegate snapshot; cold
  * loads run OUTSIDE any lock, concurrent queries for the same cell
  * share one load, and a query's probed cells are use-pinned against
  * eviction for its duration. */
final class LocalServeLazy private (
    val model: IvfPqModel,
    hasAttrs: Boolean,
    res: LazyResidency[PqCell, LocalServe])
    extends LazyTier[LocalServe](res) with CellShard {

  /** Warm-or-cold top-k: identical contract and bits to
    * [[LocalServe.query]]; non-resident probed cells are pinned first
    * (one pruned scan per claimant for the cells it won), evicting
    * least-recently-probed cells past the caps. */
  def query(q: Array[Double], k: Int, nprobe: Int)
      : Array[(Long, Int, Double)] =
    queryProbes(AnnQuery.selectPartitions(model, q, nprobe), k)

  /** Lazy FILTERED top-k — [[LocalServe.queryFiltered]] over the
    * lazily-pinned delegate (attributes pin per cell alongside the
    * codes; requires a [[LocalServeLazy.fromCodesWithAttrs]] open). */
  def queryFiltered(q: Array[Double], k: Int, nprobe: Int)
                   (pred: Long => Boolean): Array[(Long, Int, Double)] =
    queryProbes(AnnQuery.selectPartitions(model, q, nprobe), k, pred)

  /** Top-k over an explicit probe set with lazy residency — the seam
    * a [[ServeRouter]] with a static assignment routes a shard's probe
    * subset through; pins exactly the probed cells first, then
    * delegates to the eager loop. `pred` non-null runs the filtered
    * form (attrs must be pinned). */
  override private[query] def queryProbes(probes: Array[(Int, Array[Double])],
                                 k: Int, pred: Long => Boolean)
      : Array[(Long, Int, Double)] = {
    require(pred == null || hasAttrs,
      "queryFiltered needs attributes pinned — open via fromCodesWithAttrs")
    withResident(probes.map(_._1))(_.queryProbes(probes, k, pred))
  }

  /** Whether this box pins attributes — the lazy fleet's assembly check. */
  private[query] def attrsPinned: Boolean = hasAttrs
}

object LocalServeLazy {

  /** Open a saved IVF+PQ store for lazy serving: model artifacts load
    * (and integrity-check) NOW, codes load per cell on first probe.
    * Caps: `maxResidentCells` counts cells; `maxResidentBytes` counts
    * payload bytes — the truthful form of the (4·D+8) B/vector
    * residency contract when drift makes cells diverge in size. Either
    * cap 0 = unbounded (the eager tier's residency, reached lazily). */
  def fromStore(spark: SparkSession, path: String,
                maxResidentCells: Int = 0,
                maxResidentBytes: Long = 0L): LocalServeLazy = {
    val (model, codes) = IvfPqBuilder.load(spark, path)
    mk(model, None, codes, null, maxResidentCells, maxResidentBytes)
  }

  /** OPQ twin of [[fromStore]] — rotation validated at open, applied
    * per query exactly as [[LocalServe.fromOpqStore]]. */
  def fromOpqStore(spark: SparkSession, path: String,
                   maxResidentCells: Int = 0,
                   maxResidentBytes: Long = 0L): LocalServeLazy = {
    val (model, codes) = graft.index.OpqBuilder.load(spark, path)
    mk(model.ivf, Some(model.rotation), codes, null,
      maxResidentCells, maxResidentBytes)
  }

  /** Lazy FILTERED serving: pin one long attribute per vector alongside
    * the codes (8 extra bytes/vector of residency), cell by cell on
    * first probe — the lazy twin of [[LocalServe.fromCodesWithAttrs]],
    * enabling [[LocalServeLazy.queryFiltered]]. `codes` must carry
    * `attrCol` beside (id, partition, codes). */
  def fromCodesWithAttrs(model: IvfPqModel,
                         codes: org.apache.spark.sql.DataFrame,
                         attrCol: String,
                         maxResidentCells: Int = 0,
                         maxResidentBytes: Long = 0L): LocalServeLazy =
    mk(model, None, codes, attrCol, maxResidentCells, maxResidentBytes)

  private def mk(model: IvfPqModel,
                 rotation: Option[Array[Array[Double]]],
                 codes: org.apache.spark.sql.DataFrame,
                 attrCol: String,
                 maxResidentCells: Int,
                 maxResidentBytes: Long): LocalServeLazy = {
    val hasAttrs = attrCol != null
    val res = new LazyResidency[PqCell, LocalServe](
      LocalServe.loadCells(model, codes, _, attrCol),
      emptyPayload = PqCell(Array.empty, Array.empty,
        if (hasAttrs) Array.empty else null),
      payloadBytes = _.bytes,
      mkDelegate = new LocalServe(model, _, rotation),
      maxResidentCells, maxResidentBytes)
    new LocalServeLazy(model, hasAttrs, res)
  }
}

/** LAZY-residency warm serving for IVF+SQ8 stores — the
  * [[LocalServeLazy]] shape over [[LocalServeSq8]]: model artifacts
  * (centroids + codec constants) load at open, each cell's byte codes
  * pin on first probe through the pruned `partition IN` scan, optional
  * cell/byte-capped LRU eviction. Answers are bit-identical to the
  * eager pin; concurrency and empty-cell semantics are
  * [[LazyResidency]]'s (shared with the PQ/OPQ and RQ tiers). */
final class LocalServeSq8Lazy private (
    val model: graft.index.IvfSq8Model,
    res: LazyResidency[Sq8Cell, LocalServeSq8])
    extends LazyTier[LocalServeSq8](res) with CellShard {

  /** Warm-or-cold top-k — identical contract and bits to
    * [[LocalServeSq8.query]]. */
  def query(q: Array[Double], k: Int, nprobe: Int)
      : Array[(Long, Int, Double)] =
    queryProbes(graft.index.IvfSq8.selectPartitions(model, q, nprobe), k)

  /** Explicit-probe top-k with lazy residency — the [[ServeRouter]]
    * seam (see [[LocalServeLazy.queryProbes]]); `pred` must be null,
    * as on [[LocalServeSq8.queryProbes]]. */
  override private[query] def queryProbes(probes: Array[(Int, Array[Double])],
                                          k: Int, pred: Long => Boolean)
      : Array[(Long, Int, Double)] =
    withResident(probes.map(_._1))(_.queryProbes(probes, k, pred))

  /** SQ8 boxes pin no attributes: a filtered fleet refuses them. */
  private[query] def attrsPinned: Boolean = false
}

object LocalServeSq8Lazy {

  /** Open a saved IVF+SQ8 store for lazy serving — model now, codes per
    * cell on first probe; caps as [[LocalServeLazy.fromStore]]. */
  def fromStore(spark: SparkSession, path: String,
                maxResidentCells: Int = 0,
                maxResidentBytes: Long = 0L): LocalServeSq8Lazy = {
    val (model, codes) = graft.index.IvfSq8.load(spark, path)
    val res = new LazyResidency[Sq8Cell, LocalServeSq8](
      LocalServeSq8.loadCells(model, codes, _),
      emptyPayload = Sq8Cell(Array.empty, Array.empty),
      payloadBytes = _.bytes,
      mkDelegate = new LocalServeSq8(model, _),
      maxResidentCells, maxResidentBytes)
    new LocalServeSq8Lazy(model, res)
  }
}

/** LAZY-residency warm serving for two-level RQ stores — level-1 codes
  * AND level-2 refine codes pin together per cell on first probe, the
  * driver re-score then replays [[LocalServeRq.query]]'s exact
  * float-cast chain, so answers are bit-identical to both the eager
  * [[LocalServeRq]] pin and the cluster `Rq.topKRefined`. Completes
  * the lazy tier across the codec families (PQ/OPQ, SQ8, RQ);
  * concurrency and empty-cell semantics are [[LazyResidency]]'s. */
final class LocalServeRqLazy private (
    val model: graft.index.Rq.RqModel,
    res: LazyResidency[RqCell, LocalServeRq])
    extends LazyTier[LocalServeRq](res) with RqShard {

  /** Warm-or-cold refined top-k — identical contract and bits to
    * [[LocalServeRq.query]]. */
  def query(q: Array[Double], k: Int, nprobe: Int,
            kFactor: Int = 4): Array[(Long, Double)] = {
    val probes = AnnQuery.selectPartitions(model.base, q, nprobe)
    withResident(probes.map(_._1))(_.queryProbes(probes, q, k, kFactor))
  }

  /** Both-score nominees over explicit probes with lazy residency —
    * the [[ServeRouterRq]] seam (the fleet's two-phase merge needs
    * the level-1 AND refined scores; see
    * [[LocalServeRq.nomineesScored]]). */
  private[query] def nomineesScored(probes: Array[(Int, Array[Double])],
                                    q: Array[Double], n: Int)
      : Array[(Long, Int, Double, Double)] =
    withResident(probes.map(_._1))(_.nomineesScored(probes, q, n))
}

object LocalServeRqLazy {

  /** Open a saved refined store ([[graft.index.Rq.save]]) for lazy
    * serving — both model levels load and integrity-check now, each
    * cell's (codes, codes2) pin on first probe; caps as
    * [[LocalServeLazy.fromStore]]. */
  def fromStore(spark: SparkSession, path: String,
                maxResidentCells: Int = 0,
                maxResidentBytes: Long = 0L): LocalServeRqLazy = {
    val (model, encoded2) = graft.index.Rq.load(spark, path)
    fromCodes(model, encoded2, maxResidentCells, maxResidentBytes)
  }

  /** Lazy pin over an already-loaded refined (id, partition, codes,
    * codes2) relation — the lazy twin of [[LocalServeRq.fromCodes]]. */
  def fromCodes(model: graft.index.Rq.RqModel,
                encoded2: org.apache.spark.sql.DataFrame,
                maxResidentCells: Int = 0,
                maxResidentBytes: Long = 0L): LocalServeRqLazy = {
    val res = new LazyResidency[RqCell, LocalServeRq](
      LocalServeRq.loadCells(model, encoded2, _),
      emptyPayload = RqCell(Array.empty, Array.empty, Array.empty),
      payloadBytes = _.bytes,
      mkDelegate = new LocalServeRq(model, _),
      maxResidentCells, maxResidentBytes)
    new LocalServeRqLazy(model, res)
  }
}
