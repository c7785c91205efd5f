package graft
package entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IvfPqBuilder, OpqBuilder}
import graft.query.AnnQuery
import Fixtures._

/** ann_* serving entries: the driver-local warm paths (pinned and
  * lazy), routers over shards and the remote shard JVM, each
  * bit-identical to the cluster query on the same store. */
private[graft] object AnnServeEntries {

  /** One shard-server JVM per saved store, shared by the
    * `ann_serve_remote` entry across bench reruns (the child's
    * SparkSession + store load is the fixture; the gate's measured work
    * is the queries + wire + merge). Closed on JVM exit like every
    * other memoized fixture — and the child also watches its stdin pipe
    * so it cannot outlive this process even on a hard crash. */
  private val remoteShardMemo = scala.collection.concurrent.TrieMap
    .empty[String, (graft.query.ShardProcess.Handle,
                    graft.query.RemoteShards.Pq)]
  private def remoteShard(s: SparkSession, storePath: String,
                          cells: Seq[Int]): graft.query.RemoteShards.Pq =
    remoteShardMemo.getOrElseUpdate(storePath, {
      val h = graft.query.ShardProcess.launch(storePath, "pq", cells,
        cpus = 2)
      val r = graft.query.RemoteShards.pq("127.0.0.1", h.port)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try r.close() finally h.close()
      }))
      (h, r)
    })._2

  /** Lazy twin of [[remoteShardMemo]]: a shard JVM opened through the
    * capped lazy-residency tier (`--lazy`) — nothing resident at open,
    * cells pin on probe or on the `ann_serve_remote_lazy` gate's
    * OpPrefetch warm-up. The memoized client's cells snapshot is the
    * FIRST-connect view, so the gate's empty-at-open invariant stays
    * pure across bench reruns. */
  private val remoteLazyShardMemo = scala.collection.concurrent.TrieMap
    .empty[String, (graft.query.ShardProcess.Handle,
                    graft.query.RemoteShards.Pq)]
  private def remoteLazyShard(storePath: String)
      : graft.query.RemoteShards.Pq =
    remoteLazyShardMemo.getOrElseUpdate(storePath, {
      val h = graft.query.ShardProcess.launch(storePath, "pq", Seq.empty,
        cpus = 2, extraArgs = Seq("--lazy", "true"))
      val r = graft.query.RemoteShards.pq("127.0.0.1", h.port)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try r.close() finally h.close()
      }))
      (h, r)
    })._2

  /** Per-hit (id_mm, dist_mm) flags of one probe query (embedding
    * `qid`, k=10, nprobe=4): the served answer against the cluster
    * query's `(id, partition, sq_dist)` rows, rank by rank. Ids and
    * cells must match and distances be bit-identical (no tolerance); a
    * hit missing on either side flags both. The cluster query runs
    * first. */
  private def cellParity(s: SparkSession, dir: String, qid: Long)(
      cluster: Array[Double] => DataFrame,
      served: Array[Double] => Array[(Long, Int, Double)])
      : Seq[(Long, Long)] = {
    val q = queryVec(s, dir, qid).map(_.toDouble)
    val want = cluster(q).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    want.zipAll(served(q), (-1L, -1, -1.0), (-2L, -2, -2.0)).map {
      case ((cid, cp, cd), (lid, lp, ld)) =>
        (if (cid == lid && cp == lp) 0L else 1L, if (cd == ld) 0L else 1L)
    }.toSeq
  }

  /** [[cellParity]] for the RQ codec, whose hits carry no cell: the
    * cluster query's rows are `(id, sq_dist)`. */
  private def hitParity(s: SparkSession, dir: String, qid: Long)(
      cluster: Array[Double] => DataFrame,
      served: Array[Double] => Array[(Long, Double)]): Seq[(Long, Long)] = {
    val q = queryVec(s, dir, qid).map(_.toDouble)
    val want = cluster(q).collect().map(r => (r.getLong(0), r.getDouble(1)))
    want.zipAll(served(q), (-1L, -1.0), (-2L, -2.0)).map {
      case ((cid, cd), (lid, ld)) =>
        (if (cid == lid) 0L else 1L, if (cd == ld) 0L else 1L)
    }.toSeq
  }

  /** n_rows, n_id_mismatch and n_dist_mismatch over per-hit flags. */
  private def flagCounts(s: SparkSession, checks: Seq[(Long, Long)])
      : DataFrame = {
    import s.implicits._
    checks.toDF("id_mm", "dist_mm").agg(
      count(lit(1)).cast("long").as("n_rows"),
      coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
      coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
  }

  /** Gate of the lazy tiers: queries 0, 7 and 23 cold, then 0 again
    * warm, each `runOne` flagging its hits against the cluster's; plus
    * every resident cell cold-loaded exactly once (no re-loads without
    * eviction pressure) and the warm repeat loading nothing. */
  private def lazyServeGate(s: SparkSession, tier: graft.query.LazyTier[_])(
      runOne: Long => Seq[(Long, Long)]): DataFrame = {
    val cold = Seq(0L, 7L, 23L).flatMap(runOne)
    val loadsAfterCold = tier.coldLoads
    val warm = runOne(0L) // repeat: fully warm
    val oncePerCell = tier.coldLoads == tier.cells.size.toLong
    val warmFree = tier.coldLoads == loadsAfterCold
    flagCounts(s, cold ++ warm)
      .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
        lit(if (oncePerCell) 1L else 0L).as("one_load_per_cell"),
        lit(if (warmFree) 1L else 0L).as("warm_repeat_no_reload"))
  }

  def entries: Seq[Entry] = Seq(
    // driver-local warm serving path (query/LocalServe): the pinned-cell
    // in-process query loop that closes the reference's one remaining
    // win — warm single-query latency (1.48 ms vs the ~100 ms Spark job
    // floor; perfbench `reference` measures its warm p50 at the
    // reference's P=100 D=12 C=256 K=10 nprobe=5 shape, see
    // perfbench/README.md). The invariant is EXACT parity:
    // same ids, same partitions, BIT-IDENTICAL sq_dist, same
    // (sq_dist, id) order as AnnQuery.topK on the same saved store,
    // over three queries × (k=10, nprobe=4)
    Entry("ann_local_serve", (s, dir) => {
      val path = storedIndexPath(s, dir)
      val (model, codes) = IvfPqBuilder.load(s, path)
      val serve = graft.query.LocalServe.fromStore(s, path)
      val checks = Seq(0L, 7L, 23L).flatMap(cellParity(s, dir, _)(
        AnnQuery.topK(codes, model, _, k = 10, nprobe = 4),
        serve.query(_, k = 10, nprobe = 4)))
      flagCounts(s, checks)
    },
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin),

    // LAZY-residency warm serving (round 12): cells pin on FIRST probe
    // through the pruned scan — answers must be BIT-IDENTICAL to the
    // cluster query, every resident cell must have cold-loaded exactly
    // once (no re-loads without eviction pressure), and a repeated
    // query must be fully warm (zero new loads)
    Entry("ann_local_serve_lazy", (s, dir) => {
      val path = storedIndexPath(s, dir)
      val (model, codes) = IvfPqBuilder.load(s, path)
      val lazySrv = graft.query.LocalServeLazy.fromStore(s, path)
      lazyServeGate(s, lazySrv)(cellParity(s, dir, _)(
        AnnQuery.topK(codes, model, _, k = 10, nprobe = 4),
        lazySrv.query(_, k = 10, nprobe = 4)))
    },
      """SELECT CAST(40 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(1 AS BIGINT) AS one_load_per_cell,
        | CAST(1 AS BIGINT) AS warm_repeat_no_reload""".stripMargin),

    // CELL-SHARDED serving (round 13): a ServeRouter over two
    // cell-disjoint LocalServe shards (even/odd cells of the saved
    // store) — one probe selection, per-shard ADC top-k, k-sized
    // (sq_dist, id) merge — must answer BIT-IDENTICALLY to the cluster
    // query on the same store (and therefore to the single-box serve,
    // which the ann_local_serve gate already pins to the cluster)
    Entry("ann_serve_sharded", (s, dir) => {
      val path = storedIndexPath(s, dir)
      val (model, codes) = IvfPqBuilder.load(s, path)
      val single = graft.query.LocalServe.fromStore(s, path)
      val cells = single.cells
      val shards = Seq(cells.filter(_ % 2 == 0), cells.filter(_ % 2 == 1))
        .map(cs => graft.query.LocalServe.fromStore(s, path, cs))
      val router = graft.query.ServeRouter(model, shards)
      val checks = Seq(0L, 7L, 23L).flatMap(cellParity(s, dir, _)(
        AnnQuery.topK(codes, model, _, k = 10, nprobe = 4),
        router.query(_, k = 10, nprobe = 4)))
      flagCounts(s, checks)
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(if (router.numShards == 2) 1L else 0L).as("two_shards"))
    },
      // 3 queries x k=10, two-shard router bit-identical to the cluster
      // query on the same store
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(1 AS BIGINT) AS two_shards""".stripMargin),

    // PROCESS-BOUNDARY serving (round 14): the ann_serve_sharded fleet
    // with one shard behind a REAL second JVM — ShardServerMain loads
    // the saved store itself (its own SparkSession, the same
    // integrity-checked pruned scan) and serves its cells over the
    // length-prefixed ShardWire protocol; the router merges the remote
    // and local answers. Scores cross the wire as raw IEEE bits, so the
    // invariant stays BIT-IDENTICAL to the cluster query — the fleet
    // QPS claim's transport seam, running, not extrapolated
    Entry("ann_serve_remote", (s, dir) => {
      val path = storedIndexPath(s, dir)
      val (model, codes) = IvfPqBuilder.load(s, path)
      val allCells = graft.query.LocalServe.fromStore(s, path).cells
      val remote = remoteShard(s, path, allCells.filter(_ % 2 == 1))
      val local = graft.query.LocalServe.fromStore(s, path,
        allCells.filter(_ % 2 == 0))
      val router = graft.query.ServeRouter(model, Seq(local, remote))
      val checks = Seq(0L, 7L, 23L).flatMap(cellParity(s, dir, _)(
        AnnQuery.topK(codes, model, _, k = 10, nprobe = 4),
        router.query(_, k = 10, nprobe = 4)))
      val remoteHolds = remote.cells.sorted == allCells.filter(_ % 2 == 1)
      flagCounts(s, checks)
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(if (remoteHolds) 1L else 0L).as("remote_holds_odd_cells"))
    },
      // 3 queries x k=10, one shard behind a REAL second JVM (ShardWire
      // transport) — bit-identical to the cluster query on the same store
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(1 AS BIGINT) AS remote_holds_odd_cells""".stripMargin),

    // LAZY shard JVM (round 14): the fleet form for a store bigger than
    // the fleet's RAM — a shard server opened through the capped
    // lazy-residency tier (--lazy) starts serving with NOTHING resident,
    // a ServeRouter warm-up under a static assignment travels as ONE
    // OpPrefetch frame and pins exactly the shard's assigned cells, and
    // the warmed fleet answers bit-identically to the cluster query
    Entry("ann_serve_remote_lazy", (s, dir) => {
      val path = storedIndexPath(s, dir)
      val (model, codes) = IvfPqBuilder.load(s, path)
      val allCells = graft.query.LocalServe.fromStore(s, path).cells
      val odd = allCells.filter(_ % 2 == 1)
      val remote = remoteLazyShard(path)
      // the memoized client's cells snapshot is from FIRST connect —
      // a lazy server must have had nothing resident at open
      val emptyAtOpen = remote.cells.isEmpty
      val localLazy = graft.query.LocalServeLazy.fromStore(s, path)
      val router = graft.query.ServeRouter(model,
        Seq(localLazy, remote), c => c % 2)
      router.prefetch(allCells)
      val warmSnap = graft.query.RemoteShards.pq("127.0.0.1",
        remoteLazyShardMemo(path)._1.port)
      val warmed = try warmSnap.cells.sorted == odd.sorted
        finally warmSnap.close()
      val checks = Seq(0L, 7L, 23L).flatMap(cellParity(s, dir, _)(
        AnnQuery.topK(codes, model, _, k = 10, nprobe = 4),
        router.query(_, k = 10, nprobe = 4)))
      flagCounts(s, checks)
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(if (emptyAtOpen && warmed) 1L else 0L)
            .as("prefetch_warmed_assigned"))
    },
      // same discipline, the shard JVM opened LAZILY (--lazy): empty at
      // open, warmed by one OpPrefetch to exactly its assigned cells,
      // then bit-identical to the cluster query
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(1 AS BIGINT) AS prefetch_warmed_assigned""".stripMargin),

    // SHARDED SQ8 serving (round 13): a ServeRouter over two
    // cell-disjoint LocalServeSq8 shards — bit-identical to the
    // cluster IvfSq8.topK on the same relation
    Entry("ann_sq8_serve_sharded", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded0) = graft.index.IvfSq8
        .fit(emb, "vec_id", "embedding", 64, numPartitions = 8)
      val encoded = encoded0.localCheckpoint()
      val single = graft.query.LocalServeSq8.fromCodes(model, encoded)
      val shards = Seq(single.cells.filter(_ % 2 == 0),
          single.cells.filter(_ % 2 == 1))
        .map(cs => graft.query.LocalServeSq8.fromCodes(model,
          encoded.where(col("partition").isin(cs: _*))))
      val router = graft.query.ServeRouter(model, shards)
      val checks = Seq(0L, 7L, 23L).flatMap(cellParity(s, dir, _)(
        graft.index.IvfSq8.topK(encoded, model, _, k = 10, nprobe = 4),
        router.query(_, k = 10, nprobe = 4)))
      flagCounts(s, checks)
    },
      // 3 queries x k=10, two-shard SQ8 router bit-identical to the
      // cluster IvfSq8.topK
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin),

    // SHARDED RQ serving (round 13): the refine pattern's TWO-PHASE
    // fleet merge — each shard returns level-1 nominees with both
    // scores, the router re-applies the global level-1 cut then the
    // refined order (a naive per-shard refined merge is NOT bit-equal:
    // a shard-local nominee the global cut would drop can refine in) —
    // bit-identical to the cluster Rq.topKRefined
    Entry("ann_rq_serve_sharded", (s, dir) => {
      import graft.index.Rq
      val (rq, enc2) = refinedIndex(s, dir)
      val single = graft.query.LocalServeRq.fromCodes(rq, enc2)
      val shards = Seq(single.cells.filter(_ % 2 == 0),
          single.cells.filter(_ % 2 == 1))
        .map(cs => graft.query.LocalServeRq.fromCodes(rq,
          enc2.where(col("partition").isin(cs: _*))))
      val router = graft.query.ServeRouterRq(rq, shards)
      val checks = Seq(0L, 7L, 23L).flatMap(hitParity(s, dir, _)(
        Rq.topKRefined(enc2, rq, _, k = 10, nprobe = 4),
        router.query(_, k = 10, nprobe = 4)))
      flagCounts(s, checks)
    },
      // 3 queries x k=10, two-shard RQ router (two-phase nominee merge)
      // bit-identical to the cluster Rq.topKRefined
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin),

    // SHARDED FILTERED serving (round 13): the attribute predicate
    // narrows inside each shard's ADC loop; fleet answers must be
    // bit-identical to the pre-filtered cluster composition
    Entry("ann_filtered_serve_sharded", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val withLabel = encoded
        .join(emb.select(col("vec_id").as("id"), col("label")), "id")
      val allCells = withLabel.select(col("partition").cast("int"))
        .distinct().collect().map(_.getInt(0)).sorted.toSeq
      val shards = Seq(allCells.filter(_ % 2 == 0),
          allCells.filter(_ % 2 == 1))
        .map(cs => graft.query.LocalServe.fromCodesWithAttrs(model,
          withLabel.where(col("partition").isin(cs: _*)), "label"))
      val router = graft.query.ServeRouter(model, shards)
      val filtered = withLabel.where(col("label") === 3)
        .select("id", "partition", "codes")
      val checks = Seq(0L, 7L, 23L).flatMap(cellParity(s, dir, _)(
        AnnQuery.topK(filtered, model, _, k = 10, nprobe = 4),
        q => router.queryFiltered(q, k = 10, nprobe = 4)(_ == 3L)))
      flagCounts(s, checks)
    },
      // 3 queries x k=10, filtered fleet bit-identical to the
      // pre-filtered cluster composition
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin),

    // LAZY FILTERED serving (round 13): queryFiltered over the
    // lazily-pinned delegate — attributes pin per cell alongside the
    // codes on first probe; answers must be BIT-IDENTICAL to the
    // pre-filtered cluster composition (the ann_filtered_local_serve
    // invariant), cells must cold-load once each, and a repeated query
    // must load nothing
    Entry("ann_filtered_local_serve_lazy", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val withLabel = encoded
        .join(emb.select(col("vec_id").as("id"), col("label")), "id")
      val lazySrv = graft.query.LocalServeLazy.fromCodesWithAttrs(model,
        withLabel, "label")
      val filtered = withLabel.where(col("label") === 3)
        .select("id", "partition", "codes")
      lazyServeGate(s, lazySrv)(cellParity(s, dir, _)(
        AnnQuery.topK(filtered, model, _, k = 10, nprobe = 4),
        q => lazySrv.queryFiltered(q, k = 10, nprobe = 4)(_ == 3L)))
    },
      // (3 cold + 1 warm repeat) queries x k=10, lazy filtered serving
      // bit-identical to the pre-filtered cluster composition
      """SELECT CAST(40 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(1 AS BIGINT) AS one_load_per_cell,
        | CAST(1 AS BIGINT) AS warm_repeat_no_reload""".stripMargin),

    // LAZY RQ serving (round 13): the two-level refined codec behind
    // lazy residency — level-1 + level-2 codes pin together per cell on
    // first probe; answers must be BIT-IDENTICAL to the cluster
    // Rq.topKRefined, with the lazy tier's load-accounting invariants
    Entry("ann_rq_local_serve_lazy", (s, dir) => {
      import graft.index.Rq
      val (rq, enc2) = refinedIndex(s, dir)
      val lazySrv = graft.query.LocalServeRqLazy.fromCodes(rq, enc2)
      lazyServeGate(s, lazySrv)(hitParity(s, dir, _)(
        Rq.topKRefined(enc2, rq, _, k = 10, nprobe = 4),
        lazySrv.query(_, k = 10, nprobe = 4)))
    },
      // (3 cold + 1 warm repeat) queries x k=10, lazy two-level RQ
      // serving bit-identical to Rq.topKRefined
      """SELECT CAST(40 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(1 AS BIGINT) AS one_load_per_cell,
        | CAST(1 AS BIGINT) AS warm_repeat_no_reload""".stripMargin),

    // FILTERED warm serving (LocalServe.queryFiltered): the attribute
    // predicate runs over pinned per-cell attrs and everything else is
    // byte-for-byte the plain warm loop, so ids/partitions/distances
    // must be BIT-IDENTICAL to the pre-filtered cluster composition
    // (AnnQuery.topK over the label-narrowed codes — the ann_filtered
    // shape) over three queries
    Entry("ann_filtered_local_serve", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val withLabel = encoded
        .join(emb.select(col("vec_id").as("id"), col("label")), "id")
      val serve = graft.query.LocalServe.fromCodesWithAttrs(model,
        withLabel, "label")
      val filtered = withLabel.where(col("label") === 3)
        .select("id", "partition", "codes")
      val checks = Seq(0L, 7L, 23L).flatMap(cellParity(s, dir, _)(
        AnnQuery.topK(filtered, model, _, k = 10, nprobe = 4),
        q => serve.queryFiltered(q, k = 10, nprobe = 4)(_ == 3L)))
      flagCounts(s, checks)
    },
      // 3 queries x k=10, filtered warm path bit-identical to the
      // pre-filtered cluster ADC query
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin),

    // OPQ warm serving (LocalServe.fromOpqStore): the driver-local warm
    // path extended to the rotated codec family — the ONLY difference
    // from ann_local_serve's loop is the driver-side rotation of the
    // nprobe localized query vectors, the exact step OpqBuilder.topK
    // performs, so the invariant stays EXACT parity: same ids, same
    // partitions, BIT-IDENTICAL sq_dist, same order as the cluster OPQ
    // query on the same saved store, over three queries
    Entry("ann_opq_local_serve", (s, dir) => {
      val path = storedOpqPath(s, dir)
      val (model, codes) = OpqBuilder.load(s, path)
      val serve = graft.query.LocalServe.fromOpqStore(s, path)
      val checks = Seq(0L, 7L, 23L).flatMap(cellParity(s, dir, _)(
        OpqBuilder.topK(codes, model, _, k = 10, nprobe = 4),
        serve.query(_, k = 10, nprobe = 4)))
      flagCounts(s, checks)
    },
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin),

    // RQ warm serving (LocalServeRq): the two-level refined codec's
    // warm path — level-1 LocalServe nominates k·kFactor candidates,
    // the driver re-scores each against the two-level reconstruction
    // replaying the cluster float-cast chain exactly, so the invariant
    // stays EXACT parity with Rq.topKRefined (ids + BIT-IDENTICAL
    // sq_dist, same order) over three queries
    Entry("ann_rq_local_serve", (s, dir) => {
      import graft.index.Rq
      val (rq, enc2) = refinedIndex(s, dir)
      val serve = graft.query.LocalServeRq.fromCodes(rq, enc2)
      val checks = Seq(0L, 7L, 23L).flatMap(hitParity(s, dir, _)(
        Rq.topKRefined(enc2, rq, _, k = 10, nprobe = 4),
        serve.query(_, k = 10, nprobe = 4)))
      flagCounts(s, checks)
    },
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin),

    // SQ8 warm serving (LocalServeSq8): the warm path over the
    // scalar-quantized codec — per-row distances replay the sq8Dist
    // fold exactly, so the invariant stays EXACT parity with the
    // cluster IvfSq8.topK (ids, partitions, BIT-IDENTICAL sq_dist,
    // same order) over three queries; completes warm serving across
    // the stored codec family (PQ / OPQ / SQ8)
    Entry("ann_sq8_local_serve", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded0) = graft.index.IvfSq8
        .fit(emb, "vec_id", "embedding", 64, numPartitions = 8)
      val encoded = encoded0.localCheckpoint()
      val serve = graft.query.LocalServeSq8.fromCodes(model, encoded)
      val checks = Seq(0L, 7L, 23L).flatMap(cellParity(s, dir, _)(
        graft.index.IvfSq8.topK(encoded, model, _, k = 10, nprobe = 4),
        serve.query(_, k = 10, nprobe = 4)))
      flagCounts(s, checks)
    },
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin),
  )
}
