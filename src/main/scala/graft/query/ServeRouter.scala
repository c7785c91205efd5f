package graft.query

import graft.index.{IvfPqModel, IvfSq8Model}

/** Cell-sharded warm serving: N cell-disjoint [[CellShard]]s behind one
  * top-k merge — the executable form of the serving-tier contract ("a
  * box serves the cells it holds, a fleet shards cells across boxes",
  * [[LocalServe]] scaladoc) and the throughput lever the round-12 OPQ
  * A/B measured out (BENCH_NOTES: one box's ~1.5k QPS OPQ ceiling is
  * aggregate compute/bandwidth — more arithmetic only comes from more
  * boxes). One router serves every flat-cell codec: PQ/OPQ and SQ8.
  *
  * Routing: one probe selection per query — the codec's own driver
  * arithmetic over the model's P centroids ([[AnnQuery.selectPartitions]]
  * or [[graft.index.IvfSq8.selectPartitions]]), identical to the
  * single-box path — then each probed (cell, localized) pair routes to
  * the one shard that owns it and every shard answers its subset
  * through [[CellShard.queryProbes]] — byte-for-byte the single-box
  * scan over fewer cells. The merge re-applies the global (sq_dist, id)
  * order over the ≤ shards·k candidates ([[ShardFan.mergeTopK]] — the
  * rule lives once for every family).
  *
  * Ownership comes in two kinds, each an `Int => Int` cell → shard:
  *  - from the shards' own cells (eager shards; overlap refused at
  *    assembly) — `ServeRouter(model, shards)`;
  *  - a static assignment, typically `cell % numShards` (lazy shards,
  *    whose residency is dynamic by design: each pins its assigned
  *    cells on first probe under its own caps, so N boxes together hold
  *    the hot fraction of a store none of them could pin alone) —
  *    `ServeRouter(model, shards, assign)`.
  * Either way a probe into a cell no shard owns throws, the fleet form
  * of the single-box refusal; the router adds no residency state.
  *
  * Bit-parity argument (spec'd in ServeRouterSpec and gated by
  * `ann_serve_sharded`): each probe's score table is a pure function of
  * (model, localized query), so a cell scores identically on any
  * shard; every member of the true global top-k is, a fortiori, in its
  * own shard's top-k; and both tiers break ties by (sq_dist, id) — so
  * sort-merge of the per-shard top-k equals the single-box top-k
  * exactly, bit for bit.
  *
  * Shards are behind the [[CellShard]] trait: in this process
  * ([[LocalServe]], where the router adds no throughput — the shards
  * share one set of arithmetic units, measured, BENCH_NOTES r13) or
  * across a process boundary ([[RemoteShards.pq]], each shard JVM
  * contributing its own memory bandwidth and holding 1/N residency).
  * The per-shard call is deliberately synchronous so the transport
  * wraps `shards` without changing the merge. */
final class ServeRouter private (
    select: (Array[Double], Int) => Array[(Int, Array[Double])],
    shards: IndexedSeq[CellShard],
    shardOf: Int => Int) {

  /** Number of shards behind this router. */
  def numShards: Int = shards.length

  /** Warm (or, over lazy shards, cold) top-k across the shard fleet:
    * identical contract and bits to a single box holding every cell. */
  def query(q: Array[Double], k: Int, nprobe: Int)
      : Array[(Long, Int, Double)] =
    fan(q, k, nprobe, null)

  /** FILTERED top-k across the fleet — [[LocalServe.queryFiltered]]'s
    * contract sharded: the predicate narrows candidates INSIDE each
    * shard's scan loop (per row, before the heap), so the per-shard
    * top-k is the filtered top-k of its cells and the same merge
    * argument applies verbatim. Every shard must have pinned attrs. */
  def queryFiltered(q: Array[Double], k: Int, nprobe: Int)
                   (pred: Long => Boolean): Array[(Long, Int, Double)] = {
    require(shards.forall(_.attrsPinned),
      "fleet queryFiltered needs attributes pinned on EVERY shard — " +
        "pin or open shards via fromCodesWithAttrs")
    fan(q, k, nprobe, pred)
  }

  /** Fleet warm-up: route `cells` to their owners and prefetch each
    * shard's subset CONCURRENTLY — each lazy shard runs its one
    * shared-promise load pass ([[LazyResidency.prefetch]]: warm
    * traffic unblocked, caps honored, a concurrently queried cell
    * still loads once); eager shards no-op, and in-process and remote
    * ([[RemoteShards.Pq]]) shards both answer it. Blocks until every
    * shard's pass returns. */
  def prefetch(cells: Seq[Int]): Unit =
    ShardFan.fanPrefetch(cells, shardOf, shards.length,
      (si, cs) => shards(si).prefetchCells(cs))

  private def fan(q: Array[Double], k: Int, nprobe: Int,
                  pred: Long => Boolean): Array[(Long, Int, Double)] = {
    require(k >= 1, s"k must be >= 1, got $k")
    ShardFan.mergeTopK(
      ShardFan.fanOut(select(q, nprobe), shardOf, shards.length,
        (si, sp) => shards(si).queryProbes(sp, k, pred)),
      k)
  }
}

object ServeRouter {

  /** A PQ/OPQ fleet over cell-disjoint shards (ownership from their
    * cells). */
  def apply(model: IvfPqModel, shards: Seq[CellShard]): ServeRouter =
    apply(model, shards, ShardFan.cellOwners(shards))

  /** A PQ/OPQ fleet under a static cell → shard assignment (one shard
    * per assignment index). */
  def apply(model: IvfPqModel, shards: Seq[CellShard],
            assign: Int => Int): ServeRouter =
    build(AnnQuery.selectPartitions(model, _, _), shards, assign)

  /** An SQ8 fleet over cell-disjoint shards — the per-row sq8 distance
    * is a pure function of (codec constants, localized query, row), so
    * the merge argument carries over unchanged. */
  def apply(model: IvfSq8Model, shards: Seq[CellShard]): ServeRouter =
    apply(model, shards, ShardFan.cellOwners(shards))

  /** An SQ8 fleet under a static cell → shard assignment. */
  def apply(model: IvfSq8Model, shards: Seq[CellShard],
            assign: Int => Int): ServeRouter =
    build(graft.index.IvfSq8.selectPartitions(model, _, _), shards, assign)

  private def build(
      select: (Array[Double], Int) => Array[(Int, Array[Double])],
      shards: Seq[CellShard], shardOf: Int => Int): ServeRouter = {
    require(shards.nonEmpty, "router needs at least one shard")
    new ServeRouter(select, shards.toIndexedSeq, shardOf)
  }
}

/** [[ServeRouter]] for two-level RQ shards — the refine pattern needs
  * the TWO-PHASE merge: a naive merge of per-shard REFINED top-k is not
  * bit-equal to the single box, because a shard-local nominee that the
  * single box's GLOBAL level-1 cut (top k·kFactor by (lvl1, id)) would
  * have dropped can refine well and enter the merged top-k — better
  * recall, different bits. So each shard returns its level-1 top-n
  * nominees WITH BOTH scores ([[RqShard.nomineesScored]]), and
  * [[ShardFan.mergeTwoPhase]] re-applies the global level-1 order to
  * reconstruct the single box's nomination set exactly before the
  * refined (sq_dist, id) order. Both scores are pure functions of
  * (model, q, row), so shard-local computation cannot change them.
  * Ownership comes in the same two kinds as [[ServeRouter]]'s (from
  * eager shards' cells, or a static assignment over lazy shards that
  * pin both code layers per cell). */
final class ServeRouterRq private (
    val model: graft.index.Rq.RqModel,
    shards: IndexedSeq[RqShard],
    shardOf: Int => Int) {

  /** Number of shards behind this router. */
  def numShards: Int = shards.length

  /** Refined top-k across the fleet — bit-identical to a single
    * [[LocalServeRq]] holding every cell. */
  def query(q: Array[Double], k: Int, nprobe: Int,
            kFactor: Int = 4): Array[(Long, Double)] = {
    require(k >= 1 && kFactor >= 1, s"bad k=$k / kFactor=$kFactor")
    val probes = AnnQuery.selectPartitions(model.base, q, nprobe)
    val n = k * kFactor
    val nominees = ShardFan.fanOut(probes, shardOf, shards.length,
      (si, sp) => shards(si).nomineesScored(sp, q, n))
    ShardFan.mergeTwoPhase(nominees.map(t => (t._1, t._3, t._4)), n, k)
  }

  /** Fleet warm-up — see [[ServeRouter.prefetch]]. */
  def prefetch(cells: Seq[Int]): Unit =
    ShardFan.fanPrefetch(cells, shardOf, shards.length,
      (si, cs) => shards(si).prefetchCells(cs))
}

object ServeRouterRq {

  /** Assemble over cell-disjoint RQ shards — same contract as
    * [[ServeRouter.apply]]. */
  def apply(model: graft.index.Rq.RqModel,
            shards: Seq[RqShard]): ServeRouterRq =
    apply(model, shards, ShardFan.cellOwners(shards))

  /** Assemble under a static cell → shard assignment. */
  def apply(model: graft.index.Rq.RqModel, shards: Seq[RqShard],
            assign: Int => Int): ServeRouterRq = {
    require(shards.nonEmpty, "router needs at least one shard")
    new ServeRouterRq(model, shards.toIndexedSeq, assign)
  }
}

/** [[ServeRouter]] for Hamming-signature shards. Signatures have no
  * cells — shards split the corpus by ID (any disjoint split works; the
  * scan is flat) — so EVERY shard answers every query and the merge is
  * over all shards' top-k by (hamming, id). The rerank composition uses
  * the same two-phase merge as [[ServeRouterRq]]: shards return their
  * Hamming top-n nominees with both scores
  * ([[HammingShard.rerankCandidates]]), the router re-applies the
  * global Hamming nomination cut, then the exact (sq_dist, id) order —
  * bit-identical to the single box's nominate-then-rerank. */
final class ServeRouterHamming private (
    shards: IndexedSeq[HammingShard]) {

  /** Number of shards behind this router. */
  def numShards: Int = shards.length

  /** Warm Hamming top-k across the fleet — bit-identical to a single
    * [[LocalServeHamming]] holding every shard's rows. */
  def query(q: Array[Float], k: Int): Array[(Long, Long)] = {
    require(k >= 1, s"k must be >= 1, got $k")
    ShardFan.fanOutAll(shards)(_.query(q, k))
      .sortBy(t => (t._2, t._1)).take(k)
  }

  /** Hamming-nominate + exact re-rank across the fleet — bit-identical
    * to the single box's [[LocalServeHamming.queryRerank]] (two-phase
    * merge; every shard must have floats pinned). */
  def queryRerank(q: Array[Float], k: Int,
                  kFactor: Int = 4): Array[(Long, Double)] = {
    require(k >= 1 && kFactor >= 1, s"bad k=$k / kFactor=$kFactor")
    val n = k * kFactor
    val nominees = ShardFan.fanOutAll(shards)(_.rerankCandidates(q, n))
    ShardFan.mergeTwoPhase(nominees, n, k)
  }
}

object ServeRouterHamming {

  /** Assemble over ID-disjoint signature shards (overlap would
    * double-count candidates — checked at assembly; shard sizes are
    * driver-resident by the serving contract, so the check is cheap). */
  def apply(shards: Seq[HammingShard]): ServeRouterHamming = {
    require(shards.nonEmpty, "router needs at least one shard")
    val seen = new java.util.HashSet[Long]()
    shards.foreach { s =>
      s.idsSnapshot.foreach { id =>
        require(seen.add(id), s"id $id held by more than one shard")
      }
    }
    new ServeRouterHamming(shards.toIndexedSeq)
  }
}
