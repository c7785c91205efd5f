package graft.query

/** The serving fleet's shard seams — the synchronous call surface the
  * routers ([[ServeRouter]], [[ServeRouterRq]], [[ServeRouterHamming]])
  * fan out over, factored to traits so a shard can live in this process
  * ([[LocalServe]] and friends) or behind a process boundary
  * ([[RemoteShards]]) without the router or the merge changing: the
  * bit-parity argument (per-probe scores are pure functions of (model,
  * localized query, row); both tiers break ties by (score, id)) never
  * mentions WHERE the shard computes, so the traits are exactly the
  * seam a transport wraps.
  *
  * Each trait carries one merge shape's RPC surface (reference:
  * asyncdb/proto.rs defines the reference's own query RPC at this same
  * granularity — probe subset in, scored candidates out):
  *
  *  - [[CellShard]] — flat top-k over a probe subset, for every codec
  *    whose score is final at the scan (PQ/OPQ ADC, SQ8), eager or lazy
  *    residency, plus the filtered form.
  *  - [[RqShard]] — BOTH-score nominees for the two-level refine
  *    families (the fleet's two-phase merge needs the level-1 and
  *    refined scores together — see [[LocalServeRq.nomineesScored]]).
  *  - [[HammingShard]] — flat signature scans (no cells; shards split
  *    the corpus by id) plus both-score rerank nominees.
  *
  * The two cell-partitioned surfaces share [[CellHolder]].
  */
trait CellHolder {

  /** Cells this shard answers for (eager: pinned; lazy: currently
    * resident — ownership then comes from the router's assignment). */
  def cells: Seq[Int]

  /** Make `cells` resident ahead of traffic. Lazy shards run one
    * shared-promise load pass ([[LazyResidency.prefetch]] — never
    * blocking warm queries, caps honored); eager shards are fully
    * resident by construction, so the default is a no-op. */
  private[query] def prefetchCells(cells: Seq[Int]): Unit = ()
}

/** Flat-cell shard surface: PQ/OPQ and SQ8 shards, eager or lazy, in
  * process or remote. */
trait CellShard extends CellHolder {

  /** Top-k over an explicit (cell, localized query) probe subset —
    * byte-for-byte the codec's single-box scan over fewer cells.
    * `pred` non-null narrows candidates inside the scan loop (requires
    * [[attrsPinned]]); it is an in-process closure, so shards that
    * cannot apply it (SQ8, remote) must refuse loudly rather than
    * silently ignore it. */
  private[query] def queryProbes(probes: Array[(Int, Array[Double])],
                                 k: Int, pred: Long => Boolean = null)
      : Array[(Long, Int, Double)]

  /** Whether this shard holds per-vector attributes (the fleet
    * queryFiltered assembly check). */
  private[query] def attrsPinned: Boolean
}

/** Two-level RQ shard surface — see [[CellShard]]. */
trait RqShard extends CellHolder {

  /** (id, cell, lvl1_sq_dist, refined_sq_dist) for this shard's
    * level-1 top-`n` nominees — both scores, so the router can
    * reconstruct the single box's global nomination cut exactly. */
  private[query] def nomineesScored(probes: Array[(Int, Array[Double])],
                                    q: Array[Double], n: Int)
      : Array[(Long, Int, Double, Double)]
}

/** Binary-signature shard surface — see [[CellShard]]. Signatures have no
  * cells; every shard answers every query over its id-disjoint rows. */
trait HammingShard {

  /** Hamming top-k: (id, hamming) by (hamming, id) ascending. */
  def query(q: Array[Float], k: Int): Array[(Long, Long)]

  /** (id, hamming, exact_sq_dist) for this shard's Hamming top-`n`
    * nominees (requires pinned float rows). */
  private[query] def rerankCandidates(q: Array[Float], n: Int)
      : Array[(Long, Long, Double)]

  /** Resident ids — the router's id-disjointness assembly check. */
  private[query] def idsSnapshot: Array[Long]
}

/** The sharded routers' shared fan-out machinery: validate that every
  * probed cell routes to a shard, group probes by shard, call every
  * shard CONCURRENTLY (synchronous per-shard calls on the global pool —
  * the transport seam stays a plain function call), flatten the
  * candidates, and apply the family's documented merge order. The merge
  * rules live here ONCE so the (score, id) tie-break cannot drift per
  * family on a future edit. */
private[query] object ShardFan {

  /** Ownership from the shards' own cells (eager shards): a cell maps
    * to the one shard holding it, an unheld cell to -1. Shards must not
    * overlap — two copies of a cell would double-count its candidates;
    * coverage of every model cell is NOT required (a probe into an
    * unheld cell throws at query time, the single-box refusal). */
  def cellOwners(shards: Seq[CellHolder]): Int => Int = {
    val pairs = shards.zipWithIndex.flatMap { case (s, i) =>
      s.cells.map(_ -> i)
    }
    val dup = pairs.groupBy(_._1).filter(_._2.length > 1).keys
    require(dup.isEmpty,
      s"cells held by more than one shard: ${dup.toSeq.sorted.mkString(",")}")
    val owner = pairs.toMap
    c => owner.getOrElse(c, -1)
  }

  /** Fan a probe subset out over shards by ownership. `shardOf` returns
    * the owning shard index for a cell, or a negative value for an
    * unowned cell — which throws the fleet refusal (the sharded form of
    * the single-box "not resident" refusal contract). */
  def fanOut[T: scala.reflect.ClassTag](
      probes: Array[(Int, Array[Double])],
      shardOf: Int => Int,
      numShards: Int,
      call: (Int, Array[(Int, Array[Double])]) => Array[T]): Array[T] = {
    val bad = probes.map(_._1).filter { c =>
      val s = shardOf(c); s < 0 || s >= numShards
    }
    require(bad.isEmpty,
      s"probed cells owned by no shard: ${bad.mkString(",")}")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val byShard = probes.groupBy { case (cell, _) => shardOf(cell) }
    val futs = byShard.toSeq.map { case (si, sp) => Future(call(si, sp)) }
    Await.result(Future.sequence(futs), Duration.Inf).toArray.flatten
  }

  /** Fan a fleet warm-up out over shards by ownership: validate the
    * assignment, group cells, and run every owner's prefetch
    * CONCURRENTLY (each may be one Spark scan). */
  def fanPrefetch(cells: Seq[Int], shardOf: Int => Int, numShards: Int,
                  call: (Int, Seq[Int]) => Unit): Unit = {
    val distinct = cells.distinct
    val bad = distinct.filter { c =>
      val s = shardOf(c); s < 0 || s >= numShards
    }
    require(bad.isEmpty,
      s"prefetch cells owned by no shard: ${bad.mkString(",")}")
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val byShard = distinct.groupBy(shardOf)
    Await.result(Future.sequence(byShard.toSeq.map { case (si, cs) =>
      Future(call(si, cs))
    }), Duration.Inf)
    ()
  }

  /** Concurrent call of EVERY shard (the cell-less Hamming families). */
  def fanOutAll[S, T: scala.reflect.ClassTag](
      shards: IndexedSeq[S])(call: S => Array[T]): Array[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futs = shards.map(s => Future(call(s)))
    Await.result(Future.sequence(futs), Duration.Inf).toArray.flatten
  }

  /** Single-phase merge: the global (sq_dist, id) order over the
    * ≤ shards·k per-shard top-k candidates — every true global top-k
    * member is in its own shard's top-k, a fortiori. */
  def mergeTopK(cands: Array[(Long, Int, Double)], k: Int)
      : Array[(Long, Int, Double)] =
    cands.sortBy(t => (t._3, t._1)).take(k)

  /** Two-phase refine merge: re-apply the single box's GLOBAL
    * nomination cut (top `n` by the coarse (score1, id) order) first,
    * then the refined (score2, id) order over exactly that set — a
    * naive merge of per-shard refined top-k is NOT bit-equal (see
    * [[LocalServeRq.nomineesScored]]). Works for any (id, score1,
    * score2) nominee relation: RQ (lvl1, refined) and Hamming-rerank
    * (hamming, exact). */
  def mergeTwoPhase[S1: Ordering](noms: Array[(Long, S1, Double)],
                                  n: Int, k: Int): Array[(Long, Double)] =
    noms.sortBy(t => (t._2, t._1)).take(n)
      .map(t => (t._1, t._3))
      .sortBy(t => (t._2, t._1)).take(k)
}
