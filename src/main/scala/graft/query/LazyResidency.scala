package graft.query

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.concurrent.{Await, Promise}
import scala.concurrent.duration.Duration

/** Generic lazy-residency state machine shared by every lazy serving
  * tier ([[LocalServeLazy]], [[LocalServeSq8Lazy]], [[LocalServeRqLazy]],
  * each a [[LazyTier]] whose loader is its codec's eager cell loader)
  * — one implementation of pin/evict/concurrency so the families cannot
  * drift (the round-12 tiers duplicated ~60 lines of LRU accounting
  * each, and the shared copy is where the concurrency contract lives).
  *
  * Concurrency contract (the round-12 defect this class exists to fix —
  * the old tiers held one pin lock across the Spark cold-load scan, so
  * every warm query stalled ~1 s behind any cold one):
  *
  *  - WARM path is lock-free: if every probed cell is resident in the
  *    `@volatile` snapshot, the query runs on the immutable delegate
  *    with no synchronization; LRU recency is an atomic stamp per cell
  *    (approximate access order — exact enough for eviction, free of
  *    the LinkedHashMap lock).
  *  - COLD loads run OUTSIDE any lock. Concurrent cold queries for the
  *    SAME cell share one load (a per-cell in-flight promise, claimed
  *    by `putIfAbsent`); distinct cells load in parallel, each claimant
  *    batching the cells it won into ONE pruned scan.
  *  - Installation and eviction are the only locked sections — pure
  *    in-memory map swaps, never IO.
  *  - A query's probed cells are USE-PINNED (a per-cell counter held
  *    for the query's duration), so eviction can never remove a cell an
  *    in-flight query is about to read; this also bounds the
  *    ensure-resident retry loop (once a pinned cell installs, it stays
  *    until the pin drops).
  *
  * Empty cells pin as `emptyPayload` rather than erroring: a probed
  * cell the store has no live rows for (an empty k-means cell, or one
  * whose vectors were all deleted and compacted away) contributes zero
  * candidates — exactly what the cluster path's pruned scan yields for
  * it — instead of permanently failing a data-dependent valid query.
  *
  * Residency caps: `maxResidentCells` (count) and `maxResidentBytes`
  * (payload bytes, matching the serving tier's (4·D+8) B/vector
  * residency contract — cells diverge in size under drift, so a byte
  * cap is the truthful one). Either cap 0 = unbounded. Eviction removes
  * least-recently-probed unpinned cells until both caps hold; the caps
  * are honored up to the working set of in-flight queries (a single
  * query's probed cells always pin together — if they alone exceed a
  * cap, the query still answers and the overage drains at the next
  * eviction pass; the cell-count precondition `probed ≤ maxResidentCells`
  * stays a loud error as before).
  */
final class LazyResidency[P <: AnyRef, S <: AnyRef](
    loadCells: Seq[Int] => Map[Int, P],
    emptyPayload: P,
    payloadBytes: P => Long,
    mkDelegate: Map[Int, P] => S,
    maxResidentCells: Int,
    maxResidentBytes: Long) {

  require(maxResidentCells >= 0,
    s"maxResidentCells must be >= 0 (0 = unbounded), got $maxResidentCells")
  require(maxResidentBytes >= 0L,
    s"maxResidentBytes must be >= 0 (0 = unbounded), got $maxResidentBytes")

  // monotone recency stamps — lock-free LRU approximation
  private val tick = new AtomicLong(0L)
  private val lastTouch = new ConcurrentHashMap[Int, java.lang.Long]
  // cells needed by in-flight queries; eviction skips count > 0
  private val inUse = new ConcurrentHashMap[Int, AtomicInteger]
  // one in-flight load per cell, shared by concurrent cold queries
  private val inflight = new ConcurrentHashMap[Int, Promise[Unit]]
  private val installLock = new Object
  // ONE volatile snapshot: membership check and delegate must come from
  // the same read — with separate fields a reader could observe the new
  // resident map but the previous delegate (written a moment later) and
  // hand a query a delegate missing its probed cell
  private final class Snap(val resident: Map[Int, P], val bytes: Long,
                           val delegate: S)
  @volatile private var snap: Snap =
    new Snap(Map.empty, 0L, mkDelegate(Map.empty))
  @volatile private var coldLoadCount: Long = 0L

  /** Cells currently resident (sorted). */
  def cells: Seq[Int] = snap.resident.keys.toSeq.sorted

  /** Cold cell loads performed so far (per cell, not per query). */
  def coldLoads: Long = coldLoadCount

  /** Total payload bytes currently resident. */
  def residentBytes: Long = snap.bytes

  /** Run `f` on a delegate snapshot guaranteed to contain every probed
    * cell; the probed cells cannot be evicted while `f` runs. */
  def withResident[R](probed: Array[Int])(f: S => R): R = {
    require(maxResidentCells == 0 || probed.length <= maxResidentCells,
      s"query probes ${probed.length} cells but maxResidentCells is " +
        s"$maxResidentCells — raise the cap or lower nprobe")
    probed.foreach(c =>
      inUse.computeIfAbsent(c, _ => new AtomicInteger).incrementAndGet())
    try {
      val now = tick.incrementAndGet()
      probed.foreach(c => lastTouch.put(c, now))
      f(ensureResident(probed))
    } finally probed.foreach(c => inUse.get(c).decrementAndGet())
  }

  /** Background warm-up: make `cells` resident WITHOUT blocking warm
    * traffic — one claim + pruned-scan + install pass through the same
    * per-cell promise machinery as a cold query, so a cell being
    * prefetched and cold-queried concurrently still loads exactly ONCE
    * (whoever wins the claim loads; the other parks on the shared
    * promise). Synchronous in the calling thread — run it on a
    * background executor; warm queries stay lock-free throughout and
    * cold queries for other cells proceed in parallel.
    *
    * Prefetched cells are NOT use-pinned: the caps still apply and
    * eviction treats them as idle (recency-stamped now, so they are the
    * freshest evictable cells) — a prefetch can never wedge residency
    * above its caps, and under cap pressure it is best-effort by
    * design (ONE pass, no retry loop: retrying an evicted prefetch
    * would livelock against the cap). */
  def prefetch(cells: Seq[Int]): Unit = {
    val arr = cells.distinct.toArray
    if (arr.nonEmpty) {
      val now = tick.incrementAndGet()
      arr.foreach(c => lastTouch.put(c, now))
      loadPass(arr)
    }
  }

  /** Returns a delegate whose resident map covers `probed`. Caller must
    * hold the use-pins (see [[withResident]]) so the covered cells stay
    * resident for the returned snapshot's consumer. */
  private def ensureResident(probed: Array[Int]): S = {
    while (true) {
      val d = loadPass(probed)
      if (d != null) return d
      // loop: our use-pins keep claimed/awaited cells resident once
      // installed, so the re-check converges
    }
    throw new IllegalStateException("unreachable")
  }

  /** One claim + load + install + wait pass. Returns the delegate if
    * `probed` was fully resident at this pass's snapshot read, else
    * null (after loading the claims it won and waiting out the loads it
    * joined — a use-pinned caller re-checks, [[prefetch]] stops). */
  private def loadPass(probed: Array[Int]): S = {
    val s0 = snap
    val missing = probed.filterNot(s0.resident.contains)
    if (missing.isEmpty) s0.delegate
    else {
      // claim cells nobody is loading; join the in-flight load otherwise
      val mine = Vector.newBuilder[(Int, Promise[Unit])]
      val waits = Vector.newBuilder[Promise[Unit]]
      missing.foreach { c =>
        val p = Promise[Unit]()
        val prev = inflight.putIfAbsent(c, p)
        if (prev == null) mine += ((c, p)) else waits += prev
      }
      val claimedAll = mine.result()
      // A claim can be stale: between this thread's snapshot read and its
      // putIfAbsent win, the prior claimant may have installed the cell
      // and removed its in-flight entry. Re-read the snapshot and release
      // claims for cells that became resident — without this, the cell
      // would cold-scan a second time and (worse) re-install, double-
      // counting its payload bytes so eviction under a byte cap over-
      // evicts forever after.
      val claimed =
        if (claimedAll.isEmpty) claimedAll
        else {
          val s1 = snap
          val (stale, live) =
            claimedAll.partition { case (c, _) => s1.resident.contains(c) }
          stale.foreach { case (c, p) => inflight.remove(c); p.success(()) }
          live
        }
      if (claimed.nonEmpty) {
        val cellsToLoad = claimed.map(_._1)
        val loaded =
          try loadCells(cellsToLoad) // the Spark scan — NO lock held
          catch {
            case e: Throwable =>
              claimed.foreach { case (c, p) =>
                inflight.remove(c); p.failure(e)
              }
              throw e
          }
        // The install block calls user code (payloadBytes, mkDelegate):
        // if either throws, the claimed promises MUST fail — otherwise
        // waiters parked on Await.result below would hang forever.
        try {
          installLock.synchronized {
            var res = snap.resident
            var bytes = snap.bytes
            var fresh = 0L
            cellsToLoad.foreach { c =>
              // skip cells that became resident despite the pre-load
              // re-check (belt-and-braces for the same stale-claim race)
              if (!res.contains(c)) {
                // cells the store has no live rows for pin as EMPTY — the
                // cluster path's pruned scan yields zero rows there too
                val pay = loaded.getOrElse(c, emptyPayload)
                res += c -> pay
                bytes += payloadBytes(pay)
                fresh += 1L
              }
            }
            coldLoadCount += fresh
            def overCap(m: Map[Int, P], b: Long): Boolean =
              (maxResidentCells > 0 && m.size > maxResidentCells) ||
                (maxResidentBytes > 0L && b > maxResidentBytes)
            if (overCap(res, bytes)) {
              val evictable = res.keysIterator.filter { c =>
                val ctr = inUse.get(c)
                ctr == null || ctr.get() == 0
              }.toArray.sortBy(c => Option(lastTouch.get(c)).fold(0L)(_.longValue()))
              var i = 0
              while (overCap(res, bytes) && i < evictable.length) {
                val c = evictable(i)
                bytes -= payloadBytes(res(c))
                res -= c
                lastTouch.remove(c)
                i += 1
              }
            }
            snap = new Snap(res, bytes, mkDelegate(res))
          }
        } catch {
          case e: Throwable =>
            claimed.foreach { case (c, p) =>
              inflight.remove(c); p.failure(e)
            }
            throw e
        }
        claimed.foreach { case (c, p) => inflight.remove(c); p.success(()) }
      }
      waits.result().foreach(p => Await.result(p.future, Duration.Inf))
      null.asInstanceOf[S]
    }
  }
}

/** The members every lazy serving tier shares, read off its
  * [[LazyResidency]]; `S` is the eager server each query delegates to. */
abstract class LazyTier[S <: AnyRef] private[query] (
    res: LazyResidency[_ <: AnyRef, S]) extends CellHolder {

  /** Cells currently resident. */
  def cells: Seq[Int] = res.cells

  /** Cold cell loads performed so far (per cell, not per query). */
  def coldLoads: Long = res.coldLoads

  /** Background warm-up: pin `cells` ahead of traffic through the same
    * shared-promise load pass a cold query uses (a concurrently queried
    * cell still loads exactly once), never blocking warm queries; caps
    * and eviction apply as usual — see [[LazyResidency.prefetch]]. */
  def prefetch(cells: Seq[Int]): Unit = res.prefetch(cells)

  override private[query] def prefetchCells(cells: Seq[Int]): Unit =
    prefetch(cells)

  /** Payload bytes currently resident (ids, codes and pinned attrs). */
  def residentBytes: Long = res.residentBytes

  /** Run `f` on an eager delegate holding every probed cell. */
  protected def withResident[R](probed: Array[Int])(f: S => R): R =
    res.withResident(probed)(f)
}
