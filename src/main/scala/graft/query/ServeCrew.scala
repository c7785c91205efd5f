package graft.query

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicReference}
import java.util.concurrent.locks.LockSupport

/** The process-wide HOT SERVE CREW that runs one warm query's prep on
  * every core: `availableProcessors − 1` daemon threads (`graft-serve-i`),
  * started on the first fan-out. A warm query's cell selection and ADC
  * tables are tens of µs of work each, so the cost that matters is how
  * fast helpers join: a pool submission per query paid a thread wake-up
  * (often longer than the work), which left the prep barely parallel.
  * Here a helper that finished a job SPINS (`Thread.onSpinWait`) for
  * [[SpinNanos]] and only then parks — OpenMP's block time, as a
  * constant — so back-to-back queries find their helpers already
  * running, and an idle process costs no CPU after 200 µs.
  *
  * The crew runs ONE job at a time. A caller that finds it busy (a
  * concurrent client, or a fan-out nested in a unit) runs all of its
  * own units inline, so concurrent clients never queue behind each
  * other's jobs and nesting cannot deadlock. */
private[graft] object ServeCrew {

  /** How long a helper keeps spinning after a job (and a caller waiting
    * on helpers' last units) before it parks. */
  private val SpinNanos = 200000L

  /** Helper threads beside the calling thread. */
  val helpers: Int = math.max(0, Runtime.getRuntime.availableProcessors() - 1)

  private final class Job(val epoch: Long, units: Int, val wanted: Int,
                          body: Int => Unit) {
    private[this] val next = new AtomicInteger(0)
    private[this] val done = new AtomicInteger(0)
    val failure = new AtomicReference[Throwable]()

    /** Claims and runs units until none is left; a failing unit still
      * counts as done, and the first failure is kept for the caller. */
    def work(): Unit = {
      var u = next.getAndIncrement()
      while (u < units) {
        try body(u)
        catch { case t: Throwable => failure.compareAndSet(null, t) }
        done.incrementAndGet()
        u = next.getAndIncrement()
      }
    }

    def finished: Boolean = done.get == units
  }

  private final class Helper(idx: Int) extends Thread(s"graft-serve-$idx") {
    setDaemon(true)
    @volatile var parked = false

    override def run(): Unit = {
      var seen = 0L
      var spinEnd = System.nanoTime() + SpinNanos
      while (true) {
        val j = job
        // a job this helper has run, or one that did not ask for it,
        // leaves it waiting: spinning inside the window, parked after
        if (j != null && j.epoch != seen && idx < j.wanted) {
          seen = j.epoch
          j.work()
          spinEnd = System.nanoTime() + SpinNanos
        } else if (System.nanoTime() - spinEnd < 0) Thread.onSpinWait()
        else {
          parked = true
          // re-read after publishing `parked`: a caller either sees
          // the flag and unparks, or its job is visible here
          if (job eq j) LockSupport.park(this)
          parked = false
          // a wake-up opens a new window, so a helper woken after its
          // job ended still catches the query's next one
          spinEnd = System.nanoTime() + SpinNanos
        }
      }
    }
  }

  private[this] val busy = new AtomicBoolean(false)
  // the running job, null between jobs (so no finished query's closure
  // stays reachable); written only by the caller holding `busy`
  @volatile private var job: Job = null
  private[this] var epoch = 0L

  private lazy val crew: Array[Helper] = Array.tabulate(helpers) { i =>
    val h = new Helper(i); h.start(); h
  }

  /** Runs body(u) for every unit u ∈ [0, units) on up to `workers`
    * threads: the caller and workers − 1 helpers claim units from one
    * counter, so a helper that joins late finds less work instead of
    * holding the query up. Returns once every unit has finished,
    * rethrowing the first failure. A busy crew (or one worker, or one
    * unit) runs every unit on the calling thread. */
  def fanOut(workers: Int, units: Int)(body: Int => Unit): Unit = {
    val want = math.min(helpers, math.min(workers, units) - 1)
    if (want <= 0 || !busy.compareAndSet(false, true)) {
      var u = 0
      while (u < units) { body(u); u += 1 }
    } else {
      try {
        val team = crew
        epoch += 1
        val j = new Job(epoch, units, want, body)
        job = j
        var h = 0
        while (h < want) {
          if (team(h).parked) LockSupport.unpark(team(h))
          h += 1
        }
        j.work()
        // the caller ran out of units; wait on the ones helpers hold
        val spinEnd = System.nanoTime() + SpinNanos
        while (!j.finished) {
          if (System.nanoTime() - spinEnd < 0) Thread.onSpinWait()
          else LockSupport.parkNanos(50000L)
        }
        if (j.failure.get != null) throw j.failure.get
      } finally {
        job = null
        busy.set(false)
      }
    }
  }
}
