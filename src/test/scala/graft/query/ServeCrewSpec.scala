package graft.query

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicIntegerArray

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The hot serve crew's contract: units run exactly once whoever claims
  * them, results match a serial run, the first failure reaches the
  * caller, a busy crew never makes a caller wait, and idle helpers park
  * instead of burning CPU. */
class ServeCrewSpec extends AnyFunSuite {

  private def crewThreads: Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith("graft-serve-"))

  // a few µs of arithmetic per unit, so helpers get to claim some
  private def unitValue(seed: Int, u: Int): Double = {
    var x = seed * 31.0 + u
    var i = 0
    while (i < 2000) { x = x * 0.999 + math.sqrt(i + u); i += 1 }
    x
  }

  test("every unit runs exactly once under concurrent callers, and each " +
      "caller's results equal a serial run") {
    val callers = 4
    val rounds = 150
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = (0 until callers).map { t =>
      new Thread(() => {
        val rnd = new scala.util.Random(t)
        var r = 0
        while (r < rounds) {
          val units = 1 + rnd.nextInt(40)
          val workers = 1 + rnd.nextInt(6)
          val seed = t * 1000 + r
          val runs = new AtomicIntegerArray(units)
          val out = new Array[Double](units)
          ServeCrew.fanOut(workers, units) { u =>
            runs.incrementAndGet(u)
            out(u) = unitValue(seed, u)
          }
          (0 until units).foreach { u =>
            if (runs.get(u) != 1) errors.add(s"caller $t round $r unit $u ran ${runs.get(u)}x")
            if (out(u) != unitValue(seed, u)) errors.add(s"caller $t round $r unit $u value")
          }
          r += 1
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(60000))
    assert(threads.forall(!_.isAlive), "a caller did not finish")
    assert(errors.isEmpty, errors.asScala.take(5).mkString("; "))
  }

  test("the first failure is rethrown on the caller after the other " +
      "units finish") {
    val runs = new AtomicIntegerArray(30)
    val ex = intercept[IllegalStateException] {
      ServeCrew.fanOut(4, 30) { u =>
        runs.incrementAndGet(u)
        if (unitValue(u, u) > 0 && u == 7)
          throw new IllegalStateException("unit 7 failed")
      }
    }
    assert(ex.getMessage === "unit 7 failed")
    if (ServeCrew.helpers > 0)
      assert((0 until 30).forall(runs.get(_) == 1))
    // the crew is free again afterwards
    val again = new AtomicIntegerArray(10)
    ServeCrew.fanOut(4, 10)(u => again.incrementAndGet(u))
    assert((0 until 10).forall(again.get(_) == 1))
  }

  // a job of `units` kept busy units on up to every core
  private def busyJob(workers: Int, units: Int): Unit = {
    val out = new Array[Double](units)
    ServeCrew.fanOut(workers, units)(u => out(u) = unitValue(u, u))
  }

  test("only workers - 1 helpers join a job") {
    assume(ServeCrew.helpers >= 1, "one core: no helpers")
    val names = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    // park every helper, then wake them all with a job the caller
    // finishes before they arrive: they wake into a spin window and are
    // awake, looking for work, while the two-worker job runs
    val deadline = System.nanoTime() + 5000L * 1000 * 1000
    while (!crewThreads.forall(_.getState == Thread.State.WAITING) &&
        System.nanoTime() < deadline) Thread.sleep(1)
    ServeCrew.fanOut(ServeCrew.helpers + 1, ServeCrew.helpers + 1)(_ => ())
    val out = new Array[Double](2000)
    ServeCrew.fanOut(2, 2000) { u =>
      out(u) = unitValue(u, u)
      names.add(Thread.currentThread.getName)
    }
    val allowed = Set(Thread.currentThread.getName, "graft-serve-0")
    assert(names.asScala.subsetOf(allowed), names.asScala.toSeq.sorted)
  }

  test("a busy crew makes the caller run all of its units inline") {
    assume(ServeCrew.helpers >= 1, "one core: every fan-out is inline")
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val holder = new Thread(() => ServeCrew.fanOut(2, 2) { u =>
      if (u == 0) started.countDown()
      release.await(30, TimeUnit.SECONDS)
    })
    holder.start()
    try {
      assert(started.await(10, TimeUnit.SECONDS), "holder's job never started")
      val names = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val runs = new AtomicIntegerArray(20)
      ServeCrew.fanOut(4, 20) { u =>
        runs.incrementAndGet(u)
        names.add(Thread.currentThread.getName)
      }
      assert(names.asScala.toSet === Set(Thread.currentThread.getName))
      assert((0 until 20).forall(runs.get(_) == 1))
      // a fan-out nested in a unit finds the crew busy too
      val nested = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      release.countDown()
      holder.join(10000)
      ServeCrew.fanOut(2, 2) { _ =>
        val outer = Thread.currentThread.getName
        ServeCrew.fanOut(4, 8)(_ => nested.add(s"$outer>${Thread.currentThread.getName}"))
      }
      assert(nested.asScala.forall { s => val Array(a, b) = s.split(">"); a == b },
        nested.asScala.toSeq.sorted)
    } finally {
      release.countDown()
      holder.join(10000)
    }
  }

  test("every graft-serve thread is parked within 50 ms after a job") {
    assume(ServeCrew.helpers >= 1, "one core: no helpers")
    busyJob(ServeCrew.helpers + 1, 64)
    val threads = crewThreads
    assert(threads.length === ServeCrew.helpers)
    val deadline = System.nanoTime() + 50L * 1000 * 1000
    def parked = threads.forall(_.getState == Thread.State.WAITING)
    while (!parked && System.nanoTime() < deadline) Thread.sleep(1)
    assert(parked, threads.map(t => s"${t.getName}=${t.getState}").mkString(", "))
  }
}
