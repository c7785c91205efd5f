package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one named step. */
final class StepTotals {
  var calls = 0L
  var wallNs = 0L
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gapNs = 0L

  def fields: Seq[(String, Double)] = {
    val n = math.max(calls, 1L).toDouble
    Seq(
      "jobs" -> jobs / n,
      "tasks" -> tasks / n,
      "task_s" -> taskMs / 1e3 / n,
      "cpu_s" -> cpuNs / 1e9 / n,
      "gc_ms" -> gcMs / n,
      "shuffle_mb" -> shuffleBytes / 1048576.0 / n,
      "spill_mb" -> spillBytes / 1048576.0 / n,
      "driver_gap_s" -> gapNs / 1e9 / n)
  }
}

/** Per-step Spark telemetry. Every step runs under
  * `setJobGroup(step)`; the listener reads the group from the job's
  * start properties and attributes the job's stages and tasks to it, so
  * attribution never depends on event timestamps. At a step's end the
  * listener bus is drained, so no event of the step can arrive late. */
final class Telemetry(sc: SparkContext) extends SparkListener {
  private val stageGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobGroup = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  // job intervals per group, in listener-clock milliseconds
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val intervals = mutable.Map.empty[String, mutable.ArrayBuffer[(Long, Long)]]
  val steps: mutable.LinkedHashMap[String, StepTotals] = mutable.LinkedHashMap.empty

  sc.addSparkListener(this)

  private def totals(g: String): StepTotals = synchronized {
    steps.getOrElseUpdate(g, new StepTotals)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Telemetry.GroupKey)))
    g.foreach { group =>
      jobGroup.put(e.jobId, group)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageGroup.put(s, group))
      val t = totals(group)
      t.synchronized(t.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.get(e.jobId)).foreach { group =>
      val s = jobStart.getOrDefault(e.jobId, e.time)
      synchronized {
        intervals.getOrElseUpdate(group, mutable.ArrayBuffer.empty) += ((s, e.time))
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { group =>
      val t = totals(group)
      val m = e.taskMetrics
      t.synchronized {
        t.tasks += 1
        if (m != null) {
          t.taskMs += m.executorRunTime
          t.cpuNs += m.executorCpuTime
          t.gcMs += m.jvmGCTime
          t.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  /** Run `body` as step `name`: its Spark jobs carry the group, and its
    * wall time minus the union of its job intervals is the time the
    * Spark driver spent outside any job (`driver_gap_s`). */
  def step[T](name: String)(body: => T): T = {
    val prev = sc.getLocalProperty(Telemetry.GroupKey)
    val prevDesc = sc.getLocalProperty(Telemetry.DescKey)
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    val wall0 = System.currentTimeMillis()
    try body
    finally {
      val wallNs = System.nanoTime() - t0
      val wall1 = System.currentTimeMillis()
      if (prev == null) sc.clearJobGroup()
      else sc.setJobGroup(prev, Option(prevDesc).getOrElse(prev))
      org.apache.spark.PerfbenchBus.drain(sc)
      val busy = synchronized {
        val iv = intervals.remove(name).getOrElse(mutable.ArrayBuffer.empty)
        unionMs(iv.toSeq.map { case (a, b) => (math.max(a, wall0), math.min(b, wall1)) })
      }
      val t = totals(name)
      t.synchronized {
        t.calls += 1
        t.wallNs += wallNs
        t.gapNs += math.max(0L, wallNs - busy * 1000000L)
      }
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(p => p._2 > p._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def stop(): Unit = sc.removeSparkListener(this)
}

object Telemetry {
  /** Local-property keys Spark stores a job group and description under. */
  val GroupKey = "spark.jobGroup.id"
  val DescKey = "spark.job.description"
}

/** JVM-wide counters read from the management beans. */
object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime
    else 0L
  }

  def codeCacheMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum / 1048576.0

  /** Heap occupancy right after a full collection, in MB. */
  def postGcHeapMb(): Double = {
    System.gc()
    val u = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    u.getUsed / 1048576.0
  }

  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def heapMaxMb: Double = Runtime.getRuntime.maxMemory / 1048576.0

  def flags: Seq[String] =
    ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.toSeq

  def loadAverage: Double =
    ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
}
