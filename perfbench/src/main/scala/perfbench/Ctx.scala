package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The metric catalogue. End-to-end metrics are emitted by every
  * workload (untraced run); per-layer metrics are emitted by every
  * workload in the traced run, 0 where the workload does not exercise
  * the layer. BENCHMARK.json lists the same names and units. */
object Metrics {
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "op_p50_ms" -> "ms",
    "ops_per_s" -> "1/s")

  /** Spark steps whose per-step telemetry is a per-layer metric. */
  val sparkSteps: Seq[String] = Seq("reference.build", "reference.save",
    "ingest.append", "ingest.delete", "ingest.batch", "ingest.compact",
    "corpus.total")
  val sparkFields: Seq[(String, String)] = Seq("jobs" -> "count",
    "tasks" -> "count", "task_s" -> "s", "cpu_s" -> "s", "gc_ms" -> "ms",
    "shuffle_mb" -> "MB", "spill_mb" -> "MB", "driver_gap_s" -> "s")

  val perLayer: Seq[(String, String)] = Seq(
    // workload headline figures
    "build_s" -> "s", "store_bytes_per_vector" -> "B", "recall_at_10" -> "ratio",
    "cold_query_p50_ms" -> "ms", "cold_query_p90_ms" -> "ms", "batch_qps" -> "1/s",
    "error_rate" -> "ratio", "peak_heap_mb" -> "MB",
    // index: fit
    "index.fit.sample_s" -> "s", "index.fit.coarse_kmeans_s" -> "s",
    "index.fit.coarse_rounds" -> "count", "index.fit.pq_kmeans_s" -> "s",
    "index.fit.pq_rounds" -> "count", "index.fit.residuals_s" -> "s",
    "index.encode_s" -> "s", "index.fit.peak_storage_mb" -> "MB",
    // index: store
    "index.save_s" -> "s", "index.load_s" -> "s", "index.append_s" -> "s",
    "index.delete_s" -> "s", "index.compact_s" -> "s",
    "index.store_files" -> "count", "index.store_mb" -> "MB",
    "index.cell_max_over_mean" -> "ratio") ++
    // query: serving
    Seq("pq", "router").flatMap(f => Seq(
      s"query.serve.$f.p50_ms" -> "ms", s"query.serve.$f.p99_ms" -> "ms")) ++
    Seq("query.serve.cold_loads" -> "count", "query.serve.cold_load_ms" -> "ms",
    "query.serve.hit_ratio" -> "ratio", "query.serve.resident_mb" -> "MB",
    // query: probe and table prep, batch
    "query.select_partitions_us" -> "us", "query.adc_table_us" -> "us",
    "query.batch.plan_ms" -> "ms", "query.batch.exec_s" -> "s",
    // attrs
    "attrs.set_s" -> "s", "attrs.fetch_ms" -> "ms", "attrs.log_files" -> "count",
    // pipeline
    "pipeline.quality_s" -> "s", "pipeline.exact_dedup_s" -> "s",
    "pipeline.lsh_s" -> "s", "pipeline.decontaminate_s" -> "s",
    "pipeline.split_s" -> "s", "pipeline.pack_s" -> "s",
    "pipeline.lsh_pairs" -> "count", "pipeline.docs_kept" -> "count") ++
    sparkSteps.flatMap(s => sparkFields.map { case (f, u) => s"$s.spark.$f" -> u }) ++
    Seq("jvm.gc_ms" -> "ms", "jvm.jit_ms" -> "ms", "jvm.code_cache_mb" -> "MB",
    "host.control_ms" -> "ms", "host.load_before" -> "load",
    "host.load_after" -> "load",
    "trace.spans" -> "count", "trace.overhead_pct" -> "%")

  val units: Map[String, String] = (endToEnd ++ perLayer).toMap
}

/** Operations and correctness checks. A failed operation or check is
  * counted, never dropped. */
final class Checks {
  var attempted = 0L
  var failed = 0L
  val failures: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  def fail(what: String): Unit = synchronized {
    failed += 1
    if (failures.length < 50) failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  def check(what: String)(ok: => Boolean): Unit = {
    synchronized(attempted += 1)
    val good = try ok catch {
      case e: Exception => System.err.println(s"[perfbench] $what: $e"); false
    }
    if (!good) fail(what)
  }

  /** Run one timed operation; an exception counts as a failure. */
  def op[T](what: String)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(body) catch {
      case e: Exception =>
        e.printStackTrace()
        fail(s"$what: $e")
        None
    }
  }
}

/** State shared by a workload run. */
final class Ctx(val spark: SparkSession, val seed: Long,
                val seconds: Double, val short: Boolean, val trace: Boolean,
                val work: String, val nproc: Int) {
  val tel = new Telemetry(spark.sparkContext)
  val tr = new Tracer(trace)
  val checks = new Checks
  /** End-to-end values with their sample counts. */
  val e2e: mutable.LinkedHashMap[String, (Double, Long)] = mutable.LinkedHashMap.empty
  val layer: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  private var heapPeak = 0.0

  def metric(name: String, value: Double, samples: Long): Unit = {
    require(Metrics.units.contains(name), s"metric $name is not catalogued")
    if (Metrics.endToEnd.exists(_._1 == name)) e2e(name) = (value, samples)
    else layer(name) = value
  }

  /** A Spark step: telemetry group plus a trace span of the same name. */
  def step[T](name: String, op: Long = 0L)(body: => T): T =
    tel.step(name)(tr.span(name, op)(body))

  /** Sample post-GC heap occupancy at a phase boundary, and log the
    * phase's end with the JVM's age. */
  def heapMark(): Unit = {
    heapPeak = math.max(heapPeak, Jvm.postGcHeapMb())
    System.err.println(f"[perfbench] phase boundary at ${Jvm.uptimeS}%.1f s")
  }
  def peakHeapMb: Double = heapPeak

  def path(name: String): String = s"$work/$name"

  def parts: Int = nproc * 2

  /** Time left until `deadline` (nanoTime). */
  def left(deadline: Long): Boolean = System.nanoTime() < deadline

  def deadlineAfter(fraction: Double): Long =
    System.nanoTime() + (seconds * fraction * 1e9).toLong
}
