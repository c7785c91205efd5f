package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. One workload per process:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <scratch dir> --out <result dir> [--short]
  *
  * Writes `result.json` (the one-line verdict: correct, attempted,
  * failed, metrics), `record.json` (host record, every metric with its
  * sample count, check failures) and, traced, `trace.json` (spans). */
object Main {

  val workloads: Map[String, Ctx => Unit] = Map(
    "reference" -> Reference.run,
    "ingest" -> Ingest.run,
    "corpus" -> Corpus.run)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val short = args.contains("--short")
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing $k"))
    val workload = need("--workload")
    val run = workloads.getOrElse(workload, sys.error(s"unknown workload $workload"))
    val out = need("--out")
    val nproc = Runtime.getRuntime.availableProcessors

    val loadBefore = Jvm.loadAverage
    val spark = session(nproc, need("--work"))
    System.err.println(f"[perfbench] session up at ${Jvm.uptimeS}%.1f s")
    val ctx = new Ctx(spark, need("--seed").toLong, need("--seconds").toDouble,
      short, need("--trace") == "1", need("--work"), nproc)
    val control0 = Host.control()
    val gc0 = Jvm.gcMs
    val jit0 = Jvm.jitMs
    try run(ctx)
    finally ctx.tel.stop()
    val gcMs = Jvm.gcMs - gc0
    val jitMs = Jvm.jitMs - jit0
    val control1 = Host.control()
    ctx.heapMark()

    ctx.metric("peak_heap_mb", ctx.peakHeapMb, 1)
    val c = ctx.checks
    ctx.metric("error_rate", c.failed.toDouble / math.max(1L, c.attempted), c.attempted)
    for (st <- Metrics.sparkSteps; t <- ctx.tel.steps.get(st); (f, v) <- t.fields)
      ctx.metric(s"$st.spark.$f", v, t.calls)
    ctx.metric("jvm.gc_ms", gcMs, 1)
    ctx.metric("jvm.jit_ms", jitMs, 1)
    ctx.metric("jvm.code_cache_mb", Jvm.codeCacheMb, 1)
    ctx.metric("host.control_ms", Stats.median(control0 ++ control1), 6)
    ctx.metric("host.load_before", loadBefore, 1)
    val loadAfter = Jvm.loadAverage
    ctx.metric("host.load_after", loadAfter, 1)
    if (ctx.trace) {
      val spans = ctx.tr.all
      ctx.metric("trace.spans", spans.length, 1)
      // overhead: spans recorded x measured cost of one span, over the
      // traced run's span-covered wall time
      val covered = spans.filter(_.parent == 0L).map(s => s.end - s.start).sum
      val cost = ctx.tr.spanCostNs() * spans.length
      ctx.metric("trace.overhead_pct", if (covered > 0) 100.0 * cost / covered else 0.0, 1)
    }
    spark.stop()
    System.err.println(f"[perfbench] session stopped at ${Jvm.uptimeS}%.1f s")

    val emitted: Seq[(String, String)] =
      if (ctx.trace) Metrics.perLayer else Metrics.endToEnd
    val values = emitted.map { case (name, unit) =>
      val (v, n) = ctx.e2e.get(name).orElse(ctx.layer.get(name).map(_ -> 1L))
        .getOrElse(0.0 -> 0L)
      (name, unit, v, n)
    }
    val missing = Metrics.endToEnd.map(_._1).filterNot(ctx.e2e.contains)
    if (missing.nonEmpty) c.fail(s"end-to-end metrics not measured: ${missing.mkString(",")}")
    val correct = c.failed == 0
    val metricsJson = Json.obj(values.map { case (name, unit, v, _) =>
      name -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    })
    val result = Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> math.max(1L, c.attempted).toString,
      "failed" -> c.failed.toString, "metrics" -> metricsJson))
    val record = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> ctx.seed.toString,
      "seconds" -> Json.num(ctx.seconds), "short" -> short.toString,
      "trace" -> ctx.trace.toString,
      "host" -> Json.obj(Seq("nproc" -> nproc.toString,
        "heap_max_mb" -> Json.num(Jvm.heapMaxMb),
        "jvm_flags" -> Json.arr(Jvm.flags.map(Json.str)),
        "load_before" -> Json.num(loadBefore), "load_after" -> Json.num(loadAfter),
        "control_ms_before" -> Json.arr(control0.map(Json.num)),
        "control_ms_after" -> Json.arr(control1.map(Json.num)))),
      "end_to_end" -> Json.obj(ctx.e2e.toSeq.map { case (k, (v, n)) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(Metrics.units(k)),
          "samples" -> n.toString))
      }),
      "per_layer" -> Json.obj(ctx.layer.toSeq.map { case (k, v) =>
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(Metrics.units(k))))
      }),
      "spark_steps" -> Json.obj(ctx.tel.steps.toSeq.map { case (k, t) =>
        k -> Json.obj(Seq("calls" -> t.calls.toString,
          "wall_s" -> Json.num(t.wallNs / 1e9 / math.max(1L, t.calls))) ++
          t.fields.map { case (f, v) => f -> Json.num(v) })
      }),
      "attempted" -> c.attempted.toString, "failed" -> c.failed.toString,
      "failures" -> Json.arr(c.failures.map(Json.str))))
    write(s"$out/record.json", record)
    if (ctx.trace) write(s"$out/trace.json", ctx.tr.json)
    write(s"$out/result.json", result)
  }

  private def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), (s + "\n").getBytes(StandardCharsets.UTF_8))

  def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (nproc * 2).toString)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

object Host {
  /** Fixed-work control, three times, in ms: a pure-CPU xorshift fold
    * whose cost depends only on the host, never on the code under test. */
  def control(): Seq[Double] = (1 to 3).map { _ =>
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 20000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("xorshift fixpoint")
    (System.nanoTime() - t0) / 1e6
  }
}
