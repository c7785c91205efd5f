package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1048576") // bounded top-k states are k*16 B; the 128-key default
                   // silently degrades batch k-NN to sort-based partials
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // AMBIENT-CALIBRATION CONTROL (three rounds of driver batteries
    // needed manual host-ambient arbitration — r11/r12 verdicts): a
    // FIXED-WORK entry, one driver-CPU leg + one Spark shuffle leg,
    // measured FIRST (clean JVM, after its own unmeasured JIT warmup)
    // and LAST (after the whole suite). Its cost depends only on the
    // box's available cycles, never on code under test, so
    // ambient_ratio = max(first,last) / clean-box band self-arbitrates
    // a slow battery: ratio >> 1 means the HOST was contended and the
    // per-entry numbers carry that factor. Clean-box band measured at
    // commit time (BENCH_NOTES r13).
    def ambientControl(): Double = {
      import org.apache.spark.sql.functions.{col, sum => sqlSum, xxhash64}
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 400000000) { // fixed xorshift fold — pure CPU
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
      }
      if (x == 42L) System.err.println("xorshift fixpoint") // keep live
      spark.range(1L << 24)
        .select((col("id") % 9973L).as("k"), xxhash64(col("id")).as("h"))
        .groupBy("k").agg(sqlSum(col("h")).as("s"))
        .agg(sqlSum(col("s"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    // clean-box median of 8 control runs at commit time (band
    // 1.45-1.75 s on the idle r13 box — BENCH_NOTES r13); ratio ≈ 1
    // means clean, >> 1 means the battery ran contended. The default is
    // host-specific — on a different box, calibrate once (median of ~8
    // idle control runs) and override via GRAFT_AMBIENT_CLEAN_SEC; the
    // raw control times are emitted in the JSON either way so consumers
    // can recompute the ratio against their own clean band.
    val ambientCleanSec = sys.env.get("GRAFT_AMBIENT_CLEAN_SEC")
      .map(_.toDouble).getOrElse(1.55)
    ambientControl() // unmeasured JIT/codegen warmup
    val ambientFirst = ambientControl()
    // Reference-scale build benchmark (BASELINE.md: 906.52 s for
    // 100k×1536 @ P=100 D=12 C=256, single-threaded). On by default so
    // the per-round record carries the baseline comparison; opt out with
    // SPARK_GRAFT_FULLBUILD=0. Runs FIRST, on a clean heap — measured
    // after the query suite it pays the suite's leftover caches in GC.
    // Reported in its own "build" field — a fixed-scale workload, not
    // part of the sf query suite, so the total stays comparable.
    val buildField = if (!sys.env.get("SPARK_GRAFT_FULLBUILD").contains("0")) {
      import org.apache.spark.sql.functions.col
      import graft.functions.FastFunctions.pseudoRandomVec
      import graft.index.{IvfPqBuilder, IvfPqConfig}
      // both scales are STANDING per-round record fields: the 100k run
      // is the apples-to-apples baseline comparison, the 1M run is the
      // scale regression canary (10× the rows through the same
      // assignment/encode passes — a plan that stops scaling linearly
      // shows up here first, not at sf0.1)
      // returns (total seconds, per-stage JSON, stage-canary JSON) — the
      // stage breakdown (collect-train-sample / coarse-kmeans /
      // materialize-residuals / local-residuals / pq-kmeans-all /
      // encode-materialize) localizes a build regression to its stage
      // instead of leaving a bare total to re-bisect (the r7 1M
      // 76.5→89.4 s question). A stage name logged more than once sums
      // into one key in both objects.
      def buildAt(n: Long): (Double, String, String) = {
        // localCheckpoint, not cache(): raw rows scan ~3× faster than the
        // columnar cache for wide float arrays (BuildBench measurement)
        val vecs = spark.range(n).repartition(64)
          .select(col("id"), pseudoRandomVec(col("id"), 1536, 42L).as("vec"))
          .localCheckpoint()
        val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        val stageRe = """^(\S+) (\d+(?:\.\d+)?) s$""".r
        // STAGE CANARY (round 15): per named build stage, the Spark
        // task count and summed task run time. Ambient (neighbor-load)
        // inflation stretches WALL while task-seconds stay ~constant
        // for the same work; a real regression moves task-seconds or
        // task count — the r14 1M materialize-residuals question
        // (59.5 s driver vs 17.2 s builder, same code) becomes
        // separable instead of a re-bisect.
        val doneStages = new java.util.concurrent.ConcurrentLinkedQueue[
          (Long, Int, Long)]() // (end nanos, tasks, task run ms)
        val canaryListener = new org.apache.spark.scheduler.SparkListener {
          override def onStageCompleted(
              sc: org.apache.spark.scheduler.SparkListenerStageCompleted)
              : Unit =
            doneStages.add((System.nanoTime(), sc.stageInfo.numTasks,
              sc.stageInfo.taskMetrics.executorRunTime))
        }
        val boundaries =
          scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
        spark.sparkContext.addSparkListener(canaryListener)
        val t0 = System.nanoTime()
        val (_, enc) = IvfPqBuilder.fit(vecs, "id", "vec", 1536,
          IvfPqConfig(numPartitions = 100, numDivisions = 12, numCodes = 256,
            maxIter = 20),
          // convergence evidence for the maxIter=20 vs reference ≤100+ε
          // comparison: rounds < maxIter means the tol stop fired
          s => {
            System.err.println(s"[build-bench n=$n] $s")
            s match {
              case stageRe(name, sec) =>
                stages(name) = stages.getOrElse(name, 0.0) + sec.toDouble
                boundaries += ((name, System.nanoTime()))
              case _ => ()
            }
          })
        val tEnc = System.nanoTime()
        enc.count()
        stages("encode-materialize") = (System.nanoTime() - tEnc) / 1e9
        boundaries += (("encode-materialize", System.nanoTime()))
        val sec = (System.nanoTime() - t0) / 1e9
        Thread.sleep(200) // listener bus drain
        spark.sparkContext.removeSparkListener(canaryListener)
        // bucket completed Spark stages into the named build-stage
        // windows by completion time
        val snap = doneStages.toArray(Array.empty[(Long, Int, Long)])
          .sortBy(_._1)
        var lo = t0
        val canary = scala.collection.mutable.LinkedHashMap.empty[
          String, (Long, Double)]
        boundaries.foreach { case (name, hi) =>
          val in = snap.filter(s => s._1 > lo && s._1 <= hi)
          lo = hi
          val (tasks, taskSec) = canary.getOrElse(name, (0L, 0.0))
          canary(name) = (tasks + in.map(_._2.toLong).sum,
            taskSec + in.map(_._3).sum / 1e3)
        }
        // checkpoint blocks (this input + the fit's residuals) free via
        // ContextCleaner once unreachable — the suite's per-run
        // System.gc() sweep collects them before the first entry runs
        (sec,
          stages.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}"),
          canary.map { case (k, (tasks, taskSec)) =>
            s""""$k":{"tasks":$tasks,"task_sec":$taskSec}"""
          }.mkString("{", ",", "}"))
      }
      val (sec100k, stages100k, canary100k) = buildAt(100000L)
      val (sec1m, stages1m, canary1m) = buildAt(1000000L)
      s""","build":{"ivfpq_build_100k_1536":$sec100k,""" +
        s""""ivfpq_build_100k_stages":$stages100k,""" +
        s""""ivfpq_build_100k_canary":$canary100k,""" +
        s""""ivfpq_build_1m_1536":$sec1m,""" +
        s""""ivfpq_build_1m_stages":$stages1m,""" +
        s""""ivfpq_build_1m_canary":$canary1m,"baseline_sec":906.52}"""
    } else ""
    // shared fixtures (index fit/save, attribute batches) are pipeline
    // stages, not operators — materialize them outside the timed loop so
    // map ordering doesn't bill them to whichever entry runs first
    SparkEntry.warmFixtures(spark, sfDir)
    // Measurement hygiene: entries that cache or localCheckpoint leave
    // executor storage blocks behind until GC + ContextCleaner get to
    // them, so without a sweep each entry is timed against its
    // NEIGHBORS' leftover blocks (r7 in-suite medians ran up to 20×
    // their bench-alone cost). Between timed runs, unpersist every
    // persistent RDD that is not one of the warmed fixtures (captured
    // as the baseline id set here), then GC so the ContextCleaner frees
    // checkpoint and broadcast blocks. The sweep runs OUTSIDE the timed
    // section; fixtures stay cached across the whole suite.
    val fixtureRdds = spark.sparkContext.getPersistentRDDs.keySet
    def sweepLeftovers(): Unit = {
      spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!fixtureRdds.contains(id)) rdd.unpersist(blocking = true)
      }
      System.gc()
    }
    // median of N runs per entry (default 3): this box has documented
    // 2-3× run-to-run variance under neighbor load, and a single-shot
    // record that lands outside its own typical range is evidence of
    // nothing — the median is robust to one bad draw while keeping the
    // suite linear in N. Override with SPARK_GRAFT_BENCH_RUNS=1 for a
    // quick iteration loop.
    val runs = math.max(1, sys.env.get("SPARK_GRAFT_BENCH_RUNS")
      .flatMap(_.trim.toIntOption).getOrElse(3))
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the suite to the named
    // entries — the bench-alone re-measure loop for a flagged regression
    // (run the suspect by itself, median-of-N, nothing else on the heap)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) =>
        val missing = names.diff(SparkEntry.queries.keySet)
        require(missing.isEmpty,
          s"SPARK_GRAFT_BENCH_ONLY names unknown entries: ${missing.mkString(", ")}")
        SparkEntry.queries.filter { case (n, _) => names(n) }
      case None => SparkEntry.queries
    }
    val results = selected.map { case (name, fn) =>
      val times = (1 to runs).map { _ =>
        sweepLeftovers()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name FAILED: ${e.getMessage}"); false }
        val sec = (System.nanoTime() - t0) / 1e9
        // a NEGATIVE duration marks a failed run — parseable, impossible
        // to mistake for a fast success
        if (ok) sec else -sec
      }
      // any failed run fails the entry (worst negative); else the median
      name -> (if (times.exists(_ < 0)) times.min
               else times.sorted.apply(runs / 2))
    }
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    // stage breakdown for the suite's heaviest composite (the build
    // "stages" pattern): one instrumented pass OUTSIDE the timed suite,
    // so a pipeline_end_to_end regression localizes to its stage
    val pipelineField =
      if (only.forall(_.contains("pipeline_end_to_end"))) {
        sweepLeftovers()
        val stages = scala.collection.mutable.LinkedHashMap.empty[String, Double]
        val stageRe = """^(\S+) (\d+(?:\.\d+)?) s$""".r
        val t0 = System.nanoTime()
        val df = SparkEntry.pipelineEndToEnd(spark, sfDir, {
          case stageRe(name, sec) => stages(name) = sec.toDouble
          case _ => ()
        })
        val tR = System.nanoTime()
        df.count()
        stages("invariant-report") = (System.nanoTime() - tR) / 1e9
        stages("total") = (System.nanoTime() - t0) / 1e9
        s""","pipeline_stages":""" + stages
          .map { case (k, v) => s"\"" + k + "\":" + v }
          .mkString("{", ",", "}")
      } else ""
    sweepLeftovers()
    val ambientLast = ambientControl()
    val ambientRatio =
      math.max(ambientFirst, ambientLast) / ambientCleanSec
    val ambientField =
      s""","ambient":{"control_first_sec":$ambientFirst,""" +
        s""""control_last_sec":$ambientLast,""" +
        s""""clean_sec":$ambientCleanSec,"ambient_ratio":$ambientRatio}"""
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir"$buildField$pipelineField$ambientField}"""
    println(line)
    // sbt prefixes stdout with [info], which breaks line-oriented JSON
    // scraping — also persist to a file the driver can read directly.
    val outFile = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    spark.stop()
  }
}
