package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, lit}

import graft.attrs.VectorAttributes
import graft.index.{IvfPqBuilder, IvfPqConfig}
import graft.query.{AnnQuery, LocalServe, LocalServeLazy, ServeRouter}

/** BASELINE's shape at reduced row count: uniform 1536-d vectors, IVF+PQ
  * at P=100, D=12, C=256, K=10, nprobe=5. Set-up builds the store
  * (fit, encode, save) and sets a u64 attribute on every even id. The
  * measured window opens the store lazily until the probed cells are
  * resident (cold queries), then pins it and runs a closed loop of one
  * client (warm queries), then serves the same queries through a router
  * over two pinned shards, then fetches the hits' attributes. */
object Reference {

  final case class Shape(n: Int, dim: Int, p: Int, d: Int, c: Int, maxIter: Int,
                         trainPerCentroid: Int, setupReps: Int, queries: Int,
                         recallQueries: Int, checkQueries: Int, fetches: Int)

  val full = Shape(n = 4096, dim = 1536, p = 100, d = 12, c = 256, maxIter = 10,
    trainPerCentroid = 256, setupReps = 2, queries = 256, recallQueries = 32,
    checkQueries = 3, fetches = 8)
  val small = Shape(n = 2048, dim = 1536, p = 50, d = 12, c = 256, maxIter = 5,
    trainPerCentroid = 256, setupReps = 2, queries = 64, recallQueries = 8,
    checkQueries = 2, fetches = 2)

  val k = 10
  val nprobe = 5
  /** Recall floor: a random answer scores about K / n. */
  val recallFloor = 0.05

  def run(ctx: Ctx): Unit = {
    val sh = if (ctx.short) small else full
    val spark = ctx.spark
    val seed = ctx.seed
    val buildS = mutable.ArrayBuffer.empty[Double]
    val stageLogs = mutable.ArrayBuffer.empty[Common.StageLog]
    val encodeS = mutable.ArrayBuffer.empty[Double]
    val saveS = mutable.ArrayBuffer.empty[Double]
    val attrS = mutable.ArrayBuffer.empty[Double]

    val path = Common.setup(ctx, sh.setupReps) { rep =>
      val path = ctx.path(s"reference-$rep")
      val vecs = ctx.tr.span("reference.generate") {
        Gen.uniform(spark, sh.n, sh.dim, seed, ctx.parts).localCheckpoint()
      }
      val log = new Common.StageLog(ctx)
      val t0 = System.nanoTime()
      val (model, enc) = ctx.step("reference.build") {
        val (model, enc0) = IvfPqBuilder.fit(vecs, "id", "vec", sh.dim,
          IvfPqConfig(numPartitions = sh.p, numDivisions = sh.d, numCodes = sh.c,
            maxIter = sh.maxIter, seed = seed, trainPointsPerCentroid = sh.trainPerCentroid),
          log)
        val (enc, ms) = Common.timeMs(ctx.tr.span("index.encode") {
          val e = enc0.select("id", "partition", "codes").persist()
          e.count()
          e
        })
        encodeS += ms / 1e3
        (model, enc)
      }
      val (_, saveMs) = Common.timeMs(ctx.step("reference.save")(IvfPqBuilder.save(model, enc, path)))
      saveS += saveMs / 1e3
      buildS += Stats.sec(System.nanoTime() - t0)
      enc.unpersist()
      stageLogs += log
      // last write wins: every even id, then every fourth id again
      val (_, aMs) = Common.timeMs(ctx.step("reference.attrs") {
        val ids = spark.range(0L, sh.n.toLong, 1L, ctx.parts)
        VectorAttributes.setU64Attribute(path,
          ids.where(col("id") % 2 === 0).select(col("id"),
            (col("id") * 31 + lit(seed)).as("v")), "id", "u", "v")
        VectorAttributes.setU64Attribute(path,
          ids.where(col("id") % 4 === 0).select(col("id"),
            (col("id") * 31 + lit(seed) + 1).as("v")), "id", "u", "v")
      })
      attrS += aMs / 1e3
      path
    }

    val lastLog = stageLogs.last
    def med(xs: Seq[Double]) = Stats.median(xs)
    ctx.metric("build_s", med(buildS.toSeq), buildS.length)
    ctx.metric("index.fit.sample_s", med(stageLogs.map(_.get("collect-train-sample")).toSeq), buildS.length)
    ctx.metric("index.fit.coarse_kmeans_s", med(stageLogs.map(_.get("coarse-kmeans")).toSeq), buildS.length)
    ctx.metric("index.fit.coarse_rounds", lastLog.coarseRounds, 1)
    ctx.metric("index.fit.pq_kmeans_s", med(stageLogs.map(_.get("pq-kmeans-all")).toSeq), buildS.length)
    ctx.metric("index.fit.pq_rounds", lastLog.pqRounds, 1)
    ctx.metric("index.fit.residuals_s", med(stageLogs.map(l =>
      l.get("local-residuals") + l.get("materialize-residuals")).toSeq), buildS.length)
    ctx.metric("index.fit.peak_storage_mb", stageLogs.map(_.peakStorageMb).max, buildS.length)
    ctx.metric("index.encode_s", med(encodeS.toSeq), encodeS.length)
    ctx.metric("index.save_s", med(saveS.toSeq), saveS.length)
    ctx.metric("attrs.set_s", med(attrS.toSeq), attrS.length)
    Common.storeMetrics(ctx, path, sh.n, Common.histogram(spark, path))
    ctx.metric("attrs.log_files", Common.storeSize(spark, s"$path/attrs")._1, 1)

    // queries: stored vectors plus small seeded noise, so each query's
    // exact nearest neighbour is known to exist in the store
    val queries = Array.tabulate(sh.queries) { i =>
      val src = Gen.uniformVec(java.lang.Math.floorMod(Gen.mix(seed, i), sh.n.toLong), sh.dim, seed)
      val r = Gen.rng(seed + 1, i)
      src.map(x => x + 0.02 * (r.nextDouble() - 0.5))
    }
    val t0 = System.nanoTime()
    val coldEnd = ctx.deadlineAfter(0.3)
    val end = ctx.deadlineAfter(0.75)

    // ---- cold: repeated lazy opens until every probed cell is resident ----
    val loadMs = mutable.ArrayBuffer.empty[Double]
    val coldMs = mutable.ArrayBuffer.empty[Double]
    var coldLoads = 0L
    var probes = 0L
    var residentMb = 0.0
    var rounds = 0
    while (rounds == 0 || ctx.left(coldEnd)) {
      rounds += 1
      val (lazyServe, ms) = Common.timeMs(ctx.tr.span("index.load")(
        LocalServeLazy.fromStore(spark, path)))
      loadMs += ms
      var qi = 0
      while (qi < queries.length && lazyServe.cells.length < sh.p) {
        val before = lazyServe.coldLoads
        val op = ctx.tr.newOp()
        ctx.checks.op("cold query") {
          val (res, ms) = Common.timeMs(ctx.tr.span("query.serve.cold", op)(
            lazyServe.query(queries(qi), k, nprobe)))
          val loaded = lazyServe.coldLoads - before
          probes += nprobe
          if (loaded > 0) { coldMs += ms; coldLoads += loaded }
          if (res.length != k) ctx.checks.fail(s"cold query returned ${res.length} rows")
        }
        qi += 1
      }
      residentMb = lazyServe.residentBytes / 1048576.0
    }
    ctx.metric("index.load_s", med(loadMs.toSeq) / 1e3, loadMs.length)
    ctx.metric("cold_query_p50_ms", med(coldMs.toSeq), coldMs.length)
    ctx.metric("cold_query_p90_ms", Stats.quantile(coldMs.toSeq, 0.9), coldMs.length)
    ctx.metric("query.serve.cold_loads", coldLoads.toDouble / rounds, rounds)
    ctx.metric("query.serve.cold_load_ms", coldMs.sum / math.max(1L, coldLoads), coldLoads)
    ctx.metric("query.serve.hit_ratio", 1.0 - coldLoads.toDouble / math.max(1L, probes), probes)
    ctx.metric("query.serve.resident_mb", residentMb, 1)
    ctx.heapMark()

    // ---- warm: eager pin, closed loop of one client ----
    val pinned = ctx.tr.span("query.pin")(LocalServe.fromStore(spark, path))
    var w = 0
    while (w < 2 * queries.length) { pinned.query(queries(w % queries.length), k, nprobe); w += 1 }
    val warm = mutable.ArrayBuffer.empty[Double]
    val hits = mutable.ArrayBuffer.empty[Array[Long]]
    val warmStart = System.nanoTime()
    var qi = 0
    while (warm.isEmpty || ctx.left(end)) {
      val q = queries(qi % queries.length)
      val op = ctx.tr.newOp()
      ctx.checks.op("warm query") {
        val (res, ms) = Common.timeMs(ctx.tr.span("query.serve.pq", op)(pinned.query(q, k, nprobe)))
        warm += ms
        if (qi < sh.fetches) hits += res.map(_._1)
        if (res.length != k) ctx.checks.fail(s"warm query returned ${res.length} rows")
      }
      qi += 1
    }
    ctx.metric("op_p50_ms", med(warm.toSeq), warm.length)
    ctx.metric("ops_per_s", warm.length / Stats.sec(System.nanoTime() - warmStart), warm.length)
    ctx.metric("query.serve.pq.p50_ms", med(warm.toSeq), warm.length)
    ctx.metric("query.serve.pq.p99_ms", Common.p99Chunked(warm.toSeq), warm.length)

    // ---- router over two pinned shards (cells split by parity) ----
    val model = pinned.model
    val router = ctx.tr.span("query.pin")(ServeRouter(model, Seq(0, 1).map(par =>
      LocalServe.fromStore(spark, path, pinned.cells.filter(_ % 2 == par)))))
    (0 until queries.length).foreach(i => router.query(queries(i), k, nprobe))
    val routed = mutable.ArrayBuffer.empty[Double]
    val routerEnd = ctx.deadlineAfter(0.1)
    while (routed.isEmpty || ctx.left(routerEnd)) {
      val q = queries(routed.length % queries.length)
      val op = ctx.tr.newOp()
      ctx.checks.op("router query") {
        val (res, ms) = Common.timeMs(ctx.tr.span("query.serve.router", op)(router.query(q, k, nprobe)))
        routed += ms
        if (res.length != k) ctx.checks.fail(s"router query returned ${res.length} rows")
      }
    }
    ctx.metric("query.serve.router.p50_ms", med(routed.toSeq), routed.length)
    ctx.metric("query.serve.router.p99_ms", Common.p99Chunked(routed.toSeq), routed.length)

    // ---- attributes of the hits: last write wins ----
    val fetchMs = mutable.ArrayBuffer.empty[Double]
    import spark.implicits._
    hits.foreach { ids =>
      ctx.checks.op("attribute fetch") {
        val (rows, ms) = Common.timeMs(ctx.tr.span("attrs.fetch")(
          VectorAttributes.getAttributeFor(spark, path, ids.toSeq.toDF("id"), "id", "u")
            .select("vector_id", "value_u64").collect()))
        fetchMs += ms
        val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
        val want = ids.filter(_ % 2 == 0).map(id =>
          id -> (id * 31 + seed + (if (id % 4 == 0) 1 else 0))).toMap
        if (got != want) ctx.checks.fail(s"attribute fetch: got $got, want $want")
      }
    }
    ctx.metric("attrs.fetch_ms", med(fetchMs.toSeq), fetchMs.length)
    ctx.heapMark()

    // ---- probe and table prep, timed directly on the query stream ----
    val selUs = mutable.ArrayBuffer.empty[Double]
    val adcUs = mutable.ArrayBuffer.empty[Double]
    queries.foreach { q =>
      val (probed, ms) = Common.timeMs(AnnQuery.selectPartitions(model, q, nprobe))
      selUs += ms * 1e3
      val (_, ms2) = Common.timeMs(probed.foreach(p => AnnQuery.adcTable(model, p._2)))
      adcUs += ms2 * 1e3
    }
    ctx.metric("query.select_partitions_us", med(selUs.toSeq), selUs.length)
    ctx.metric("query.adc_table_us", med(adcUs.toSeq), adcUs.length)

    // ---- correctness: bit-identical to the cluster query, recall ----
    val (_, codes) = IvfPqBuilder.load(spark, path)
    val lazyCheck = LocalServeLazy.fromStore(spark, path)
    queries.take(sh.checkQueries).zipWithIndex.foreach { case (q, i) =>
      val want = Common.rows(AnnQuery.topK(codes, model, q, k, nprobe))
      ctx.checks.check(s"pinned top-k bit-identical to AnnQuery.topK (query $i)")(
        Common.same(pinned.query(q, k, nprobe).map(r => (r._1, r._3)).toSeq, want))
      ctx.checks.check(s"lazy top-k bit-identical to AnnQuery.topK (query $i)")(
        Common.same(lazyCheck.query(q, k, nprobe).map(r => (r._1, r._3)).toSeq, want))
      ctx.checks.check(s"router top-k bit-identical to AnnQuery.topK (query $i)")(
        Common.same(router.query(q, k, nprobe).map(r => (r._1, r._3)).toSeq, want))
    }
    val base = Array.tabulate(sh.n)(i => Gen.uniformVec(i.toLong, sh.dim, seed))
    val rec = queries.take(sh.recallQueries).map { q =>
      val exact = Common.exactTopK(base, q.map(_.toFloat), k)
      Common.recall(pinned.query(q, k, nprobe).map(_._1).toSeq, exact.toSeq)
    }
    val recall = Stats.mean(rec.toSeq)
    ctx.metric("recall_at_10", recall, rec.length)
    ctx.checks.check(f"recall_at_10 $recall%.3f >= floor $recallFloor")(recall >= recallFloor)
    System.err.println(f"[perfbench] reference window ${Stats.sec(System.nanoTime() - t0)}%.1f s")
  }
}
