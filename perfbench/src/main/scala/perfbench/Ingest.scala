package perfbench

import scala.collection.mutable

import org.apache.spark.sql.functions.col

import graft.attrs.VectorAttributes
import graft.index.{IvfPqBuilder, IvfPqConfig}
import graft.query.AnnQuery

/** The store lifecycle under writes: a base store at the serve shape,
  * then rounds of one caller. A round appends a batch from a drifting
  * blob mix, sets a u64 attribute on it (and again on the previous
  * batch, so last-write-wins is exercised), deletes a slice of older
  * ids, then loads the store, answers a batch of queries with
  * `AnnQuery.batchTopKAdc` and fetches the hits' attributes. Every few
  * rounds the store is compacted. */
object Ingest {

  final case class Shape(n0: Int, dim: Int, blobs: Int, p: Int, d: Int, c: Int,
                         maxIter: Int, trainPerCentroid: Int, setupReps: Int,
                         batch: Int, queries: Int, compactEvery: Int, deleteOneIn: Int)

  val full = Shape(n0 = 20000, dim = 128, blobs = 192, p = 32, d = 16, c = 256,
    maxIter = 8, trainPerCentroid = 32, setupReps = 2, batch = 2000, queries = 100,
    compactEvery = 2, deleteOneIn = 25)
  val small = Shape(n0 = 6000, dim = 128, blobs = 64, p = 32, d = 16, c = 256,
    maxIter = 4, trainPerCentroid = 32, setupReps = 1, batch = 1500, queries = 40,
    compactEvery = 2, deleteOneIn = 25)

  val k = 10
  val nprobe = 8
  val spread = 0.15

  def value(id: Long, round: Int): Long = id * 13 + round

  def run(ctx: Ctx): Unit = {
    val sh = if (ctx.short) small else full
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.seed
    val blobs = Gen.Blobs(sh.dim, sh.blobs, spread, seed)
    val zipf = new Gen.Zipf(sh.blobs, 1.1, seed)

    val (path, model0) = Common.setup(ctx, sh.setupReps) { rep =>
      val path = ctx.path(s"ingest-$rep")
      val vecs = Gen.vectors(spark, 0L, sh.n0, ctx.parts)(blobs.baseVec)
      val (model, enc) = ctx.step("ingest.build")(IvfPqBuilder.fit(vecs, "id", "vec", sh.dim,
        IvfPqConfig(numPartitions = sh.p, numDivisions = sh.d, numCodes = sh.c,
          maxIter = sh.maxIter, seed = seed, trainPointsPerCentroid = sh.trainPerCentroid)))
      ctx.step("ingest.save")(IvfPqBuilder.save(model, enc, path))
      ctx.step("ingest.attrs")(VectorAttributes.setU64Attribute(path,
        spark.range(0L, sh.n0, 1L, ctx.parts).select(col("id"),
          (col("id") * 13).as("v")), "id", "u", "v"))
      (path, model)
    }

    // expected state: the latest round that set each id's attribute,
    // and the ids deleted so far
    val lastSet = mutable.HashMap.empty[Long, Int]
    val deleted = mutable.HashSet.empty[Long]
    var nextId = sh.n0.toLong
    val rounds = mutable.ArrayBuffer.empty[Double]
    val appendS, attrS, deleteS, loadS, compactS, execS = mutable.ArrayBuffer.empty[Double]
    val planMs, fetchMs, qps = mutable.ArrayBuffer.empty[Double]
    var appended = 0L
    def timed[T](into: mutable.ArrayBuffer[Double])(body: => T): T = {
      val (r, ms) = Common.timeMs(body)
      into += ms / 1e3
      r
    }

    /** One round; returns its latency in ms, None if it failed. */
    def doRound(r: Int): Option[Double] = {
      val op = ctx.tr.newOp()
      val lo = nextId
      val hi = lo + sh.batch
      nextId = hi
      val t0 = System.nanoTime()
      val ok = ctx.checks.op(s"ingest round $r") {
        ctx.tr.span("ingest.round", op) {
          val batch = Gen.vectors(spark, lo, hi, ctx.parts)(id => blobs.driftVec(id, r))
          timed(appendS)(ctx.step("ingest.append")(
            IvfPqBuilder.appendToStore(model0, batch, "id", "vec", path)))
          val prevLo = lo - sh.batch
          val reset = if (r > 1) spark.range(prevLo, hi, 1L, ctx.parts) else spark.range(lo, hi, 1L, ctx.parts)
          timed(attrS)(ctx.step("ingest.attrs")(VectorAttributes.setU64Attribute(path,
            reset.select(col("id"), (col("id") * 13 + r).as("v")), "id", "u", "v")))
          val older = (0L until lo).filter(id =>
            !deleted.contains(id) && java.lang.Math.floorMod(Gen.mix(seed * 31 + r, id), sh.deleteOneIn.toLong) == 0)
          timed(deleteS)(ctx.step("ingest.delete")(
            IvfPqBuilder.deleteFromStore(path, older.toDF("id"), "id")))
          deleted ++= older
          (if (r > 1) prevLo else lo).until(hi).foreach(id => lastSet(id) = r)
          appended += sh.batch

          // load, batch query, attribute fetch
          val (model, codes) = timed(loadS)(ctx.step("ingest.load")(IvfPqBuilder.load(spark, path)))
          // half the queries follow the drift, half pick base blobs by Zipf popularity
          val qr = Gen.rng(seed + r, 55L)
          val qs = (0 until sh.queries).map { i =>
            val key = 2000000000L + r * 100000L + i
            (i.toLong, if (i % 2 == 0) blobs.driftVec(key, r) else blobs.point(zipf.sample(qr), key))
          }.toDF("qid", "qvec")
          val (hits, batchMs) = Common.timeMs(ctx.step("ingest.batch") {
            val (df, pms) = Common.timeMs {
              val df = AnnQuery.batchTopKAdc(codes, model, qs, "qid", "qvec", k, nprobe)
              df.queryExecution.executedPlan
              df
            }
            planMs += pms
            timed(execS)(df.select("qid", "id", "sq_dist", "rank").collect())
          })
          qps += sh.queries / (batchMs / 1e3)
          val byQ = hits.groupBy(_.getLong(0))
          ctx.checks.check(s"round $r: $k rows for each of ${sh.queries} queries")(
            byQ.size == sh.queries && byQ.values.forall(_.length == k))
          ctx.checks.check(s"round $r: sq_dist ascending by rank")(byQ.values.forall { rs =>
            val d = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
            d.indices.drop(1).forall(i => d(i - 1) <= d(i))
          })
          val hitIds = hits.map(_.getLong(1)).distinct
          ctx.checks.check(s"round $r: no deleted id returned")(!hitIds.exists(deleted.contains))
          ctx.checks.check(s"round $r: every appended id present after load")(
            codes.where(col("id") >= lo && col("id") < hi).count() == sh.batch)
          val (rows, fms) = Common.timeMs(ctx.step("ingest.fetch")(
            VectorAttributes.getAttributeFor(spark, path, hitIds.toSeq.toDF("id"), "id", "u")
              .select("vector_id", "value_u64").collect()))
          fetchMs += fms
          val got = rows.map(x => x.getLong(0) -> x.getLong(1)).toMap
          val want = hitIds.map(id => id -> value(id, lastSet.getOrElse(id, 0))).toMap
          ctx.checks.check(s"round $r: attribute fetches return the last write")(got == want)
        }
      }
      ok.map(_ => Stats.ms(System.nanoTime() - t0))
    }

    var round = 0
    def roundsUntil(deadline: Long)(record: Double => Unit): Unit = {
      val first = round
      while (round == first || ctx.left(deadline)) {
        round += 1
        doRound(round).foreach(record)
        // compaction is its own operation: its latency is not a round's
        if (round % sh.compactEvery == 0)
          ctx.checks.op(s"compaction after round $round")(timed(compactS)(
            ctx.step("ingest.compact")(IvfPqBuilder.compactStore(spark, path))))
      }
    }
    // warm-up rounds for as long as the window, not measured: round
    // times fall for about that long while the JIT compiles the code
    roundsUntil(ctx.deadlineAfter(1.0))(_ => ())
    if (round % sh.compactEvery != 0) roundsUntil(0L)(_ => ())
    val appendedWarm = appended
    Seq(appendS, attrS, deleteS, loadS, compactS, execS, planMs, fetchMs, qps).foreach(_.clear())
    roundsUntil(ctx.deadlineAfter(1.0))(rounds += _)
    System.err.println(s"[perfbench] ingest rounds ms: ${rounds.map(_.round).mkString(" ")}")
    // throughput counts compaction amortized over the rounds it serves
    val sec = (rounds.sum + Stats.median(compactS.toSeq) * 1e3 * rounds.length / sh.compactEvery) / 1e3
    appended -= appendedWarm
    ctx.metric("op_p50_ms", Stats.median(rounds.toSeq), rounds.length)
    ctx.metric("ops_per_s", appended / math.max(sec, 1e-9), rounds.length)
    def med(name: String, xs: mutable.ArrayBuffer[Double]): Unit =
      ctx.metric(name, Stats.median(xs.toSeq), xs.length)
    med("index.append_s", appendS)
    med("attrs.set_s", attrS)
    med("index.delete_s", deleteS)
    med("index.load_s", loadS)
    med("index.compact_s", compactS)
    med("query.batch.plan_ms", planMs)
    med("query.batch.exec_s", execS)
    med("batch_qps", qps)
    med("attrs.fetch_ms", fetchMs)
    val live = sh.n0 + appended - deleted.size
    Common.storeMetrics(ctx, path, live, Common.histogram(spark, path))
    ctx.metric("attrs.log_files", Common.storeSize(spark, s"$path/attrs")._1, 1)
  }
}
