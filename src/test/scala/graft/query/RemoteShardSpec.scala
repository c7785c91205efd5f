package graft.query

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.index.{IvfPqBuilder, IvfPqConfig}

/** The process-boundary serving transport: a [[ServeRouter]] whose
  * shards answer over [[ShardWire]] must be BIT-IDENTICAL to the same
  * router over in-process shards — scores cross the wire as raw IEEE
  * bits and every op maps to exactly one trait call, so the merge
  * argument survives the boundary. The flagship test launches a REAL
  * second JVM ([[ShardProcess]] → [[ShardServerMain]] loading the
  * saved store itself); the other families exercise the full wire
  * through an in-process [[ShardServer]] over loopback sockets. */
class RemoteShardSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val dim = 16
  private val config =
    IvfPqConfig(numPartitions = 6, numDivisions = 4, numCodes = 16,
      maxIter = 20)

  private lazy val data: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(43)
    val blobs = Seq.tabulate(6)(_ => Array.fill(dim)(rnd.nextDouble() * 20 - 10))
    for {
      (blob, b) <- blobs.zipWithIndex
      seed <- 0 until 8
      seedVec = blob.map(v => v + rnd.nextGaussian() * 0.8)
      clone <- 0 until 4
    } yield (((b * 8 + seed) * 4 + clone).toLong,
      seedVec.map(v => (v + rnd.nextGaussian() * 0.02).toFloat).toSeq)
  }

  private lazy val df = data.toDF("id", "vec")
  private lazy val (model, encoded) =
    IvfPqBuilder.fit(df, "id", "vec", dim, config)
  private lazy val storeDir = {
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_remote").toString
    IvfPqBuilder.save(model, encoded, dir)
    dir
  }

  private def queries: Seq[(Long, Int, Int)] =
    for {
      qid <- Seq(0L, 63L, 127L, 191L)
      (k, nprobe) <- Seq((5, 1), (10, 3), (7, 6))
    } yield (qid, k, nprobe)

  test("SECOND-JVM shard: a router over one local + one remote-process " +
      "shard answers bit-identically to the single box; the child " +
      "loads the saved store itself") {
    val single = LocalServe.fromStore(spark, storeDir)
    val allCells = single.cells
    val evenCells = allCells.filter(_ % 2 == 0)
    val oddCells = allCells.filter(_ % 2 == 1)
    val child = ShardProcess.launch(storeDir, "pq", oddCells, cpus = 2)
    try {
      val remote = RemoteShards.pq("127.0.0.1", child.port)
      try {
        // the child pinned exactly the cells it was assigned
        assert(remote.cells.sorted === oddCells.sorted)
        val local = LocalServe.fromStore(spark, storeDir, evenCells)
        val router = ServeRouter(model, Seq(local, remote))
        for ((qid, k, nprobe) <- queries) {
          val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
          assert(router.query(q, k, nprobe).toSeq ===
            single.query(q, k, nprobe).toSeq,
            s"remote router mismatch at qid=$qid k=$k nprobe=$nprobe")
        }
        // the refusal contract crosses the wire: probing the remote for
        // a cell it does not hold throws with the shard's own message
        val q0 = data.head._2.map(_.toDouble).toArray
        val ex = intercept[RemoteShardException] {
          remote.queryProbes(
            Array((evenCells.head, q0)), k = 3)
        }
        assert(ex.getMessage.contains("not resident"))
        // predicates are in-process closures — the remote client refuses
        val ex2 = intercept[IllegalArgumentException] {
          remote.queryProbes(Array((oddCells.head, q0)), 3, _ > 0L)
        }
        assert(ex2.getMessage.contains("process boundary"))
        // a filtered FLEET refuses at assembly (remote attrsPinned=false)
        val ex3 = intercept[IllegalArgumentException] {
          router.queryFiltered(q0, 3, 2)(_ > 0L)
        }
        assert(ex3.getMessage.contains("pinned on EVERY shard"))
        // concurrent fan-outs share the pool without frame interleaving
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]
        val threads = (0 until 8).map { ti =>
          val t = new Thread(() => {
            try {
              var i = 0
              while (i < 25) {
                val (qid, k, nprobe) = queries((ti + i) % queries.length)
                val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
                if (router.query(q, k, nprobe).toSeq !=
                    single.query(q, k, nprobe).toSeq)
                  errs.add(s"t$ti i$i mismatch")
                i += 1
              }
            } catch { case e: Throwable => errs.add(s"t$ti: $e") }
          })
          t.start(); t
        }
        threads.foreach(_.join(120000))
        assert(errs.isEmpty, s"concurrent errors: ${errs.toArray.take(3).mkString("; ")}")
      } finally remote.close()
    } finally child.close()
    assert(!child.proc.isAlive, "child JVM must terminate on close")
  }

  test("SECOND-JVM LAZY shard: ServeRouterLazy over an in-process lazy " +
      "shard and a capped lazy shard JVM answers bit-identically; " +
      "OpPrefetch warms the remote residency over the wire") {
    val single = LocalServe.fromStore(spark, storeDir)
    val allCells = single.cells
    val child = ShardProcess.launch(storeDir, "pq", Seq.empty, cpus = 2,
      extraArgs = Seq("--lazy", "true"))
    try {
      val remote = RemoteShards.pq("127.0.0.1", child.port)
      try {
        // a lazy shard server starts serving with NOTHING resident —
        // the model artifacts loaded, the codes wait for probes
        assert(remote.cells.isEmpty,
          "lazy shard JVM must start with an empty residency")
        val localLazy = LocalServeLazy.fromStore(spark, storeDir)
        val assign = (c: Int) => c % 2 // even → local, odd → remote JVM
        val router = ServeRouter(model, Seq(localLazy, remote), assign)
        // fleet warm-up: each owner's subset prefetches concurrently;
        // the remote's odd cells travel as ONE OpPrefetch frame
        router.prefetch(allCells)
        val snap = RemoteShards.pq("127.0.0.1", child.port)
        try assert(snap.cells.sorted === allCells.filter(_ % 2 == 1).sorted,
          "prefetch must pin the remote shard's assigned cells")
        finally snap.close()
        assert(localLazy.cells.sorted === allCells.filter(_ % 2 == 0).sorted)
        val loadsAfterPrefetch = localLazy.coldLoads
        for ((qid, k, nprobe) <- queries) {
          val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
          assert(router.query(q, k, nprobe).toSeq ===
            single.query(q, k, nprobe).toSeq,
            s"lazy remote router mismatch at qid=$qid k=$k nprobe=$nprobe")
        }
        assert(localLazy.coldLoads === loadsAfterPrefetch,
          "a prefetched fleet must answer its queries warm")
      } finally remote.close()
    } finally child.close()
    assert(!child.proc.isAlive, "child JVM must terminate on close")
  }

  test("remote RQ shard (full wire, in-process server): two-phase merge " +
      "parity with the single box across kFactor") {
    import org.apache.spark.sql.functions.col
    import graft.index.Rq
    val (rq, enc2raw) = Rq.fitRefine(encoded, model,
      numDivisions2 = 8, numCodes2 = 8, trainPointsPerCentroid = 0)
    val enc2 = enc2raw.localCheckpoint()
    val single = LocalServeRq.fromCodes(rq, enc2)
    val cells = single.cells
    val evens = cells.filter(_ % 2 == 0)
    val odds = cells.filter(_ % 2 == 1)
    val oddShard = LocalServeRq.fromCodes(rq,
      enc2.where(col("partition").isin(odds: _*)))
    val server = ShardServer.rq(oddShard)
    try {
      val remote = RemoteShards.rq("127.0.0.1", server.port)
      try {
        assert(remote.cells.sorted === odds.sorted)
        val localShard = LocalServeRq.fromCodes(rq,
          enc2.where(col("partition").isin(evens: _*)))
        val router = ServeRouterRq(rq, Seq(localShard, remote))
        for {
          qid <- Seq(0L, 63L, 127L, 191L)
          (k, nprobe, kf) <- Seq((5, 2, 1), (10, 3, 4), (7, 6, 2))
        } {
          val q = data.find(_._1 == qid).get._2.map(_.toDouble).toArray
          assert(router.query(q, k, nprobe, kf).toSeq ===
            single.query(q, k, nprobe, kf).toSeq,
            s"remote RQ mismatch at qid=$qid k=$k nprobe=$nprobe kf=$kf")
        }
      } finally remote.close()
    } finally server.close()
  }

  test("remote Hamming shard (full wire, in-process server): raw top-k " +
      "and two-phase rerank parity; id disjointness checks the wire ids") {
    import graft.index.BinaryQuant
    import org.apache.spark.sql.functions.col
    val thr = BinaryQuant.fitThresholds(df, "vec")
    val single = LocalServeHamming.fromVectors(df, "vec", "id", dim,
      thresholds = thr, pinFloats = true)
    val odd = LocalServeHamming.fromVectors(
      df.where(col("id") % 2 === 1), "vec", "id", dim,
      thresholds = thr, pinFloats = true)
    val even = LocalServeHamming.fromVectors(
      df.where(col("id") % 2 === 0), "vec", "id", dim,
      thresholds = thr, pinFloats = true)
    val server = ShardServer.hamming(odd)
    try {
      val remote = RemoteShards.hamming("127.0.0.1", server.port)
      try {
        val router = ServeRouterHamming(Seq(even, remote))
        for (qid <- Seq(0L, 63L, 127L); k <- Seq(5, 12)) {
          val q = data.find(_._1 == qid).get._2.toArray
          assert(router.query(q, k).toSeq === single.query(q, k).toSeq)
          assert(router.queryRerank(q, k, kFactor = 3).toSeq ===
            single.queryRerank(q, k, kFactor = 3).toSeq)
        }
        // assembly disjointness reads the REMOTE ids over the wire:
        // overlap (the single box holds every odd id too) must refuse
        val ex = intercept[IllegalArgumentException] {
          ServeRouterHamming(Seq(single, remote))
        }
        assert(ex.getMessage.contains("more than one shard"))
      } finally remote.close()
    } finally server.close()
  }

  test("server error frames do not poison the connection; shutdown op " +
      "ends awaitShutdown; wrong-family ops refuse") {
    val shard = LocalServe.fromStore(spark, storeDir)
    val server = ShardServer.pq(shard)
    val done = new java.util.concurrent.CountDownLatch(1)
    val waiter = new Thread(() => { server.awaitShutdown(); done.countDown() })
    waiter.start()
    val remote = RemoteShards.pq("127.0.0.1", server.port)
    try {
      val q0 = data.head._2.map(_.toDouble).toArray
      // shard-side require → error frame → exception; the SAME pooled
      // socket then serves a healthy request (protocol stays aligned)
      intercept[RemoteShardException] {
        remote.queryProbes(Array((999, q0)), 3)
      }
      val hits = remote.queryProbes(
        Array((shard.cells.head, q0)), 3)
      assert(hits.nonEmpty)
      // wrong family: RQ op against a PQ server
      val rqClient = RemoteShards.rq("127.0.0.1", server.port)
      try {
        val ex = intercept[RemoteShardException] {
          rqClient.nomineesScored(Array((shard.cells.head, q0)), q0, 4)
        }
        assert(ex.getMessage.contains("no RQ shard"))
      } finally rqClient.close()
      RemoteShards.shutdown("127.0.0.1", server.port)
      assert(done.await(20, java.util.concurrent.TimeUnit.SECONDS),
        "awaitShutdown did not return after the shutdown op")
    } finally { remote.close(); server.close() }
  }
}
