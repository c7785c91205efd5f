package graft.query

import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.CountDownLatch

import graft.query.{ShardWire => W}

/** Hosts ONE shard family behind the [[ShardWire]] protocol: the
  * process-boundary form of the serving fleet ("each shard JVM holds
  * 1/N residency and contributes its own memory bandwidth",
  * [[ServeRouter]] scaladoc). Thread-per-connection; the pinned serve
  * loops are pure reads over immutable arrays, so concurrent
  * connections need no further synchronization. One request/response
  * frame pair at a time per connection — concurrency comes from the
  * client's connection pool, which keeps the server trivially correct.
  *
  * The server computes NOTHING the in-process shard would not: every
  * op decodes to exactly one trait call ([[CellShard.queryProbes]],
  * [[RqShard.nomineesScored]], [[HammingShard]] ops), and shard-side
  * `require` refusals (e.g. a probe into a non-resident cell) travel
  * back as error frames and re-throw client-side — the fleet refusal
  * contract crosses the boundary intact. */
final class ShardServer private (
    ss: ServerSocket,
    pqShard: Option[CellShard],
    rqShard: Option[RqShard],
    hammingShard: Option[HammingShard]) extends AutoCloseable {

  // the cell-partitioned family hosted here, if any (OpCells/OpPrefetch)
  private val cellHolder: Option[CellHolder] = pqShard.orElse(rqShard)

  @volatile private var closed = false
  private val shutdownLatch = new CountDownLatch(1)
  private val clients =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()

  /** Bound port (ephemeral when opened with port 0). */
  def port: Int = ss.getLocalPort

  private val acceptThread = new Thread(() => {
    try {
      while (!closed) {
        val sock = ss.accept()
        sock.setTcpNoDelay(true)
        clients.add(sock)
        val t = new Thread(() => serveConnection(sock))
        t.setDaemon(true)
        t.start()
      }
    } catch {
      case _: java.io.IOException => // closed
    }
  }, s"graft-shard-server-${ss.getLocalPort}")
  acceptThread.setDaemon(true)
  acceptThread.start()

  private def serveConnection(sock: Socket): Unit = {
    try {
      val in = sock.getInputStream
      val out = sock.getOutputStream
      var live = true
      while (live && !closed) {
        val req =
          try W.recvFrame(in)
          catch { case _: java.io.IOException => live = false; null }
        if (req != null) {
          val op = req.readByte()
          // evaluate the shard call OUTSIDE the response write so a
          // shard-side require travels back as ONE clean error frame
          val reply: Either[String, java.io.DataOutputStream => Unit] =
            try {
              op match {
                case W.OpCells =>
                  val cs = cellHolder.map(_.cells)
                    .getOrElse(throw new IllegalStateException(
                      "this server hosts no cell-partitioned family"))
                  Right(d => W.writeInts(d, cs.toArray))
                case W.OpQueryProbes =>
                  val shard = pqShard.getOrElse(throw new IllegalStateException(
                    "this server hosts no PQ shard"))
                  val probes = W.readProbes(req)
                  val k = req.readInt()
                  val hits = shard.queryProbes(probes, k)
                  Right(d => W.writeHits(d, hits))
                case W.OpNominees =>
                  val shard = rqShard.getOrElse(throw new IllegalStateException(
                    "this server hosts no RQ shard"))
                  val probes = W.readProbes(req)
                  val q = W.readDoubles(req)
                  val n = req.readInt()
                  val noms = shard.nomineesScored(probes, q, n)
                  Right(d => W.writeNominees(d, noms))
                case W.OpHammingQuery =>
                  val shard = hammingShard.getOrElse(
                    throw new IllegalStateException(
                      "this server hosts no Hamming shard"))
                  val q = W.readFloats(req)
                  val k = req.readInt()
                  val hits = shard.query(q, k)
                  Right(d => W.writeHammingHits(d, hits))
                case W.OpRerank =>
                  val shard = hammingShard.getOrElse(
                    throw new IllegalStateException(
                      "this server hosts no Hamming shard"))
                  val q = W.readFloats(req)
                  val n = req.readInt()
                  val cands = shard.rerankCandidates(q, n)
                  Right(d => W.writeRerank(d, cands))
                case W.OpIds =>
                  val shard = hammingShard.getOrElse(
                    throw new IllegalStateException(
                      "this server hosts no Hamming shard"))
                  Right(d => W.writeLongs(d, shard.idsSnapshot))
                case W.OpPrefetch =>
                  val cs = W.readInts(req).toSeq
                  cellHolder.map(_.prefetchCells(cs))
                    .getOrElse(throw new IllegalStateException(
                      "this server hosts no cell-partitioned family"))
                  Right(_ => ())
                case W.OpShutdown =>
                  Right(_ => ())
                case other =>
                  Left(s"unknown op $other")
              }
            } catch {
              case t: Throwable =>
                Left(s"${t.getClass.getSimpleName}: ${t.getMessage}")
            }
          W.sendFrame(out) { d =>
            reply match {
              case Right(write) => d.writeByte(W.StatusOk); write(d)
              case Left(msg) =>
                d.writeByte(W.StatusErr)
                d.writeUTF(msg.take(60000))
            }
          }
          if (op == W.OpShutdown && reply.isRight) {
            live = false
            shutdownLatch.countDown()
            close()
          }
        }
      }
    } catch {
      case _: java.io.IOException => // connection dropped
    } finally {
      clients.remove(sock)
      try sock.close() catch { case _: java.io.IOException => }
    }
  }

  /** Block until a client sends [[ShardWire.OpShutdown]] (the server
    * main's foreground wait). */
  def awaitShutdown(): Unit = shutdownLatch.await()

  override def close(): Unit = {
    closed = true
    shutdownLatch.countDown()
    try ss.close() catch { case _: java.io.IOException => }
    clients.forEach(s => try s.close() catch { case _: java.io.IOException => })
  }
}

object ShardServer {

  private def bind(port: Int): ServerSocket =
    // loopback only — the transport is an intra-fleet seam, not a
    // public endpoint; a real deployment fronts it with its own network
    // policy and binds the fleet interface explicitly
    new ServerSocket(port, 64, InetAddress.getLoopbackAddress)

  /** Serve a flat-cell shard (eager or lazy — any [[CellShard]]). */
  def pq(shard: CellShard, port: Int = 0): ShardServer =
    new ShardServer(bind(port), Some(shard), None, None)

  /** Serve a two-level RQ shard. */
  def rq(shard: RqShard, port: Int = 0): ShardServer =
    new ShardServer(bind(port), None, Some(shard), None)

  /** Serve a binary-signature shard. */
  def hamming(shard: HammingShard, port: Int = 0): ShardServer =
    new ShardServer(bind(port), None, None, Some(shard))
}

/** Standalone shard-server process: loads a saved store (its own
  * SparkSession → the same integrity-checked pruned `partition IN` scan
  * every serving tier uses), pins the requested cells, and serves them
  * over [[ShardWire]] until the parent closes stdin or a client sends
  * shutdown. This is the deployment form the fleet QPS claim rests on —
  * shard boxes loading their assigned cells from shared storage.
  *
  * Args: `--store <path> --family pq|opq|rq [--cells c1,c2,…]
  * [--port n] [--cpus n] [--lazy true] [--max-cells n] [--max-bytes n]`.
  * `--lazy` opens the store through the capped lazy-residency tier
  * instead of an eager pin: the shard JVM starts serving immediately
  * (model artifacts only), pins cells on first probe or on an
  * [[ShardWire.OpPrefetch]] warm-up, and evicts past the caps — the
  * fleet form for a store bigger than the fleet's combined RAM. A lazy
  * shard ignores `--cells` (ownership lives in the router's static
  * assignment — a [[ServeRouter]] built with `assign`). Prints
  * `GRAFT_SHARD_READY port=<p>` on stdout when serving
  * ([[ShardProcess]] scrapes it). */
object ShardServerMain {

  def main(args: Array[String]): Unit = {
    val a = args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val store = a.getOrElse("store",
      sys.error("--store <path> is required"))
    val family = a.getOrElse("family", "pq")
    val cells = a.get("cells").map(_.split(",").map(_.trim.toInt).toSeq)
      .getOrElse(Seq.empty)
    val port = a.getOrElse("port", "0").toInt
    val cpus = a.getOrElse("cpus", "4").toInt
    val lazyOpen = a.get("lazy").exists(_.toBoolean)
    val maxCells = a.getOrElse("max-cells", "0").toInt
    val maxBytes = a.getOrElse("max-bytes", "0").toLong

    val spark = graft.GraftSession.builder(cpus.toString).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val server = (family, lazyOpen) match {
      case ("pq", false) =>
        ShardServer.pq(LocalServe.fromStore(spark, store, cells), port)
      case ("pq", true) =>
        ShardServer.pq(
          LocalServeLazy.fromStore(spark, store, maxCells, maxBytes), port)
      case ("opq", false) =>
        ShardServer.pq(LocalServe.fromOpqStore(spark, store, cells), port)
      case ("opq", true) =>
        ShardServer.pq(
          LocalServeLazy.fromOpqStore(spark, store, maxCells, maxBytes), port)
      case ("rq", false) =>
        val (model, encoded2) = graft.index.Rq.load(spark, store)
        val pruned =
          if (cells.isEmpty) encoded2
          else encoded2.where(
            org.apache.spark.sql.functions.col("partition").isin(cells: _*))
        ShardServer.rq(LocalServeRq.fromCodes(model, pruned), port)
      case ("rq", true) =>
        ShardServer.rq(
          LocalServeRqLazy.fromStore(spark, store, maxCells, maxBytes), port)
      case (other, _) =>
        sys.error(s"unknown --family $other (pq | opq | rq)")
    }
    // the READY line is the launch handshake — everything above (JVM,
    // SparkSession, store load, pin) has succeeded when it prints
    println(s"GRAFT_SHARD_READY port=${server.port}")
    Console.out.flush()

    // parent-death watchdog: stdin is a pipe from the parent; EOF means
    // the parent exited (cleanly or not) — never leave an orphan JVM
    val stdinWatch = new Thread(() => {
      try {
        while (System.in.read() >= 0) {} // discard until EOF
      } catch { case _: java.io.IOException => }
      server.close()
      spark.stop()
      sys.exit(0)
    }, "graft-shard-stdin-watchdog")
    stdinWatch.setDaemon(true)
    stdinWatch.start()

    server.awaitShutdown()
    spark.stop()
  }
}
