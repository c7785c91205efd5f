package graft.query

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetAddress, Socket}
import java.util.concurrent.ConcurrentLinkedQueue

import graft.query.{ShardWire => W}

/** A shard RPC failed shard-side; carries the server's message (which
  * includes shard `require` refusals — the fleet refusal contract
  * crosses the boundary as an exception, same as in-process). */
final class RemoteShardException(msg: String) extends RuntimeException(msg)

/** One remote shard endpoint with a lock-free connection pool: each
  * request borrows a socket (or dials a new one), runs ONE frame
  * exchange, and returns it — so N concurrent router fan-outs use N
  * sockets, never interleaving frames. A socket that errors is closed
  * and dropped, not returned. */
private[query] final class ShardConn(host: String, port: Int)
    extends AutoCloseable {

  private val pool = new ConcurrentLinkedQueue[Socket]()
  private val all =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Socket]()
  @volatile private var closed = false

  private def borrow(): Socket = {
    val s = pool.poll()
    if (s != null) s
    else {
      require(!closed, s"connection to $host:$port is closed")
      val fresh = new Socket(InetAddress.getByName(host), port)
      fresh.setTcpNoDelay(true)
      all.add(fresh)
      fresh
    }
  }

  /** One request/response exchange. Shard-side errors re-throw as
    * [[RemoteShardException]]; transport errors close the socket and
    * propagate as IOException. */
  def call[T](op: Byte)(writeBody: DataOutputStream => Unit)
             (readBody: DataInputStream => T): T = {
    val sock = borrow()
    var ok = false
    try {
      W.sendFrame(sock.getOutputStream) { d =>
        d.writeByte(op)
        writeBody(d)
      }
      val resp = W.recvFrame(sock.getInputStream)
      val status = resp.readByte()
      val out =
        if (status == W.StatusOk) readBody(resp)
        else throw new RemoteShardException(resp.readUTF())
      ok = true // the exchange completed; the socket is reusable even
                // when the SHARD answered with an error frame
      out
    } catch {
      case e: RemoteShardException =>
        ok = true // clean error frame — the socket is still in protocol
        throw e
    } finally {
      if (ok && !closed) pool.offer(sock)
      else {
        all.remove(sock)
        try sock.close() catch { case _: Throwable => }
      }
    }
  }

  override def close(): Unit = {
    closed = true
    all.forEach(s => try s.close() catch { case _: Throwable => })
    all.clear()
    pool.clear()
  }
}

/** Remote shard clients: [[CellShard]] / [[RqShard]] / [[HammingShard]]
  * implementations that forward each trait call over [[ShardWire]] to a
  * [[ShardServer]] in another process. Because scores cross the wire as
  * raw IEEE bits and every op maps to exactly one in-process trait
  * call, a router over remote shards is BIT-IDENTICAL to the same
  * router over the same shards in-process (gated by `ann_serve_remote`;
  * spec'd per family in RemoteShardSpec against a real second JVM). */
object RemoteShards {

  /** Flat-cell (PQ/OPQ) remote shard. `cells` is fetched once at
    * connect: an eager shard server's pinned cells, which a
    * [[ServeRouter]] built from shards' cells reads as its ownership
    * map; a lazy one's resident cells, for a router under a static
    * assignment. */
  final class Pq private[query] (conn: ShardConn,
                                 cellsSnapshot: Seq[Int])
      extends CellShard with AutoCloseable {

    def cells: Seq[Int] = cellsSnapshot

    override private[query] def queryProbes(
        probes: Array[(Int, Array[Double])], k: Int,
        pred: Long => Boolean): Array[(Long, Int, Double)] = {
      require(pred == null,
        "filtered queries cannot cross the process boundary — a predicate " +
          "is an in-process closure; serve filtered fleets from in-process " +
          "shards (attrs pinned shard-side)")
      conn.call(W.OpQueryProbes) { d =>
        W.writeProbes(d, probes); d.writeInt(k)
      }(W.readHits)
    }

    /** Attribute closures cannot cross the wire, so the filtered-fleet
      * assembly check must refuse remote shards. */
    private[query] def attrsPinned: Boolean = false

    /** Warm the remote shard's residency ahead of traffic — one
      * [[ShardWire.OpPrefetch]] exchange; a lazy shard server runs its
      * shared-promise load pass, an eager one no-ops (already fully
      * resident). Blocks until the shard's pass completes. */
    override private[query] def prefetchCells(cells: Seq[Int]): Unit =
      conn.call(W.OpPrefetch)(d => W.writeInts(d, cells.toArray))(_ => ())

    override def close(): Unit = conn.close()
  }

  /** Two-level RQ remote shard. */
  final class Rq private[query] (conn: ShardConn, cellsSnapshot: Seq[Int])
      extends RqShard with AutoCloseable {

    def cells: Seq[Int] = cellsSnapshot

    override private[query] def nomineesScored(
        probes: Array[(Int, Array[Double])], q: Array[Double], n: Int)
        : Array[(Long, Int, Double, Double)] =
      conn.call(W.OpNominees) { d =>
        W.writeProbes(d, probes); W.writeDoubles(d, q); d.writeInt(n)
      }(W.readNominees)

    /** See [[Pq.prefetchCells]]. */
    override private[query] def prefetchCells(cells: Seq[Int]): Unit =
      conn.call(W.OpPrefetch)(d => W.writeInts(d, cells.toArray))(_ => ())

    override def close(): Unit = conn.close()
  }

  /** Binary-signature remote shard. */
  final class Hamming private[query] (conn: ShardConn)
      extends HammingShard with AutoCloseable {

    def query(q: Array[Float], k: Int): Array[(Long, Long)] =
      conn.call(W.OpHammingQuery) { d =>
        W.writeFloats(d, q); d.writeInt(k)
      }(W.readHammingHits)

    override private[query] def rerankCandidates(q: Array[Float], n: Int)
        : Array[(Long, Long, Double)] =
      conn.call(W.OpRerank) { d =>
        W.writeFloats(d, q); d.writeInt(n)
      }(W.readRerank)

    override private[query] def idsSnapshot: Array[Long] =
      conn.call(W.OpIds)(_ => ())(W.readLongs)

    override def close(): Unit = conn.close()
  }

  /** Connect to a PQ/OPQ shard server (fetches its cells). */
  def pq(host: String, port: Int): Pq = {
    val conn = new ShardConn(host, port)
    val cells = conn.call(W.OpCells)(_ => ())(W.readInts)
    new Pq(conn, cells.toSeq)
  }

  /** Connect to an RQ shard server (fetches its cells). */
  def rq(host: String, port: Int): Rq = {
    val conn = new ShardConn(host, port)
    val cells = conn.call(W.OpCells)(_ => ())(W.readInts)
    new Rq(conn, cells.toSeq)
  }

  /** Connect to a Hamming shard server. */
  def hamming(host: String, port: Int): Hamming =
    new Hamming(new ShardConn(host, port))

  /** Ask a server to shut down (the clean alternative to killing the
    * process; [[ShardServerMain]] exits its foreground wait on it). */
  def shutdown(host: String, port: Int): Unit = {
    val conn = new ShardConn(host, port)
    try conn.call(W.OpShutdown)(_ => ())(_ => ())
    finally conn.close()
  }
}

/** Launches a [[ShardServerMain]] JVM and waits for its READY
  * handshake — the spec/gate/probe harness for the process-boundary
  * fleet. The child inherits this JVM's classpath (tests and mains run
  * forked, so `java.class.path` is the real one) and the JDK-17
  * module-opens Spark needs; its stdout+stderr go to a log file whose
  * tail is included in launch-failure errors. The child watches its
  * stdin pipe and exits on EOF, so it cannot outlive this process even
  * on a hard crash. */
object ShardProcess {

  /** Mirrors build.sbt's jdk17AddOpens (what spark-submit injects). */
  private val jdk17AddOpens: Seq[String] = Seq(
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
  ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))

  final class Handle private[query] (val proc: Process, val port: Int,
                                     val logFile: java.io.File)
      extends AutoCloseable {
    override def close(): Unit = {
      proc.destroy() // closes the child's stdin pipe too → watchdog exit
      if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
        proc.destroyForcibly()
        proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)
      }
      ()
    }
  }

  /** Launch a shard server JVM over `storeDir` and block until READY.
    * Returns the handle with the bound port. `extraArgs` append raw
    * [[ShardServerMain]] flags (e.g. `--lazy true --max-cells 4`). */
  def launch(storeDir: String, family: String, cells: Seq[Int],
             cpus: Int = 4, xmx: String = "4g",
             readyTimeoutSec: Int = 300,
             extraArgs: Seq[String] = Nil): Handle = {
    val javaBin = java.nio.file.Paths.get(
      System.getProperty("java.home"), "bin", "java").toString
    val cp = System.getProperty("java.class.path")
    val log = java.io.File.createTempFile("graft_shard_", ".log")
    log.deleteOnExit()
    val cmd = Seq(javaBin) ++ jdk17AddOpens ++ Seq(
      "--add-modules=jdk.incubator.vector",
      s"-Xmx$xmx",
      "-cp", cp,
      "graft.query.ShardServerMain",
      "--store", storeDir,
      "--family", family,
      "--port", "0",
      "--cpus", cpus.toString) ++
      (if (cells.nonEmpty) Seq("--cells", cells.mkString(",")) else Nil) ++
      extraArgs
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(log)
    val proc = pb.start()
    // scrape the log for the READY handshake
    val deadline = System.nanoTime() + readyTimeoutSec * 1_000_000_000L
    val ready = raw"GRAFT_SHARD_READY port=(\d+)".r
    var port = -1
    while (port < 0 && System.nanoTime() < deadline) {
      if (!proc.isAlive) {
        throw new IllegalStateException(
          s"shard server died before READY — log tail:\n${logTail(log)}")
      }
      val src = scala.io.Source.fromFile(log)
      try src.getLines().foreach {
        case ready(p) => port = p.toInt
        case _ =>
      } finally src.close()
      if (port < 0) Thread.sleep(100)
    }
    if (port < 0) {
      proc.destroyForcibly()
      throw new IllegalStateException(
        s"shard server not READY after ${readyTimeoutSec}s — log tail:\n" +
          logTail(log))
    }
    new Handle(proc, port, log)
  }

  private def logTail(log: java.io.File): String = {
    val src = scala.io.Source.fromFile(log)
    try src.getLines().toSeq.takeRight(40).mkString("\n")
    finally src.close()
  }
}
