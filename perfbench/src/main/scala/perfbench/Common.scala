package perfbench

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Helpers shared by the workloads. */
object Common {

  /** Run the set-up `reps` times and record the median as `setup_s`;
    * returns the last repetition's result. */
  def setup[T](ctx: Ctx, reps: Int)(body: Int => T): T = {
    val times = mutable.ArrayBuffer.empty[Double]
    var last: Option[T] = None
    for (r <- 0 until reps) {
      val t0 = System.nanoTime()
      last = Some(ctx.tr.span("setup")(body(r)))
      times += Stats.sec(System.nanoTime() - t0)
    }
    ctx.metric("setup_s", Stats.median(times.toSeq), reps)
    ctx.heapMark()
    last.get
  }

  /** Time `body` in ms. */
  def timeMs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, Stats.ms(System.nanoTime() - t0))
  }

  /** p99 of a long latency stream as the median of the p99s of its
    * consecutive chunks: one GC pause or scheduler hiccup moves one
    * chunk's figure, not the reported one. */
  def p99Chunked(lat: Seq[Double], chunk: Int = 1000): Double =
    if (lat.length < 3 * chunk) Stats.quantile(lat, 0.99)
    else Stats.median(lat.grouped(chunk).filter(_.length == chunk)
      .map(c => Stats.quantile(c, 0.99)).toSeq)

  /** Build-stage events of `IvfPqBuilder.fit`'s log callback: every
    * "name seconds s" line closes a stage that ended now; rounds lines
    * carry the k-means iteration counts. */
  final class StageLog(ctx: Ctx) extends (String => Unit) {
    private val stageRe = """^(\S+) (\d+(?:\.\d+)?) s$""".r
    private val coarseRe = """^coarse-kmeans rounds=(\d+)/\d+$""".r
    private val pqRe = """^pq-kmeans rounds=(\d+)\.\.(\d+)/\d+$""".r
    val stages: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    var coarseRounds = 0.0
    var pqRounds = 0.0
    var peakStorageMb = 0.0

    def apply(line: String): Unit = {
      val now = System.nanoTime()
      line match {
        case stageRe(name, sec) =>
          stages(name) = stages.getOrElse(name, 0.0) + sec.toDouble
          ctx.tr.record(s"index.fit.$name", now - (sec.toDouble * 1e9).toLong, now)
        case coarseRe(r) => coarseRounds = r.toDouble
        case pqRe(_, hi) => pqRounds = hi.toDouble
        case _ => ()
      }
      peakStorageMb = math.max(peakStorageMb, storageMb(ctx.spark))
    }

    def get(name: String): Double = stages.getOrElse(name, 0.0)
  }

  /** Storage memory in use across the block managers, MB. */
  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0

  /** (parquet files, bytes) under a store directory. */
  def storeSize(spark: SparkSession, path: String): (Long, Long) = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var files = 0L
    var bytes = 0L
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      bytes += f.getLen
      if (f.getPath.getName.endsWith(".parquet")) files += 1
    }
    (files, bytes)
  }

  def storeMetrics(ctx: Ctx, path: String, vectors: Long, hist: Seq[Long]): Unit = {
    val (files, bytes) = storeSize(ctx.spark, path)
    ctx.metric("index.store_files", files, 1)
    ctx.metric("index.store_mb", bytes / 1048576.0, 1)
    ctx.metric("store_bytes_per_vector", bytes.toDouble / math.max(1L, vectors), 1)
    val mean = hist.sum.toDouble / math.max(1, hist.length)
    ctx.metric("index.cell_max_over_mean", if (mean > 0) hist.max / mean else 0.0, 1)
  }

  def histogram(spark: SparkSession, path: String): Seq[Long] =
    graft.index.IvfPqBuilder.cellHistogram(spark, path).collect().map(_.getLong(1)).toSeq

  /** Exact top-k ids by squared L2 over `vecs` (row index = id). */
  def exactTopK(vecs: Array[Array[Float]], q: Array[Float], k: Int): Array[Long] = {
    val heap = new java.util.PriorityQueue[(Double, Long)](k + 1,
      (a: (Double, Long), b: (Double, Long)) =>
        -java.lang.Double.compare(a._1, b._1) match {
          case 0 => java.lang.Long.compare(b._2, a._2)
          case c => c
        })
    var i = 0
    while (i < vecs.length) {
      val v = vecs(i)
      var s = 0.0
      var j = 0
      while (j < v.length) { val d = v(j).toDouble - q(j); s += d * d; j += 1 }
      if (heap.size < k) heap.add((s, i.toLong))
      else if (s < heap.peek()._1) { heap.poll(); heap.add((s, i.toLong)) }
      i += 1
    }
    heap.toArray(Array.empty[(Double, Long)]).sortBy(t => (t._1, t._2)).map(_._2)
  }

  def recall(approx: Seq[Long], exact: Seq[Long]): Double =
    approx.toSet.intersect(exact.toSet).size.toDouble / math.max(1, exact.length)

  /** (id, sq_dist) rows of a cluster top-k frame, in its order. */
  def rows(df: DataFrame): Seq[(Long, Double)] =
    df.select("id", "sq_dist").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  def same(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case ((i, d), (j, e)) =>
      i == j && java.lang.Double.doubleToLongBits(d) == java.lang.Double.doubleToLongBits(e)
    }

  def toDoubles(v: Array[Float]): Array[Double] = v.map(_.toDouble)
}
