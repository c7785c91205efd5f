package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.FastFunctions.pseudoRandomVec
import graft.index.{IvfPqBuilder, IvfPqConfig}
import graft.query.AnnQuery

/** Query-side throughput at the reference's published scale and
  * parameters: build the 100k×1536 P=100 D=12 C=256 index, then answer a
  * BATCH of k-NN queries (K=10, nprobe=5 — README.md:204's config)
  * through the table-free [[AnnQuery.batchTopKDirect]] path and report
  * queries/sec.
  *
  * Framing (BENCH_NOTES "Query-side framing"): the reference serves ONE
  * warm in-process query in ~1.48 ms (≈676 q/s, single-threaded,
  * README.md:216); a Spark job has a ~100 ms floor, so parity is batch
  * throughput — the regime a retrieval pipeline actually runs (score a
  * query log, join a candidate set), and the plan a 1000-executor
  * cluster runs unchanged.
  *
  * Usage: runMain graft.tools.QueryBench [Q] [k] [nprobe] [reps]
  */
object QueryBench {
  def main(args: Array[String]): Unit = {
    val qn = if (args.length > 0) args(0).toInt else 10000
    val k = if (args.length > 1) args(1).toInt else 10
    val nprobe = if (args.length > 2) args(2).toInt else 5
    val reps = if (args.length > 3) args(3).toInt else 3
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(cpus)
      .config("spark.driver.memory", sys.env.getOrElse("SPARK_DRIVER_MEM", "48g"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val vectors = spark.range(100000L).repartition(64)
      .select(col("id"), pseudoRandomVec(col("id"), 1536, 42L).as("vec"))
      .localCheckpoint()
    val (model, encoded0) = IvfPqBuilder.fit(vectors, "id", "vec", 1536,
      IvfPqConfig(numPartitions = 100, numDivisions = 12, numCodes = 256,
        maxIter = 20))
    val codes = encoded0.select("id", "partition", "codes").localCheckpoint()
    println(s"[querybench] index ready: ${codes.count()} codes")

    // query vectors drawn from the same generator at a disjoint id range
    val queries = spark.range(qn.toLong)
      .select(col("id").as("qid"),
        pseudoRandomVec(col("id") + 5000000L, 1536, 42L).as("qvec"))
      .localCheckpoint()

    def once(): Double = {
      val t0 = System.nanoTime()
      val df = AnnQuery.batchTopKAdc(codes, model, queries,
        "qid", "qvec", k = k, nprobe = nprobe)
      val n = df.count()
      if (sys.env.get("SPARK_GRAFT_EXPLAIN").contains("1"))
        println(df.queryExecution.executedPlan.toString.take(8000))
      val sec = (System.nanoTime() - t0) / 1e9
      require(n == qn.toLong * k, s"expected ${qn.toLong * k} hits, got $n")
      sec
    }
    // diagnostic: the same scan with the top-k aggregate replaced by a
    // plain sum — isolates scan cost from aggregate cost
    if (sys.env.get("SPARK_GRAFT_QB_SCAN").contains("1")) {
      val t0 = System.nanoTime()
      val sdf = graft.query.AnnQueryProbe.scanOnly(codes, model, queries,
        "qid", "qvec", nprobe)
      sdf.show(1)
      println(sdf.queryExecution.executedPlan.toString.take(4000))
      println(f"[querybench] scan-only ${(System.nanoTime()-t0)/1e9}%.2f s")
    }
    val times = (1 to reps).map(_ => once()).sorted
    val med = times(reps / 2)
    val qps = qn / med
    println(f"[querybench] Q=$qn k=$k nprobe=$nprobe reps=$reps " +
      f"median=$med%.2f s -> $qps%.0f queries/s " +
      f"(reference warm single query 1.48 ms = ~676 q/s single-threaded; " +
      f"ratio ${qps / 676.0}%.1f x)")
    spark.stop()
  }
}
