package graft.tools

import org.apache.spark.sql.functions._

import graft.index.{IvfPqBuilder, IvfPqConfig}
import graft.query.AnnQuery

/** Prints the physical plans of the scale-critical queries so partition
  * pruning / filter pushdown / codegen claims can be audited. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val spark = graft.GraftSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = graft.Tables.embeddings(spark, dir)
    val (model, encoded) = IvfPqBuilder.fit(emb, "vec_id", "embedding", 64,
      IvfPqConfig(numPartitions = 8, numDivisions = 8, numCodes = 16, maxIter = 10))
    val out = java.nio.file.Files.createTempDirectory("planaudit").toString
    IvfPqBuilder.save(model, encoded, out)
    val (loaded, codes) = IvfPqBuilder.load(spark, out)
    val q = emb.where(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0).map(_.toDouble).toArray

    println("=== ann_ivfpq_stored: pruned scan + ADC + TakeOrderedAndProject ===")
    AnnQuery.topK(codes, loaded, q, 10, 3).explain("formatted")

    println("=== lineitem agg: pushdown + partial aggregation ===")
    graft.Tables.lineitem(spark, dir)
      .where(col("l_shipdate") >= "1995-01-01")
      .groupBy("l_returnflag").agg(sum("l_quantity"))
      .explain("formatted")

    // the approximate kNN join must stay broadcast-free even when the
    // corpus WOULD broadcast: with the threshold disabled, the plan has
    // to show a shuffle join on (cell, salt) and partial→final
    // objHashAggregate pairs (map-side-combined top-k), never a
    // BroadcastNestedLoopJoin
    println("=== knn_join_ann: cell-bucketed join + combining top-k ===")
    val noBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    graft.query.AnnJoin.knnJoin(emb, "vec_id", "embedding", model,
      k = 3, nprobe = 2).explain("formatted")

    // the skew-salted join likewise must not depend on a broadcast:
    // with the threshold disabled the plan must show a shuffle join
    // keyed on (join keys, __sj_salt)
    println("=== salted join (broadcast disabled): shuffle join on key+salt ===")
    val li = graft.Tables.lineitem(spark, dir)
      .select(col("l_orderkey").as("orderkey"), col("l_quantity"))
    val o = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
    graft.operators.SkewJoin.saltedInnerJoin(li, o, Seq("orderkey"), 8)
      .explain("formatted")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", noBcast)

    spark.stop()
  }
}
