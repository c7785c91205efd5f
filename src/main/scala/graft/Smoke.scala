package graft

/** Replica of the driver's t1 smoke: run SparkEntry.entry on sf0.001 and
  * assert rows > 0. Run: sbt "runMain graft.Smoke". */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    df.show(12, truncate = false)
    val n = df.count()
    println(s"ENTRY_ROWS=$n")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
