package graft.tools

import graft.SparkEntry

/** Dump `.explain("formatted")` of named SparkEntry queries to files —
  * the plans/r<N>/<entry>_{before,after}.txt evidence the optimization
  * rounds commit. Usage: PlanDump <sfDir> <outDir> <suffix> <entry>… */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val names = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
      println(s"[plandump] $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
