package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `Tables` load memo must not outlive its session. Stopping a
  * session stops the JVM's one SparkContext, which the suites share, so
  * the stop runs in a child JVM ([[TablesMemoChild]]) on this test's
  * classpath and module flags. */
class TablesSpec extends AnyFunSuite {

  test("a stopped session's memo entry is evicted") {
    val rt = java.lang.management.ManagementFactory.getRuntimeMXBean
    val jvmArgs = rt.getInputArguments.toArray.map(_.toString)
      .filterNot(a => a.startsWith("-Xmx") || a.startsWith("-Xms") ||
        a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      jvmArgs ++ Seq("-Xmx768m", "-cp", System.getProperty("java.class.path"),
        "graft.TablesMemoChild")
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectError(ProcessBuilder.Redirect.DISCARD)
    val proc = pb.start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).mkString
    assert(proc.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
      "child JVM did not finish")
    assert(proc.exitValue() === 0, s"child JVM failed: $out")
    assert(out.contains("memoized before stop: true"), out)
    assert(out.contains("memoized after stop: false"), out)
  }
}

/** Child-JVM half of [[TablesSpec]]: memoizes one table load in a fresh
  * session, stops the session and reports whether the entry survived. */
object TablesMemoChild {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "1")
      .getOrCreate()
    val dir = java.nio.file.Files.createTempDirectory("tables_memo").toString
    spark.range(3).write.parquet(s"$dir/t.parquet")
    assert(Tables.load(spark, dir, "t").count() == 3)
    println(s"memoized before stop: ${Tables.memoized(spark)}")
    spark.stop()
    println(s"memoized after stop: ${Tables.memoized(spark)}")
  }
}
