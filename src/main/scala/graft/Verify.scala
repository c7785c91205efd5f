package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * The battery is SHARDED by entry-name family (the prefix before the
  * first '_': ann, dedup, text, events, rel, …) so it scales past the
  * single-run threshold: shards run SEQUENTIALLY by default (one JVM,
  * unchanged battery and output layout), and
  * `SPARK_GRAFT_VERIFY_SHARD=ann,text` runs any subset independently —
  * each shard's dump + its filtered oracle_sql.json is a complete,
  * checkable unit. N invocations over disjoint shard sets reproduce the
  * full battery ONLY with one outDir per invocation (a shared outDir
  * would overwrite oracle_sql.json with the last shard's entries) —
  * run the checker per shard dir. Per-shard wall times print at the end
  * (and land in BENCH_NOTES each round) so the next split point is
  * always measured, not guessed. */
object Verify {
  /** Family = entry-name prefix before the first '_'. */
  def shardOf(name: String): String = name.takeWhile(_ != '_')

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // SPARK_GRAFT_VERIFY_ONLY=name1,name2 restricts the dump to a subset
    // (same escape hatch as Bench's SPARK_GRAFT_BENCH_ONLY) for quickly
    // re-checking entries under development; oracle_sql.json is filtered
    // to match so check_oracle.py compares exactly what was dumped.
    val only = sys.env.get("SPARK_GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd name would otherwise dump nothing and let the checker
    // print a green "0/0 match" — fail loudly instead
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_ONLY names not in SparkEntry.queries: " +
          unknown.toSeq.sorted.mkString(", "))
    }
    // SPARK_GRAFT_VERIFY_SHARD=ann,text restricts to whole families —
    // same loud-typo contract, composable with VERIFY_ONLY (intersection)
    val shards = sys.env.get("SPARK_GRAFT_VERIFY_SHARD")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val allShards = SparkEntry.queries.keySet.map(shardOf)
    shards.foreach { names =>
      val unknown = names -- allShards
      require(unknown.isEmpty,
        s"SPARK_GRAFT_VERIFY_SHARD names not among entry families " +
          s"(${allShards.toSeq.sorted.mkString(",")}): " +
          unknown.toSeq.sorted.mkString(", "))
    }
    def selected(name: String) =
      only.forall(_.contains(name)) && shards.forall(_.contains(shardOf(name)))
    val byShard = SparkEntry.queries.filter(kv => selected(kv._1))
      .toSeq.sortBy(_._1).groupBy(kv => shardOf(kv._1))
    val shardTimes = byShard.toSeq.sortBy(_._1).map { case (shard, entries) =>
      val t0 = System.nanoTime()
      entries.foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
      val secs = (System.nanoTime() - t0) / 1e9
      System.err.println(
        f"[verify] shard $shard: ${entries.size} entries in $secs%.1f s")
      (shard, entries.size, secs)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // machine-readable shard timings beside the dump (diagnostics only;
    // the driver's checker ignores unknown files)
    // Locale.ROOT: the f-interpolator is locale-sensitive and a
    // comma-decimal default locale would emit malformed JSON
    val timesJson = shardTimes
      .map { case (s2, n, t) => s"${q(s2)}: {\"entries\": $n, \"secs\": " +
        String.format(java.util.Locale.ROOT, "%.2f", Double.box(t)) + "}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/shard_times.json"), timesJson)
    spark.stop()
  }
}
