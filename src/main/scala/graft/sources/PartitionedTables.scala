package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Directory-partitioned persistence — the storage layout for PARTITION
  * PRUNING at cluster scale, complementing [[BucketedTables]] (which
  * prunes shuffles; this prunes SCANS).
  *
  * A fact table written with `partitionBy(col)` lays one directory per
  * value; a query filtering on that column reads only matching
  * directories (static pruning), and a query JOINING against a filtered
  * dimension prunes at RUNTIME via dynamic partition pruning (DPP): Spark
  * executes the dim side first, broadcasts the surviving keys, and skips
  * every unlisted partition directory of the 100 TB fact scan. This is
  * the same file-level-pruning idea the stored IVF index uses for
  * `partition IN (probed cells)` (graft.index.IvfPqBuilder.save), applied
  * to the time/tenant dimensions every event pipeline filters on.
  *
  * Partition columns must be low-cardinality (days, regions, sources —
  * not user ids): each value is a directory, and a million tiny
  * directories is its own scale bug.
  */
object PartitionedTables {

  /** Persist `df` partitioned by `partCol` (derived columns welcome —
    * pass e.g. `expr("ts div 86400000000000")` aliased as "day"). */
  def writePartitioned(df: DataFrame, path: String, partCol: String): Unit =
    df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(path)

  /** Read a partitioned layout back; `spark.read.parquet` recovers the
    * partition column from the directory names. */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Read shards whose schemas EVOLVED (columns added over the
    * corpus's lifetime — the normal state of a years-old 100 TB lake):
    * `mergeSchema` unions the footer schemas, and columns absent from
    * an older shard read as NULL there. Merging is footer-metadata
    * work, not data work — but it reads every footer, so prefer a
    * declared schema (`spark.read.schema(...)`) once the union is
    * known; this entry point is the discovery path. */
  def readEvolved(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** Events partitioned by derived day (ns epoch → day ordinal) — the
    * canonical time-partitioned event layout. */
  def writeEventsByDay(events: DataFrame, path: String): Unit =
    writePartitioned(
      events.withColumn("day", expr("ts div 86400000000000")), path, "day")

  /** True when `plan` of `df` carries a dynamic-partition-pruning
    * subquery on the scan (the runtime-pruning marker). */
  def hasDynamicPruning(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.toLowerCase
      .contains("dynamicpruning")
}
