package graft

import org.apache.spark.sql.SparkSession

/** The one local-session recipe of graft's mains and tests, so bench,
  * verify, smoke, the shard server and the tools cannot drift apart. */
object GraftSession {

  /** A `local[cores]` builder with graft's settings; callers add their
    * own and call `getOrCreate`:
    *  - shuffle partitions = cores, UI off;
    *  - ANSI off: graft arithmetic (hash mixing, floor divisions) is
    *    wrap-around by design;
    *  - ObjectHashAggregate sort fallback at 1048576 keys: bounded top-k
    *    states are k*16 B, and the 128-key default silently degrades
    *    batch k-NN to sort-based partials;
    *  - `nanosAsLong`: some testdata generations write events.ts as
    *    TIMESTAMP(NANOS), which vanilla Spark rejects; those read as
    *    long ns and `Tables.events` normalizes either physical type;
    *  - UTC: the NTZ conversion and the DuckDB oracle both assume it. */
  def builder(cores: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "1048576")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
}
