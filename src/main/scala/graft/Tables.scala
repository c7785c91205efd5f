package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * All queries take a scale-factor directory so the same code runs at
  * sf0.001 (smoke), sf0.01 (correctness oracle) and sf0.1+ (bench). At
  * cluster scale the same reader works against any DFS path; parquet
  * gives vectorized columnar scans with predicate pushdown for free.
  */
object Tables {
  val relational: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = relational ++ Seq("events", "documents", "embeddings")

  /** Memoized per (session, dir, table): `spark.read.parquet` runs a
    * one-task schema-inference job (footer read) on EVERY call, and the
    * bench/verify drivers re-call these loaders per entry per run —
    * thousands of 30-60 ms driver round-trips for a schema that never
    * changes. The memo caches the analyzed DataFrame (plan metadata
    * only — every action still scans the parquet). Keyed on the
    * SparkSession OBJECT (identity semantics, no hash-collision risk
    * between live sessions). A cached DataFrame references its session,
    * so no weak key could ever be collected: instead a session's entry
    * is evicted when its SparkContext stops (the application-end event),
    * and a stopped session and its plans are not pinned for the JVM
    * lifetime. The cached plan freezes the table dir's file listing
    * snapshot — table dirs are immutable within a session by contract
    * (the test fixtures never regenerate in place). */
  private val loadMemo = new java.util.IdentityHashMap[
    SparkSession, scala.collection.concurrent.TrieMap[(String, String),
      DataFrame]]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val perSession = loadMemo.synchronized {
      var m = loadMemo.get(spark)
      if (m == null) {
        m = scala.collection.concurrent.TrieMap.empty[(String, String),
          DataFrame]
        loadMemo.put(spark, m)
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onApplicationEnd(
                end: org.apache.spark.scheduler.SparkListenerApplicationEnd)
                : Unit = loadMemo.synchronized { loadMemo.remove(spark) }
          })
      }
      m
    }
    perSession.getOrElseUpdate((dir, name),
      spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** Whether `spark` has a memo entry (for the eviction spec). */
  private[graft] def memoized(spark: SparkSession): Boolean =
    loadMemo.synchronized(loadMemo.containsKey(spark))

  def lineitem(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "customer")
  /** Events with `ts` normalized to LONG nanoseconds since the epoch,
    * whatever the parquet physical type: TIMESTAMP(NANOS) arrives as long
    * already (`spark.sql.legacy.parquet.nanosAsLong=true`), while
    * TIMESTAMP(MICROS) arrives as a (NTZ) timestamp and is converted
    * exactly — the session timezone is pinned to UTC, so the NTZ→LTZ cast
    * is the identity and `unix_micros * 1000` loses nothing. Downstream
    * event operators and their DuckDB oracles (`epoch_ns(ts)`) both see
    * the same ns-long timeline either way. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, unix_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType => df
      case _ => df.withColumn("ts",
        unix_micros(col("ts").cast(TimestampType)) * 1000L)
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")
}
