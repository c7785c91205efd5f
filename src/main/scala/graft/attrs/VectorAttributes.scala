package graft.attrs

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Per-vector attribute store bound to a stored IVF+PQ index — the
  * reference's `set_attribute_at` / `get_attribute`
  * (reference/src/db/build.rs:252-286, db/stored.rs:625-638) with
  * tagged String|Uint64 values (reference/src/db.rs:21-27).
  *
  * Representation: a long-format replay log
  * `(vector_id, name, value_str, value_u64, seq)` persisted as parquet
  * under `<indexPath>/attrs`, exactly one of value_str/value_u64 non-null
  * per row (the tagged union). A set is an APPEND of one log batch with
  * the next sequence number; reads resolve last-write-wins through
  * [[AttributesLog]] — the same replay the reference performs over its
  * `OperationSetAttribute` entries (protos/database.proto:96-115).
  *
  * Scale notes: appends never rewrite existing data; a set that fits
  * one read split lands as ONE new parquet file
  * ([[graft.index.StoreLifecycle.appendBatch]]), so the log grows by a
  * file per set, not by a file per input split of the set; gets
  * filter on `name` FIRST so parquet predicate pushdown skips other
  * attributes' row groups before the single
  * (vector_id, name) shuffle of the LWW window; per-hit fetches
  * ([[getAttributeFor]]) semi-join the log down to k ids before
  * resolving, the analogue of the reference loading only hit
  * partitions' logs.
  */
object VectorAttributes {

  val schema: StructType = StructType(Seq(
    StructField("vector_id", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("value_str", StringType, nullable = true),
    StructField("value_u64", LongType, nullable = true),
    StructField("seq", LongType, nullable = false)))

  private def attrsPath(indexPath: String): String = s"$indexPath/attrs"

  /** Raw replay log; empty (with the right schema) when nothing was set.
    * Existence is probed through the path's Hadoop FileSystem rather than
    * by catching the reader's PATH_NOT_FOUND — the first set on a fresh
    * index is an expected state, not an error to log a stack trace for. */
  def log(spark: SparkSession, indexPath: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(attrsPath(indexPath))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(attrsPath(indexPath))
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  }

  /** Append one upsert batch. `entries` must carry (vector_id, name,
    * value_str, value_u64) with exactly one value column non-null per row;
    * at most one row per (vector_id, name) per batch (the reference's log
    * cannot tie — each set is its own log position). */
  def setAttributes(indexPath: String, entries: DataFrame): Unit = {
    val spark = entries.sparkSession
    val nextSeq = log(spark, indexPath)
      .agg(coalesce(max("seq"), lit(-1L))).head().getLong(0) + 1
    graft.index.StoreLifecycle.appendBatch(
      entries.select(col("vector_id").cast("long"), col("name").cast("string"),
        col("value_str").cast("string"), col("value_u64").cast("long"),
        lit(nextSeq).as("seq")),
      attrsPath(indexPath))
  }

  /** Set a string attribute for every row of `kv(idCol, valueCol)`. */
  def setStringAttribute(indexPath: String, kv: DataFrame, idCol: String,
                         name: String, valueCol: String): Unit =
    setAttributes(indexPath, kv.select(col(idCol).as("vector_id"),
      lit(name).as("name"), col(valueCol).cast("string").as("value_str"),
      lit(null).cast("long").as("value_u64")))

  /** Set a u64 attribute for every row of `kv(idCol, valueCol)`. */
  def setU64Attribute(indexPath: String, kv: DataFrame, idCol: String,
                      name: String, valueCol: String): Unit =
    setAttributes(indexPath, kv.select(col(idCol).as("vector_id"),
      lit(name).as("name"), lit(null).cast("string").as("value_str"),
      col(valueCol).cast("long").as("value_u64")))

  /** LWW-resolved current value of every (vector_id, name). */
  def resolved(spark: SparkSession, indexPath: String): DataFrame =
    AttributesLog.resolve(log(spark, indexPath),
      keyCols = Seq("vector_id", "name"), seqCols = Seq("seq"))

  /** Current value of one attribute for every vector that has it —
    * the whole-DB `get_attribute`. The name filter precedes the LWW
    * window, so it reaches the parquet scan. */
  def getAttribute(spark: SparkSession, indexPath: String,
                   name: String): DataFrame =
    AttributesLog.resolve(log(spark, indexPath).where(col("name") === name),
        keyCols = Seq("vector_id"), seqCols = Seq("seq"))
      .select(col("vector_id"), col("value_str"), col("value_u64"))

  /** Current value of one attribute for the ids in `hits(idCol)` only —
    * the per-hit fetch after a k-NN query (k rows resolved, not the
    * whole log). */
  def getAttributeFor(spark: SparkSession, indexPath: String, hits: DataFrame,
                      idCol: String, name: String): DataFrame =
    AttributesLog.resolveFor(
        log(spark, indexPath).where(col("name") === name),
        hits.select(col(idCol).as("vector_id")), "vector_id",
        keyCols = Seq("vector_id"), seqCols = Seq("seq"))
      .select(col("vector_id"), col("value_str"), col("value_u64"))
}
