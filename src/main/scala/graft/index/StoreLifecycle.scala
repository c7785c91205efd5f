package graft.index

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The append/tombstone/compact discipline, factored out of the IVF+PQ
  * store so EVERY codec family shares one lifecycle implementation —
  * IVF+PQ/OPQ (cell-partitioned codes), SQ8 and BinaryQuant (flat code
  * tables), IVF+SQ8 (cell-partitioned byte codes). The reference leaves
  * update/delete unimplemented entirely (reference/README.md:73); here
  * the capability is uniform across families rather than an IVF+PQ-only
  * asymmetry.
  *
  * Mechanics, shared verbatim by all stores:
  *  - APPEND never rewrites existing files. A cell-partitioned store
  *    appends through [[appendPartitioned]]: one new file per touched
  *    cell (the save and compaction layout, [[writeCellAligned]]) plus
  *    the batch's rows in the per-cell stats sidecar. Flat code tables,
  *    the tombstone log and the attribute log append through
  *    [[appendBatch]]: one new file for a batch that fits one read
  *    split. Every later load, query and compaction lists and opens
  *    what an append leaves behind, so the file count is the layout
  *    decision, and this object makes it for every writer.
  *  - DELETE is append-only: dead ids land in a `tombstones` parquet
  *    beside the codes; every family's load anti-joins them out
  *    ([[liveView]]), so readers never see deleted vectors and nothing
  *    in the codes table is rewritten. Idempotent — re-deleting appends
  *    a duplicate tombstone row the anti-join ignores.
  *  - COMPACTION folds appends + tombstones back to the minimal layout
  *    with the crash-recoverable swap ([[swapTable]]): write-new →
  *    park-old → install-new → drop-old. No step deletes data that is
  *    not already installed elsewhere; a crash leaves the table at
  *    `codes`, `codes.old`, or the tmp dir — never nowhere. Run under
  *    the same maintenance lock as any table rewrite.
  *
  * Scale shape: the anti-join side is the tombstone log — small between
  * compactions by contract (compaction is exactly the maintenance step
  * that bounds it), so Spark broadcasts it; the compaction rewrite is
  * one shuffle (partitioned stores: on the cell id → one file per cell
  * dir; flat stores: to a caller-sized file count).
  */
object StoreLifecycle {

  /** Append-only DELETE: tombstone `ids` under `storePath/tombstones`.
    * Ids are stored as long — the id type every store family writes. */
  def deleteFromStore(storePath: String, ids: DataFrame,
                      idCol: String): Unit =
    appendBatch(ids.select(col(idCol).cast("long").as("id")),
      s"$storePath/tombstones")

  /** Append one batch to an append-only flat table (tombstones, the
    * attribute log, SQ8 and BinaryQuant codes). A batch whose estimated
    * size fits one read split (`spark.sql.files.maxPartitionBytes`, the
    * split size [[graft.functions.PlanShape.dataSizedParts]] reads with)
    * is written by ONE task as ONE file — `coalesce(1)`, no shuffle —
    * instead of one file per input split, each of which every later
    * read would list and open. A larger batch keeps its own
    * partitioning: its files are already split-sized. */
  private[graft] def appendBatch(df: DataFrame, dest: String): Unit = {
    val splitBytes = df.sparkSession.sessionState.conf.filesMaxPartitionBytes
    val fits = df.queryExecution.optimizedPlan.stats.sizeInBytes <= splitBytes
    (if (fits) df.coalesce(1) else df)
      .write.mode(SaveMode.Append).parquet(dest)
  }

  /** Append a pre-encoded batch `(id, partition, <code column>)` to a
    * CELL-PARTITIONED store (IVF+PQ, OPQ, IVF+SQ8) under `path/codes`:
    * one new file per touched cell, nothing existing rewritten. Callers
    * own encoding against their FROZEN model; everything after that is
    * shared here:
    *  - a pre-sidecar store gets a one-time backfill of the per-cell
    *    stats sidecar from its existing codes;
    *  - the batch is persisted and its per-cell histogram collected
    *    ONCE — it sizes the cell-aligned write (salting populous cells)
    *    and becomes the batch's sidecar rows, with no second aggregation;
    *  - an empty batch stops here, before anything on disk changes (the
    *    zero-row placeholder of a compacted-empty store must survive: a
    *    zero-row partitioned write leaves no file to read the schema
    *    from);
    *  - the placeholder is swept, the batch written cell-aligned, the
    *    sidecar appended, and, when `log` listens, the cumulative
    *    max-cell/mean-cell imbalance reported
    *    ([[IvfPqBuilder.reportDrift]]). */
  private[index] def appendPartitioned(batch: DataFrame, path: String,
      numPartitions: Int, log: Option[String => Unit]): Unit = {
    val spark = batch.sparkSession
    val statsPath = new org.apache.hadoop.fs.Path(s"$path/stats")
    val fs = statsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(statsPath)) {
      log.foreach(_("append-drift: no stats sidecar — backfilling the " +
        "histogram from the existing codes table (one-time scan)"))
      IvfPqBuilder.writeStats(spark.read.parquet(s"$path/codes"), path,
        SaveMode.Overwrite)
    }
    val enc = batch.persist()
    try {
      val hist = cellCounts(enc)
      if (hist.nonEmpty) {
        removeEmptyPlaceholder(spark, path)
        writeCellAligned(enc, s"$path/codes", hist.map(_._2), SaveMode.Append)
        IvfPqBuilder.writeStatRows(spark, path, hist, SaveMode.Append)
        log.foreach(IvfPqBuilder.reportDrift(spark, path, numPartitions, _))
      }
    } finally enc.unpersist()
  }

  /** Per-cell row counts of a cell-partitioned relation: one
    * distributed aggregation, P rows collected. */
  private[index] def cellCounts(df: DataFrame): Seq[(Int, Long)] =
    df.groupBy("partition").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq

  /** Remove the zero-row UNPARTITIONED placeholder a fully-tombstoned
    * compaction installs at codes/ root ([[compactPartitioned]]) — a
    * partitioned append into that directory would produce the mixed
    * file layout Spark's partition discovery rejects. The placeholder
    * carries no rows by construction; verified before touching
    * anything. */
  private def removeEmptyPlaceholder(spark: SparkSession,
                                     path: String): Unit = {
    val codesRoot = new org.apache.hadoop.fs.Path(s"$path/codes")
    val fs = codesRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(codesRoot)) {
      val rootFiles = fs.listStatus(codesRoot).filter(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet"))
      if (rootFiles.nonEmpty) {
        require(spark.read.parquet(s"$path/codes").isEmpty,
          s"$path/codes holds root-level parquet files WITH rows — not a " +
            "layout this store writes; refusing to append into it")
        rootFiles.foreach(st => fs.delete(st.getPath, false))
      }
    }
  }

  /** The LIVE view of a store's code rows: `codes` minus tombstones
    * (left-anti on id) when the tombstone log exists, `codes` verbatim
    * otherwise. Every family's load path routes through here so the
    * delete semantics cannot drift between codecs. */
  def liveView(spark: SparkSession, storePath: String,
               codes: DataFrame): DataFrame = {
    val tPath = new org.apache.hadoop.fs.Path(s"$storePath/tombstones")
    val fs = tPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(tPath))
      codes.join(spark.read.parquet(s"$storePath/tombstones"),
        Seq("id"), "left_anti")
    else codes
  }

  /** True iff the store currently carries a tombstone log. */
  def hasTombstones(spark: SparkSession, storePath: String): Boolean = {
    val tPath = new org.apache.hadoop.fs.Path(s"$storePath/tombstones")
    tPath.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(tPath)
  }

  /** Crash-recoverable swap of a freshly-written table into place:
    * park-old → install-new → drop-old. `tmp` must already hold the
    * complete new table. */
  private def swapTable(spark: SparkSession, table: String,
                        tmp: String): Unit = {
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def p(s: String) = new org.apache.hadoop.fs.Path(s)
    fs.delete(p(s"$table.old"), true)
    require(fs.rename(p(table), p(s"$table.old")),
      s"compaction swap failed: could not park $table — store unchanged")
    require(fs.rename(p(tmp), p(table)),
      s"compaction swap failed: could not install $tmp; the previous " +
        s"table is intact at $table.old — rename it back to recover")
    fs.delete(p(s"$table.old"), true)
  }

  /** Drop the tombstone log once a rewritten codes table has folded it
    * in. */
  private def dropTombstones(spark: SparkSession, storePath: String): Unit = {
    val tPath = new org.apache.hadoop.fs.Path(s"$storePath/tombstones")
    tPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .delete(tPath, true)
    ()
  }

  /** Compact a CELL-PARTITIONED store (IVF+PQ, OPQ, IVF+SQ8): rewrite
    * the live rows as ONE file per cell directory (one shuffle on the
    * cell id), swap, drop tombstones. A fully-tombstoned store compacts
    * to a zero-row UNPARTITIONED parquet (partitionBy of zero rows
    * writes no files and an empty dir cannot be read back; the root
    * placeholder keeps the schema readable — `partition` becomes a
    * regular empty column, which every consumer projects identically).
    * Returns the live per-cell histogram collected BEFORE the swap
    * (P′ rows — reading the new table after the swap would crash on a
    * zero-row store, and re-reading what was just written is wasted IO),
    * for callers that maintain a stats sidecar. */
  private[index] def compactPartitioned(spark: SparkSession,
                                        storePath: String,
                                        live: DataFrame)
      : Seq[(Int, Long)] = {
    val statRows = cellCounts(live)
    val tmp = s"$storePath/codes.compacting"
    if (statRows.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], live.schema)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    else
      writeCellAligned(live, tmp, statRows.map(_._2), SaveMode.Overwrite)
    swapTable(spark, s"$storePath/codes", tmp)
    dropTombstones(spark, storePath)
    statRows
  }

  /** Cell-aligned codes write shared by the store savers, the
    * partitioned append (`mode` Append) and the partitioned compaction
    * (`mode` Overwrite): repartition on the cell id so each cell
    * directory holds ONE file (commit time + every later listing/open —
    * the round-14 layout win). A POPULOUS cell hash-routes to one task
    * (serial write + single-task memory pressure at base-build scale),
    * so when the caller's already-collected per-cell histogram shows a
    * cell past `rowsPerFile`, the rows are salted across
    * ceil(max-cell / rowsPerFile) writer tasks by a DETERMINISTIC id
    * hash (never rand() — retried map tasks must reproduce the routing)
    * and `maxRecordsPerFile` bounds any remaining over-target file.
    * Small-cell stores (every test store, and any store within the
    * rebalance contract) take the salts == 1 branch: the exact
    * one-file-per-cell plan and layout as before. */
  private[index] def writeCellAligned(df: DataFrame, dest: String,
      cellCounts: Seq[Long], mode: SaveMode,
      rowsPerFile: Long = 4L * 1000 * 1000): Unit = {
    val maxCell = cellCounts.foldLeft(0L)(math.max)
    val salts = math.max(1L, (maxCell + rowsPerFile - 1) / rowsPerFile)
    val parted =
      if (salts == 1L) df.repartition(col("partition"))
      else df.repartition(col("partition"),
        pmod(xxhash64(col("id")), lit(salts)))
    parted.write.mode(mode)
      .option("maxRecordsPerFile", rowsPerFile)
      .partitionBy("partition").parquet(dest)
  }

  /** Compact a FLAT store (SQ8, BinaryQuant — no cell column): rewrite
    * the live rows into `max(1, ceil(liveCount / rowsPerFile))` files,
    * swap, drop tombstones. `rowsPerFile` sizes output files for the
    * deployment (default 4M rows ≈ 64-byte-codes × 4M = 256 MB before
    * encoding — parquet-friendly); a zero-row store compacts to one
    * schema-bearing empty file. Bit-exact by construction — rows ride
    * unchanged. Returns the live row count. */
  private[index] def compactFlat(spark: SparkSession, storePath: String,
                                 live: DataFrame,
                                 rowsPerFile: Long = 4L * 1000 * 1000)
      : Long = {
    val cnt = rewriteFlat(spark, s"$storePath/codes", live, rowsPerFile)
    dropTombstones(spark, storePath)
    cnt
  }

  /** The flat rewrite under [[compactFlat]], for any table: `live` into
    * `max(1, ceil(liveCount / rowsPerFile))` files, swapped in as
    * `table` ([[swapTable]]). Leaves the tombstone log alone, so a
    * second table derived from it (an RQ store's refine/codes2) can
    * compact before the codes table drops it. Returns the live row
    * count. */
  private[index] def rewriteFlat(spark: SparkSession, table: String,
                                 live: DataFrame, rowsPerFile: Long): Long = {
    require(rowsPerFile > 0, s"rowsPerFile must be positive, got $rowsPerFile")
    val cnt = live.count()
    val nFiles = math.max(1L, (cnt + rowsPerFile - 1) / rowsPerFile).toInt
    val tmp = s"$table.compacting"
    live.repartition(nFiles)
      .write.mode(SaveMode.Overwrite).parquet(tmp)
    swapTable(spark, table, tmp)
    cnt
  }
}
