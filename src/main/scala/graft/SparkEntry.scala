package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.entries._
import graft.entries.Fixtures._
import graft.query.ExactKnn

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-data pipeline family), with a DuckDB
  * oracle for every SQL-expressible one.
  *
  * Oracle discipline: outputs are integers/ids/strings wherever a float
  * could differ in the last ulp between engines; raw data values and
  * integer-derived numbers pass through untouched; genuinely float
  * aggregates are rounded identically on both sides. Every query ends in
  * an ORDER BY so row order is deterministic.
  *
  * Each entry is declared once, as `Entry(name, run, oracleSql)` with
  * its comment, Spark body and oracle side by side, in a per-family
  * registry under `graft/entries/` (`RelEntries`, `AnnEntries`, …;
  * fixtures shared across families live in `entries.Fixtures`). This
  * object concatenates the families and derives the `queries` and
  * `oracleSql` maps that the driver, Bench, Verify, RegistryTable and
  * PlanDump read.
  */
object SparkEntry {

  /** Every gated entry, family by family; a name declared twice fails
    * here instead of silently shadowing a live gate. */
  lazy val entries: Seq[Entry] = Entry.registry(
    RelEntries.entries,
    TextEntries.entries,
    EventsEntries.entries,
    DedupEntries.entries,
    AnnEntries.entries,
    AnnStoreEntries.entries,
    AnnServeEntries.entries,
    VectorEntries.entries,
    SearchEntries.entries,
    GraphEntries.entries,
    MediaEntries.entries,
    WebEntries.entries,
    StatsEntries.entries,
    CorpusEntries.entries)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    entries.map(e => e.name -> e.run).toMap

  def oracleSql: Map[String, String] =
    entries.map(e => e.name -> e.oracleSql).toMap

  /** Materialize the shared fixtures (fitted index, stored index +
    * attribute batches) outside any per-query timing — the build is its
    * own pipeline stage in production, benchmarked separately (Bench
    * "build" field), so no query entry should pay it just because map
    * ordering ran it first. */
  def warmFixtures(s: SparkSession, dir: String): Unit = {
    fittedIndex(s, dir)
    cosFittedIndex(s, dir)
    mipsFittedIndex(s, dir)
    storedIndexPath(s, dir)
    fittedOpq(s, dir)
    storedOpqPath(s, dir)
    // the memoized LSH pair relation is shared by four entries; warm it
    // here so whichever runs first doesn't absorb the build into its
    // own timing (dedup_minhash_lsh still recomputes from scratch)
    lshPairs90(s, dir)
    ()
  }

  /** Flagship query on sf0.001: exact k-NN over the embeddings table —
    * the reference's core semantics (Q1 with nprobe=P, no quantization). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val q = queryVec(spark, dir, 0L)
    ExactKnn.rankedIds(Tables.embeddings(spark, dir), "embedding", "vec_id", q, 10)
  }

  /** The pipeline_end_to_end composite with optional stage-event
    * instrumentation (the build `log` pattern — Bench folds the
    * "name N.NN s" lines into its "pipeline_stages" record field, so
    * a composite regression localizes to its stage instead of leaving
    * a bare total to re-bisect). The shared relations materialize
    * exactly ONCE: `qdocs` (quality survivors) is checkpointed before
    * exact dedup probes it twice (the duplicate probe and the survivor
    * join each rescan quality lineage otherwise), and `clean` is
    * checkpointed so decontamination, the split chain, and the
    * n_clean report branch reuse one materialization instead of
    * re-running the quality+dedup lineage per consumer. */
  private[graft] def pipelineEndToEnd(s: SparkSession, dir: String,
      log: String => Unit = _ => ()): DataFrame = {
    import graft.pipeline.{Dedup, TextAnalysis, TrainingData}
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      log(f"$name ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val pairs = timed("lsh-pairs")(
      lshPairs90(s, dir).select("a_id", "b_id"))
    val qdocs = timed("quality-filter") {
      val q = TextAnalysis.qualitySignals(docs)
        .where(col("n_tokens") >= 20 && col("stop_pct") <= 60)
        .select("doc_id")
      docs.join(q, Seq("doc_id")).localCheckpoint()
    }
    val clean = timed("exact-dedup") {
      qdocs.join(Dedup.exactDuplicates(qdocs).select("doc_id"),
        Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val ready = timed("decontaminate") {
      val contam = TrainingData
        .decontaminate(clean, bench, "doc_id", "text", n = 8)
        .select("doc_id")
      clean.join(contam, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val readyIds = ready.select("doc_id")
    val (p2, split) = timed("leak-safe-split") {
      val p2x = pairs
        .join(readyIds.select(col("doc_id").as("a_id")), "a_id")
        .join(readyIds.select(col("doc_id").as("b_id")), "b_id")
        .localCheckpoint()
      (p2x, TrainingData.groupAwareSplit(ready, p2x).localCheckpoint())
    }
    val train = split.where(col("split") === "train")
    val shards = TrainingData.shuffleShards(train, "doc_id", seed = 42,
      numShards = 4)
    val packed = TrainingData.packSequences(
      train.withColumn("n_toks",
        size(TextAnalysis.tokens(col("text")))),
      "doc_id", col("n_toks"), budget = 512, shards = 4)

    val nIn = docs.agg(count(lit(1)).as("n_input"))
    val nClean = clean.agg(count(lit(1)).as("n_clean"))
    val nReady = ready.agg(count(lit(1)).as("n_ready"))
    val splitCounts = split.agg(
      count(lit(1)).as("n_split_rows"),
      coalesce(sum(when(col("split") === "train", 1L).otherwise(0L)),
        lit(0L)).as("n_train"))
    val leak = p2
      .join(split.select(col("doc_id").as("a_id"),
        col("split").as("split_a")), "a_id")
      .join(split.select(col("doc_id").as("b_id"),
        col("split").as("split_b")), "b_id")
      .agg(coalesce(sum(when(col("split_a") =!= col("split_b"), 1L)
        .otherwise(0L)), lit(0L)).as("n_leak_pairs"),
        count(lit(1)).as("n_pairs_checked"))
    val shardAgg = shards.agg(
      count(lit(1)).as("n_shard_rows"),
      countDistinct(col("shard")).as("n_shards"))
    val packAgg = packed.agg(
      count(lit(1)).as("n_packed"),
      coalesce(sum(when(col("seq_offset") < 0 ||
        col("seq_offset") >= 512, 1L).otherwise(0L)), lit(0L))
        .as("n_offset_viol"))
    nIn.crossJoin(nClean).crossJoin(nReady).crossJoin(splitCounts)
      .crossJoin(leak).crossJoin(shardAgg).crossJoin(packAgg)
      .select(
        when(col("n_input") >= col("n_clean") &&
          col("n_clean") >= col("n_ready"), 1L).otherwise(0L)
          .as("monotone_ok"),
        when(col("n_split_rows") === col("n_ready"), 1L).otherwise(0L)
          .as("cover_ok"),
        col("n_leak_pairs"),
        // the no-straddling gate only means something if pairs exist
        // among the split docs — the soft path guarantees they do
        when(col("n_pairs_checked") > 0, 1L).otherwise(0L)
          .as("leak_nonvacuous"),
        when(col("n_shard_rows") === col("n_train") &&
          col("n_shards") === 4, 1L).otherwise(0L).as("shards_ok"),
        when(col("n_packed") === col("n_train") &&
          col("n_offset_viol") === 0, 1L).otherwise(0L).as("pack_ok"),
        when(col("n_train") > 0, 1L).otherwise(0L).as("nonempty"))
  }
}
