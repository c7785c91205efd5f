package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** END-TO-END streaming ingest: the batch curation chain — quality
  * filter → exact dedup → benchmark decontamination → leak-safe split
  * (`SparkEntry.pipelineEndToEnd`'s stages) — composed as ONE
  * foreachBatch body over persisted states, so a corpus ingested in
  * micro-batches accumulates exactly the one-shot result. Each stage's
  * incremental form and its equivalence contract:
  *
  *  - QUALITY: per-document pure (a codegen projection) — trivially
  *    identical per trigger.
  *  - EXACT DEDUP: a persisted (content_hash, keep_id) state; a batch
  *    keeps the min-id doc of each unseen hash (first-seen-wins).
  *    Equal to the batch keeper (global min id per hash) whenever
  *    batches arrive in ascending id ranges — the shuffle-shard replay
  *    order a real ingest uses; out-of-order ingest degrades to
  *    first-seen-wins, the standard streaming contract (a batch keeper
  *    would have to RETRACT an emitted doc, which append-mode ingest
  *    cannot) — and a violated contract is DETECTED, not silent:
  *    [[keeperViolations]] audits each trigger for already-emitted
  *    hashes arriving with smaller ids (asserted empty per trigger by
  *    the gate; alert-or-reprocess is the caller's policy).
  *  - DECONTAMINATION: the benchmark gram set is a static state
  *    ([[benchGramState]], built once from the eval corpus); membership
  *    per doc is pure given the state.
  *  - LEAK-SAFE SPLIT: reps come from the FULL near-dup closure over
  *    the pair relation ([[repState]], static) rather than the
  *    ready-docs-induced subgraph the one-shot
  *    `TrainingData.groupAwareSplit` composition restricts to — the
  *    induced subgraph GROWS as docs arrive, which could merge
  *    components and change an already-emitted doc's split. The full
  *    closure is the conservative leak boundary (docs connected through
  *    even a dropped doc share a split — never leaks, may over-group)
  *    and is a pure function of the static pair relation, so emitted
  *    splits never change. [[oneShot]] is the batch twin under the SAME
  *    contract; the `pipeline_stream_end_to_end` gate and
  *    StreamingPipelineSpec assert accumulated ≡ oneShot.
  *
  * Scale shape per trigger: quality/decontaminate/split are narrow
  * projections plus joins against broadcast-size or hash-bucketed
  * states; the dedup state join is hash-keyed (batch-sized deltas
  * against a corpus-sized persisted relation — the persistable-state
  * ingest shape shared with StreamingDedup's band state). Nothing ever
  * windows or sorts the accumulated corpus.
  */
object StreamingPipeline {

  /** The benchmark's distinct 8-gram-style fingerprint state — built
    * once from the eval corpus and persisted; the decontamination stage
    * of every trigger joins against it. */
  def benchGramState(bench: DataFrame, textCol: String, n: Int): DataFrame =
    bench.select(explode(
        graft.pipeline.TrainingData.ngramFingerprints(col(textCol), n))
      .as("g")).distinct()

  /** The static rep map: min-reachable-id components over the FULL
    * near-dup pair relation — (doc_id, rep), endpoints only (docs in no
    * pair follow their own id via the left join in [[processBatch]]). */
  def repState(pairs: DataFrame): DataFrame = {
    val ids = pairs.select(col("a_id").as("doc_id"))
      .unionByName(pairs.select(col("b_id").as("doc_id")))
      .distinct()
    graft.pipeline.Dedup.connectedComponents(ids, pairs)
      .select(col("doc_id"), col("comp").as("rep"))
  }

  /** An empty dedup state with the right schema. */
  def emptyHashState(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    Seq.empty[(String, Long)].toDF("content_hash", "keep_id")
  }

  /** The quality stage shared by [[processBatch]] and
    * [[keeperViolations]] — one projection + semi-join; keeping them on
    * one code path is what makes the audit judge exactly the docs the
    * pipeline would have deduped. */
  private def qualityPass(batch: DataFrame, minTokens: Long,
                          maxStopPct: Long): DataFrame = {
    val q = graft.pipeline.TextAnalysis.qualitySignals(batch)
      .where(col("n_tokens") >= minTokens && col("stop_pct") <= maxStopPct)
      .select("doc_id")
    batch.join(q, Seq("doc_id"))
  }

  /** KEEPER-STABILITY AUDIT for one trigger — the loud detector for the
    * ascending-id ingest contract (see the dedup stage note above): a
    * quality-passing doc in this batch whose content hash is ALREADY in
    * the state under a LARGER keep_id is exactly an out-of-order
    * arrival that the one-shot batch keeper would have crowned instead
    * of the emitted doc. Empty under compliant replay ingest (asserted
    * per trigger by the `pipeline_stream_end_to_end` gate); non-empty
    * means the accumulated output has degraded to first-seen-wins for
    * these hashes — count it, alert on it, or re-run the one-shot twin
    * over the affected corpus slice. One batch-sized hash join against
    * the persisted state; rows are
    * (content_hash, keep_id, intruder_id < keep_id). */
  def keeperViolations(batch: DataFrame, seenHashes: DataFrame,
                       minTokens: Long = 20, maxStopPct: Long = 60)
      : DataFrame =
    qualityPass(batch, minTokens, maxStopPct)
      .withColumn("__h", md5(col("text")))
      .join(seenHashes, col("__h") === col("content_hash"))
      .where(col("doc_id") < col("keep_id"))
      .select(col("content_hash"), col("keep_id"),
        col("doc_id").as("intruder_id"))

  /** BOUNDED-DELAY REORDER pre-stage — the repair half of the
    * ascending-id ingest contract (detection is [[keeperViolations]]):
    * a mildly out-of-order source runs its batches through this buffer
    * in front of [[processBatch]], which then sees ascending id ranges
    * and keeps the one-shot keeper equality instead of tripping the
    * audit.
    *
    * Per trigger: pool = held ∪ batch; the `w` LARGEST ids stay held,
    * everything else releases. Releases are therefore monotone across
    * triggers (every released id is smaller than every id still held,
    * so smaller than anything released later), and any arrival
    * displaced by at most `w` positions from sorted order is repaired
    * exactly. An arrival displaced FURTHER than `w` still escapes — the
    * audit stays the backstop for that, which is why the gate keeps
    * asserting [[keeperViolations]] empty rather than trusting the
    * buffer. At stream end the caller flushes by releasing the final
    * held state as one last batch.
    *
    * Scale shape (reworked round 14): the held/release split needs only
    * the w-th largest id, not a rank per row — `orderBy(desc).limit(w)`
    * compiles to TakeOrderedAndProject (per-partition bounded top-w +
    * driver merge, the NBest idiom), its min broadcasts back as a
    * one-row threshold, and the split is two comparisons against it.
    * The previous form ranked the whole pool in a SINGLE-partition
    * window — bounded by the trigger size by contract, but the
    * pipeline's only single-task stage (BENCH_NOTES "Round 14: reorder
    * pre-stage" measures the two forms at growing trigger sizes).
    * doc_ids are unique (the ingest contract), so the threshold split
    * is exact and its outputs identical to the ranked form's. */
  def reorderBatch(batch: DataFrame, held: DataFrame, w: Int)
      : (DataFrame, DataFrame) = {
    require(w >= 0, s"reorder window must be >= 0, got $w")
    val pool = held.unionByName(batch)
    if (w == 0) return (pool, emptyHeldState(batch))
    val thr = pool.select(col("doc_id"))
      .orderBy(col("doc_id").desc).limit(w)
      .agg(min(col("doc_id")).as("__thr"))
    // empty pool: __thr is null, both comparisons are null → both sides
    // empty, exactly the ranked form's answer
    val marked = pool.crossJoin(broadcast(thr))
    (marked.where(col("doc_id") < col("__thr")).drop("__thr"),
      marked.where(col("doc_id") >= col("__thr")).drop("__thr"))
  }

  /** An empty reorder-held state with `batch`'s schema. */
  def emptyHeldState(batch: DataFrame): DataFrame = batch.limit(0)

  /** One trigger: batch (doc_id, text) in, (survivors, new dedup state)
    * out. Survivors carry (doc_id, rep, split); the caller persists the
    * returned state for the next trigger (localCheckpoint in tests,
    * a parquet upsert in production). */
  def processBatch(batch: DataFrame, seenHashes: DataFrame,
                   benchGrams: DataFrame, reps: DataFrame,
                   n: Int = 8, minTokens: Long = 20, maxStopPct: Long = 60,
                   trainHi: String = "cc", valHi: String = "e6")
      : (DataFrame, DataFrame) = {
    val hashed = qualityPass(batch, minTokens, maxStopPct)
      .withColumn("__h", md5(col("text")))
    processHashed(hashed, seenHashes, benchGrams, reps, n,
      trainHi, valHi)
  }

  /** [[processBatch]] + the [[keeperViolations]] audit over ONE shared
    * materialization of the quality+hash projection (round 14): the
    * per-trigger gate previously ran the audit and the two output
    * checkpoints as three separate actions, each replaying the
    * quality-filter + md5 lineage from the batch scan. Checkpointing
    * `hashed` once (batch-sized, the state-residency class) removes the
    * replays; outputs are construction-identical to
    * keeperViolations + processBatch. Returns (out, newState,
    * violations). */
  def processBatchAudited(batch: DataFrame, seenHashes: DataFrame,
                          benchGrams: DataFrame, reps: DataFrame,
                          n: Int = 8, minTokens: Long = 20,
                          maxStopPct: Long = 60, trainHi: String = "cc",
                          valHi: String = "e6")
      : (DataFrame, DataFrame, DataFrame) = {
    // NOT fanned out (round-15 negative A/B): per-trigger fan-out
    // exchanges on the quality+hash pass and the gram explode cost more
    // scheduling than the ~1 s of per-trigger compute they spread
    // (10.5 → 16.6 s warm, jobs 100 → 132) — trigger-sized batches are
    // the micro-batch shape's fixed cost, not a partitioning defect
    val hashed = qualityPass(batch, minTokens, maxStopPct)
      .withColumn("__h", md5(col("text")))
      .localCheckpoint()
    val violations = hashed
      .join(seenHashes, col("__h") === col("content_hash"))
      .where(col("doc_id") < col("keep_id"))
      .select(col("content_hash"), col("keep_id"),
        col("doc_id").as("intruder_id"))
    val (out, ns) = processHashed(hashed, seenHashes, benchGrams, reps, n,
      trainHi, valHi)
    (out, ns, violations)
  }

  private def processHashed(hashed: DataFrame, seenHashes: DataFrame,
                            benchGrams: DataFrame, reps: DataFrame,
                            n: Int, trainHi: String, valHi: String)
      : (DataFrame, DataFrame) = {
    // in-batch keeper (min id per hash), then drop hashes already seen
    val keepers = hashed.groupBy(col("__h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .join(seenHashes.select(col("content_hash").as("__h")),
        Seq("__h"), "left_anti")
    val fresh = hashed.join(keepers.select("doc_id"), Seq("doc_id"))
    val newState = seenHashes.unionByName(keepers.select(
      col("__h").as("content_hash"), col("doc_id").as("keep_id")))
    val hits = fresh.select(col("doc_id"), explode(
        graft.pipeline.TrainingData.ngramFingerprints(col("text"), n))
        .as("g"))
      .join(benchGrams, "g")
      .select("doc_id").distinct()
    val ready = fresh.join(hits, Seq("doc_id"), "left_anti")
    val b = substring(md5(col("rep").cast("string").cast("binary")), 1, 2)
    val out = ready
      .join(reps, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("rep"), col("doc_id")))
      .withColumn("split",
        when(b < trainHi, "train").when(b < valHi, "val").otherwise("test"))
      .select(col("doc_id"), col("rep"), col("split"))
    (out, newState)
  }

  /** The one-shot batch twin under the SAME contract (global min-id
    * keeper, full-closure reps): what the accumulated stream output
    * must equal when batches arrive in ascending id ranges. */
  def oneShot(docs: DataFrame, bench: DataFrame, pairs: DataFrame,
              n: Int = 8, minTokens: Long = 20, maxStopPct: Long = 60,
              trainHi: String = "cc", valHi: String = "e6"): DataFrame = {
    val (out, _) = processBatch(docs,
      emptyHashState(docs.sparkSession),
      benchGramState(bench, "text", n), repState(pairs),
      n, minTokens, maxStopPct, trainHi, valHi)
    out
  }
}
