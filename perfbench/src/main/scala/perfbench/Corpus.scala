package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, TextAnalysis, TrainingData}

/** The LLM-data pipeline over an amplified document corpus: quality
  * filter, exact dedup, MinHash-LSH pairs at 90%, decontamination
  * against a 1/97 bench slice, group-aware split, shuffle shards and
  * sequence packing, run as passes of one caller. Each stage's output
  * is checkpointed once and timed as its own layer. */
object Corpus {

  final case class Shape(docs: Int, setupReps: Int)

  val full = Shape(docs = 3000, setupReps = 2)
  val small = Shape(docs = 2000, setupReps = 1)

  val stages: Seq[String] = Seq("quality", "exact_dedup", "lsh", "decontaminate", "split", "pack")

  def run(ctx: Ctx): Unit = {
    val sh = if (ctx.short) small else full
    val spark = ctx.spark
    val docs = Common.setup(ctx, sh.setupReps) { _ =>
      Gen.documents(spark, sh.docs, ctx.seed, ctx.parts).localCheckpoint()
    }

    val times = stages.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
    val passes = mutable.ArrayBuffer.empty[Double]
    var pairs = 0L
    var kept = 0L
    /** Passes until `deadline`, each verified outside its timing. */
    def passesUntil(deadline: Long, measured: Boolean): Unit = {
      val stageTimes = if (measured) times else stages.map(_ -> mutable.ArrayBuffer.empty[Double]).toMap
      var n = 0
      while (n == 0 || ctx.left(deadline)) {
        n += 1
        val op = ctx.tr.newOp()
        val t0 = System.nanoTime()
        val res = ctx.checks.op("pipeline pass") {
          val verify = ctx.step("corpus.total", op)(pass(ctx, docs, stageTimes))
          if (measured) passes += Stats.ms(System.nanoTime() - t0)
          verify()
        }
        res.foreach { case (inv, nPairs, nKept) =>
          pairs = nPairs
          kept = nKept
          inv.foreach { case (name, ok) => ctx.checks.check(s"corpus: $name")(ok) }
        }
      }
    }
    // warm-up passes for as long as the window, not measured: pass times
    // fall for about that long while the JIT compiles the pipeline's code
    passesUntil(ctx.deadlineAfter(1.0), measured = false)
    passesUntil(ctx.deadlineAfter(1.0), measured = true)
    val sec = passes.sum / 1e3
    System.err.println(s"[perfbench] corpus passes ms: ${passes.map(_.round).mkString(" ")}")
    ctx.metric("op_p50_ms", Stats.median(passes.toSeq), passes.length)
    ctx.metric("ops_per_s", passes.length * sh.docs / math.max(sec, 1e-9), passes.length)
    stages.foreach(s => ctx.metric(s"pipeline.${s}_s", Stats.median(times(s).toSeq), times(s).length))
    ctx.metric("pipeline.lsh_pairs", pairs, 1)
    ctx.metric("pipeline.docs_kept", kept, 1)
  }

  /** One pass. Returns the untimed verification of its output:
    * (invariants, LSH pair count, docs kept for training). */
  private def pass(ctx: Ctx, docs: DataFrame, times: Map[String, mutable.ArrayBuffer[Double]])
      : () => (Seq[(String, Boolean)], Long, Long) = {
    def stage[T](name: String)(body: => T): T = {
      val (r, ms) = Common.timeMs(ctx.tr.span(s"pipeline.$name")(body))
      times(name) += ms / 1e3
      r
    }
    val pairs = stage("lsh")(
      Dedup.minHashLshPairs(docs, thresholdPct = 90).select("a_id", "b_id").localCheckpoint())
    val qdocs = stage("quality") {
      val q = TextAnalysis.qualitySignals(docs)
        .where(col("n_tokens") >= 20 && col("stop_pct") <= 60).select("doc_id")
      docs.join(q, Seq("doc_id")).localCheckpoint()
    }
    val clean = stage("exact_dedup")(
      qdocs.join(Dedup.exactDuplicates(qdocs).select("doc_id"), Seq("doc_id"), "left_anti")
        .localCheckpoint())
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val ready = stage("decontaminate") {
      val contam = TrainingData.decontaminate(clean, bench, "doc_id", "text", n = 8).select("doc_id")
      clean.join(contam, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val readyIds = ready.select("doc_id")
    val (p2, split) = stage("split") {
      val p2 = pairs.join(readyIds.select(col("doc_id").as("a_id")), "a_id")
        .join(readyIds.select(col("doc_id").as("b_id")), "b_id").localCheckpoint()
      (p2, TrainingData.groupAwareSplit(ready, p2).localCheckpoint())
    }
    val train = split.where(col("split") === "train")
    val (shards, packed) = stage("pack") {
      val shards = TrainingData.shuffleShards(train, "doc_id", seed = 42, numShards = 4)
        .localCheckpoint()
      val packed = TrainingData.packSequences(
        train.withColumn("n_toks", size(TextAnalysis.tokens(col("text")))),
        "doc_id", col("n_toks"), budget = 512, shards = 4).localCheckpoint()
      (shards, packed)
    }

    // invariants: monotone counts, split covers ready, no leak pairs,
    // shards cover train, pack offsets in range
    () => {
    val nIn = docs.count()
    val nClean = clean.count()
    val nReady = ready.count()
    val nSplit = split.count()
    val nTrain = train.count()
    val leak = p2
      .join(split.select(col("doc_id").as("a_id"), col("split").as("sa")), "a_id")
      .join(split.select(col("doc_id").as("b_id"), col("split").as("sb")), "b_id")
      .where(col("sa") =!= col("sb")).count()
    val shardRow = shards.agg(count(lit(1)), countDistinct(col("shard"))).head()
    val badOffsets = packed.where(col("seq_offset") < 0 || col("seq_offset") >= 512).count()
    val nPacked = packed.count()
    val inv = Seq(
      "counts are monotone" -> (nIn >= nClean && nClean >= nReady),
      "split covers ready" -> (nSplit == nReady),
      "no pair straddles the split" -> (leak == 0L),
      "shards cover train" -> (shardRow.getLong(0) == nTrain && shardRow.getLong(1) == 4L),
      "pack offsets in range" -> (badOffsets == 0L && nPacked == nTrain),
      "training set is not empty" -> (nTrain > 0))
    (inv, pairs.count(), nTrain)
    }
  }
}
