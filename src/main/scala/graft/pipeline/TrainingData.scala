package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A measured per-group-sampler execution-strategy decision — the
  * window-vs-bounded-top-k choice ([[TrainingData.samplerStrategyFor]]),
  * carried with the evidence that produced it (the [[LshStrategy]]
  * discipline: a persisted record is auditable — was this decided on
  * the corpus and cap it is being applied to?). `useTopK` routes the
  * `*Auto` samplers; the probe stats and the cap/quota shape the
  * decision depended on ride along so a mismatched reuse is detectable.
  *
  * The decision encodes the round-11 measured crossovers (100M rows,
  * 8 groups, BENCH_NOTES "sampler twins at 100M"):
  *
  * | shape | window form | top-k twin | winner |
  * |---|---|---|---|
  * | literal cap 1k   | 56.0 s (WindowGroupLimit map-side cut) | 167.9 s | window |
  * | literal cap 100k | 392.9 s | 799.7 s | window locally; twin once cap×mapTasks concentrates |
  * | dynamic quota    | 205.0 s (no WindowGroupLimit — full group sort) | 97.9 s | twin |
  *
  * Spark 4 rewrites `row_number ≤ LITERAL` into a map-side partial
  * top-k before the exchange, so the window form's cost tracks the cap
  * and it WINS on constants — its residual weakness is the final
  * per-group pass holding cap × mapTasks rows in ONE task (10¹⁰ at
  * 10⁵ tasks × cap 10⁵). Dynamic quotas (`row_number ≤ col`) get no
  * rewrite: each group's whole corpus fraction sorts in one task, and
  * the twin wins outright once groups are large. Hence the rule:
  *  - dynamic quota: top-k unless every group fits a comfortable
  *    single-task sort (`maxGroupRows ≤ maxWindowGroupRows`, default 1M);
  *  - literal cap: window unless the concentrated final pass
  *    (`cap × mapTasks`) exceeds `maxFinalTaskRows` (default 32M).
  */
final case class SamplerStrategy(useTopK: Boolean, literalCap: Boolean,
                                 cap: Long, nRows: Long, nGroups: Long,
                                 maxGroupRows: Long, mapTasks: Long)

/** Dataset-assembly operators for a training-data pipeline: deterministic
  * splits, per-group subsampling, and sequence packing. All three are
  * pure narrow-or-windowed plans with engine-portable integer/string
  * semantics, so each driver entry has an exact DuckDB oracle.
  */
object TrainingData {

  /** First two lowercase-hex chars of md5 of the row id rendered as a
    * string — a stable 256-bucket key identical across engines (byte-wise
    * string comparison, no hex→int parsing needed). */
  private def hashBucket(idCol: String): Column =
    substring(md5(col(idCol).cast("string").cast("binary")), 1, 2)

  /** Deterministic train/val/test assignment by hashing the ROW ID — the
    * split a 100 TB pipeline needs: membership is a pure function of the
    * id (no global sample, no state), so it is stable under reruns,
    * repartitions, and incremental appends, and never shuffles: one narrow
    * projection. Thresholds are on the 256-bucket md5 prefix:
    * 00..cb → train (≈79.7%), cc..e5 → val (≈10.2%), e6..ff → test. */
  def hashSplit(df: DataFrame, idCol: String,
                trainHi: String = "cc", valHi: String = "e6"): DataFrame = {
    val b = hashBucket(idCol)
    df.withColumn("split",
      when(b < trainHi, "train").when(b < valHi, "val").otherwise("test"))
  }

  /** LEAKAGE-FREE train/val/test split. A plain id-hash split puts two
    * near-duplicate documents in different splits ~1/3 of the time, so
    * held-out evaluation scores text the model effectively trained on.
    * Here every document follows its near-dup COMPONENT representative
    * (component = min reachable id over `pairs`, closed transitively via
    * [[graft.pipeline.Dedup.connectedComponents]] — near-dup is not
    * transitive, the closure is the conservative leak boundary), through
    * exactly [[hashSplit]]'s md5-bucket rule; docs in no pair follow
    * their own id, which is the identical arithmetic. Assignment stays a
    * pure function of (pair relation, id): stable under reruns and
    * repartitions, and a grown corpus only re-splits docs whose
    * component changed. Cost beyond hashSplit = the component closure
    * over the pair relation (pairs-sized, not corpus-sized).
    *
    * Output adds (rep, split). `pairs` carries (a_id, b_id). */
  def groupAwareSplit(docs: DataFrame, pairs: DataFrame,
                      idCol: String = "doc_id",
                      trainHi: String = "cc", valHi: String = "e6"): DataFrame = {
    val comp = graft.pipeline.Dedup
      .connectedComponents(docs.select(col(idCol).as("doc_id")), pairs)
      .withColumnRenamed("doc_id", idCol)
    val b = substring(md5(col("rep").cast("string").cast("binary")), 1, 2)
    docs.join(comp, Seq(idCol), "left")
      .withColumn("rep", coalesce(col("comp"), col(idCol)))
      .drop("comp")
      .withColumn("split",
        when(b < trainHi, "train").when(b < valHi, "val").otherwise("test"))
  }

  /** Deterministic k-fold assignment for cross-validation: fold =
    * md5("fold:<seed>:<id>") mod k — the same pure-function-of-the-id
    * idiom as [[hashSplit]]/[[shuffleShards]], so folds are stable under
    * reruns, repartitions and incremental appends, size-balanced by the
    * hash, and re-drawable with a different seed. One narrow projection,
    * no shuffle. Output adds (fold: long) ∈ [0, folds). */
  def kFolds(df: DataFrame, idCol: String, folds: Int,
             seed: Long = 0): DataFrame = {
    require(folds > 0, s"folds must be positive, got $folds")
    val h = md5(concat(lit(s"fold:$seed:"), col(idCol).cast("string"))
      .cast("binary"))
    // first 6 hex chars → 24-bit non-negative int, mod fold count — the
    // shuffleShards parsing rule, identical in every engine
    df.withColumn("fold",
      pmod(conv(substring(h, 1, 6), 16, 10).cast("long"), lit(folds.toLong)))
  }

  /** LEAKAGE-FREE k-fold assignment: [[kFolds]]' md5 rule applied to
    * each document's near-dup COMPONENT representative (exactly
    * [[groupAwareSplit]]'s closure over `pairs`), so a near-dup cluster
    * can never straddle folds — plain per-id folds put two near-dups in
    * different folds ~(k−1)/k of the time, and every such pair lets a
    * cross-validation fold evaluate on text it effectively trained on.
    * Docs in no pair follow their own id (bit-for-bit [[kFolds]]).
    * Cost beyond kFolds = the component closure (pairs-sized).
    * Output adds (rep, fold). */
  def groupAwareFolds(docs: DataFrame, pairs: DataFrame,
                      idCol: String = "doc_id", folds: Int = 5,
                      seed: Long = 0): DataFrame = {
    require(folds > 0, s"folds must be positive, got $folds")
    val comp = graft.pipeline.Dedup
      .connectedComponents(docs.select(col(idCol).as("doc_id")), pairs)
      .withColumnRenamed("doc_id", idCol)
    val h = md5(concat(lit(s"fold:$seed:"), col("rep").cast("string"))
      .cast("binary"))
    docs.join(comp, Seq(idCol), "left")
      .withColumn("rep", coalesce(col("comp"), col(idCol)))
      .drop("comp")
      .withColumn("fold",
        pmod(conv(substring(h, 1, 6), 16, 10).cast("long"),
          lit(folds.toLong)))
  }

  /** Deterministic EPOCH SHUFFLE + sharding for training output. Both the
    * shard and the within-shard order are pure functions of (seed, id) —
    * md5 of "shuffle:<seed>:<id>" — so the pass is reproducible under
    * reruns, repartitions and incremental appends, and a different seed
    * yields an independent order for the next epoch. At 100 TB the whole
    * "global shuffle" is ONE hash-partitioned write
    * (`partitionBy("shard")` + `sortWithinPartitions("sort_key")`): no
    * global sort, no driver state, and shards are size-balanced by the
    * hash. Output adds (shard: long, sort_key: hex string). */
  def shuffleShards(df: DataFrame, idCol: String, seed: Long,
                    numShards: Int): DataFrame = {
    require(numShards > 0, s"numShards must be positive, got $numShards")
    val h = md5(concat(lit(s"shuffle:$seed:"), col(idCol).cast("string"))
      .cast("binary"))
    df.withColumn("sort_key", h)
      // first 6 hex chars → 24-bit non-negative int, mod shard count —
      // parseable identically by every engine that can read hex
      .withColumn("shard",
        pmod(conv(substring(col("sort_key"), 1, 6), 16, 10).cast("long"),
          lit(numShards.toLong)))
  }

  /** At most `cap` rows per group, chosen by deterministic pseudo-random
    * order (md5 of the id) — per-domain/per-source balancing ("keep ≤N
    * docs per domain"). The rank filter's LITERAL bound lets Spark's
    * WindowGroupLimit rewrite keep ≤ cap rows per group per MAP task
    * before the exchange (probe-verified: the 100M window time tracks
    * cap, 56 s at cap=1000 vs 393 s at cap=100k — a naive full sort
    * would be cap-independent), so the giant-group final pass is
    * bounded by cap × mapTasks per group, not the corpus fraction.
    * That product still concentrates in ONE task (10¹⁰ rows at 10⁵
    * tasks × cap 10⁵): [[perGroupCapTopK]] (identical contract) keeps
    * the shuffle and the final state at cap·|groups| INDEPENDENT of
    * task count — prefer it for large caps at cluster scale; this
    * window form is the readable reference with better constants at
    * modest caps. */
  def perGroupCap(df: DataFrame, groupCol: String, idCol: String,
                  cap: Int): DataFrame = {
    val w = Window.partitionBy(col(groupCol))
      .orderBy(md5(col(idCol).cast("string").cast("binary")), col(idCol))
    df.withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= cap)
      .drop("rnk")
  }

  /** The md5 race key as an exact double: the first 13 hex chars of
    * md5(prefix || id) parsed as a 52-bit integer (exactly representable
    * in a double). Fixed-length lowercase hex orders identically as a
    * string and as a number, so ranking by this value reproduces the
    * full-md5 string order except when two ids in one group collide in
    * their first 52 bits (~n²/2⁵³ per group — the documented divergence
    * contract of the bounded-top-k sampler twins; a collision is broken
    * by id instead of by the 14th hex char). */
  private def racePrefix52(prefix: String, idCol: String): Column =
    conv(substring(md5(concat(lit(prefix), col(idCol).cast("string"))
      .cast("binary")), 1, 13), 16, 10).cast("double")

  /** The 100 TB twin of [[perGroupCap]]: identical md5-order contract,
    * but the per-group cut runs as a map-side-combinable BOUNDED TOP-K
    * aggregate ([[graft.query.TopKAggregator]] via
    * [[graft.operators.GroupedTopK]]'s machinery) instead of a
    * group-partitioned `row_number` window — each task keeps at most
    * `cap` candidates per group, so the shuffle carries ≤ cap·|groups|
    * fixed-width (key, id) rows no matter how large a group is. The
    * window form's literal bound does get Spark's WindowGroupLimit
    * map-side cut (see [[perGroupCap]]), but its final per-group pass
    * still concentrates cap × mapTasks rows in one task — this twin's
    * shuffle and final merge state stay cap·|groups| INDEPENDENT of
    * task count, the property that matters at 10⁵-task scale. Winners
    * then semi-join back to the corpus on the row id (id-bucketed, no
    * giant group anywhere).
    *
    * Divergence contract vs [[perGroupCap]]: the race key is the md5
    * prefix truncated to 52 bits ([[racePrefix52]]) — two ids whose md5
    * agree in the first 13 hex chars tie here (broken by id) where the
    * exact form consults the 14th char: ~n²/2⁵³ odds per group.
    * `idCol` must be integral (the aggregator carries 64-bit ids). */
  def perGroupCapTopK(df: DataFrame, groupCol: String, idCol: String,
                      cap: Int): DataFrame = {
    require(cap > 0, s"cap must be positive, got $cap")
    val winners = df
      .groupBy(col(groupCol))
      .agg(graft.query.TopKAggregator.topK(cap)(
        racePrefix52("", idCol), col(idCol)).as("__hits"))
      .select(explode(col("__hits").getField("id")).as("__win_id"))
    df.join(winners, col(idCol).cast("long") === col("__win_id"),
      "left_semi")
  }

  /** Deterministic WEIGHTED sampling without replacement (Efraimidis &
    * Spirakis 2006, exponential-race form): row i wins a slot iff its
    * race key −ln(uᵢ)/wᵢ is among the k smallest, where uᵢ ∈ (0,1] is a
    * pseudo-random uniform derived from md5 of the row id (NOT an RNG —
    * a pure function of (seed, id), so the sample is identical under
    * reruns, repartitions, and engine changes) and wᵢ is the row's
    * weight. Inclusion probability is proportional to weight for the
    * successive-draws-without-replacement process — the principled way
    * to bias a training mix toward long/high-quality documents without
    * duplicating rows.
    *
    * Scale shape: one narrow projection to compute the key, then a
    * global bounded top-k (`orderBy.limit` → TakeOrderedAndProject:
    * per-partition k candidates + driver merge) — the corpus is never
    * globally sorted. The race key stays internal, so cross-engine
    * float agreement only has to preserve the ORDER of keys (ulp-level
    * divergence would need two keys within ~1e-15 relative to flip).
    *
    * Weights must be STRICTLY POSITIVE: a negative weight flips the
    * race-key sign (that row would always win) and a zero weight with
    * u=1 yields 0/0 = NaN — neither is a sample, both are silent
    * corruption. The race-key projection therefore asserts w > 0 per
    * row (codegen `raise_error`, no extra pass); callers with
    * legitimately zero-weighted rows filter them out first — a
    * zero-weight row can never be drawn anyway. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int, seed: String = "ws"): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val u = (conv(substring(
      md5(concat(lit(s"$seed:"), col(idCol).cast("string")).cast("binary")),
      1, 6), 16, 10).cast("double") + lit(1.0)) / lit(16777216.0)
    val w = col(weightCol).cast("double")
    val checkedW = when(w > 0.0, w).otherwise(raise_error(concat(
      lit(s"weightedSample requires $weightCol > 0; got "),
      w.cast("string"), lit(" at "), col(idCol).cast("string"))))
    df.withColumn("race_key", -log(u) / checkedW)
      .orderBy(col("race_key"), col(idCol))
      .limit(k)
      .drop("race_key")
  }

  /** Per-GROUP [[weightedSample]]: k weighted winners inside every
    * group (per-source biased subsampling — "10 best-weighted docs
    * per crawl" — in one pass). Same exponential-race key, same
    * strictly-positive-weight contract, but the bounded top-k runs as
    * a group-partitioned row_number window instead of a global
    * TakeOrdered — one exchange on the group key, any number of
    * groups in parallel, no driver merge. The literal `kPerGroup`
    * bound gets Spark's WindowGroupLimit map-side cut (the
    * [[perGroupCap]] note), but the final per-group pass still
    * concentrates k × mapTasks rows in one task — use
    * [[weightedSamplePerGroupTopK]] at cluster scale (bit-identical
    * winners, k·|groups| state independent of task count). */
  def weightedSamplePerGroup(df: DataFrame, groupCol: String,
                             idCol: String, weightCol: String,
                             kPerGroup: Int,
                             seed: String = "ws"): DataFrame = {
    require(kPerGroup > 0, s"kPerGroup must be positive, got $kPerGroup")
    import org.apache.spark.sql.expressions.Window
    val u = (conv(substring(
      md5(concat(lit(s"$seed:"), col(idCol).cast("string")).cast("binary")),
      1, 6), 16, 10).cast("double") + lit(1.0)) / lit(16777216.0)
    val w = col(weightCol).cast("double")
    val checkedW = when(w > 0.0, w).otherwise(raise_error(concat(
      lit(s"weightedSamplePerGroup requires $weightCol > 0; got "),
      w.cast("string"), lit(" at "), col(idCol).cast("string"))))
    val win = Window.partitionBy(groupCol)
      .orderBy(col("race_key"), col(idCol))
    df.withColumn("race_key", -log(u) / checkedW)
      .withColumn("__rn", row_number().over(win))
      .where(col("__rn") <= kPerGroup)
      .drop("race_key", "__rn")
  }

  /** The 100 TB twin of [[weightedSamplePerGroup]]: the identical
    * exponential-race key (same md5-derived uniform, same
    * strictly-positive-weight `raise_error` contract, bit-for-bit the
    * same doubles), but the per-group cut is the bounded top-k
    * aggregate instead of a group-partitioned `row_number` window —
    * each task keeps ≤ `kPerGroup` candidates per group, the shuffle
    * carries ≤ k·|groups| fixed-width rows, and no task ever sorts a
    * whole group. The aggregator breaks race-key ties toward the
    * smaller id, exactly the window's `ORDER BY race_key, id` — so the
    * winners are BIT-IDENTICAL to [[weightedSamplePerGroup]] (the race
    * key is already a double; nothing is truncated). `idCol` must be
    * integral (the aggregator carries 64-bit ids). */
  def weightedSamplePerGroupTopK(df: DataFrame, groupCol: String,
                                 idCol: String, weightCol: String,
                                 kPerGroup: Int,
                                 seed: String = "ws"): DataFrame = {
    require(kPerGroup > 0, s"kPerGroup must be positive, got $kPerGroup")
    val u = (conv(substring(
      md5(concat(lit(s"$seed:"), col(idCol).cast("string")).cast("binary")),
      1, 6), 16, 10).cast("double") + lit(1.0)) / lit(16777216.0)
    val w = col(weightCol).cast("double")
    val checkedW = when(w > 0.0, w).otherwise(raise_error(concat(
      lit(s"weightedSamplePerGroupTopK requires $weightCol > 0; got "),
      w.cast("string"), lit(" at "), col(idCol).cast("string"))))
    val winners = df
      .groupBy(col(groupCol))
      .agg(graft.query.TopKAggregator.topK(kPerGroup)(
        -log(u) / checkedW, col(idCol)).as("__hits"))
      .select(explode(col("__hits").getField("id")).as("__win_id"))
    df.join(winners, col(idCol).cast("long") === col("__win_id"),
      "left_semi")
  }

  /** Temperature-balanced source mixture at τ = 2 (α = ½): keep a
    * deterministic per-source fraction so the KEPT corpus's source mass
    * is ∝ √n_s — the standard "temperature sampling" that up-weights
    * small sources without duplicating rows. Target kept-total is
    * `targetFrac` of the corpus; per-source keep rate
    * r_s = targetFrac·N·√n_s / (Z·n_s) (Z = Σ√n_t, capped at 1) is
    * quantized to a 256-bucket md5 threshold, and a row survives iff
    * its md5 bucket (a pure function of (seed, id) — rerun/append
    * stable, the [[mixtureSample]] idiom with DERIVED weights) falls
    * under its source's threshold.
    *
    * α = ½ specifically because √ is IEEE-correctly-rounded in every
    * engine (general pow is not), so the oracle reproduces thresholds
    * bit-for-bit. Scale shape: source stats are one tiny aggregate
    * broadcast back; the keep test is a narrow projection. */
  def temperatureMixture(df: DataFrame, sourceCol: String, idCol: String,
                         targetFrac: Double): DataFrame = {
    val stats = df.groupBy(col(sourceCol))
      .agg(count(lit(1)).cast("double").as("n_s"))
    val tot = stats.agg(sum(sqrt(col("n_s"))).as("z"),
      sum(col("n_s")).as("n"))
    val thr = stats.crossJoin(broadcast(tot))
      .withColumn("t_s", least(lit(256.0),
        floor(lit(256.0) * lit(targetFrac) * col("n") * sqrt(col("n_s"))
          / col("z") / col("n_s"))))
      .select(col(sourceCol), col("t_s"))
    val bucket = conv(substring(
      md5(concat(lit("tmix:"), col(idCol).cast("string")).cast("binary")),
      1, 2), 16, 10).cast("long")
    df.join(broadcast(thr), Seq(sourceCol))
      .where(bucket < col("t_s"))
      .drop("t_s")
  }

  /** GPT-style sequence packing by concat-then-chunk: documents are laid
    * out in deterministic id order within `shards` independent shards,
    * token counts accumulate, and a document's training sequence is its
    * START OFFSET divided by the token budget (documents straddling a
    * boundary continue into the next sequence — the standard pretraining
    * packing, not bin packing). Output per doc:
    * (id, shard, seq_id, seq_offset) with seq_offset ∈ [0, budget).
    *
    * Scale shape: one shuffle on the shard key, then a per-shard
    * running sum — shard count sets the parallelism (a 1000-executor run
    * uses thousands of shards; each shard's scan is linear and
    * shuffle-free). The global-order variant (shards=1) exists only for
    * tests. */
  def packSequences(docs: DataFrame, idCol: String, tokenCol: Column,
                    budget: Int, shards: Int): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs
      .withColumn("n_tokens", tokenCol.cast("long"))
      .withColumn("shard", pmod(col(idCol), lit(shards)).cast("long"))
      .withColumn("cum", sum(col("n_tokens")).over(w))
      .withColumn("start", col("cum") - col("n_tokens"))
      .select(col(idCol),
        col("shard"),
        // integer div, not `/`: long÷int routes through double, whose
        // rounding near 2^53 cumulative tokens would corrupt the floor
        expr(s"start div $budget").as("seq_id"),
        (col("start") % budget).cast("long").as("seq_offset"))
  }

  /** Whole-document BIN PACKING — the no-truncation counterpart of
    * [[packSequences]] (which concatenates then chunks, splitting
    * documents at sequence boundaries): each document lands WHOLE in a
    * bin of ≤ `budget` tokens via the next-fit rule — docs in id order
    * per shard, a doc that fits joins the current bin, otherwise a new
    * bin opens (an oversized doc occupies its own bin). Next-fit is the
    * deterministic streaming-order discipline — first-fit-decreasing
    * packs tighter but needs a global sort by size and loses id-order
    * locality.
    *
    * The running (bin, used) state is a sequential scan per shard —
    * not a prefix sum (the reset on overflow breaks associativity), so
    * this is genuine per-partition imperative logic: one hash exchange
    * on the shard key + per-partition sort + a narrow `mapPartitions`
    * over fixed-width (shard, id, tokens) rows. Shard count sets
    * parallelism, exactly as in [[packSequences]].
    * Output: (idCol, shard, bin_id, n_tokens). */
  def binPack(docs: DataFrame, idCol: String, tokenCol: Column,
              budget: Int, shards: Int): DataFrame = {
    require(budget > 0 && shards > 0,
      s"need positive budget/shards, got $budget/$shards")
    val spark = docs.sparkSession
    import spark.implicits._
    val narrow = docs
      .select(pmod(col(idCol), lit(shards)).cast("long").as("shard"),
        col(idCol).cast("long").as("id"),
        tokenCol.cast("long").as("t"))
      .as[(Long, Long, Long)]
    val packed = narrow
      .repartition(col("shard"))
      .sortWithinPartitions("shard", "id")
      .mapPartitions { it =>
        var curShard = Long.MinValue
        var bin = 0L
        var used = 0L
        var any = false
        it.map { case (sh, id, t) =>
          if (sh != curShard) { curShard = sh; bin = 0L; used = 0L; any = false }
          if (any && used + t > budget) { bin += 1L; used = 0L }
          used += t
          any = true
          (sh, id, bin, t)
        }
      }
      .toDF("shard", "id", "bin_id", "n_tokens")
    packed.select(col("id").as(idCol), col("shard"), col("bin_id"),
      col("n_tokens"))
  }

  /** Overlapping token-window chunking — the retrieval/embedding
    * preprocessing step: each document yields windows of `windowTokens`
    * tokens starting every `stride` tokens (the tail window may be
    * short; every token is covered). One narrow explode per document —
    * no shuffle at any scale; downstream embedding generation
    * parallelizes over (doc_id, chunk_id).
    * Output: (idCol, chunk_id, chunk_text, n_chunk_tokens). */
  def chunk(docs: DataFrame, idCol: String, textCol: String,
            windowTokens: Int, stride: Int): DataFrame = {
    require(windowTokens > 0 && stride > 0 && stride <= windowTokens,
      s"need 0 < stride <= windowTokens, got $stride/$windowTokens")
    docs
      .withColumn("__toks", split(col(textCol), " "))
      .withColumn("__nt", size(col("__toks")).cast("long"))
      .withColumn("chunk_id",
        explode(sequence(lit(0L), expr(s"(__nt + $stride - 1) div $stride - 1"))))
      .withColumn("__chunk",
        slice(col("__toks"), (col("chunk_id") * stride + 1).cast("int"),
          lit(windowTokens)))
      .select(col(idCol), col("chunk_id"),
        array_join(col("__chunk"), " ").as("chunk_text"),
        size(col("__chunk")).cast("long").as("n_chunk_tokens"))
  }

  /** The distinct word-n-gram fingerprints of a text column: md5 of each
    * n-token window joined by a single space. md5-of-string (not an
    * engine-specific hash) so any SQL engine reproduces the keys
    * byte-for-byte. Codegen'd narrow expression; empty array when the
    * document is shorter than n tokens (the `when` guard matters:
    * sequence(1, 0) would DESCEND, not return empty). */
  def ngramFingerprints(textCol: Column, n: Int): Column = {
    val toks = split(textCol, " ")
    val m = size(toks) - lit(n - 1)
    array_distinct(when(m >= 1,
      transform(sequence(lit(1), m),
        i => md5(array_join(slice(toks, i, lit(n)), " "))))
      .otherwise(array().cast("array<string>")))
  }

  /** Benchmark decontamination (GPT-3 §C / PaLM-style): flag every
    * training document sharing at least one word n-gram with the
    * benchmark corpus. Output: (idCol, n_hits) per contaminated doc,
    * where n_hits = number of DISTINCT n-grams of the doc that occur
    * anywhere in the benchmark.
    *
    * Scale shape: the benchmark side collapses to a DISTINCT fingerprint
    * set (benchmark-sized — eval suites are tiny next to a 100 TB
    * corpus), MATERIALIZED once (localCheckpoint), COUNTED, and
    * broadcast only when the measured size allows (the
    * [[graft.pipeline.Dedup]] dupWindowHashes discipline) — below the
    * bound the train side never shuffles its n-grams; an eval corpus
    * that outgrows broadcast falls back to the fingerprint shuffle join
    * instead of failing the BroadcastExchange (8 GB / 512M-row hard
    * limits, driver OOM). Either way the train side is one narrow
    * explode of per-doc distinct fingerprints, a candidate-sized join,
    * and a doc-keyed count — fixed-width rows, never text. */
  def decontaminate(train: DataFrame, bench: DataFrame, idCol: String,
                    textCol: String, n: Int): DataFrame =
    graft.functions.PlanShape.fanOut(train)
      .select(col(idCol), explode(ngramFingerprints(col(textCol), n)).as("g"))
      .join(benchGramSet(bench, textCol, n), "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))

  /** BLOOM-prefiltered decontamination — [[decontaminate]]'s 100 TB
    * broadcast-bytes lever, with IDENTICAL output. The broadcast-join
    * form ships the whole benchmark gram set to every executor (~1 GB
    * of md5 strings at the 10M-gram bound — ~1 TB of network on a
    * 1000-executor cluster, plus a 1 GB hash map per executor's heap).
    * This form ships a ~`bitsPerGram`-bit-per-gram BIT ARRAY instead
    * (10M grams × 16 b = 20 MB, 50× smaller) as a plan-literal word
    * array, probes it in the scan projection (codegen
    * `Kernels.bloomHit`, no false negatives), and EXACT-verifies only
    * the flagged grams (true hits + the ~0.05%-at-16b false-positive
    * trickle) against the true set — a candidate-sized join, so the
    * bulky relation is never broadcast and the shuffle carries
    * candidates only. False positives die in the verify join; false
    * negatives don't exist ⇒ output ≡ [[decontaminate]] row for row
    * (the gate runs both against ONE oracle).
    *
    * The filter builds from the grams' own Spark-side xxhash64 values
    * (one benchmark-sized collect — eval suites are the k-means-sample
    * residency class), capped loudly at 2^31 bits (256 MB) — an eval
    * corpus beyond ~130M grams at 16 b/gram should use the shuffle
    * form instead. */
  def decontaminateBloom(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int, bitsPerGram: Int = 16,
                         numHashes: Int = 7): DataFrame = {
    require(bitsPerGram >= 1 && numHashes >= 1,
      s"bad bloom shape: bitsPerGram=$bitsPerGram numHashes=$numHashes")
    val spark = train.sparkSession
    import spark.implicits._
    val benchGrams = bench
      .select(explode(ngramFingerprints(col(textCol), n)).as("g"))
      .distinct()
      .localCheckpoint()
    val cnt = math.max(benchGrams.count(), 1L)
    val bits = cnt * bitsPerGram
    require(bits <= (1L << 31),
      s"bloom filter would need $bits bits (> 2^31) — use decontaminate's " +
        "shuffle join for an eval corpus this large")
    val words = new Array[Long](((bits + 63L) >>> 6).toInt.max(1))
    benchGrams.select(xxhash64(col("g"))).as[Long].collect()
      .foreach(h => graft.functions.Kernels.bloomSet(words, numHashes, h))
    val flagged = graft.functions.PlanShape.fanOut(train)
      .select(col(idCol), explode(ngramFingerprints(col(textCol), n)).as("g"))
      .where(graft.functions.FastFunctions.bloomHitF(
        graft.functions.FastFunctions.litLongs(words),
        lit(numHashes), xxhash64(col("g"))))
    // exact verification: candidate-sized both sides, never broadcast
    // of the full gram relation
    flagged.join(benchGrams, "g")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"))
  }

  /** The benchmark's DISTINCT window-fingerprint set, MATERIALIZED once
    * and broadcast only when the measured size allows (≤ 10M md5-string
    * rows ≈ 1 GB as a broadcast hash map — Catalyst has no size
    * estimate for a derived aggregate and would otherwise plan the
    * shuffle join even for a tiny benchmark; above the bound the
    * shuffle join is correct). Shared by the three decontamination
    * operators. */
  private def benchGramSet(bench: DataFrame, textCol: String,
                           n: Int): DataFrame = {
    val grams = bench
      .select(explode(ngramFingerprints(col(textCol), n)).as("g"))
      .distinct()
      .localCheckpoint()
    if (grams.count() <= 10000000L) broadcast(grams) else grams
  }

  /** Per-window fingerprints WITH positions — (idCol, pos, g) where
    * `pos` is the 0-based index of the window's first token. The
    * positional sibling of [[ngramFingerprints]] (same md5 keys, NOT
    * deduplicated — spans need every occurrence). */
  private def windowFingerprints(df: DataFrame, idCol: String,
                                 textCol: String, n: Int): DataFrame = {
    val toks = split(col(textCol), " ")
    val m = size(toks) - lit(n - 1)
    df.select(col(idCol),
      posexplode(when(m >= 1, transform(sequence(lit(1), m),
          i => md5(array_join(slice(toks, i, lit(n)), " "))))
        .otherwise(array().cast("array<string>"))).as(Seq("pos", "g")))
  }

  /** Span-level decontamination REPORT — WHERE the benchmark text sits
    * inside each training document, not just that it does
    * ([[decontaminate]] flags whole documents): every token covered by
    * a benchmark-matching n-token window, merged into maximal
    * contiguous spans (gaps-and-islands). The eval-before-release audit
    * artifact: reviewers read spans, not boolean flags. Output one row
    * per span: (idCol, span_start, span_end, span_tokens) — 0-based
    * inclusive token indexes.
    *
    * Scale shape: the benchmark side is the shared measured-broadcast
    * gram set; the train side is one narrow positional explode and a
    * candidate-sized join — only MATCHED windows explode into covered
    * positions, and the island window is bounded by one document's
    * coverage, never the corpus. */
  def decontaminateSpans(train: DataFrame, bench: DataFrame, idCol: String,
                         textCol: String, n: Int): DataFrame = {
    // fan-out before the positional window-fingerprint explode (the
    // [[decontaminate]] discipline — round-15 job profile: the explode
    // ran as ONE 1.8 s task on a single-split source)
    val covered = windowFingerprints(graft.functions.PlanShape.fanOut(train),
        idCol, textCol, n)
      .join(benchGramSet(bench, textCol, n), "g")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("idx"))
      .distinct()
    val w = Window.partitionBy(col(idCol)).orderBy(col("idx"))
    covered
      .withColumn("__isl", col("idx") - row_number().over(w))
      .groupBy(col(idCol), col("__isl"))
      .agg(min(col("idx")).cast("long").as("span_start"),
        max(col("idx")).cast("long").as("span_end"),
        count(lit(1)).as("span_tokens"))
      .select(col(idCol), col("span_start"), col("span_end"),
        col("span_tokens"))
  }

  /** Span-level decontamination REMOVAL — cut every benchmark-covered
    * token and reassemble the document from the survivors (the
    * [[graft.pipeline.Dedup.removeDuplicateSpans]] strip idiom pointed
    * at an external benchmark instead of the corpus itself): what a
    * pipeline DOES about contamination when dropping whole documents
    * wastes too much clean text. Untouched documents pass through
    * VERBATIM (no retokenization); fully-covered documents keep an
    * empty clean_text — dropping them is the caller's decision. Output:
    * (idCol, clean_text, n_tokens_removed) for EVERY training row.
    * `broadcastMaxRows`/`broadcastMaxElems` cap the measured drop-side
    * broadcast (≈ 1 GB at the defaults); lower them on
    * memory-constrained deployments. */
  def removeContaminatedSpans(train: DataFrame, bench: DataFrame,
                              idCol: String, textCol: String,
                              n: Int,
                              broadcastMaxRows: Long = 10000000L,
                              broadcastMaxElems: Long = 100000000L)
      : DataFrame = {
    val toks = split(col(textCol), " ")
    // fan-out before the positional explode (the decontaminateSpans
    // rationale); the strip pass below keeps the un-fanned `train` —
    // its per-row work is one gap-slice projection, not gram hashing
    val dropIdx = windowFingerprints(graft.functions.PlanShape.fanOut(train),
        idCol, textCol, n)
      .join(benchGramSet(bench, textCol, n), "g")
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("idx"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_set(col("idx"))).as("__drop"))
    // Measured join-side strategy (Dedup.measuredDropSide — broadcast
    // when the contamination-fraction side is provably small in rows
    // AND elements, shuffle-hash otherwise): unaided Catalyst
    // sort-merges against the unsized aggregate, SORTING the
    // corpus-sized text relation (the 100M probe read 674 s; fixed
    // 530 s — the residual over 10M-linear is the probe's synthetic
    // input regenerating per scan, a 195 s bare generation pass, and
    // the operator necessarily passes the text twice: fingerprints,
    // then strip).
    train.join(Dedup.measuredDropSide(dropIdx, "__drop",
        broadcastMaxRows, broadcastMaxElems), Seq(idCol), "left")
      .select(col(idCol),
        when(col("__drop").isNull, col(textCol))
          // linear gap-slice strip (O(tokens + drops) per doc) — the
          // per-token array_contains filter was O(tokens × drops)
          .otherwise(Dedup.stripTokenIndexes(toks, col("__drop")))
          .as("clean_text"),
        when(col("__drop").isNull, lit(0)) // size(NULL) is -1 pre-ANSI
          .otherwise(size(col("__drop"))).cast("long")
          .as("n_tokens_removed"))
  }

  /** Per-group RANK normalization: each row's score replaced by its
    * percentile rank within its group, in integer basis points —
    * rank_bp = ⌊10000·(rank−1)/(n_group−1)⌋ (0 for the group minimum,
    * 10000 for the maximum, 5000 for a singleton). The cross-source
    * score calibration step: classifier/heuristic quality scores are
    * not comparable across domains (a "0.8" from a news model and a
    * code model mean different things), but their within-source ranks
    * are — rank-normalize, THEN threshold or mixture-sample globally.
    * Ties share the minimum rank (SQL `rank()` semantics), so equal
    * scores get equal normalized values regardless of id — exact and
    * engine-reproducible. One window per group — each group's FULL
    * corpus slice sorts in one task; use [[rankNormalizeHist]] at scale
    * (exactly equal output from a domain-sized histogram).
    * Output: input + rank_bp. */
  def rankNormalize(df: DataFrame, groupCol: String,
                    scoreCol: String): DataFrame = {
    val reserved = df.columns
      .filter(c => c == "rank_bp" || c.startsWith("__rn_"))
    require(reserved.isEmpty,
      s"rankNormalize reserves rank_bp and the __rn_ prefix; rename " +
        s"input column(s) ${reserved.mkString(", ")} first")
    val w = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
    val n = Window.partitionBy(col(groupCol))
    // rank() is IntegerType: the product MUST widen to long FIRST —
    // `10000 * (rank - 1)` in int arithmetic wraps once a group
    // exceeds ~214,749 rows (found by the round-12 100M probe, where
    // the window form's rank_bp sum read 7.6M against the hist twin's
    // correct 5.0e11; non-ANSI mode wraps silently)
    df.withColumn("__rn_rank", rank().over(w).cast("long"))
      .withColumn("__rn_n", count(lit(1)).over(n))
      .withColumn("rank_bp",
        when(col("__rn_n") === 1, lit(5000L)).otherwise(
          expr("(10000 * (__rn_rank - 1)) div (__rn_n - 1)")))
      .drop("__rn_rank", "__rn_n")
  }

  /** The 100 TB twin of [[rankNormalize]]: IDENTICAL output (same
    * `rank()` min-tie semantics, same basis-point arithmetic), but the
    * rank comes from a per-(group, score) HISTOGRAM instead of a
    * group-partitioned window over the corpus — a score class's rank is
    * its cumulative count minus its own count plus one, which IS SQL
    * `rank()` (every tie shares the minimum rank), so the two paths are
    * exactly equal whenever the cardinality contract holds; there is no
    * frontier divergence to document. The cumulative window runs over
    * the DISTINCT score values per group (domain-sized, never the
    * corpus — the [[equalFreqBucket]] shape), and the scores rejoin the
    * corpus through a (group, score)-keyed join (null-safe, so null
    * scores rank like the window's nulls-first) that AQE broadcasts
    * when the histogram is small.
    *
    * CARDINALITY CONTRACT (loud, inherited from [[equalFreqBucket]]):
    * ≤ `maxDistinct` distinct score values per group, asserted in-plan —
    * raw high-cardinality scores (nanosecond timestamps) would rebuild
    * the giant-group window this twin exists to kill; quantize upstream
    * (`score div g`) first. */
  def rankNormalizeHist(df: DataFrame, groupCol: String, scoreCol: String,
                        maxDistinct: Long = 4L << 20): DataFrame = {
    val reserved = df.columns
      .filter(c => c == "rank_bp" || c.startsWith("__rn_"))
    require(reserved.isEmpty,
      s"rankNormalizeHist reserves rank_bp and the __rn_ prefix; rename " +
        s"input column(s) ${reserved.mkString(", ")} first")
    val hist = df.groupBy(col(groupCol), col(scoreCol))
      .agg(count(lit(1)).as("__rn_c"))
    val wCum = Window.partitionBy(col(groupCol)).orderBy(col(scoreCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = Window.partitionBy(col(groupCol))
    val ranks = hist
      .withColumn("__rn_cum", sum(col("__rn_c")).over(wCum))
      .withColumn("__rn_n", sum(col("__rn_c")).over(wTot))
      .withColumn("__rn_nd", count(lit(1)).over(wTot))
      .where(assert_true(col("__rn_nd") <= maxDistinct,
        lit(s"rankNormalizeHist: more than $maxDistinct distinct score " +
          s"values in one group — quantize the score upstream " +
          s"(score div g) before histogram ranking")).isNull)
      .select(col(groupCol).as("__rn_g"), col(scoreCol).as("__rn_s"),
        when(col("__rn_n") === 1, lit(5000L)).otherwise(
          expr("(10000 * (__rn_cum - __rn_c)) div (__rn_n - 1)"))
          .as("rank_bp"))
    df.join(ranks,
        col(groupCol) <=> col("__rn_g") && col(scoreCol) <=> col("__rn_s"))
      .drop("__rn_g", "__rn_s")
  }

  /** Cross-source contamination matrix: for every PAIR of sources, the
    * number of DISTINCT word n-gram fingerprints they share — the
    * corpus-health diagnostic run before mixing sources (a high overlap
    * cell means "independent" sources duplicate each other, inflating
    * effective epochs and leaking across source-weighted splits).
    * Machinery: the [[decontaminate]] fingerprint relation keyed by
    * source (distinct fixed-width md5 rows), self-joined on the
    * fingerprint with src_a < src_b. The join is bucketed by the
    * fingerprint; each gram contributes at most |sources|²/2 pairs —
    * source-count-bounded, never corpus². Output:
    * (src_a, src_b, n_shared), only pairs with overlap. */
  def sourceOverlapMatrix(df: DataFrame, sourceCol: String,
                          textCol: String, n: Int): DataFrame = {
    // ONE corpus exchange: the up-front gram-keyed repartition (data-
    // sized width) satisfies the (src, g) distinct via subset
    // partitioning AND lands on exactly the self-join's equi-key, so
    // neither plans its own exchange — previously three corpus-sized
    // exchanges. (The 1M probe only moves 30.8 → 28.4 s because the
    // md5 fingerprint projection dominates there; the exchange count
    // is what matters at cluster scale, where the network is the
    // scarce resource.)
    val raw = graft.functions.PlanShape.fanOut(df)
      .select(col(sourceCol).as("src"),
        explode(ngramFingerprints(col(textCol), n)).as("g"))
    val g = raw
      .repartition(graft.functions.PlanShape.dataSizedParts(raw), col("g"))
      .distinct()
    g.as("a").join(g.as("b"),
        col("a.g") === col("b.g") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Deterministic weighted source mixture: keep a row iff its md5
    * bucket (256 buckets over the row id) falls under its group's
    * threshold — sampling is a pure function of the id, so the mixture
    * is stable under reruns, repartitions, and appends (no RNG state, no
    * global count), and composes with [[hashSplit]] because the two
    * hash DIFFERENT strings (prefixed vs raw id). One narrow filter.
    * Weights are in 256ths (keep ≈ w/256 of the group). */
  def mixtureSample(df: DataFrame, groupCol: String, idCol: String,
                    weights256: Map[String, Int]): DataFrame = {
    require(weights256.values.forall(w => w >= 0 && w <= 255),
      "per-group weights are w/256 with w in 0..255; omit a group to keep it whole")
    def hex(w: Int): String = f"$w%02x"
    val b = substring(
      md5(concat(lit("mix:"), col(idCol).cast("string")).cast("binary")), 1, 2)
    // bucket < per-group threshold, both 2-char lowercase hex — byte-wise
    // string compare, identical in any engine; unlisted groups pass whole
    val keep = weights256.foldLeft(lit(true)) {
      case (acc, (g, w)) => when(col(groupCol) === g, b < hex(w)).otherwise(acc)
    }
    df.where(keep)
  }

  /** CURRICULUM sampling by score quantile: rank rows into
    * `bucketWeights.length` equal-population buckets by `scoreCol`
    * (ascending; ties broken by the id for a deterministic frontier)
    * and keep w/256 of bucket i by the [[mixtureSample]] md5 idiom —
    * "sample more of the high-quality tail, keep a thin slice of the
    * rest", the quality-curriculum primitive over any score (bigram-LM
    * fit, NB posterior, quality signals). The ntile window is ONE
    * GLOBAL SORT — every row through one task — so this exact path is
    * for sub-corpus inputs only; at scale use
    * [[curriculumSampleApprox]], the same contract over histogram
    * boundaries (frontier rows may land one bucket over — the
    * documented trade). Selection stays a pure function of
    * (id, bucket): rerun/repartition-stable.
    * Output: input rows + (bucket) for the survivors. */
  def curriculumSample(df: DataFrame, scoreCol: String, idCol: String,
                       bucketWeights: Seq[Int]): DataFrame = {
    require(bucketWeights.nonEmpty &&
      bucketWeights.forall(w => w >= 0 && w <= 255),
      "bucket weights are w/256 with w in 0..255, lowest-score bucket first")
    def hex(w: Int): String = f"$w%02x"
    val w = Window.orderBy(col(scoreCol), col(idCol))
    val b = substring(
      md5(concat(lit("cur:"), col(idCol).cast("string")).cast("binary")), 1, 2)
    val thresh = bucketWeights.zipWithIndex.foldLeft(lit("00")) {
      case (acc, (wt, i)) =>
        when(col("bucket") === (i + 1), lit(hex(wt))).otherwise(acc)
    }
    df.withColumn("bucket",
        ntile(bucketWeights.length).over(w).cast("long"))
      .where(b < thresh)
  }

  /** Equal-frequency bucket assignment WITHOUT a corpus-row sort — the
    * 100 TB-shaped twin of an `ntile` window. Shape: ONE mergeable
    * aggregate builds an integer histogram over the DISTINCT score
    * values (per group when `groupCols` is non-empty), a cumulative
    * window runs over that histogram — domain-sized, never row-sized;
    * integer fixed-point scores bound it by construction — and the
    * k−1 boundary scores (min/max score whose cumulative count reaches
    * i·n/k, in exact integer arithmetic `k·cum ≥ i·n`) are broadcast
    * back as a per-group array. Bucket = 1 + #(boundaries strictly
    * inside the score), so every row of a score-tie class lands in the
    * SAME bucket — the one documented divergence from `ntile`, which
    * splits boundary ties by id: populations are equal only up to the
    * straddling tie class (plus ntile's remainder placement). No value
    * ever reaches the driver; everything is plan-side and
    * engine-portable (the DuckDB oracle replays the identical integer
    * histogram).
    *
    * CARDINALITY CONTRACT (loud): the unpartitioned cumulative window
    * is bounded by the DISTINCT cast-long score values per group — the
    * whole point of this twin is that the window runs over a
    * domain-sized histogram, never the corpus. A raw high-cardinality
    * score (nanosecond timestamps, unique hashes) would silently
    * rebuild the corpus-sized single-task window this function exists
    * to kill, so the plan itself asserts ≤ `maxDistinct` histogram rows
    * per group (`assert_true`, fails the job with a pointer here).
    * Callers with unbounded-domain scores coarsen the score column
    * upstream (e.g. `score div g` — [[curriculumSampleApprox]]'s
    * `quantize` knob). `descending=true` ranks high scores into
    * bucket 1. k == 1 short-circuits to a constant bucket (there are
    * no boundaries; the join path would otherwise drop every row). */
  private[graft] def equalFreqBucket(df: DataFrame, scoreCol: String,
      groupCols: Seq[String], k: Int, descending: Boolean,
      maxDistinct: Long = 4L << 20): DataFrame = {
    require(k >= 1, s"equalFreqBucket: need k >= 1, got $k")
    if (k == 1) return df.withColumn("bucket", lit(1L))
    val grp = groupCols.map(col)
    val hist = df
      .groupBy((grp :+ col(scoreCol).cast("long").as("__s")): _*)
      .agg(count(lit(1)).as("__c"))
    val ord = if (descending) col("__s").desc else col("__s").asc
    val wCum = (if (groupCols.isEmpty) Window.orderBy(ord)
                else Window.partitionBy(grp: _*).orderBy(ord))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wTot = if (groupCols.isEmpty) Window.partitionBy()
               else Window.partitionBy(grp: _*)
    val cum = hist
      .withColumn("__cum", sum(col("__c")).over(wCum))
      .withColumn("__n", sum(col("__c")).over(wTot))
      // the loud cardinality contract: rides the wTot window already
      // being computed, so the guard costs nothing extra; assert_true
      // raises in any ANSI mode (window functions can't sit in WHERE,
      // hence the intermediate column)
      .withColumn("__nd", count(lit(1)).over(wTot))
      .where(assert_true(col("__nd") <= maxDistinct,
        lit(s"equalFreqBucket: more than $maxDistinct distinct score " +
          s"values in one group — quantize the score upstream " +
          s"(score div g) before histogram bucketing")).isNull)
    val bounds = cum
      .withColumn("__i", explode(array((1 until k).map(lit(_)): _*)))
      .where(col("__cum") * k >= col("__i") * col("__n"))
      .groupBy((grp :+ col("__i")): _*)
      .agg((if (descending) max(col("__s")) else min(col("__s"))).as("__b"))
    val bArr =
      if (groupCols.isEmpty) bounds.groupBy().agg(collect_list(col("__b")).as("__bs"))
      else bounds.groupBy(grp: _*).agg(collect_list(col("__b")).as("__bs"))
    val joined =
      if (groupCols.isEmpty) df.crossJoin(broadcast(bArr))
      else df.join(broadcast(bArr), groupCols)
    val cmp = if (descending) "<" else ">"
    joined
      .withColumn("bucket", expr(
        s"1 + aggregate(__bs, 0, (a, x) -> " +
        s"a + if(cast(`$scoreCol` as bigint) $cmp x, 1, 0))").cast("long"))
      .drop("__bs")
  }

  /** The 100 TB path of [[curriculumSample]]: identical md5 keep rule
    * and bucket-weight contract, but buckets come from
    * [[equalFreqBucket]]'s histogram boundaries instead of a global
    * `ntile` sort — no corpus-sized single-task window anywhere in the
    * plan. Divergence vs the exact path is confined to boundary
    * FRONTIER rows: a score-tie class straddling a boundary stays
    * whole here (ntile splits it by id), and ntile's remainder rows
    * (n mod k, one per early bucket) may sit one bucket over. Both
    * paths select by the same pure function of (id, bucket), so any
    * row bucketed identically is kept identically.
    *
    * CARDINALITY CONTRACT (inherited from [[equalFreqBucket]], loud):
    * the histogram window is bounded by the DISTINCT cast-long score
    * values — fine for fixed-point quality scores (×1e6 LM scores have
    * ≤ 1e6 values), WRONG for raw high-cardinality scores (nanosecond
    * timestamps, unique hashes), which would rebuild the corpus-sized
    * single-task window this path exists to kill. Such callers pass
    * `quantize` > 1: scores are floor-divided by it BEFORE the
    * histogram (the `generalized` coarsening rule — order-preserving,
    * so buckets stay equal-frequency up to the tie classes `quantize`
    * introduces). Left at 1, a score exceeding the histogram bound
    * fails loudly in-plan rather than degrading. */
  def curriculumSampleApprox(df: DataFrame, scoreCol: String, idCol: String,
                             bucketWeights: Seq[Int],
                             quantize: Long = 1L): DataFrame = {
    require(bucketWeights.nonEmpty &&
      bucketWeights.forall(w => w >= 0 && w <= 255),
      "bucket weights are w/256 with w in 0..255, lowest-score bucket first")
    require(quantize >= 1L, s"quantize must be >= 1, got $quantize")
    def hex(w: Int): String = f"$w%02x"
    val reserved = df.columns.filter(_ == "__q")
    require(reserved.isEmpty || quantize == 1L,
      "curriculumSampleApprox reserves __q when quantize > 1; rename it")
    // exact integer FLOOR division (pmod is non-negative, so the
    // subtraction makes the numerator divisible): engine-portable,
    // no double round-trip for 64-bit scores
    val (scored, effScore) =
      if (quantize == 1L) (df, scoreCol)
      else (df.withColumn("__q", expr(
        s"(cast(`$scoreCol` as bigint) - pmod(cast(`$scoreCol` as bigint), " +
          s"${quantize}L)) div ${quantize}L")), "__q")
    // drop __q only when THIS function added it — at quantize == 1 a
    // caller's own __q column (permitted by the require above) survives
    val bucketed0 = equalFreqBucket(scored, effScore, Seq.empty,
      bucketWeights.length, descending = false)
    val bucketed = if (quantize == 1L) bucketed0 else bucketed0.drop("__q")
    val b = substring(
      md5(concat(lit("cur:"), col(idCol).cast("string")).cast("binary")), 1, 2)
    val thresh = bucketWeights.zipWithIndex.foldLeft(lit("00")) {
      case (acc, (wt, i)) =>
        when(col("bucket") === (i + 1), lit(hex(wt))).otherwise(acc)
    }
    bucketed.where(b < thresh)
  }

  /** DUPLICATION-AWARE downsampling — the consumer
    * [[graft.pipeline.Dedup.duplicationDegree]]'s output is for: each
    * document survives with probability ⌊256/(1+degree)⌋/256, so a
    * cluster of d+1 near-identical documents contributes ~1 expected
    * survivor while unique text (degree 0) passes whole — flattening
    * boilerplate without hard-dropping it. Deterministic pure function
    * of the row id (the same md5-bucket idiom as [[mixtureSample]]):
    * stable under reruns and appends, no RNG, no extra shuffle beyond
    * the degree join (fixed-width rows, broadcastable below corpus
    * scale). Degrees ≥ 256 floor to keep-probability 0 — compose with a
    * [[graft.pipeline.Dedup.dropList]] keeper if every cluster must
    * retain at least one survivor. `degrees` is (idCol, n_dups). */
  def degreeWeightedSample(docs: DataFrame, degrees: DataFrame,
                           idCol: String = "doc_id"): DataFrame = {
    // integer floor both here and in any SQL twin (`256 // (n+1)`) —
    // a rounding cast would disagree at exact .5 fractions
    val w = (lit(256) / (col("n_dups") + 1)).cast("int")
    val b = substring(
      md5(concat(lit("dw:"), col(idCol).cast("string")).cast("binary")), 1, 2)
    docs.join(degrees, Seq(idCol))
      .where(col("n_dups") === 0 || b < format_string("%02x", w))
      .drop("n_dups")
  }

  /** Deterministic EXACT-n uniform sample: the n smallest md5 race keys
    * over ('es:<seed>:' || id). A pure function of (seed, id) like
    * [[hashSplit]] — rerun/repartition-stable, re-drawable by seed —
    * but with an exact output size, which fraction-based bucket
    * sampling cannot promise. The global "sort" is a bounded
    * TakeOrderedAndProject (per-partition top-n heap, n-row driver
    * merge), never a full shuffle, so exact-n stays cheap at corpus
    * scale. Ties (md5 collisions) break on the id. */
  def exactSample(df: DataFrame, idCol: String, n: Int,
                  seed: Long): DataFrame = {
    require(n >= 0, s"exactSample: negative n $n")
    df.withColumn("__es_rk",
        md5(concat(lit(s"es:$seed:"), col(idCol).cast("string"))
          .cast("binary")))
      .orderBy(col("__es_rk"), col(idCol))
      .limit(n)
      .drop("__es_rk")
  }

  /** Exact per-group stratified sampling: from each group, the `n_g`
    * smallest md5 race keys — the row-level materialization of a
    * [[mixtureBudget]]-style plan (quotas in, exactly-that-many rows
    * out, per group). `quotas` is (groupCol, n) — metadata-sized. Same
    * determinism contract as [[exactSample]] (pure function of (seed,
    * id); ties on id); the rank window partitions by group — and
    * because the quota bound is a COLUMN (per-group n), Spark's
    * WindowGroupLimit rewrite does NOT apply (plan-verified: literal
    * bounds get the map-side cut, dynamic bounds do not), so each
    * group's whole corpus fraction genuinely sorts in one task: use
    * [[stratifiedSampleTopK]] at scale. The quota join broadcasts the
    * metadata-sized table. */
  def stratifiedSample(df: DataFrame, groupCol: String, idCol: String,
                       quotas: DataFrame, seed: Long): DataFrame = {
    val rk = md5(concat(lit(s"ss:$seed:"), col(idCol).cast("string"))
      .cast("binary"))
    val w = Window.partitionBy(col(groupCol)).orderBy(col("__ss_rk"), col(idCol))
    df.withColumn("__ss_rk", rk)
      .join(broadcast(quotas.select(col(groupCol), col("n"))), Seq(groupCol))
      .withColumn("__ss_rn", row_number().over(w))
      .where(col("__ss_rn") <= col("n"))
      .drop("__ss_rk", "__ss_rn", "n")
  }

  /** The 100 TB twin of [[stratifiedSample]]: identical per-group md5
    * race and quota contract, but the per-group cut is the bounded
    * top-k aggregate (k = the LARGEST quota, uniform across groups —
    * the aggregator's k is plan-time) with the per-group quota applied
    * to the winners' ranks afterwards, so each task keeps ≤ kMax
    * candidates per group and the shuffle carries ≤ kMax·|groups|
    * fixed-width rows — no group ever sorts in one task. The quota
    * table is metadata-sized by contract ([[mixtureBudget]] precedent),
    * so collecting max(n) on the driver and broadcasting the quotas is
    * free; rows whose group has no quota are pre-filtered (the exact
    * form's inner join), so un-quota'd groups never reach the
    * aggregate.
    *
    * Divergence contract vs [[stratifiedSample]]: the race key is the
    * 52-bit md5 prefix ([[racePrefix52]]) — ties within the first 13
    * hex chars break by id (~n²/2⁵³ per group). `idCol` must be
    * integral. Quota SKEW caveat: every group's aggregate heap is
    * sized by the LARGEST quota, so one 10⁹ quota among 10-row quotas
    * makes every task carry 10⁹-entry states — split wildly-skewed
    * quota tables into bands and union the calls. */
  def stratifiedSampleTopK(df: DataFrame, groupCol: String, idCol: String,
                           quotas: DataFrame, seed: Long): DataFrame = {
    val q = quotas.select(col(groupCol), col("n").cast("int").as("n"))
      .localCheckpoint()
    val kMaxRow = q.agg(max(col("n"))).head()
    if (kMaxRow.isNullAt(0) || kMaxRow.getInt(0) <= 0)
      return df.where(lit(false))
    val kMax = kMaxRow.getInt(0)
    val pre = df.join(broadcast(q.select(col(groupCol))), Seq(groupCol),
      "left_semi")
    val winners = pre
      .groupBy(col(groupCol))
      .agg(graft.query.TopKAggregator.topK(kMax)(
        racePrefix52(s"ss:$seed:", idCol), col(idCol)).as("__hits"))
      .select(col(groupCol),
        posexplode(col("__hits").getField("id")).as(Seq("__pos", "__win_id")))
      .join(broadcast(q), Seq(groupCol))
      .where(col("__pos") < col("n"))
      .select(col("__win_id"))
    df.join(winners, col(idCol).cast("long") === col("__win_id"),
      "left_semi")
  }

  /** Single-task sort ceiling for DYNAMIC-quota windows: above this
    * max-group size the window form (no WindowGroupLimit possible)
    * sorts a whole group in one task and the top-k twin wins (measured
    * 2.1× at 100M/8 groups — [[SamplerStrategy]] table). */
  val maxWindowGroupRows: Long = 1000000L

  /** Final-pass concentration ceiling for LITERAL-cap windows: the
    * WindowGroupLimit form's last per-group task holds cap × mapTasks
    * rows; above this the top-k twin's cap·|groups| state (independent
    * of task count) is the only shape that survives. */
  val maxFinalTaskRows: Long = 32000000L

  /** Probe `df` once and return the measured window-vs-top-k routing
    * decision for the per-group samplers (the [[Dedup.lshStrategyFor]]
    * precedent: key-stats probe → persistable decision record). One
    * groupBy-count aggregate (map-side combined — the shuffle carries
    * |groups| rows) plus the plan's leaf task count. `cap` is the
    * literal per-group bound for [[perGroupCap]]-shaped calls, or None
    * for dynamic-quota calls ([[stratifiedSample]]). The decision is a
    * corpus-level constant: persist with [[saveSamplerStrategy]] and
    * pass it to the `*Auto` routers so no later invocation pays the
    * probe. Outputs of the two routed forms are identical by contract
    * (bit-identical for the weighted sampler; the documented ~n²/2⁵³
    * 52-bit race-key divergence for the md5-order samplers). */
  def samplerStrategyFor(df: DataFrame, groupCol: String,
                         cap: Option[Int]): SamplerStrategy = {
    cap.foreach(c => require(c > 0, s"cap must be positive, got $c"))
    val stats = df.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
      .agg(count(lit(1)).as("g"), coalesce(sum(col("__n")), lit(0L)).as("r"),
        coalesce(max(col("__n")), lit(0L)).as("m"))
      .head()
    val (nGroups, nRows, maxGroup) =
      (stats.getLong(0), stats.getLong(1), stats.getLong(2))
    val mapTasks = df.rdd.getNumPartitions.toLong
    val useTopK = cap match {
      case Some(c) => c.toLong * mapTasks > maxFinalTaskRows
      case None => maxGroup > maxWindowGroupRows
    }
    SamplerStrategy(useTopK = useTopK, literalCap = cap.isDefined,
      cap = cap.map(_.toLong).getOrElse(0L), nRows = nRows,
      nGroups = nGroups, maxGroupRows = maxGroup, mapTasks = mapTasks)
  }

  /** Persist a [[SamplerStrategy]] as a small JSON artifact (+ SHA-256
    * sidecar — the index-manifest integrity discipline) at `path`. */
  def saveSamplerStrategy(spark: org.apache.spark.sql.SparkSession,
                          strategy: SamplerStrategy, path: String): Unit = {
    val json =
      s"""{"use_top_k":${strategy.useTopK},""" +
        s""""literal_cap":${strategy.literalCap},"cap":${strategy.cap},""" +
        s""""n_rows":${strategy.nRows},"n_groups":${strategy.nGroups},""" +
        s""""max_group_rows":${strategy.maxGroupRows},""" +
        s""""map_tasks":${strategy.mapTasks}}"""
    graft.index.IvfPqBuilder.writeString(spark, path, json)
    graft.index.IvfPqBuilder.writeString(spark, path + ".sha256",
      graft.index.IvfPqBuilder.sha256Hex(json))
  }

  /** Load a persisted [[SamplerStrategy]] (SHA-256-verified when the
    * sidecar exists). */
  def loadSamplerStrategy(spark: org.apache.spark.sql.SparkSession,
                          path: String): SamplerStrategy = {
    val s = graft.index.IvfPqBuilder.readVerifiedString(spark, path)
    def field(name: String): String =
      (""""""" + name + """"\s*:\s*([^,}]+)""").r.findFirstMatchIn(s)
        .getOrElse(sys.error(
          s"SamplerStrategy artifact at $path missing '$name'"))
        .group(1).trim
    SamplerStrategy(
      useTopK = field("use_top_k").toBoolean,
      literalCap = field("literal_cap").toBoolean,
      cap = field("cap").toLong,
      nRows = field("n_rows").toLong,
      nGroups = field("n_groups").toLong,
      maxGroupRows = field("max_group_rows").toLong,
      mapTasks = field("map_tasks").toLong)
  }

  /** [[perGroupCap]] routed by the measured strategy — window form
    * (WindowGroupLimit map-side cut, better constants at modest caps)
    * below the concentration ceiling, the bounded-top-k twin above it.
    * Probes when no strategy is passed; a persisted record skips the
    * probe. A literal-cap strategy reused with a DIFFERENT cap is
    * rejected loudly (the decision depends on it). */
  def perGroupCapAuto(df: DataFrame, groupCol: String, idCol: String,
                      cap: Int,
                      strategy: Option[SamplerStrategy] = None)
      : DataFrame = {
    val st = resolved(df, groupCol, Some(cap), strategy)
    if (st.useTopK) perGroupCapTopK(df, groupCol, idCol, cap)
    else perGroupCap(df, groupCol, idCol, cap)
  }

  /** [[weightedSamplePerGroup]] routed by the measured strategy (the
    * twins are BIT-identical — exact double race keys). */
  def weightedSamplePerGroupAuto(df: DataFrame, groupCol: String,
                                 idCol: String, weightCol: String,
                                 kPerGroup: Int, seed: String = "ws",
                                 strategy: Option[SamplerStrategy] = None)
      : DataFrame = {
    val st = resolved(df, groupCol, Some(kPerGroup), strategy)
    if (st.useTopK)
      weightedSamplePerGroupTopK(df, groupCol, idCol, weightCol,
        kPerGroup, seed)
    else
      weightedSamplePerGroup(df, groupCol, idCol, weightCol,
        kPerGroup, seed)
  }

  /** [[stratifiedSample]] routed by the measured strategy — dynamic
    * quotas get no WindowGroupLimit, so the window form is chosen only
    * when every group fits a single-task sort. */
  def stratifiedSampleAuto(df: DataFrame, groupCol: String, idCol: String,
                           quotas: DataFrame, seed: Long,
                           strategy: Option[SamplerStrategy] = None)
      : DataFrame = {
    val st = resolved(df, groupCol, None, strategy)
    if (st.useTopK) stratifiedSampleTopK(df, groupCol, idCol, quotas, seed)
    else stratifiedSample(df, groupCol, idCol, quotas, seed)
  }

  /** Validate a caller-supplied strategy against the call shape, or
    * probe when none was supplied. */
  private def resolved(df: DataFrame, groupCol: String, cap: Option[Int],
                       strategy: Option[SamplerStrategy]): SamplerStrategy =
    strategy match {
      case Some(st) =>
        require(st.literalCap == cap.isDefined,
          s"SamplerStrategy shape mismatch: record has literalCap=" +
            s"${st.literalCap}, call has ${cap.isDefined}")
        cap.foreach(c => require(st.cap == c.toLong,
          s"SamplerStrategy cap mismatch: record decided for cap=${st.cap}, " +
            s"call uses $c — re-probe with samplerStrategyFor"))
        st
      case None => samplerStrategyFor(df, groupCol, cap)
    }

  /** Repeat-factor materialization — the UPSAMPLING half of a
    * [[mixtureBudget]] plan ([[stratifiedSample]] is the downsampling
    * half): each group's rows are emitted `floor(epochs)` times plus
    * one more with probability `frac(epochs)`, decided by the md5
    * 256-bucket race on (seed, id) — so a source planned at
    * epochs_x100 = 250 yields every row twice plus ~50% of rows a third
    * time, deterministically. Output adds `copy` (0-based) so
    * downstream shuffle-sharding ([[shuffleShards]] keyed on (id,
    * copy)) spreads the repeats across the epoch. One broadcast join of
    * the metadata-sized epochs table + a narrow explode — no shuffle,
    * stable under reruns/repartitions/appends. */
  def repeatSample(df: DataFrame, groupCol: String, idCol: String,
                   epochs: DataFrame, seed: Long): DataFrame = {
    val whole = expr("epochs_x100 div 100").cast("int")
    // 256-bucket race scaled against frac(epochs): bucket <
    // floor(256·rem/100) — integer div both engines; the ±1/256
    // quantization is the documented md5-bucket idiom trade-off
    val thresh = expr("((epochs_x100 % 100) * 256) div 100").cast("int")
    val bucket = conv(substring(
      md5(concat(lit(s"rs:$seed:"), col(idCol).cast("string"))
        .cast("binary")), 1, 2), 16, 10).cast("int")
    val copies = whole + when(bucket < thresh, 1).otherwise(0)
    df.join(broadcast(epochs.select(col(groupCol), col("epochs_x100"))),
        Seq(groupCol))
      .withColumn("__rs_n", copies)
      .where(col("__rs_n") > 0)
      .select(col("*"), explode(sequence(lit(0),
        col("__rs_n") - 1)).as("copy"))
      .drop("__rs_n", "epochs_x100")
  }

  /** Token-budget mixture planning: given per-source token counts and
    * integer mixture weights, apportion a total token budget across
    * sources by weight, capping every source at `maxEpochsX100/100`
    * epochs of its own data and re-apportioning the surplus among the
    * uncapped sources (water-filling) — the Chinchilla-style "how many
    * epochs of each source fit this budget" planning step that precedes
    * [[temperatureMixture]]-style row sampling.
    *
    * `perSource` is (source, n_tokens, weight) — a METADATA-sized
    * relation (one row per source), so the water-filling loop runs on
    * the driver over the collected rows; each round either finishes or
    * caps ≥1 source, bounding it at |sources| iterations. All integer
    * arithmetic (BigInt internally against share overflow): floor
    * proportional shares with the ≤|active| leftover units going to the
    * first sources in name order — fully deterministic.
    *
    * Output: (source, n_tokens, weight, quota_tokens, epochs_x100,
    * capped). Conservation: Σ quota = min(budget, Σ cap_s) with
    * cap_s = n_tokens·maxEpochsX100/100 floored — the gate entry checks
    * that equality cross-engine. */
  def mixtureBudget(perSource: DataFrame, budget: Long,
                    maxEpochsX100: Long): DataFrame = {
    require(budget >= 0, s"mixtureBudget: negative budget $budget")
    require(maxEpochsX100 > 0, s"mixtureBudget: non-positive epoch cap")
    val spark = perSource.sparkSession
    import spark.implicits._
    // one row per source BY CONTRACT (metadata cardinality) — the
    // require below fails loudly if a caller passes a row-level relation
    val rows = perSource.select(
        col("source").cast("string"), col("n_tokens").cast("long"),
        col("weight").cast("long"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    require(rows.map(_._1).distinct.length == rows.length,
      "mixtureBudget: duplicate source rows")
    rows.foreach { case (s, n, w) =>
      require(n >= 0 && w > 0,
        s"mixtureBudget: source $s needs n_tokens >= 0 and weight > 0")
    }
    val cap = rows.map { case (_, n, _) =>
      (BigInt(n) * maxEpochsX100 / 100).toLong
    }
    val quota = Array.fill(rows.length)(0L)
    val active = scala.collection.mutable.LinkedHashSet(rows.indices: _*)
    var remaining = budget
    var done = false
    while (!done && remaining > 0 && active.nonEmpty) {
      val totalW = active.iterator.map(i => BigInt(rows(i)._3)).sum
      val share = active.iterator.map { i =>
        i -> (BigInt(remaining) * rows(i)._3 / totalW).toLong
      }.toMap
      var leftover = remaining - share.valuesIterator.sum
      val tentative = active.iterator.map { i =>
        val extra = if (leftover > 0) { leftover -= 1; 1L } else 0L
        i -> (share(i) + extra)
      }.toMap
      val capped = active.filter(i => quota(i) + tentative(i) >= cap(i))
      if (capped.isEmpty) {
        active.foreach(i => quota(i) += tentative(i))
        remaining = 0
      } else {
        capped.foreach { i =>
          remaining -= (cap(i) - quota(i))
          quota(i) = cap(i)
          active -= i
        }
        // uncapped sources keep their PREVIOUS quota; the freed budget
        // re-apportions among them next round
      }
      done = active.isEmpty
    }
    rows.indices.map { i =>
      val (s, n, w) = rows(i)
      val e = if (n == 0) 0L else (BigInt(quota(i)) * 100 / n).toLong
      (s, n, w, quota(i), e, if (quota(i) == cap(i)) 1L else 0L)
    }.toDF("source", "n_tokens", "weight", "quota_tokens", "epochs_x100",
      "capped")
  }

  /** DSIR-style importance scores (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): each candidate doc
    * scored by how much more likely its tokens are under a unigram model
    * of the TARGET distribution than under the model of the raw
    * candidate pool itself. The paper scores Σ(log p̂_target −
    * log p̂_raw) over hashed n-gram features and Gumbel-top-k resamples;
    * the gate-deterministic rule here sums the floor-scaled smoothed
    * probability DIFFERENCE per token occurrence,
    * `floor(1e9·(cnt_t(w)+1)/(T_t+V)) − floor(1e9·(cnt_r(w)+1)/(T_r+V))`,
    * integer end to end (the repo's oracle idiom), with the true
    * log-ratio riding along as a double for API users. V is the shared
    * vocabulary (distinct tokens across both corpora) so both models
    * smooth over the same feature space, as DSIR's shared hash space
    * does.
    *
    * Plan shape: two vocabulary-sized count aggregates (target model,
    * raw model — the raw model is fit on the candidates themselves, as
    * in the paper), one shared 1-row vocab/total aggregate set
    * (broadcast), then the candidate token stream left-joins the target
    * table at vocabulary scale and collapses per doc. No corpus×corpus
    * join anywhere; at 100 TB this is the TF-IDF/LM-fit shape.
    *
    * Output: (doc_id, n_tokens, score_x1e9, log_ratio) per candidate. */
  def dsirScores(target: DataFrame, candidates: DataFrame): DataFrame = {
    def unigrams(df: DataFrame) = df.select(
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val tCnt = unigrams(target).groupBy("tok").agg(count(lit(1)).as("c_t"))
    val rCnt = unigrams(candidates).groupBy("tok").agg(count(lit(1)).as("c_r"))
    // one row: both totals + the shared-vocabulary size
    val consts = tCnt.join(rCnt, Seq("tok"), "full")
      .agg(coalesce(sum("c_t"), lit(0L)).as("t_t"),
        coalesce(sum("c_r"), lit(0L)).as("t_r"),
        count(lit(1)).as("v"))
    // plan-shape note (measured at 1M docs, BENCH_NOTES "Text-family
    // 1M-doc scale probe"): the
    // tempting "merge both counts into one precomputed per-token score
    // relation" variant is ~4× SLOWER — the two simple count aggregates
    // each broadcast cleanly under AQE, while the merged full-join
    // relation plans as a shuffle join against the 50M-row token
    // stream; per-occurrence score arithmetic is free inside codegen
    candidates
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .join(tCnt, Seq("tok"), "left")
      .join(rCnt, Seq("tok"), "left") // no miss possible: raw model IS the pool
      .crossJoin(broadcast(consts))
      .select(col("doc_id"),
        (expr("(1000000000L * (coalesce(c_t, 0L) + 1L)) div (t_t + v)") -
          expr("(1000000000L * (coalesce(c_r, 0L) + 1L)) div (t_r + v)"))
          .as("d_x1e9"),
        (log((coalesce(col("c_t"), lit(0L)) + lit(1L)).cast("double") /
            (col("t_t") + col("v")).cast("double")) -
          log((coalesce(col("c_r"), lit(0L)) + lit(1L)).cast("double") /
            (col("t_r") + col("v")).cast("double"))).as("lr"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        sum("d_x1e9").as("score_x1e9"),
        sum("lr").as("log_ratio"))
  }

  /** Contiguous dense ids 0..n−1 in `sortCol` order WITHOUT a global
    * single-node sort — the "zipWithIndex at corpus scale" primitive
    * (sample indices for training runs, array offsets for memory-mapped
    * token files). Physical shape: one RANGE exchange + per-partition
    * sort (exactly what `orderBy` plans — partitions are ordered by
    * construction), then a counts-only job turns per-partition sizes
    * into exclusive prefix offsets and the id is offset + local index
    * (`RDD.zipWithIndex`, which is that two-pass algorithm; the RDD hop
    * is the justified per-partition imperative seam here — the
    * DataFrame window formulation would re-shuffle the FULL data by
    * partition id just to recover an ordering the range exchange
    * already established). `sortCol` should be a unique key: ties get
    * valid but arbitrary relative ids. The md5-race idioms
    * ([[shuffleShards]], [[exactSample]]) stay the right answer when
    * ids only need stability, not contiguity. */
  def denseIds(df: DataFrame, sortCol: String,
               idName: String = "dense_id"): DataFrame = {
    val sorted = df.repartitionByRange(col(sortCol))
      .sortWithinPartitions(sortCol)
    val schema = sorted.schema
      .add(idName, org.apache.spark.sql.types.LongType, nullable = false)
    val rdd = sorted.rdd.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ i)
    }
    sorted.sparkSession.createDataFrame(rdd, schema)
  }

  /** Deterministic DSIR selection: the top `n` candidates by
    * (score_x1e9 desc, doc_id asc) — rank-equivalent to the paper's
    * importance resampling at temperature → 0, and a bounded
    * TakeOrderedAndProject, never a full sort. Output: (rank, doc_id,
    * n_tokens, score_x1e9). */
  def dsirSelect(target: DataFrame, candidates: DataFrame,
                 n: Int): DataFrame = {
    val w = Window.orderBy(col("score_x1e9").desc, col("doc_id"))
    dsirScores(target, candidates)
      .orderBy(col("score_x1e9").desc, col("doc_id"))
      .limit(n)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col("rank"), col("doc_id"), col("n_tokens"), col("score_x1e9"))
  }
}
