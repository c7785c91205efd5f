package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.FastFunctions.{hammingDistF, litDoubles, pqDistDirect,
  signBitsF, sq8Dist, squaredL2F, topCellsL2}
import graft.index.{IvfPqModel, Sq8Model}

/** Recall CALIBRATION for the IVF index: turn the caller-fixed `nprobe`
  * knob into a measured decision. The reference (and every IVF engine)
  * leaves nprobe to the operator; in production the question is always
  * "what's the smallest nprobe that reaches recall R?" — answered here
  * by an operator, not a hand-run probe script (BENCH_NOTES records
  * the hand-rolled filtered-ANN sweeps this replaces).
  *
  * The whole nprobe-recall CURVE comes from ONE distributed pass, not a
  * per-nprobe rerun, via the probe-rank identity: for a query q and its
  * true neighbor e, e's home cell sits at some position r in q's
  * cell-distance ordering (its PROBE RANK); e is a candidate at
  * `nprobe = n` iff r ≤ n. With exact re-ranking over probed candidates
  * ([[AnnQuery.batchTopKRerank]]'s refine stage, kFactor covering), a
  * probed true top-k neighbor always wins a slot — any true top-k point
  * is at least as close as every non-top-k candidate — so
  *
  *   end-to-end recall@n  =  P(probe_rank ≤ n)  over (query, neighbor)
  *
  * and the empirical curve is just the cumulative histogram of probe
  * ranks. Two corollaries the spec and the driver gate assert: the curve
  * is monotone non-decreasing in n, and recall@P = 1 exactly. (ADC-only
  * querying, without the exact refine, sits below this curve by the
  * quantization error — the curve is the candidate-generation ceiling.)
  *
  * Scale shape: the sample is a deterministic bounded top-k (never a
  * global sort); exact neighbors come from the broadcast-queries +
  * bounded-top-k-aggregate pass (shuffle = k·|sample| rows); the cell
  * lookup is a semi-join against the 2-column codes projection; probe
  * ranks are one kernel call per pair against the driver-resident
  * centroid literal; the curve aggregate is ≤ P rows. Nothing anywhere
  * is corpus × corpus.
  */
object Calibrate {

  /** Deterministic query sample: `n` corpus vectors chosen by the md5
    * race (a pure function of (seed, id) — rerun/repartition-stable, the
    * [[graft.pipeline.TrainingData]] sampling idiom). Output
    * (qid, qvec). */
  def sampleQueries(vectors: DataFrame, vecCol: String, idCol: String,
                    n: Int, seed: String = "cal"): DataFrame = {
    require(n > 0, s"sample size must be positive, got $n")
    vectors
      .select(col(idCol).as("qid"), col(vecCol).as("qvec"))
      .orderBy(md5(concat(lit(s"$seed:"), col("qid").cast("string"))
        .cast("binary")), col("qid"))
      .limit(n)
  }

  /** Exact top-k neighbors (self excluded) of each sampled query —
    * the calibration ground truth. Output (qid, id, rank). */
  def exactNeighbors(vectors: DataFrame, vecCol: String, idCol: String,
                     queries: DataFrame, k: Int): DataFrame = {
    val pairs = vectors.join(broadcast(queries))
      .where(col(idCol) =!= col("qid"))
      .select(col("qid"), col(idCol).as("id"),
        squaredL2F(col(vecCol), col("qvec")).as("sq_dist"))
    pairs.groupBy(col("qid"))
      .agg(TopKAggregator.topK(k)(col("sq_dist"), col("id")).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("qid"), col("hit.id").as("id"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** The nprobe-recall curve: one row per nprobe 1..P with the fraction
    * of true (query, neighbor) pairs whose neighbor is a candidate at
    * that setting. `codes` needs only (id, partition) — the stored codes
    * table's narrow projection. Output (nprobe, n_hits, n_pairs, recall)
    * ascending by nprobe; recall is monotone and reaches 1.0 at P. */
  def nprobeRecallCurve(vectors: DataFrame, vecCol: String, idCol: String,
                        codes: DataFrame, model: IvfPqModel, k: Int,
                        sampleN: Int, seed: String = "cal"): DataFrame =
    nprobeRecallCurveCells(vectors, vecCol, idCol, codes,
      model.partitionCentroids, k, sampleN, seed)

  /** [[nprobeRecallCurve]] over a RAW coarse-centroid table — the curve
    * for ANY IVF family sharing the coarse-quantizer geometry. The
    * probe-rank identity is a statement about candidate GENERATION, so
    * it never sees the within-cell codec: IVF+SQ8 calibrates with its
    * own coarse centroids, and IVF+OPQ with `model.ivf.partitionCentroids`
    * unchanged (OPQ rotates the residual code space only — cells are
    * assigned in original space, Opq.scala's "cell SELECTION always uses
    * the model's unrotated centroids"). */
  def nprobeRecallCurveCells(vectors: DataFrame, vecCol: String,
                             idCol: String, codes: DataFrame,
                             centroids: Array[Array[Double]], k: Int,
                             sampleN: Int, seed: String = "cal"): DataFrame = {
    val p = centroids.length
    val queries = sampleQueries(vectors, vecCol, idCol, sampleN, seed)
    val truth = exactNeighbors(vectors, vecCol, idCol, queries, k)
    // neighbor's home cell (2-col join), then its position in the
    // query's full cell ordering — topCellsL2 with nprobe = P
    val flat = centroids.flatten.toSeq
    val ranked = truth
      .join(codes.select(col("id"), col("partition")), "id")
      .join(broadcast(queries), "qid")
      .select(col("qid"), col("id"),
        array_position(topCellsL2(col("qvec"), flat, p),
          col("partition").cast("long")).as("probe_rank"))
    val perRank = ranked.groupBy(col("probe_rank"))
      .agg(count(lit(1)).as("n_at_rank"))
    val total = ranked.agg(count(lit(1)).cast("long").as("n_pairs"))
    // dense 1..P axis; cumulative hits via a window over ≤ P rows
    val axis = vectors.sparkSession.range(1, p + 1)
      .select(col("id").as("nprobe"))
    axis.join(perRank, col("nprobe") === col("probe_rank"), "left")
      .select(col("nprobe"), coalesce(col("n_at_rank"), lit(0L)).as("n_at"))
      .withColumn("n_hits", sum(col("n_at"))
        .over(Window.orderBy(col("nprobe"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("nprobe"), col("n_hits").cast("long").as("n_hits"),
        col("n_pairs"),
        (col("n_hits").cast("double") / col("n_pairs")).as("recall"))
      .orderBy("nprobe")
  }

  /** Smallest nprobe whose curve recall reaches `targetRecall`. The
    * curve ends at recall 1.0 (probe ranks are ≤ P by construction), so
    * a target ≤ 1 always resolves; targets > 1 are refused. */
  def recommend(curve: DataFrame, targetRecall: Double): Int = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"target recall must be in (0, 1], got $targetRecall")
    val hit = curve.where(col("recall") >= targetRecall)
      .orderBy("nprobe").select("nprobe").limit(1).collect()
    require(hit.nonEmpty,
      "empty calibration curve — no (query, neighbor) pairs; is the " +
        "corpus smaller than the sample?")
    hit.head.getLong(0).toInt
  }

  /** One-shot calibration: build the curve, pick the smallest nprobe
    * promising `targetRecall`, return (nprobe, curve). */
  def calibrateNprobe(vectors: DataFrame, vecCol: String, idCol: String,
                      codes: DataFrame, model: IvfPqModel, k: Int,
                      sampleN: Int, targetRecall: Double,
                      seed: String = "cal"): (Int, DataFrame) = {
    val curve = nprobeRecallCurve(vectors, vecCol, idCol, codes, model, k,
      sampleN, seed)
    (recommend(curve, targetRecall), curve)
  }

  // ---------------------------------------------------------------------
  // kFactor calibration — the OTHER recall knob. Every nominate-then-
  // rerank path here (PQ/OPQ `topKRerank`, RQ `topKRefined`, SQ8- and
  // Hamming-nominate + exact rerank) cuts candidates to k·kFactor by an
  // APPROXIMATE score before the refine stage; its recall identity is
  // the rank analogue of the probe-rank one: with exact re-ranking over
  // the nominees, a true top-k neighbor survives iff it is NOMINATED,
  // i.e. iff its rank under the approximate score ordering is ≤ k·f. So
  //
  //   end-to-end recall@f  =  P(nomination_rank ≤ k·f)
  //
  // over (query, true-neighbor) pairs, and the whole curve is again a
  // cumulative histogram from ONE pass. (A rerank that is better-than-
  // nominate but not exact — RQ's level-2 refine — sits at or below this
  // curve: it is the NOMINATION ceiling.)
  // ---------------------------------------------------------------------

  /** The kFactor-recall curve over an approximate-scored CANDIDATE
    * relation (qid, id, score) — probed-cell-restricted for IVF
    * nomination ([[adcCandidates]]), whole-corpus for flat codecs
    * ([[sq8Candidates]], [[hammingCandidates]]). One row per kfactor
    * 1..maxKFactor: the fraction of true (query, neighbor) pairs whose
    * neighbor's nomination rank is ≤ k·kfactor. Self-pairs (corpus-point
    * queries finding themselves) are excluded on BOTH sides — the
    * production mirror is the k+1-then-drop-self trick, so a delivery
    * check nominates k·f + 1 ([[rerankDelivered]]).
    *
    * Scale shape: nomination ranks come from a COUNT-SMALLER aggregation
    * — candidates stream once through a map-side-combinable count keyed
    * by the k·sampleN truth pairs (broadcast) — never from a per-query
    * sort of the candidate set; the curve aggregate is ≤ maxKFactor
    * rows. Ties break by (score, id), [[TopKAggregator]]'s total order,
    * so the curve prices exactly the cut the query paths apply. */
  def kFactorRecallCurve(vectors: DataFrame, vecCol: String, idCol: String,
                         queries: DataFrame, candidates: DataFrame, k: Int,
                         maxKFactor: Int): DataFrame = {
    require(k >= 1, s"k must be positive, got $k")
    require(maxKFactor >= 1, s"maxKFactor must be positive, got $maxKFactor")
    val truth = exactNeighbors(vectors, vecCol, idCol, queries, k)
    val cand = candidates.where(col("id") =!= col("qid"))
      .select(col("qid"), col("id"), col("score"))
    // each truth pair's own approximate score; a pair OUTSIDE the
    // candidate set (home cell never probed) is never nominated
    val inSet = truth.select(col("qid"), col("id").as("tid"))
      .join(cand.select(col("qid"), col("id").as("tid"),
        col("score").as("tscore")), Seq("qid", "tid"))
    // nomination rank = 1 + |{c : (score, id) < (tscore, tid)}|
    val smaller = cand.join(broadcast(inSet), Seq("qid"))
      .where(col("score") < col("tscore") ||
        (col("score") === col("tscore") && col("id") < col("tid")))
      .groupBy(col("qid"), col("tid"))
      .agg(count(lit(1)).as("n_smaller"))
    val fNeeded = inSet.select("qid", "tid")
      .join(smaller, Seq("qid", "tid"), "left")
      .select(ceil((coalesce(col("n_smaller"), lit(0L)) + 1L)
        .cast("double") / k).cast("long").as("f_needed"))
    val perF = fNeeded.groupBy(col("f_needed"))
      .agg(count(lit(1)).as("n_at"))
    val total = truth.agg(count(lit(1)).cast("long").as("n_pairs"))
    val axis = vectors.sparkSession.range(1, maxKFactor + 1)
      .select(col("id").as("kfactor"))
    axis.join(perF, col("kfactor") === col("f_needed"), "left")
      .select(col("kfactor"), coalesce(col("n_at"), lit(0L)).as("n_at"))
      .withColumn("n_hits", sum(col("n_at"))
        .over(Window.orderBy(col("kfactor"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(total))
      .select(col("kfactor"), col("n_hits").cast("long").as("n_hits"),
        col("n_pairs"),
        (col("n_hits").cast("double") / col("n_pairs")).as("recall"))
      .orderBy("kfactor")
  }

  /** Smallest kFactor whose curve recall reaches `targetRecall`. Unlike
    * the nprobe curve, a kFactor curve PLATEAUS at its candidate-coverage
    * ceiling (< 1 when nomination probes a strict cell subset) — an
    * unreachable target is refused with the remedy in the message. */
  def recommendKFactor(curve: DataFrame, targetRecall: Double): Int = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"target recall must be in (0, 1], got $targetRecall")
    val hit = curve.where(col("recall") >= targetRecall)
      .orderBy("kfactor").select("kfactor").limit(1).collect()
    require(hit.nonEmpty,
      s"target recall $targetRecall is above the curve's plateau — raise " +
        "maxKFactor, or raise nprobe (the plateau is the candidate-" +
        "coverage ceiling of the probed cells)")
    hit.head.getLong(0).toInt
  }

  /** Level-1 ADC-scored nomination candidates in the probed cells — the
    * PQ/OPQ/RQ nominate relation, ALL scored rows (the query paths'
    * bounded top-k is exactly a cut of this by (score, id)). `codes`
    * needs (id, partition, codes); queries ride as (qid, qvec). */
  def adcCandidates(codes: DataFrame, model: IvfPqModel,
                    queries: DataFrame, nprobe: Int): DataFrame = {
    require(nprobe >= 1 && nprobe <= model.config.numPartitions,
      s"nprobe $nprobe out of range 1..${model.config.numPartitions}")
    val centLit = typedlit(model.partitionCentroids.map(_.toSeq).toSeq)
    val cbLit = litDoubles(model.codebooks.flatten.flatten)
    val probed = queries.select(col("qid"), col("qvec"),
      explode(topCellsL2(col("qvec"),
        model.partitionCentroids.flatten.toSeq, nprobe)).as("probe_cell"))
    probed.join(codes, col("probe_cell") === col("partition"))
      .select(col("qid"), col("id"),
        pqDistDirect(col("qvec"),
          element_at(centLit, col("probe_cell").cast("int") + 1),
          col("codes"), cbLit).as("score"))
  }

  /** SQ8 asymmetric-distance candidates over the whole corpus — the
    * flat-SQ8 nominate relation. `encoded` is (id, sq8). */
  def sq8Candidates(encoded: DataFrame, model: Sq8Model,
                    queries: DataFrame): DataFrame =
    encoded.join(broadcast(queries.select(col("qid"),
        col("qvec").cast("array<double>").as("__q"))))
      .select(col("qid"), col("id"),
        sq8Dist(col("__q"), col("sq8"), litDoubles(model.mins),
          litDoubles(model.scales)).as("score"))

  /** Hamming-distance candidates over the whole corpus — the binary-
    * signature nominate relation ([[graft.index.BinaryQuant]]'s
    * rerank composition). */
  def hammingCandidates(vectors: DataFrame, vecCol: String, idCol: String,
                        thresholds: Array[Double],
                        queries: DataFrame): DataFrame = {
    val thrLit = litDoubles(thresholds)
    vectors.select(col(idCol).as("id"),
        signBitsF(col(vecCol), thrLit).as("__sig"))
      .join(broadcast(queries.select(col("qid"),
        signBitsF(col("qvec").cast("array<float>"), thrLit).as("__qsig"))))
      .select(col("qid"), col("id"),
        hammingDistF(col("__sig"), col("__qsig")).cast("double").as("score"))
  }

  /** The delivery arm for candidate-relation knobs: nominate
    * `kNominate` by (score, id) — a bounded top-k aggregate, never a
    * per-query sort — then re-rank the nominees EXACTLY against the
    * original vectors and keep `kFinal`. With kNominate = k·f + 1 and
    * kFinal = k + 1 (the self slot), measured recall after dropping
    * self equals the curve's value at f — the identity the gates
    * assert as `promise_delivered`. Output (qid, id, sq_dist, rank). */
  def rerankDelivered(vectors: DataFrame, vecCol: String, idCol: String,
                      queries: DataFrame, candidates: DataFrame,
                      kNominate: Int, kFinal: Int): DataFrame = {
    require(kNominate >= kFinal && kFinal >= 1,
      s"need kNominate >= kFinal >= 1, got $kNominate/$kFinal")
    val nominees = candidates
      .groupBy(col("qid"))
      .agg(TopKAggregator.topK(kNominate)(col("score"), col("id"))
        .as("hits"))
      .select(col("qid"), explode(col("hits")).as("hit"))
      .select(col("qid"), col("hit.id").as("id"))
    nominees
      .join(vectors.select(col(idCol).as("id"), col(vecCol).as("__vec")),
        "id")
      .join(broadcast(queries.select(col("qid"), col("qvec"))), "qid")
      .select(col("qid"), col("id"),
        squaredL2F(col("__vec"), col("qvec")).as("sq_dist"))
      .groupBy(col("qid"))
      .agg(TopKAggregator.topK(kFinal)(col("sq_dist"), col("id")).as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("qid"), col("hit.id").as("id"),
        col("hit.dist").as("sq_dist"),
        (col("pos") + 1).cast("long").as("rank"))
  }
}
