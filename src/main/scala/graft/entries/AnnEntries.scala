package graft
package entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.index.{IvfPqBuilder, IvfPqModel, OpqBuilder}
import graft.query.{AnnQuery, ExactKnn}
import Fixtures._

/** ann_* entries over the fitted IVF+PQ family: single and batch
  * queries, the codec variants (cosine, MIPS, filtered, OPQ, SQ8,
  * IVF+SQ8, RQ), exact re-rank and the calibration gates. ANN output
  * is geometry-dependent, so most oracles are constant invariants. */
private[graft] object AnnEntries {

  /** The calibration gates' end-to-end check: the recommended setting's
    * answer `got` recovers at least 90% of the exact neighbours `truth`
    * (both (qid, id)), as one promise_delivered flag. */
  private def promiseDelivered(truth: DataFrame, got: DataFrame): DataFrame = {
    val nTruth = truth.agg(count(lit(1)).cast("long").as("n_truth"))
    val nRec = truth.select("qid", "id")
      .join(got.select("qid", "id"), Seq("qid", "id"))
      .agg(count(lit(1)).cast("long").as("n_rec"))
    nTruth.crossJoin(nRec).select(
      when(col("n_rec") * 10 >= col("n_truth") * 9, 1L).otherwise(0L)
        .as("promise_delivered"))
  }

  /** Shared body of the nprobe-calibration gates (IVF+SQ8 / OPQ /
    * cosine — any coarse-quantizer family): the one-pass probe-rank
    * curve over raw `centroids`, its invariants (full 1..P axis,
    * monotone, exactly 1.0 at P), and the delivered-promise check —
    * exact-in-probed-cells ([[AnnQuery.batchTopKCellsFlat]]) at the
    * recommended nprobe must recover ≥ the promised recall (k+1 then
    * drop self: calibration queries are corpus points). `vectors` must
    * carry (vec_id, embedding). */
  private def nprobeCalibrationGate(s: SparkSession, vectors: DataFrame,
      codes: DataFrame, centroids: Array[Array[Double]]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p = centroids.length
    val target = 0.9
    val curve = graft.query.Calibrate.nprobeRecallCurveCells(vectors,
      "embedding", "vec_id", codes, centroids, k = 10, sampleN = 25)
    val np = graft.query.Calibrate.recommend(curve, target)
    val curveInv = curve
      .withColumn("prev",
        lag(col("recall"), 1).over(Window.orderBy("nprobe")))
      .agg(
        count(lit(1)).cast("long").as("n_curve_rows"),
        coalesce(sum(when(col("prev").isNotNull &&
          col("recall") < col("prev"), 1L).otherwise(0L)), lit(0L))
          .as("n_mono_viol"),
        coalesce(sum(when(col("nprobe") === p && col("recall") === 1.0, 1L)
          .otherwise(0L)), lit(0L)).as("recall_p_exact"))
    val queries = graft.query.Calibrate.sampleQueries(vectors, "embedding",
      "vec_id", 25)
    val truth = graft.query.Calibrate.exactNeighbors(vectors, "embedding",
      "vec_id", queries, 10)
    val got = AnnQuery.batchTopKCellsFlat(codes, vectors, "embedding",
        "vec_id", centroids, queries, "qid", "qvec", k = 11, nprobe = np)
      .where(col("qid") =!= col("id"))
    curveInv.crossJoin(promiseDelivered(truth, got))
  }

  /** Shared body of the kFactor-calibration gates (SQ8/RQ/Hamming): one
    * count-smaller pass builds the family's full nomination-rank curve
    * over `mkCandidates`' (qid, id, score) relation, the invariants are
    * asserted (complete axis to ceil((N−1)/k), monotone, exactly 1.0 at
    * the end — all three families present whole-corpus candidate
    * coverage here), and the recommended kFactor is re-measured through
    * the real composition: nominate k·f+1 by (score, id), exact rerank,
    * drop self — which delivers ≥ the curve's promised recall by the
    * nomination-superset argument ([[graft.query.Calibrate]]). */
  private def kFactorCalibrationGate(s: SparkSession, dir: String,
      mkCandidates: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(s, dir)
    val k = 10
    val target = 0.9
    val n = emb.count()
    val maxF = (((n - 1) + (k - 1)) / k).toInt
    // NOTE (round 15, negative result): materializing the sample/truth/
    // curve once (localCheckpoints) + fanning the sample race and the
    // exact-neighbor pass was tried and measured WORSE family-wide
    // (seven calibrate entries 14.2 → 20.2 s solo at comparable
    // ambient) — the identical sub-plans already dedupe via AQE stage
    // reuse within the one action, so the barriers and the per-
    // re-derivation fan-out exchanges were pure cost. Reverted.
    val queries = graft.query.Calibrate.sampleQueries(emb, "embedding",
      "vec_id", 25)
    val cand = mkCandidates(emb, queries)
    val curve = graft.query.Calibrate.kFactorRecallCurve(emb, "embedding",
      "vec_id", queries, cand, k, maxF)
    val f = graft.query.Calibrate.recommendKFactor(curve, target)
    val curveInv = curve
      .withColumn("prev",
        lag(col("recall"), 1).over(Window.orderBy("kfactor")))
      .agg(
        when(count(lit(1)) === maxF.toLong, 1L).otherwise(0L)
          .as("curve_complete"),
        coalesce(sum(when(col("prev").isNotNull &&
          col("recall") < col("prev"), 1L).otherwise(0L)), lit(0L))
          .as("n_mono_viol"),
        coalesce(sum(when(col("kfactor") === maxF.toLong &&
          col("recall") === 1.0, 1L).otherwise(0L)), lit(0L))
          .as("recall_full_exact"))
    val truth = graft.query.Calibrate.exactNeighbors(emb, "embedding",
      "vec_id", queries, k)
    val got = graft.query.Calibrate.rerankDelivered(emb, "embedding",
        "vec_id", queries, cand, kNominate = k * f + 1, kFinal = k + 1)
      .where(col("qid") =!= col("id"))
    curveInv.crossJoin(promiseDelivered(truth, got))
  }

  /** Integer invariants of an ANN result, checkable against a CONSTANT
    * DuckDB oracle (the vec_reconstruct pattern — ANN output itself is
    * geometry-dependent, its contracts are not):
    *  - n_rows: exactly k hits came back;
    *  - n_outside_probed: every hit's partition is a probed cell
    *    (partition pruning returned no foreign rows);
    *  - n_dist_bad: each hit's ADC distance equals an INDEPENDENT
    *    recompute — decode codes through the codebooks, add the cell
    *    centroid, take ‖q − approx‖² via the higher-order-function path
    *    (different code from the adcDist kernel) — within 1e-6;
    *  - n_recalled: overlap with the oracle-verified exact top-k. */
  private def annInvariants(hits: DataFrame, encoded: DataFrame,
      model: IvfPqModel, q: Array[Double], probes: Seq[Int],
      exactIds: DataFrame): DataFrame = {
    val d = model.config.numDivisions
    val cbLit = typedlit(model.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val centLit = typedlit(model.partitionCentroids.map(_.toSeq).toSeq)
    val qLit = typedlit(q.toSeq)
    val withRec = hits
      .join(encoded.select(col("id"), col("codes")), "id")
      .withColumn("decoded", flatten(zip_with(
        typedlit((1 to d).toList), col("codes"),
        (dv, c) => element_at(element_at(cbLit, dv), c + 1))))
      .withColumn("approx", zip_with(col("decoded"),
        element_at(centLit, col("partition") + 1), (r, cc) => r + cc))
      .withColumn("rec_dist", aggregate(zip_with(col("approx"), qLit,
        (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x))
    val inv = withRec.agg(
      count(lit(1)).cast("long").as("n_rows"),
      coalesce(sum(when(not(col("partition").isin(probes: _*)), 1L)
        .otherwise(0L)), lit(0L)).as("n_outside_probed"),
      coalesce(sum(when(abs(col("sq_dist") - col("rec_dist")) > 1e-6, 1L)
        .otherwise(0L)), lit(0L)).as("n_dist_bad"))
    val recall = hits.join(exactIds, "id")
      .agg(count(lit(1)).cast("long").as("n_recalled"))
    inv.crossJoin(recall)
  }

  /** The ann_batch* queries, vec_id 0..4, as a (qid, qvec) relation and
    * as driver-side vectors, plus their exact top-10 (qid, id): the
    * recall reference of every batch gate. */
  private def batchQueries(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Long, Array[Double])], DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val qsDf = emb.where(col("vec_id") <= 4)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val qs = emb.where(col("vec_id") <= 4)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .toSeq
    val exact = ExactKnn
      .batchTopK(emb, "embedding", "vec_id", qsDf, "qid", "qvec", 10)
      .select(col("qid"), col("vec_id").as("id"))
    (qsDf, qs, exact)
  }

  /** Gate of a batch path that plans on the executors,
    * `search(codes, model, queries)`: parity with the driver-planned
    * batchTopK (same id at every (qid, rank), distances within 1e-6 —
    * the paths differ only in float summation order) and per-query
    * recall vs the exact batch k-NN. */
  private def batchParityGate(s: SparkSession, dir: String)(
      search: (DataFrame, IvfPqModel, DataFrame) => DataFrame): DataFrame = {
    val (model, codes) = IvfPqBuilder.load(s, storedIndexPath(s, dir))
    val (qsDf, qs, exact) = batchQueries(s, dir)
    val got = search(codes, model, qsDf)
    val planned = AnnQuery.batchTopK(codes, model, qs, k = 10, nprobe = 4)
      .select(col("qid"), col("rank"),
        col("id").as("p_id"), col("sq_dist").as("p_dist"))
    val par = got.join(planned, Seq("qid", "rank"), "full_outer").agg(
      count(lit(1)).cast("long").as("n_rows"),
      coalesce(sum(when(col("id").isNull || col("p_id").isNull
        || col("id") =!= col("p_id"), 1L).otherwise(0L)), lit(0L))
        .as("n_id_mismatch"),
      coalesce(sum(when(abs(col("sq_dist") - col("p_dist")) > 1e-6, 1L)
        .otherwise(0L)), lit(0L)).as("n_dist_far"))
    val rec = got.join(exact, Seq("qid", "id"))
      .groupBy("qid").agg(count(lit(1)).as("n_rec"))
      .agg(count(lit(1)).cast("long").as("n_qids"),
        coalesce(sum(when(col("n_rec") < 3, 1L).otherwise(0L)), lit(0L))
          .as("n_low_recall"))
    par.crossJoin(rec).select(col("n_rows"), col("n_id_mismatch"),
      col("n_dist_far"), col("n_qids"), col("n_low_recall"))
  }

  def entries: Seq[Entry] = Seq(
    // query path over the shared fitted index; build cost is measured by
    // the dedicated reference-scale build benchmark (Bench "build" field),
    // not folded into a query timing. Output is the invariant row of
    // annInvariants (constant DuckDB oracle).
    Entry("ann_ivfpq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val qf = queryVec(s, dir, 0L)
      val q = qf.map(_.toDouble)
      val hits = AnnQuery.topK(encoded, model, q, k = 10, nprobe = 4)
      val probes = AnnQuery.selectPartitions(model, q, 4).map(_._1).toSeq
      val exact = ExactKnn.rankedIds(emb, "embedding", "vec_id", qf, 10)
        .select(col("vec_id").as("id"))
      annInvariants(hits, encoded, model, q, probes, exact)
        .select(col("n_rows"), col("n_outside_probed"), col("n_dist_bad"),
          when(col("n_recalled") >= 3, 1L).otherwise(0L).as("recall_ge_30"))
    },
      // ANN invariants (constant oracles — see the queries' scaladoc)
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_outside_probed,
        | CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(1 AS BIGINT) AS recall_ge_30""".stripMargin),

    // cosine-metric ANN via the unit-sphere reduction: the SAME IVF+PQ
    // machinery over L2-normalized vectors answers cosine queries
    // (‖q−x‖² = 2−2·cos on the sphere — AnnQuery.topKCosine). Gated:
    // k rows, hits ⊆ probed cells, the reduction identity
    // |(1 − d²_unit/2) − cos_raw| ≤ 1e-4 recomputed per hit from the
    // TABLES (not the index), and recall ≥ 3/10 vs exact cosine top-k
    // (the knn_exact_cosine twin; ADC quantization bounds recall, as
    // at ann_ivfpq)
    Entry("ann_cosine", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = cosFittedIndex(s, dir)
      val qf = queryVec(s, dir, 0L)
      val q = qf.map(_.toDouble)
      val qn = math.sqrt(q.map(x => x * x).sum)
      val qUnit = q.map(_ / qn)
      val hits = AnnQuery.topKCosine(encoded, model, q, k = 10, nprobe = 4)
      val probes = AnnQuery.selectPartitions(model, qUnit, 4).map(_._1).toSeq
      val exact = ExactKnn.rankedIdsCosine(emb, "embedding", "vec_id", qf, 10)
        .select(col("vec_id").as("id"))
      val unit = graft.pipeline.Embeddings.l2Normalized(emb, "embedding")
      val joined = hits
        .join(emb.select(col("vec_id").as("id"), col("embedding").as("raw")),
          "id")
        .join(unit.select(col("vec_id").as("id"), col("embedding").as("u")),
          "id")
        .withColumn("sq_unit", graft.functions.VectorFunctions.squaredL2(
          col("u"), typedlit(qUnit.toSeq)))
        .withColumn("cos_exact", graft.functions.VectorFunctions.cosine(
          col("raw"), typedlit(q.toSeq)))
      val inv = joined.agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(not(col("partition").isin(probes: _*)), 1L)
          .otherwise(0L)), lit(0L)).as("n_outside_probed"),
        coalesce(sum(when(
          abs((lit(1.0) - col("sq_unit") / lit(2.0)) - col("cos_exact"))
            > 1e-4, 1L).otherwise(0L)), lit(0L)).as("n_ident_bad"))
      inv.crossJoin(hits.join(exact, "id")
          .agg(count(lit(1)).cast("long").as("n_recalled")))
        .select(col("n_rows"), col("n_outside_probed"), col("n_ident_bad"),
          when(col("n_recalled") >= 3, 1L).otherwise(0L).as("recall_ge_30"))
    },
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_outside_probed,
        | CAST(0 AS BIGINT) AS n_ident_bad,
        | CAST(1 AS BIGINT) AS recall_ge_30""".stripMargin),

    // MIPS ANN via the augmented-vector reduction (Bachrach et al.
    // 2014): one appended coordinate √(M²−‖x‖²) turns max-inner-product
    // into L2-nearest on the SAME index machinery — the metric triple
    // completes (L2 native, cosine = ann_cosine, IP here). Gated: k
    // rows, hits ⊆ probed, the reduction identity ‖[q,0]−[x,s]‖² =
    // ‖q‖²+M²−2·q·x recomputed per hit from the raw tables, recall ≥
    // 3/10 vs exact MIPS (the knn_exact_ip twin)
    Entry("ann_mips", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded, m) = mipsFittedIndex(s, dir)
      val qf = queryVec(s, dir, 0L)
      val qRaw = qf.map(_.toDouble)
      val q = qRaw :+ 0.0
      val hits = AnnQuery.topK(encoded, model, q, k = 10, nprobe = 4)
      val probes = AnnQuery.selectPartitions(model, q, 4).map(_._1).toSeq
      val exact = ExactKnn.rankedIdsIp(emb, "embedding", "vec_id", qf, 10)
        .select(col("vec_id").as("id"))
      val (aug, _) = graft.pipeline.Embeddings.mipsAugmented(emb, "embedding")
      val qn2 = qRaw.map(x => x * x).sum
      val joined = hits
        .join(emb.select(col("vec_id").as("id"), col("embedding").as("raw")),
          "id")
        .join(aug.select(col("vec_id").as("id"), col("embedding").as("augv")),
          "id")
        .withColumn("sq_aug", graft.functions.VectorFunctions.squaredL2(
          col("augv"), typedlit(q.toSeq)))
        .withColumn("ip_exact", graft.functions.VectorFunctions.dot(
          col("raw"), typedlit(qRaw.toSeq)))
      val inv = joined.agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(not(col("partition").isin(probes: _*)), 1L)
          .otherwise(0L)), lit(0L)).as("n_outside_probed"),
        coalesce(sum(when(
          abs(col("sq_aug") - (lit(qn2 + m * m) - lit(2.0) * col("ip_exact")))
            > 1e-3, 1L).otherwise(0L)), lit(0L)).as("n_ident_bad"))
      inv.crossJoin(hits.join(exact, "id")
          .agg(count(lit(1)).cast("long").as("n_recalled")))
        .select(col("n_rows"), col("n_outside_probed"), col("n_ident_bad"),
          when(col("n_recalled") >= 3, 1L).otherwise(0L).as("recall_ge_30"))
    },
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_outside_probed,
        | CAST(0 AS BIGINT) AS n_ident_bad,
        | CAST(1 AS BIGINT) AS recall_ge_30""".stripMargin),

    // filtered ANN: the attribute predicate composes into the SAME
    // nprobe-pruned ADC scan (pre-filtered strategy at the index level —
    // the label join narrows the coded relation BEFORE top-k, so no
    // post-hoc hole-filling). Two layers gated:
    //  - raw ADC at nprobe=4 (HALF the cells, so the no-foreign-rows
    //    pruning invariant stays non-vacuous): plan invariants +
    //    recall ≥ 3/10 vs the oracle-verified exact filtered top-k
    //    (measured 4/10 at both sfs — ADC quantization bounds this);
    //  - the PRODUCTION composition — selectivity-aware nprobe (probe
    //    budget scaled by 1/selectivity, capped at P: label=3 keeps ~1/4
    //    of rows → 16 → 8) + exact re-rank of the ADC top-30 — gated at
    //    recall ≥ 8/10 (measured 10/10 at both sf0.01 and sf0.1,
    //    BENCH_NOTES; ADC ranking error collapses to candidate
    //    error, so only a true neighbor missing the ADC top-30 is lost)
    Entry("ann_filtered", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val qf = queryVec(s, dir, 0L)
      val q = qf.map(_.toDouble)
      val filtered = encoded
        .join(emb.select(col("vec_id").as("id"), col("label")), "id")
        .where(col("label") === 3)
        .select("id", "partition", "codes")
      val hits = AnnQuery.topK(filtered, model, q, k = 10, nprobe = 4)
      val probes = AnnQuery.selectPartitions(model, q, 4).map(_._1).toSeq
      val exact = ExactKnn.rankedIds(emb.where(col("label") === 3),
          "embedding", "vec_id", qf, 10)
        .select(col("vec_id").as("id"))
      val labelBad = hits
        .join(emb.select(col("vec_id").as("id"), col("label")), "id")
        .agg(coalesce(sum(when(col("label") =!= 3, 1L).otherwise(0L)),
          lit(0L)).as("n_label_bad"))
      val total = emb.count()
      val kept = emb.where(col("label") === 3).count()
      val npEff = math.min(model.config.numPartitions,
        math.ceil(4.0 * total / math.max(kept, 1L)).toInt)
      val rerank = AnnQuery.topKRerank(filtered,
        emb.where(col("label") === 3), "embedding", "vec_id",
        model, q, k = 10, nprobe = npEff, kFactor = 3)
      val rerankRecall = rerank.join(exact, "id")
        .agg(count(lit(1)).cast("long").as("n_rr"))
      annInvariants(hits, encoded, model, q, probes, exact)
        .crossJoin(labelBad).crossJoin(rerankRecall)
        .select(col("n_rows"), col("n_outside_probed"), col("n_dist_bad"),
          col("n_label_bad"),
          when(col("n_recalled") >= 3, 1L).otherwise(0L).as("recall_ge_30"),
          when(col("n_rr") >= 8, 1L).otherwise(0L)
            .as("rerank_recall_ge_80"))
    },
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_outside_probed,
        | CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(0 AS BIGINT) AS n_label_bad,
        | CAST(1 AS BIGINT) AS recall_ge_30,
        | CAST(1 AS BIGINT) AS rerank_recall_ge_80""".stripMargin),

    // OPQ index (beyond-reference codec family): product quantization
    // behind a LEARNED orthonormal rotation of the residuals (Ge et al.,
    // CVPR 2013 — trained by alternating warm-started codebook fits with
    // an orthogonal Procrustes solve). The executor plan is byte-for-byte
    // the ann_ivfpq one — the rotation touches only the nprobe localized
    // query vectors on the driver. Invariants mirror ann_ivfpq with the
    // independent distance recompute done in ROTATED space (where the
    // codes live), plus two model contracts: the rotation is orthonormal
    // (max |RᵀR − I| < 1e-9) and the final training objective does not
    // exceed the first sweep's — the first sweep IS plain PQ on the same
    // sample, so OPQ is never worse than PQ where both are measured
    Entry("ann_opq", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedOpq(s, dir)
      val qf = queryVec(s, dir, 0L)
      val q = qf.map(_.toDouble)
      val hits = OpqBuilder.topK(encoded, model, q, k = 10, nprobe = 4)
      val probes = AnnQuery.selectPartitions(model.ivf, q, 4)
        .map { case (p, l) => (p, OpqBuilder.rotateVec(model.rotation, l)) }
      val exact = ExactKnn.rankedIds(emb, "embedding", "vec_id", qf, 10)
        .select(col("vec_id").as("id"))
      val dd = model.config.numDivisions
      val cbLit = typedlit(model.ivf.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
      def recDist(rotLocalized: Array[Double]) =
        aggregate(zip_with(col("decoded"), typedlit(rotLocalized.toSeq),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x)
      val withRec = hits
        .join(encoded.select(col("id"), col("codes")), "id")
        .withColumn("decoded", flatten(zip_with(
          typedlit((1 to dd).toList), col("codes"),
          (dv, c) => element_at(element_at(cbLit, dv), c + 1))))
        .withColumn("rec_dist", probes.tail.foldLeft(
          when(col("partition") === probes.head._1, recDist(probes.head._2))) {
          case (acc, (p, rl)) => acc.when(col("partition") === p, recDist(rl))
        })
      val inv = withRec.agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(not(col("partition")
          .isin(probes.map(_._1).toSeq: _*)), 1L)
          .otherwise(0L)), lit(0L)).as("n_outside_probed"),
        coalesce(sum(when(abs(col("sq_dist") - col("rec_dist")) > 1e-6, 1L)
          .otherwise(0L)), lit(0L)).as("n_dist_bad"))
      val recall = hits.join(exact, "id")
        .agg(count(lit(1)).cast("long").as("n_recalled"))
      inv.crossJoin(recall)
        .select(col("n_rows"), col("n_outside_probed"), col("n_dist_bad"),
          when(col("n_recalled") >= 3, 1L).otherwise(0L).as("recall_ge_30"),
          lit(if (model.orthonormalityError < 1e-9) 1L else 0L)
            .as("rotation_orthonormal"),
          lit(if (model.trainObjectives.last <=
            model.trainObjectives.head * (1 + 1e-9)) 1L else 0L)
            .as("opq_not_worse_than_pq"))
    },
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_outside_probed,
        | CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(1 AS BIGINT) AS recall_ge_30,
        | CAST(1 AS BIGINT) AS rotation_orthonormal,
        | CAST(1 AS BIGINT) AS opq_not_worse_than_pq""".stripMargin),

    // OPQ + exact re-rank: the rotated-space ADC scan nominates
    // candidates, true vectors re-score them exactly — quantization
    // error collapses to candidate error (mirror of ann_rerank)
    Entry("ann_opq_rerank", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedOpq(s, dir)
      val qf = queryVec(s, dir, 0L)
      val q = qf.map(_.toDouble)
      val qLit = typedlit(q.toSeq)
      val hits = OpqBuilder.topKRerank(encoded, emb, "embedding", "vec_id",
        model, q, k = 10, nprobe = 4, kFactor = 4)
      val adc = OpqBuilder.topK(encoded, model, q, k = 10, nprobe = 4)
      val exact = ExactKnn.rankedIds(emb, "embedding", "vec_id", qf, 10)
        .select(col("vec_id").as("id"))
      val inv = hits
        .join(emb.select(col("vec_id").as("id"), col("embedding")), "id")
        .withColumn("rec_dist", aggregate(zip_with(col("embedding"), qLit,
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x))
        .agg(
          count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum(when(abs(col("sq_dist") - col("rec_dist")) > 1e-6, 1L)
            .otherwise(0L)), lit(0L)).as("n_dist_bad"))
      val rr = hits.join(exact, "id")
        .agg(count(lit(1)).cast("long").as("n_rr"))
      val ra = adc.join(exact, "id")
        .agg(count(lit(1)).cast("long").as("n_ra"))
      inv.crossJoin(rr).crossJoin(ra).select(
        col("n_rows"), col("n_dist_bad"),
        when(col("n_rr") >= 5, 1L).otherwise(0L).as("recall_ge_50"),
        when(col("n_rr") >= col("n_ra"), 1L).otherwise(0L)
          .as("rerank_not_worse"))
    },
      """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(1 AS BIGINT) AS recall_ge_50,
        | CAST(1 AS BIGINT) AS rerank_not_worse""".stripMargin),

    // SQ8 scalar-quantization index (the second codec family beside
    // IVF+PQ): per-dim affine bytes, asymmetric distance. Invariants:
    // k rows; every reported distance equals a decode-side recompute
    // through the higher-order-function path; every vector reconstructs
    // within half a quantization step per dimension; recall vs the
    // oracle-verified exact top-k
    Entry("ann_sq8", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qf = queryVec(s, dir, 0L)
      val q = qf.map(_.toDouble)
      val model = graft.index.Sq8.fit(emb, "embedding", 64)
      val enc = graft.index.Sq8.encode(model, emb, "vec_id", "embedding")
      val dec = graft.index.Sq8.decoded(model, enc)
      val hits = graft.index.Sq8.topK(enc, model, q, 10)
      val exact = ExactKnn.rankedIds(emb, "embedding", "vec_id", qf, 10)
        .select(col("vec_id").as("id"))
      val qLit = typedlit(q.toSeq)
      val distChk = hits.join(dec, "id")
        .withColumn("rec", aggregate(zip_with(col("decoded"), qLit,
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x))
        .agg(count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum(when(abs(col("sq_dist") - col("rec")) > 1e-6, 1L)
            .otherwise(0L)), lit(0L)).as("n_dist_bad"))
      val halfStep = model.scales.max / 2 + 1e-9
      val recon = dec
        .join(emb.select(col("vec_id").as("id"), col("embedding")), "id")
        .agg(coalesce(sum(size(filter(zip_with(col("decoded"), col("embedding"),
          (d, o) => abs(d - o.cast("double")) > lit(halfStep)), x => x))
          .cast("long")), lit(0L)).as("n_recon_bad"))
      val rec = hits.join(exact, "id")
        .agg(count(lit(1)).cast("long").as("n_recalled"))
      distChk.crossJoin(recon).crossJoin(rec)
        .select(col("n_rows"), col("n_dist_bad"), col("n_recon_bad"),
          when(col("n_recalled") >= 7, 1L).otherwise(0L).as("recall_ge_70"))
    },
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(0 AS BIGINT) AS n_recon_bad,
        | CAST(1 AS BIGINT) AS recall_ge_70""".stripMargin),

    // IVF+SQ8 composite (FAISS IndexIVFScalarQuantizer shape): coarse
    // cells + byte-quantized residuals — invariants mirror ann_ivfpq
    // (k rows, hits ⊆ probed cells, every distance equals an independent
    // decode-side recompute through the HOF path, recall vs exact)
    Entry("ann_ivfsq8", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qf = queryVec(s, dir, 0L)
      val q = qf.map(_.toDouble)
      val (model, encoded) = graft.index.IvfSq8
        .fit(emb, "vec_id", "embedding", 64, numPartitions = 8)
      val hits = graft.index.IvfSq8.topK(encoded, model, q, k = 10, nprobe = 4)
      val probes = graft.index.IvfSq8.selectPartitions(model, q, 4)
        .map(_._1).toSeq
      val exact = ExactKnn.rankedIds(emb, "embedding", "vec_id", qf, 10)
        .select(col("vec_id").as("id"))
      val centLit = typedlit(model.partitionCentroids.map(_.toSeq).toSeq)
      val qLit = typedlit(q.toSeq)
      val withRec = hits
        .join(graft.index.Sq8.decoded(model.codec,
          encoded.select(col("id"), col("sq8"))), "id")
        .withColumn("approx", zip_with(col("decoded"),
          element_at(centLit, col("partition") + 1), (r, c) => r + c))
        .withColumn("rec_dist", aggregate(zip_with(col("approx"), qLit,
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x))
      val inv = withRec.agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(not(col("partition").isin(probes: _*)), 1L)
          .otherwise(0L)), lit(0L)).as("n_outside_probed"),
        coalesce(sum(when(abs(col("sq_dist") - col("rec_dist")) > 1e-6, 1L)
          .otherwise(0L)), lit(0L)).as("n_dist_bad"))
      val recall = hits.join(exact, "id")
        .agg(count(lit(1)).cast("long").as("n_recalled"))
      inv.crossJoin(recall)
        .select(col("n_rows"), col("n_outside_probed"), col("n_dist_bad"),
          when(col("n_recalled") >= 3, 1L).otherwise(0L).as("recall_ge_30"))
    },
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_outside_probed,
        | CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(1 AS BIGINT) AS recall_ge_30""".stripMargin),

    // batch ANN: all five query vectors against the stored codes in one
    // job; invariants: 5 query groups of exactly k rows each, distances
    // ascending with rank within every group, and per-query recall vs the
    // oracle-verified exact batch k-NN
    Entry("ann_batch", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val (model, codes) = IvfPqBuilder.load(s, storedIndexPath(s, dir))
      val (_, qs, exact) = batchQueries(s, dir)
      val ann = AnnQuery.batchTopK(codes, model, qs, k = 10, nprobe = 4)
      val w = Window.partitionBy("qid").orderBy("rank")
      val perQ = ann
        .withColumn("prev_dist", lag("sq_dist", 1).over(w))
        .groupBy("qid")
        .agg(count(lit(1)).as("cnt"),
          coalesce(sum(when(col("prev_dist") > col("sq_dist"), 1L)
            .otherwise(0L)), lit(0L)).as("viol"))
      val recPerQ = ann.join(exact, Seq("qid", "id"))
        .groupBy("qid").agg(count(lit(1)).as("n_rec"))
      perQ.join(recPerQ, Seq("qid"), "left").agg(
        count(lit(1)).cast("long").as("n_qids"),
        coalesce(sum(when(col("cnt") =!= 10, 1L).otherwise(0L)), lit(0L))
          .as("n_bad_k"),
        coalesce(sum(col("viol")), lit(0L)).as("n_order_viol"),
        coalesce(sum(when(coalesce(col("n_rec"), lit(0L)) < 3, 1L)
          .otherwise(0L)), lit(0L)).as("n_low_recall"))
    },
      """SELECT CAST(5 AS BIGINT) AS n_qids, CAST(0 AS BIGINT) AS n_bad_k,
        | CAST(0 AS BIGINT) AS n_order_viol,
        | CAST(0 AS BIGINT) AS n_low_recall""".stripMargin),

    // table-free batch ANN: queries as a DATAFRAME, probe planning on the
    // executors (topCellsL2 + pqDistDirect kernels) — nothing broadcast
    // or built per query on the driver, so the batch can be as large as
    // the cluster. Gated on PARITY with the driver-planned batchTopK
    // (same id at every (qid, rank), distances equal within 1e-6 — the
    // two paths differ only in float summation order) plus the standard
    // per-query recall invariant vs the oracle-verified exact batch k-NN.
    Entry("ann_batch_direct", (s, dir) =>
      batchParityGate(s, dir)(AnnQuery.batchTopKDirect(_, _, _, "qid", "qvec",
        k = 10, nprobe = 4)),
      """SELECT CAST(50 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_far, CAST(5 AS BIGINT) AS n_qids,
        | CAST(0 AS BIGINT) AS n_low_recall""".stripMargin),

    // the high-throughput batch path (in-plan ADC tables, shuffled-hash
    // scan, nothing query-scaled broadcast — AnnQuery.batchTopKAdc):
    // same invariants as ann_batch_direct, against the driver-planned
    // batchTopK as the parity reference and the exact top-k for recall
    Entry("ann_batch_adc", (s, dir) =>
      batchParityGate(s, dir)(AnnQuery.batchTopKAdc(_, _, _, "qid", "qvec",
        k = 10, nprobe = 4)),
      """SELECT CAST(50 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_far, CAST(5 AS BIGINT) AS n_qids,
        | CAST(0 AS BIGINT) AS n_low_recall""".stripMargin),

    // two-level residual quantization (index/Rq): a SECOND code layer
    // trained on the level-1 reconstruction error refines candidate
    // rerank WITHOUT stored originals (FAISS IVFPQR shape). Invariants:
    // k rows; the two-level total reconstruction error is strictly
    // below level-1's; refined recall >= 30% and >= the plain ADC
    // top-k's recall on this fixture
    Entry("ann_rq_rerank", (s, dir) => {
      import graft.index.Rq
      val emb = Tables.embeddings(s, dir)
      val (rq, enc2) = refinedIndex(s, dir)
      val model = rq.base
      val books1 = graft.functions.FastFunctions.litDoubles(
        model.codebooks.flatten.flatten)
      val cent = typedlit(model.partitionCentroids.map(_.toSeq).toSeq)
      val lvl1 = graft.functions.FastFunctions.pqReconstructF(
        element_at(cent, col("partition").cast("int") + 1),
        col("codes"), books1, model.config.numCodes)
      val errAgg = enc2.join(emb.select(col("vec_id").as("id"),
          col("embedding")), "id")
        .select(
          graft.functions.FastFunctions.squaredL2F(col("embedding"), lvl1)
            .as("e1"),
          graft.functions.FastFunctions.squaredL2F(col("embedding"),
            Rq.reconstruct2(rq)).as("e2"))
        .agg(sum(col("e1")).as("s1"), sum(col("e2")).as("s2"))
      val qf = queryVec(s, dir, 0L)
      val q = qf.map(_.toDouble)
      val hits = Rq.topKRefined(enc2, rq, q, k = 10, nprobe = 8)
      val adc = graft.query.AnnQuery.topK(enc2, model, q, k = 10,
        nprobe = 8)
      val exact = graft.query.ExactKnn
        .rankedIds(emb, "embedding", "vec_id", qf, 10)
        .select(col("vec_id").as("id"))
      val nRq = hits.join(exact, "id").agg(count(lit(1)).as("n_rq"))
      val nAdc = adc.join(exact, "id").agg(count(lit(1)).as("n_adc"))
      val nRows = hits.agg(count(lit(1)).as("n_rows"))
      nRows.crossJoin(errAgg).crossJoin(nRq).crossJoin(nAdc).select(
        col("n_rows"),
        when(col("s2") < col("s1"), 1L).otherwise(0L).as("err_improved"),
        when(col("n_rq") >= 3, 1L).otherwise(0L).as("recall_ge_30"),
        when(col("n_rq") >= col("n_adc"), 1L).otherwise(0L)
          .as("rq_not_worse"))
    },
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(1 AS BIGINT) AS err_improved,
        | CAST(1 AS BIGINT) AS recall_ge_30,
        | CAST(1 AS BIGINT) AS rq_not_worse""".stripMargin),

    // batch refined queries: one ADC nomination pass + one streamed
    // codes pass scoring two-level reconstructions must equal the
    // per-query refined path id-for-id and distance-for-distance
    Entry("ann_rq_batch", (s, dir) => {
      import graft.index.Rq
      val (rq, enc2) = refinedIndex(s, dir)
      val queries = Seq(0L, 3L, 9L).map(id =>
        id -> queryVec(s, dir, id).map(_.toDouble))
      val batch = Rq.batchTopKRefined(enc2, rq, queries, k = 10,
          nprobe = 8)
        .select(col("qid"), col("id"), col("sq_dist").as("b_dist"))
      val singles = queries.map { case (qid, q) =>
        Rq.topKRefined(enc2, rq, q, k = 10, nprobe = 8)
          .select(lit(qid).as("qid"), col("id"),
            col("sq_dist").as("s_dist"))
      }.reduce(_ unionByName _)
      idParity(batch, singles, "b_dist", "s_dist", keys = Seq("qid", "id"))
    },
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin),

    // refine path: ADC nominates k'=4k candidates, exact re-rank over
    // just those rows picks the final k (FAISS IndexRefineFlat pattern).
    // Invariants: k rows; every reported distance EQUALS an independent
    // exact recompute through the higher-order-function path (the result
    // is exact by construction, unlike raw ADC); recall vs the
    // oracle-verified exact top-k at least 50%; and the structural
    // guarantee that refining never loses recall vs the plain ADC top-k
    // over the same probed cells (a true top-k member in the candidate
    // set can be displaced only by globally-nearer vectors)
    Entry("ann_rerank", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val qf = queryVec(s, dir, 0L)
      val q = qf.map(_.toDouble)
      val qLit = typedlit(q.toSeq)
      val hits = AnnQuery.topKRerank(encoded, emb, "embedding", "vec_id",
        model, q, k = 10, nprobe = 4, kFactor = 4)
      val adc = AnnQuery.topK(encoded, model, q, k = 10, nprobe = 4)
      val exact = ExactKnn.rankedIds(emb, "embedding", "vec_id", qf, 10)
        .select(col("vec_id").as("id"))
      val inv = hits
        .join(emb.select(col("vec_id").as("id"), col("embedding")), "id")
        .withColumn("rec_dist", aggregate(zip_with(col("embedding"), qLit,
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, x) => acc + x))
        .agg(
          count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum(when(abs(col("sq_dist") - col("rec_dist")) > 1e-6, 1L)
            .otherwise(0L)), lit(0L)).as("n_dist_bad"))
      val rr = hits.join(exact, "id")
        .agg(count(lit(1)).cast("long").as("n_rr"))
      val ra = adc.join(exact, "id")
        .agg(count(lit(1)).cast("long").as("n_ra"))
      inv.crossJoin(rr).crossJoin(ra).select(
        col("n_rows"), col("n_dist_bad"),
        when(col("n_rr") >= 5, 1L).otherwise(0L).as("recall_ge_50"),
        when(col("n_rr") >= col("n_ra"), 1L).otherwise(0L)
          .as("rerank_not_worse"))
    },
      """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(1 AS BIGINT) AS recall_ge_50,
        | CAST(1 AS BIGINT) AS rerank_not_worse""".stripMargin),

    // recall CALIBRATION (the production nprobe knob): one-pass
    // probe-rank curve over a deterministic query sample; the
    // recommended setting must DELIVER its promised recall end-to-end
    // through the IVF-flat query path (exact distances in probed cells
    // — where measured recall provably equals the curve's value).
    // Invariants: full 1..P curve, monotone, exactly 1.0 at P, and the
    // delivered-promise check
    Entry("ann_calibrate", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val p = model.config.numPartitions
      val target = 0.9
      val curve = graft.query.Calibrate.nprobeRecallCurve(emb, "embedding",
        "vec_id", encoded, model, k = 10, sampleN = 25)
      val np = graft.query.Calibrate.recommend(curve, target)
      val curveInv = curve
        .withColumn("prev", lag(col("recall"), 1).over(Window.orderBy("nprobe")))
        .agg(
          count(lit(1)).cast("long").as("n_curve_rows"),
          coalesce(sum(when(col("prev").isNotNull &&
            col("recall") < col("prev"), 1L).otherwise(0L)), lit(0L))
            .as("n_mono_viol"),
          coalesce(sum(when(col("nprobe") === p && col("recall") === 1.0, 1L)
            .otherwise(0L)), lit(0L)).as("recall_p_exact"))
      val queries = graft.query.Calibrate.sampleQueries(emb, "embedding",
        "vec_id", 25)
      val truth = graft.query.Calibrate.exactNeighbors(emb, "embedding",
        "vec_id", queries, 10)
      // k+1 then drop self: calibration queries are corpus points, and
      // the self-match (dist 0, probe rank 1) always wins a slot
      val got = AnnQuery.batchTopKIvfFlat(encoded, emb, "embedding",
          "vec_id", model, queries, "qid", "qvec", k = 11, nprobe = np)
        .where(col("qid") =!= col("id"))
      curveInv.crossJoin(promiseDelivered(truth, got))
    },
      // curve invariants are exact by construction (probe ranks ≤ P ⇒
      // recall@P = 1; cumulative ⇒ monotone) and the promise check runs
      // the IVF-flat path where measured recall equals the curve value
      """SELECT CAST(8 AS BIGINT) AS n_curve_rows,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_p_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin),

    // nprobe calibration for the OTHER IVF families (round 14: SQ8/OPQ/
    // RQ/Hamming users previously tuned blind — VERDICT r13 #4). The
    // probe-rank identity is about candidate GENERATION, a pure function
    // of the coarse centroids — so IVF+SQ8 calibrates with ITS coarse
    // quantizer and the delivered-promise check runs exact-in-probed-
    // cells over the same cells (batchTopKCellsFlat)
    Entry("ann_calibrate_ivfsq8", (s, dir) => {
      val (model, enc) = fittedIvfSq8(s, dir)
      nprobeCalibrationGate(s, Tables.embeddings(s, dir),
        enc.select(col("id"), col("partition")), model.partitionCentroids)
    },
      // same probe-rank identity, the other coarse quantizers: both fits
      // use P=8 cells, the curve is exact at full probe by construction,
      // and the delivered check runs exact-in-probed-cells
      """SELECT CAST(8 AS BIGINT) AS n_curve_rows,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_p_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin),

    // OPQ nprobe calibration: cells are assigned in ORIGINAL space (the
    // rotation touches only the residual code space — Opq.scala), so the
    // curve uses model.ivf.partitionCentroids unchanged and the promise
    // check scans original vectors in the probed cells
    Entry("ann_calibrate_opq", (s, dir) => {
      val (model, enc) = fittedOpq(s, dir)
      nprobeCalibrationGate(s, Tables.embeddings(s, dir),
        enc.select(col("id"), col("partition")),
        model.ivf.partitionCentroids)
    },
      """SELECT CAST(8 AS BIGINT) AS n_curve_rows,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_p_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin),

    // cosine-metric calibration: the unit-sphere reduction (ann_cosine)
    // makes L2 machinery exact for cosine ordering, so the SAME curve +
    // delivery over the normalized corpus and the cosine model's cells
    // calibrates cosine recall — nothing metric-specific to add
    Entry("ann_calibrate_cosine", (s, dir) => {
      val (model, enc) = cosFittedIndex(s, dir)
      val unit = graft.pipeline.Embeddings.l2Normalized(
        Tables.embeddings(s, dir), "embedding")
      nprobeCalibrationGate(s, unit,
        enc.select(col("id"), col("partition")), model.partitionCentroids)
    },
      """SELECT CAST(8 AS BIGINT) AS n_curve_rows,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_p_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin),

    // kFactor calibration, flat-SQ8 family: the nominate-by-SQ8-distance
    // + exact-rerank composition's cut knob. One count-smaller pass
    // builds the whole curve (Calibrate.kFactorRecallCurve); invariants:
    // monotone, complete axis to ceil((N-1)/k), exactly 1.0 at the end
    // (whole-corpus candidates), and the recommended kFactor DELIVERS
    // its promise through the nominate + exact-rerank path
    Entry("ann_calibrate_sq8", (s, dir) =>
      kFactorCalibrationGate(s, dir, (emb, queries) => {
        val (model, enc) = fittedSq8(s, dir)
        graft.query.Calibrate.sq8Candidates(enc, model, queries)
      }),
      // kFactor curves: complete axis to ceil((N-1)/k), cumulative ⇒
      // monotone, whole-corpus candidate coverage ⇒ exactly 1.0 at the
      // end, and nominate(k·f+1) + exact rerank delivers ≥ the curve's
      // value at the recommended f (nomination-superset argument)
      """SELECT CAST(1 AS BIGINT) AS curve_complete,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_full_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin),

    // kFactor calibration, RQ family: the level-1 ADC nomination cut
    // that feeds Rq.topKRefined — candidates are the ADC-scored rows of
    // the probed cells (full probe here, so the curve's tail is exact),
    // delivery is nominate-by-ADC + exact rerank (calibration runs
    // offline against the corpus originals; the production refine sits
    // at or below this ceiling by construction, gated by ann_rq)
    Entry("ann_calibrate_rq", (s, dir) =>
      kFactorCalibrationGate(s, dir, (emb, queries) => {
        val (model, encoded) = fittedIndex(s, dir)
        graft.query.Calibrate.adcCandidates(
          encoded.select(col("id"), col("partition"), col("codes")),
          model, queries, nprobe = model.config.numPartitions)
      }),
      """SELECT CAST(1 AS BIGINT) AS curve_complete,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_full_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin),

    // kFactor calibration, Hamming family: the nominate-by-Hamming +
    // exact-rerank composition (BinaryQuant.rankedIdsRerank) — 1-bit/dim
    // signatures rank coarsely, so this is the family whose users most
    // need the curve (f_recommended is large; the gate proves the curve
    // prices that honestly and the promise still delivers)
    Entry("ann_calibrate_hamming", (s, dir) =>
      kFactorCalibrationGate(s, dir, (emb, queries) => {
        val thr = graft.index.BinaryQuant.fitThresholds(emb, "embedding")
        graft.query.Calibrate.hammingCandidates(emb, "embedding", "vec_id",
          thr, queries)
      }),
      """SELECT CAST(1 AS BIGINT) AS curve_complete,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_full_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin),
  )
}
