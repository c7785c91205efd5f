package graft
package entries

import org.apache.spark.sql.functions._

import graft.index.{IvfPqBuilder, IvfPqConfig}
import graft.pipeline.{TextAnalysis, Web}
import graft.query.{AnnQuery, ExactKnn}
import Fixtures._

/** pipeline_*, quality_*, corpus_*, train_*, pack_*, contrastive_*,
  * dsir_* and cluster_* entries: quality filtering and dataset
  * assembly, up to the end-to-end pipelines. */
private[graft] object CorpusEntries {

  def entries: Seq[Entry] = Seq(
    // the VECTOR-side end-to-end composite (the pipeline_end_to_end twin
    // for embeddings): hash-embed raw documents -> PCA to 16 dims (one
    // moments pass + driver Jacobi + a codegen projection) -> IVF+PQ
    // build over the reduced vectors -> refined self-query. Invariants:
    // every reduced vector has exactly k dims; the self-query's exact
    // rerank puts the query doc at rank 1 (its reduced distance is 0);
    // recall vs the exact top-10 over reduced vectors >= 30%
    Entry("pipeline_vector_end_to_end", (s, dir) => {
      import graft.pipeline.Embeddings
      val docs = Tables.documents(s, dir)
      val emb = Embeddings.hashEmbed(docs, dim = 128).localCheckpoint()
      val pca = Embeddings.pcaFit(emb, "embedding", k = 16)
      val reduced = Embeddings.pcaProject(emb, "doc_id", "embedding", pca)
        .select(col("doc_id"), col("proj").cast("array<float>").as("vec"))
        .localCheckpoint()
      val (model, encoded) = IvfPqBuilder.fit(reduced, "doc_id", "vec", 16,
        IvfPqConfig(numPartitions = 4, numDivisions = 4, numCodes = 32,
          maxIter = 15))
      val qf = reduced.where(col("doc_id") === 7L).head()
        .getSeq[Float](1).toArray
      val q = qf.map(_.toDouble)
      val hits = AnnQuery.topKRerank(encoded, reduced, "vec", "doc_id",
        model, q, k = 10, nprobe = 4)
      val exact = ExactKnn.rankedIds(reduced, "vec", "doc_id", qf, 10)
        .select(col("doc_id").as("id"))
      val badLen = reduced
        .agg(coalesce(sum(when(size(col("vec")) =!= 16, 1L)
          .otherwise(0L)), lit(0L)).as("n_badlen"))
      val top1 = hits.orderBy(col("sq_dist"), col("id")).limit(1)
        .agg(coalesce(sum(when(col("id") === 7L, 1L).otherwise(0L)),
          lit(0L)).as("top1_self"))
      val rec = hits.join(exact, "id").agg(count(lit(1)).as("n_hit"))
      hits.agg(count(lit(1)).as("n_rows"))
        .crossJoin(badLen).crossJoin(top1).crossJoin(rec)
        .select(col("n_rows"), col("n_badlen"), col("top1_self"),
          when(col("n_hit") >= 3, 1L).otherwise(0L).as("recall_ge_30"))
    },
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_badlen,
        | CAST(1 AS BIGINT) AS top1_self,
        | CAST(1 AS BIGINT) AS recall_ge_30""".stripMargin),

    // contrastive hard-negative mining: each anchor's 3 nearest
    // NON-same-label neighbors from its exact kNN@10 list — the
    // (anchor, positive, hard-negative) assembly step for embedding
    // training; the oracle recomputes kNN, the label filter, and the
    // re-rank independently
    Entry("contrastive_negatives", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") <= 9)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val knn = ExactKnn.batchTopK(emb, "embedding", "vec_id",
          qs, "qid", "qvec", 10)
        .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
      val ql = emb.where(col("vec_id") <= 9)
        .select(col("vec_id").as("qid"), col("label"))
      val positives = emb.select(col("vec_id").as("doc_id"), col("label"))
        .join(ql, "label").select("qid", "doc_id")
      graft.pipeline.Contrastive.hardNegatives(knn, positives, k = 3)
        .orderBy("qid", "rank")
    },
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id <= 9),
        |d AS (SELECT q.qid AS qid, e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE)))
        |    AS sq
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2),
        |r AS (SELECT qid, vec_id AS doc_id, rank FROM (
        | SELECT qid, vec_id, CAST(row_number() OVER (PARTITION BY qid
        |   ORDER BY sq, vec_id) AS BIGINT) AS rank
        | FROM d) t WHERE rank <= 10),
        |ql AS (SELECT vec_id AS qid, label FROM embeddings
        |  WHERE vec_id <= 9),
        |lab AS (SELECT vec_id AS doc_id, label FROM embeddings),
        |neg AS (SELECT r.qid, r.doc_id,
        |  row_number() OVER (PARTITION BY r.qid ORDER BY r.rank) AS rk
        | FROM r JOIN ql ON ql.qid = r.qid
        | JOIN lab ON lab.doc_id = r.doc_id
        | WHERE r.doc_id <> r.qid AND lab.label <> ql.label)
        |SELECT qid, doc_id, CAST(rk AS BIGINT) AS rank FROM neg
        |WHERE rk <= 3 ORDER BY qid, rank""".stripMargin),

    // CCNet's decision layer on top of text_lm_fit: per-language
    // head/middle/tail terciles of the integer LM fit score, rank
    // order (score desc, doc_id) so bucket boundaries are tie-stable
    Entry("quality_ccnet_buckets", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.qualityBuckets(docs, docs, "lang", nBuckets = 3)
        .orderBy("doc_id")
    },
      // the text_lm_fit score pipeline + one ntile window per language
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ts)) > 4095 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM tok),
        |bg AS (SELECT doc_id, ts[i.i] AS w1, ts[i.i + 1] AS w2
        | FROM tok, generate_series(1, 4096) AS i(i)
        | WHERE i.i + 1 <= len(ts)),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v
        |  FROM (SELECT unnest(ts) AS t FROM tok)),
        |pd AS (SELECT bg.doc_id, count(*) AS n_bigrams,
        |  sum((1000000 * (c12 + 1)) // (c1 + v.v)) AS sum_p
        | FROM bg JOIN big USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v
        | GROUP BY bg.doc_id),
        |sc AS (SELECT d.doc_id, d.lang,
        |  CAST(CASE WHEN coalesce(pd.n_bigrams, 0) = 0 THEN 0
        |    ELSE pd.sum_p // pd.n_bigrams END AS BIGINT) AS mean_p_x1e6
        | FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id)
        |SELECT doc_id, lang, mean_p_x1e6,
        | CAST(ntile(3) OVER (PARTITION BY lang
        |   ORDER BY mean_p_x1e6 DESC, doc_id) AS BIGINT) AS bucket
        |FROM sc CROSS JOIN guard WHERE guard.ok = 1
        |ORDER BY doc_id""".stripMargin),

    // the scale path of quality_ccnet_buckets: per-language histogram
    // boundaries (no per-language ntile sort — the head language of a
    // crawl IS the corpus); tie classes stay whole at boundaries
    Entry("quality_ccnet_buckets_approx", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.qualityBucketsApprox(docs, docs, "lang", nBuckets = 3)
        .orderBy("doc_id")
    },
      // same scoring chain as quality_ccnet_buckets, then per-language
      // integer histogram boundaries (descending rank: b_i = max score
      // whose descending cumulative count reaches i*n_lang/3) instead
      // of ntile; bucket = 1 + #(boundaries strictly above the score)
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ts)) > 4095 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM tok),
        |bg AS (SELECT doc_id, ts[i.i] AS w1, ts[i.i + 1] AS w2
        | FROM tok, generate_series(1, 4096) AS i(i)
        | WHERE i.i + 1 <= len(ts)),
        |big AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
        |ctx AS (SELECT w1, count(*) AS c1 FROM bg GROUP BY 1),
        |v AS (SELECT count(DISTINCT t) AS v
        |  FROM (SELECT unnest(ts) AS t FROM tok)),
        |pd AS (SELECT bg.doc_id, count(*) AS n_bigrams,
        |  sum((1000000 * (c12 + 1)) // (c1 + v.v)) AS sum_p
        | FROM bg JOIN big USING (w1, w2) JOIN ctx USING (w1) CROSS JOIN v
        | GROUP BY bg.doc_id),
        |sc AS (SELECT d.doc_id, d.lang,
        |  CAST(CASE WHEN coalesce(pd.n_bigrams, 0) = 0 THEN 0
        |    ELSE pd.sum_p // pd.n_bigrams END AS BIGINT) AS mean_p_x1e6
        | FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id),
        |hist AS (SELECT lang, mean_p_x1e6 AS s, count(*) AS c
        |  FROM sc GROUP BY 1, 2),
        |cum AS (SELECT lang, s,
        |  sum(c) OVER (PARTITION BY lang ORDER BY s DESC) AS cc,
        |  sum(c) OVER (PARTITION BY lang) AS n FROM hist),
        |bounds AS (SELECT lang, i.i AS i, max(s) AS b FROM cum
        |  CROSS JOIN generate_series(1, 2) AS i(i)
        |  WHERE cc * 3 >= i.i * n GROUP BY 1, 2)
        |SELECT sc.doc_id, sc.lang, sc.mean_p_x1e6,
        | CAST(1 + (SELECT count(*) FROM bounds
        |   WHERE bounds.lang = sc.lang AND sc.mean_p_x1e6 < bounds.b)
        |   AS BIGINT) AS bucket
        |FROM sc CROSS JOIN guard WHERE guard.ok = 1
        |ORDER BY doc_id""".stripMargin),

    // end-to-end corpus cleaning: quality filter → exact dedup →
    // near-dup drop list, each stage over the previous stage's
    // survivors; output = every dropped doc with its (unique) reason
    Entry("corpus_clean", (s, dir) =>
      graft.pipeline.CorpusClean.dropDecisions(Tables.documents(s, dir),
          minTokens = 16, maxStopPct = 12, dedupThresholdPct = 90)
        .orderBy("doc_id"),
      // replicates CorpusClean.dropDecisions stage by stage: quality
      // thresholds (same integer arithmetic as text_quality), exact dedup
      // over quality survivors, recursive-CTE connected components over
      // exact Jaccard pairs of the remaining docs (≡ the LSH+verify+CC
      // result — see jaccardOracle note)
      s"""WITH lowq AS (
         |  SELECT doc_id FROM (
         |    SELECT doc_id,
         |      CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |      CAST(floor(100.0 * len(list_filter(string_split(text, ' '),
         |        t -> t IN ('the','a','an','of','to','and','in','is')))
         |        / len(string_split(text, ' '))) AS BIGINT) AS stop_pct
         |    FROM documents) q
         |  WHERE n_tokens < 16 OR stop_pct > 12),
         |qdocs AS (SELECT * FROM documents
         |  WHERE doc_id NOT IN (SELECT doc_id FROM lowq)),
         |ex AS (SELECT doc_id FROM (
         |    SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep
         |    FROM qdocs) t
         |  WHERE doc_id != keep),
         |udocs AS (SELECT * FROM qdocs
         |  WHERE doc_id NOT IN (SELECT doc_id FROM ex)),
         |pairs AS (${jaccardOracle(90, "udocs")}),
         |ed AS (SELECT a_id AS s, b_id AS d FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |r AS (
         |  WITH RECURSIVE reach(id, root) AS (
         |    SELECT doc_id, doc_id FROM udocs
         |    UNION
         |    SELECT ed.d, reach.root FROM reach JOIN ed ON ed.s = reach.id)
         |  SELECT id, min(root) AS comp FROM reach GROUP BY id)
         |SELECT doc_id, reason FROM (
         |  SELECT doc_id, 'quality' AS reason FROM lowq
         |  UNION ALL SELECT doc_id, 'exact_dup' AS reason FROM ex
         |  UNION ALL SELECT id AS doc_id, 'near_dup' AS reason FROM r
         |    WHERE id != comp) t
         |ORDER BY doc_id""".stripMargin),

    // deterministic id-hash train/val/test split — membership is a pure
    // function of doc_id (stable under reruns and appends, no shuffle)
    Entry("train_split", (s, dir) =>
      graft.pipeline.TrainingData
        .hashSplit(Tables.documents(s, dir), "doc_id")
        .select("doc_id", "split")
        .orderBy("doc_id"),
      """SELECT doc_id,
        | CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
        |     THEN 'train'
        |   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |   ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin),

    // LEAKAGE-FREE split: every doc follows its near-dup component
    // representative through the md5 split rule, so a near-dup cluster
    // can never straddle train and test (held-out eval would otherwise
    // score memorized text); singletons reduce to plain hashSplit
    Entry("train_split_safe", (s, dir) =>
      graft.pipeline.TrainingData
        .groupAwareSplit(Tables.documents(s, dir).select("doc_id"),
          lshPairs90(s, dir))
        .select("doc_id", "rep", "split")
        .orderBy("doc_id"),
      // components over the exact J>=90 pair relation (dedup_drop_list's
      // recursive-CTE shape), then train_split's md5 rule on the component
      // minimum instead of the doc's own id
      s"""WITH pairs AS (${jaccardOracle(90)}),
         |ed AS (SELECT a_id AS s, b_id AS d FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |r AS (
         |  WITH RECURSIVE reach(id, root) AS (
         |    SELECT doc_id, doc_id FROM documents
         |    UNION
         |    SELECT ed.d, reach.root FROM reach JOIN ed ON ed.s = reach.id)
         |  SELECT id, min(root) AS comp FROM reach GROUP BY id)
         |SELECT id AS doc_id, comp AS rep,
         | CASE WHEN substr(md5(CAST(comp AS VARCHAR)), 1, 2) < 'cc'
         |     THEN 'train'
         |   WHEN substr(md5(CAST(comp AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |   ELSE 'test' END AS split
         |FROM r ORDER BY doc_id""".stripMargin),

    // LEAKAGE-FREE k-folds: the kFolds md5 rule applied to each doc's
    // near-dup component representative — no cluster straddles folds,
    // so no cross-validation fold evaluates on text another fold
    // trained on; singletons reduce to plain kFolds
    Entry("train_folds_safe", (s, dir) =>
      graft.pipeline.TrainingData
        .groupAwareFolds(Tables.documents(s, dir).select("doc_id"),
          lshPairs90(s, dir), "doc_id", folds = 5, seed = 3)
        .select("doc_id", "rep", "fold")
        .orderBy("doc_id"),
      s"""WITH pairs AS (${jaccardOracle(90)}),
         |ed AS (SELECT a_id AS s, b_id AS d FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |r AS (
         |  WITH RECURSIVE reach(id, root) AS (
         |    SELECT doc_id, doc_id FROM documents
         |    UNION
         |    SELECT ed.d, reach.root FROM reach JOIN ed ON ed.s = reach.id)
         |  SELECT id, min(root) AS comp FROM reach GROUP BY id)
         |SELECT id AS doc_id, comp AS rep,
         | ('0x' || substr(md5('fold:3:' || CAST(comp AS VARCHAR)), 1, 6))
         |   ::BIGINT % 5 AS fold
         |FROM r ORDER BY doc_id""".stripMargin),

    // deterministic k-fold assignment (cross-validation): fold is a pure
    // function of (seed, id) — stable under reruns/appends, re-drawable
    // by seed, one narrow projection
    Entry("train_folds", (s, dir) =>
      graft.pipeline.TrainingData
        .kFolds(Tables.documents(s, dir), "doc_id", folds = 5, seed = 3)
        .select("doc_id", "fold")
        .orderBy("doc_id"),
      """SELECT doc_id,
        | ('0x' || substr(md5('fold:3:' || CAST(doc_id AS VARCHAR)), 1, 6))
        |   ::BIGINT % 5 AS fold
        |FROM documents ORDER BY doc_id""".stripMargin),

    // unsupervised corpus clustering + cluster-balanced sampling
    // (pipeline/Clustering): k-means cells over the embeddings table
    // (capped driver fit + one distributed nearestCentroidL2 projection)
    // composed with exact per-cluster quotas and the stratified md5
    // race. The assignment itself is float/driver-seeded (not
    // SQL-reproducible), so the gate is the invariant report: coverage,
    // range, an INDEPENDENT zip_with-HOF argmin cross-check against the
    // codegen kernel, exact balanced/proportional quota arithmetic, and
    // sampled-count == min(quota, size) per cluster
    Entry("cluster_balanced", (s, dir) => {
      import s.implicits._
      import graft.pipeline.Clustering
      val emb = Tables.embeddings(s, dir)
      val model = Clustering.fit(emb, "embedding", k = 8, seed = 5,
        trainPointsPerCentroid = 0)
      val assigned = Clustering.assign(emb, "embedding", model)
        .localCheckpoint()
      val cents = model.centroids.zipWithIndex
        .map { case (c, i) => (i.toLong, c) }.toSeq.toDF("cid", "cent")
      val indep = assigned.select(col("vec_id"), col("embedding"))
        .crossJoin(broadcast(cents))
        .withColumn("d2", aggregate(
          zip_with(col("embedding"), col("cent"),
            (a, b) => (a.cast("double") - b) * (a.cast("double") - b)),
          lit(0.0), (acc, x) => acc + x))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy("vec_id").orderBy(col("d2"), col("cid"))))
        .where(col("rk") === 1)
        .select(col("vec_id"), col("cid"))
      val mismatches = assigned.join(indep, "vec_id")
        .agg(coalesce(sum(when(col("cluster") =!= col("cid"), 1L)
          .otherwise(0L)), lit(0L)).as("n_argmin_mismatch"))
      val quotas = Clustering.clusterQuotas(assigned, total = 160,
        mode = "balanced")
      val prop = Clustering.clusterQuotas(assigned, total = 77,
        mode = "proportional")
      val sample = graft.pipeline.TrainingData.stratifiedSample(
        assigned, "cluster", "vec_id", quotas, seed = 5)
      val sizes = assigned.groupBy("cluster")
        .agg(count(lit(1)).as("sz"))
      val sampleOk = sizes.join(quotas, "cluster")
        .join(sample.groupBy("cluster").agg(count(lit(1)).as("got")),
          Seq("cluster"), "left")
        .agg(coalesce(sum(when(coalesce(col("got"), lit(0L)) ===
          least(col("n"), col("sz")), 0L).otherwise(1L)), lit(0L))
          .as("n_sample_bad"))
      val stats = assigned.agg(
        count(lit(1)).as("n_assigned"),
        coalesce(sum(when(col("cluster") >= 0 && col("cluster") < 8, 0L)
          .otherwise(1L)), lit(0L)).as("n_out_of_range"),
        countDistinct(col("cluster")).as("n_clusters"))
      val quotaAgg = quotas.agg(
        coalesce(sum(col("n")), lit(0L)).as("quota_sum"),
        (max(col("n")) - min(col("n"))).as("quota_spread"))
      val propAgg = prop.agg(
        coalesce(sum(col("n")), lit(0L)).as("prop_sum"))
      stats.crossJoin(mismatches).crossJoin(quotaAgg).crossJoin(propAgg)
        .crossJoin(sampleOk)
        .select(
          col("n_assigned"),
          col("n_out_of_range"),
          when(col("n_clusters") >= 2, 1L).otherwise(0L)
            .as("multi_cluster"),
          col("n_argmin_mismatch"),
          col("quota_sum"),
          when(col("quota_spread") <= 1, 1L).otherwise(0L)
            .as("balanced_spread_ok"),
          col("prop_sum"),
          col("n_sample_bad"))
    },
      """SELECT CAST(500 AS BIGINT) AS n_assigned,
        | CAST(0 AS BIGINT) AS n_out_of_range,
        | CAST(1 AS BIGINT) AS multi_cluster,
        | CAST(0 AS BIGINT) AS n_argmin_mismatch,
        | CAST(160 AS BIGINT) AS quota_sum,
        | CAST(1 AS BIGINT) AS balanced_spread_ok,
        | CAST(77 AS BIGINT) AS prop_sum,
        | CAST(0 AS BIGINT) AS n_sample_bad""".stripMargin),

    // distribution-level expectations: exact-percentile bounds as
    // publish-gate rules — p99 of value cents under a passing bound and
    // p50 under a deliberately failing one (0 and 1 violations)
    Entry("quality_expectations_quantile", (s, dir) => {
      import graft.operators.Expectations
      val ev = Tables.events(s, dir)
        .select(floor(col("value") * 100).cast("long").as("cents"))
      Expectations.violations(ev, Seq(
        Expectations.QuantileAtMost("cents", qX100 = 99, bound = 25000L),
        Expectations.QuantileAtMost("cents", qX100 = 50, bound = 1000L)))
        .orderBy("rule")
    },
      """WITH v AS (SELECT CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events),
        |h AS (SELECT v, count(*) AS cnt FROM v GROUP BY v),
        |c AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM h),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
        |q AS (SELECT 'quantile_at_most:cents:p50' AS rule, 50 AS qx,
        |   1000 AS bound
        | UNION ALL SELECT 'quantile_at_most:cents:p99', 99, 25000)
        |SELECT q.rule, CAST(CASE WHEN (SELECT min(c.v) FROM c, n
        |  WHERE c.cum >= (q.qx * n.n + 99) // 100) > q.bound
        |  THEN 1 ELSE 0 END AS BIGINT) AS n_violations
        |FROM q ORDER BY rule""".stripMargin),

    // cross-source contamination matrix: distinct shared word-4-gram
    // fingerprints per source PAIR — the corpus-health diagnostic run
    // before mixing sources; two injected cross-source phrases (on the
    // %3 and %5 doc residues) make every cell's arithmetic non-trivial
    Entry("corpus_overlap_matrix", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("source"),
        concat(col("text"),
          when(pmod(col("doc_id"), lit(3)) === 0,
            lit(" shared contamination phrase alpha beta gamma delta " +
              "epsilon")).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(5)) === 0,
            lit(" second common boilerplate zeta eta theta iota kappa"))
            .otherwise(lit(""))).as("text"))
      graft.pipeline.TrainingData
        .sourceOverlapMatrix(docs, "source", "text", n = 4)
        .orderBy("src_a", "src_b")
    },
      """WITH d AS (SELECT source, doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0 THEN
        |    ' shared contamination phrase alpha beta gamma delta epsilon'
        |    ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0 THEN
        |    ' second common boilerplate zeta eta theta iota kappa'
        |    ELSE '' END AS text
        | FROM documents),
        |tok AS (SELECT source, string_split(text, ' ') AS ts FROM d),
        |g AS (SELECT DISTINCT source AS src,
        |  md5(array_to_string(ts[i.i : i.i + 3], ' ')) AS g
        | FROM tok, generate_series(1, 4096) AS i(i)
        | WHERE i.i + 3 <= len(ts))
        |SELECT a.src AS src_a, b.src AS src_b,
        | CAST(count(*) AS BIGINT) AS n_shared
        |FROM g a JOIN g b ON a.g = b.g AND a.src < b.src
        |GROUP BY a.src, b.src ORDER BY src_a, src_b""".stripMargin),

    // DSIR data selection (Xie et al. 2023): candidates from the
    // src4..src19 pool ranked by how target-like (src0..src3) their
    // unigram distribution is — integer probability-difference scores,
    // deterministic top-100 by (score, doc_id)
    Entry("dsir_select", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val tgt = docs.where(
        col("source").isin("src0", "src1", "src2", "src3"))
      val cand = docs.where(
        !col("source").isin("src0", "src1", "src2", "src3"))
      graft.pipeline.TrainingData.dsirSelect(tgt, cand, n = 100)
        .orderBy("rank")
    },
      """WITH tgt AS (SELECT string_split(text, ' ') AS ts FROM documents
        |  WHERE source IN ('src0', 'src1', 'src2', 'src3')),
        |cand AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents
        |  WHERE source NOT IN ('src0', 'src1', 'src2', 'src3')),
        |tt AS (SELECT unnest(ts) AS tok FROM tgt),
        |rt AS (SELECT unnest(ts) AS tok FROM cand),
        |tc AS (SELECT tok, count(*) AS c_t FROM tt GROUP BY 1),
        |rc AS (SELECT tok, count(*) AS c_r FROM rt GROUP BY 1),
        |k AS (SELECT
        |  (SELECT count(*) FROM tt) AS t_t,
        |  (SELECT count(*) FROM rt) AS t_r,
        |  (SELECT count(*) FROM (SELECT tok FROM tt UNION
        |    SELECT tok FROM rt)) AS v),
        |sc AS (SELECT s.doc_id, count(*) AS n_tokens,
        |  sum((1000000000 * (coalesce(tc.c_t, 0) + 1)) // (k.t_t + k.v)
        |    - (1000000000 * (coalesce(rc.c_r, 0) + 1)) // (k.t_r + k.v))
        |    AS score
        | FROM (SELECT doc_id, unnest(ts) AS tok FROM cand) s
        | LEFT JOIN tc USING (tok) LEFT JOIN rc USING (tok) CROSS JOIN k
        | GROUP BY 1),
        |r AS (SELECT row_number() OVER (ORDER BY score DESC, doc_id)
        |   AS rank, doc_id, n_tokens, score FROM sc)
        |SELECT CAST(rank AS BIGINT) AS rank, doc_id,
        | CAST(n_tokens AS BIGINT) AS n_tokens,
        | CAST(score AS BIGINT) AS score_x1e9
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin),

    // deterministic epoch shuffle + sharding: shard AND within-shard
    // order are pure functions of (seed, id), so the training order is
    // reproducible, epoch-reseedable, and needs no global sort — the
    // output position is checked, not just membership
    Entry("train_shard", (s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("sort_key"), col("doc_id"))
      graft.pipeline.TrainingData
        .shuffleShards(Tables.documents(s, dir), "doc_id", seed = 7,
          numShards = 8)
        .select(col("doc_id"), col("shard"),
          row_number().over(w).cast("long").as("shard_pos"))
        .orderBy("doc_id")
    },
      """WITH s AS (SELECT doc_id,
        |  md5('shuffle:7:' || CAST(doc_id AS VARCHAR)) AS sort_key,
        |  ('0x' || substr(md5('shuffle:7:' || CAST(doc_id AS VARCHAR)), 1, 6))
        |    ::BIGINT % 8 AS shard
        | FROM documents)
        |SELECT doc_id, shard,
        | CAST(row_number() OVER (PARTITION BY shard
        |   ORDER BY sort_key, doc_id) AS BIGINT) AS shard_pos
        |FROM s ORDER BY doc_id""".stripMargin),

    // GPT-style concat-then-chunk sequence packing: 8 shards, 1024-token
    // budget; a doc's sequence id is its start offset / budget
    Entry("pack_sequences", (s, dir) =>
      graft.pipeline.TrainingData
        .packSequences(Tables.documents(s, dir), "doc_id",
          size(graft.pipeline.TextAnalysis.tokens(col("text"))),
          budget = 1024, shards = 8)
        .orderBy("doc_id"),
      """SELECT doc_id, shard,
        | CAST((cum - n_tokens) // 1024 AS BIGINT) AS seq_id,
        | CAST((cum - n_tokens) % 1024 AS BIGINT) AS seq_offset
        |FROM (
        | SELECT doc_id, doc_id % 8 AS shard,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  sum(CAST(len(string_split(text, ' ')) AS BIGINT)) OVER (
        |    PARTITION BY doc_id % 8 ORDER BY doc_id
        |    ROWS UNBOUNDED PRECEDING) AS cum
        | FROM documents) t
        |ORDER BY doc_id""".stripMargin),

    // declarative data-quality expectations (the dbt-test shape): six
    // rules over events in one scan + two key aggregates + one
    // anti-join; the mixed zero/nonzero violation counts are computed
    // independently by the oracle, so the gate checks real counting,
    // not just "clean data passes"
    Entry("quality_expectations", (s, dir) => {
      import graft.operators.Expectations._
      violations(Tables.events(s, dir), Seq(
        NotNull("user_id"),
        Unique(Seq("event_id")),
        Unique(Seq("user_id", "event_type")),
        InRange("value", 0.0, 100.0),
        Accepted("event_type", Seq("view", "click", "purchase", "signup")),
        RefersTo("user_id",
          Tables.customer(s, dir).select("c_custkey"), "c_custkey")))
    },
      """SELECT rule, CAST(n AS BIGINT) AS n_violations FROM (
        | SELECT 'accepted:event_type' AS rule,
        |  sum(CASE WHEN event_type NOT IN
        |    ('view', 'click', 'purchase', 'signup') THEN 1 ELSE 0 END) AS n
        | FROM events
        | UNION ALL
        | SELECT 'in_range:value',
        |  sum(CASE WHEN value < 0.0 OR value > 100.0 THEN 1 ELSE 0 END)
        | FROM events
        | UNION ALL
        | SELECT 'not_null:user_id',
        |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) FROM events
        | UNION ALL
        | SELECT 'refers_to:user_id', count(*) FROM events e
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |    WHERE c.c_custkey = e.user_id)
        | UNION ALL
        | SELECT 'unique:event_id',
        |  count(*) - (SELECT count(*) FROM
        |    (SELECT DISTINCT event_id FROM events)) FROM events
        | UNION ALL
        | SELECT 'unique:user_id,event_type',
        |  count(*) - (SELECT count(*) FROM
        |    (SELECT DISTINCT user_id, event_type FROM events)) FROM events
        |) ORDER BY rule""".stripMargin),

    // order-level expectations (Expectations.NonDecreasing): event
    // time must not run backwards along the event-id sequence per user
    // — planted 24h regressions on event_id % 1000 = 7 are counted as
    // adjacent inversions; the random `value` column gives a loud
    // natural-inversion control on the same one-pass-per-rule window
    Entry("quality_expectations_monotone", (s, dir) => {
      import graft.operators.Expectations._
      val ev = Tables.events(s, dir)
        .withColumn("ts",
          when(pmod(col("event_id"), lit(1000L)) === 7L,
            col("ts") - lit(86400L * 1000000000L))
            .otherwise(col("ts")))
      violations(ev, Seq(
        NonDecreasing("ts", "event_id", Seq("user_id")),
        NonDecreasing("value", "event_id", Seq("user_id"))))
    },
      """WITH e AS (SELECT user_id, event_id, value,
        |  CASE WHEN event_id % 1000 = 7
        |   THEN CAST(epoch_ns(ts) AS BIGINT) - 86400000000000
        |   ELSE CAST(epoch_ns(ts) AS BIGINT) END AS ts
        | FROM events),
        |t AS (SELECT CASE WHEN lag(ts) OVER (PARTITION BY user_id
        |    ORDER BY event_id, ts) > ts THEN 1 ELSE 0 END AS viol
        | FROM e),
        |v AS (SELECT CASE WHEN lag(value) OVER (PARTITION BY user_id
        |    ORDER BY event_id, value) > value THEN 1 ELSE 0 END AS viol
        | FROM e)
        |SELECT rule, CAST(n AS BIGINT) AS n_violations FROM (
        | SELECT 'non_decreasing:ts:by:event_id' AS rule,
        |  coalesce(sum(viol), 0) AS n FROM t
        | UNION ALL
        | SELECT 'non_decreasing:value:by:event_id',
        |  coalesce(sum(viol), 0) FROM v
        |) ORDER BY rule""".stripMargin),

    Entry("corpus_profile", (s, dir) => {
      val toks = TextAnalysis.tokens(col("text"))
      Tables.documents(s, dir)
        .select(col("source"), col("doc_id"),
          size(toks).cast("long").as("n_toks"),
          explode(toks).as("tok"))
        .groupBy("source")
        .agg(countDistinct(col("doc_id")).as("n_docs"),
          count(lit(1)).as("n_tokens"),
          countDistinct(col("tok")).as("n_vocab"),
          min(col("n_toks")).as("min_len"),
          max(col("n_toks")).as("max_len"))
        .orderBy("source")
    },
      """WITH t AS (SELECT source, doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |e AS (SELECT source, doc_id, len(toks) AS n_toks, unnest(toks) AS tok
        | FROM t)
        |SELECT source, count(DISTINCT doc_id) AS n_docs,
        | count(*) AS n_tokens, count(DISTINCT tok) AS n_vocab,
        | CAST(min(n_toks) AS BIGINT) AS min_len,
        | CAST(max(n_toks) AS BIGINT) AS max_len
        |FROM e GROUP BY source ORDER BY source""".stripMargin),

    // the WHOLE web-curation chain composed end to end: render pages
    // as WARC shards → re-ingest (multi-byte-lineSep split) → URL-level
    // dedup on the parsed target URIs (group-stable messy URLs, one
    // survivor per canonical key) → HTML → text extraction on the KEPT
    // pages only (the cheap dedup runs before the expensive parse —
    // the 100 TB ordering) → per-survivor token/link accounting. The
    // oracle rebuilds every stage from the synthesis residues
    Entry("pipeline_web_end_to_end", (s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_web_e2e").toString
      val docs = Tables.documents(s, dir)
        .withColumn("url", webGroupUrl).withColumn("html", webHtmlDoc)
      docs.select(graft.sources.WarcCorpus.render(col("url"),
          concat(lit("urn:graft:"), col("doc_id")), col("html"))
          .as("value"))
        .write.mode("overwrite").text(s"$tmp/warc")
      val (recs, _) = graft.sources.WarcCorpus.read(s, s"$tmp/warc")
      val pages = recs.select(
        regexp_extract(col("record_id"), "urn:graft:([0-9]+)", 1)
          .cast("long").as("doc_id"),
        col("target_uri").as("url"), col("payload").as("html"))
      val kept = Web.dedupByUrl(pages, "url")
        .select(col("keep_id").as("doc_id"), col("url_key"), col("n_dups"))
      val ex = graft.pipeline.Html.extract(
        pages.join(kept.select("doc_id"), Seq("doc_id")), "html")
      kept.join(ex, Seq("doc_id"))
        .select(col("doc_id"), col("url_key"), col("n_dups"),
          size(split(col("clean_text"), " ")).cast("long")
            .as("n_clean_tokens"),
          col("n_links"))
        .orderBy("doc_id")
    },
      // every stage rebuilt from the residues: canonical keys + group
      // min-survivors (web_url_dedup's construction), then the
      // web_html_extract rule chain on the survivors only
      """WITH kk AS (SELECT doc_id, doc_id // 3 AS g FROM documents),
        |r AS (SELECT doc_id,
        |  'site' || (g % 50) ||
        |  (CASE WHEN g % 4 = 0 THEN '.com' WHEN g % 4 = 1 THEN '.co.uk'
        |        WHEN g % 4 = 2 THEN '.org' ELSE '.io' END) ||
        |  '/p/' || g || '?v=' || (g % 7) AS url_key
        | FROM kk),
        |kept AS (SELECT url_key, CAST(min(doc_id) AS BIGINT) AS doc_id,
        |  CAST(count(*) AS BIGINT) AS n_dups FROM r GROUP BY 1),
        |b AS (SELECT d.doc_id,
        |  '<html><head><title>Doc ' || d.doc_id || ' &amp; source ' ||
        |   d.source || '</title>' ||
        |  (CASE WHEN d.doc_id % 3 = 0 THEN '<style>p { margin: 0; }</style>'
        |        ELSE '' END) || '</head><body>' ||
        |  (CASE WHEN d.doc_id % 2 = 0 THEN
        |    '<script type="text/javascript">var x = 1 < 2;</script>'
        |        ELSE '' END) ||
        |  (CASE WHEN d.doc_id % 4 = 1 THEN '<!-- footer <b>boiler</b> -->'
        |        ELSE '' END) ||
        |  '<h1>Doc ' || d.doc_id || '</h1><p>' || d.text || '</p>' ||
        |  (CASE WHEN d.doc_id % 3 = 0 THEN
        |    '<a href="https://site' || (d.doc_id % 50) || '.com/p/' ||
        |     d.doc_id || '">Link A</a> <a href="https://ref.org/' ||
        |     d.doc_id || '">B</a>'
        |        WHEN d.doc_id % 3 = 1 THEN
        |    '<a href="/rel/' || d.doc_id || '">only</a>'
        |        ELSE '' END) || '</body></html>' AS html
        | FROM documents d JOIN kept ON d.doc_id = kept.doc_id),
        |e1 AS (SELECT doc_id, html,
        |  regexp_replace(html, '(?s)<!--.*?-->', ' ', 'g') AS t FROM b),
        |e2 AS (SELECT doc_id, html, regexp_replace(t,
        |  '(?is)<script\b[^>]*>.*?</script>', ' ', 'g') AS t FROM e1),
        |e3 AS (SELECT doc_id, html, regexp_replace(t,
        |  '(?is)<style\b[^>]*>.*?</style>', ' ', 'g') AS t FROM e2),
        |e4 AS (SELECT doc_id, html, regexp_replace(t,
        |  '(?is)<head\b[^>]*>.*?</head>', ' ', 'g') AS t FROM e3),
        |e5 AS (SELECT doc_id, html,
        |  regexp_replace(t, '(?s)<[^>]*>', ' ', 'g') AS t FROM e4),
        |e6 AS (SELECT doc_id, html, replace(replace(replace(replace(replace(
        |  replace(t, '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
        |  '&#39;', ''''), '&nbsp;', ' '), '&amp;', '&') AS t FROM e5),
        |e7 AS (SELECT doc_id,
        |  trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text FROM e6),
        |lk AS (SELECT doc_id, regexp_extract_all(html,
        |  '(?is)<a\b[^>]*href\s*=\s*"([^"]*)"', 1) AS ls FROM b)
        |SELECT kept.doc_id, kept.url_key, kept.n_dups,
        | CAST(len(string_split(e7.clean_text, ' ')) AS BIGINT)
        |   AS n_clean_tokens,
        | CAST(coalesce(len(lk.ls), 0) AS BIGINT) AS n_links
        |FROM kept JOIN e7 ON kept.doc_id = e7.doc_id
        | JOIN lk ON kept.doc_id = lk.doc_id
        |ORDER BY kept.doc_id""".stripMargin),

    // corpus version diff (SnapshotDiff.diffRows over content
    // fingerprints + a per-source rollup): which sources churned
    // between two corpus versions and HOW — adds (%11 slice enters),
    // deletes (%7 slice leaves), updates (%5 texts rewritten) — the
    // release report a recurring crawl publishes next to drift_psi
    Entry("corpus_version_diff", (s, dir) => {
      val docs = Tables.documents(s, dir)
      def fp(d: org.apache.spark.sql.DataFrame) =
        d.select(col("doc_id"), col("source"), md5(col("text")).as("fp"))
      val v1 = fp(docs.where(expr("doc_id % 11 != 0")))
      val v2 = fp(docs.where(expr("doc_id % 7 != 0"))
        .withColumn("text",
          when(expr("doc_id % 5 = 0"), concat(col("text"), lit(" v2")))
            .otherwise(col("text"))))
      graft.operators.SnapshotDiff.diff(v1, v2, Seq("doc_id", "source"))
        .groupBy("source", "change").agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "change")
    },
      """WITH v1 AS (SELECT doc_id, source, md5(text) AS fp
        |  FROM documents WHERE doc_id % 11 <> 0),
        |v2 AS (SELECT doc_id, source,
        |  md5(CASE WHEN doc_id % 5 = 0 THEN text || ' v2'
        |   ELSE text END) AS fp
        | FROM documents WHERE doc_id % 7 <> 0),
        |d AS (SELECT coalesce(v2.source, v1.source) AS source,
        |  CASE WHEN v1.doc_id IS NULL THEN 'insert'
        |   WHEN v2.doc_id IS NULL THEN 'delete'
        |   WHEN v1.fp <> v2.fp THEN 'update'
        |   ELSE NULL END AS change
        | FROM v1 FULL JOIN v2 ON v1.doc_id = v2.doc_id
        |  AND v1.source = v2.source)
        |SELECT source, change, CAST(count(*) AS BIGINT) AS n_docs
        |FROM d WHERE change IS NOT NULL
        |GROUP BY source, change ORDER BY source, change""".stripMargin),

    // whole-document next-fit bin packing (TrainingData.binPack): each
    // doc lands WHOLE in a <= 512-token bin, docs in id order per
    // shard — the no-truncation counterpart of pack_sequences; the
    // sequential (bin, used) state is per-partition imperative logic
    // the oracle replays as a recursive CTE
    Entry("pack_bins", (s, dir) =>
      graft.pipeline.TrainingData.binPack(
        Tables.documents(s, dir).withColumn("n_toks",
          size(graft.pipeline.TextAnalysis.tokens(col("text")))),
        "doc_id", col("n_toks"), budget = 512, shards = 4)
        .orderBy("doc_id"),
      """WITH RECURSIVE t AS (
        | SELECT doc_id % 4 AS shard, doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS t,
        |  row_number() OVER (PARTITION BY doc_id % 4 ORDER BY doc_id)
        |    AS rn
        | FROM documents),
        |pack(shard, rn, doc_id, t, bin, used) AS (
        | SELECT shard, rn, doc_id, t, CAST(0 AS BIGINT), t FROM t
        |  WHERE rn = 1
        | UNION ALL
        | SELECT t.shard, t.rn, t.doc_id, t.t,
        |  CASE WHEN p.used + t.t <= 512 THEN p.bin ELSE p.bin + 1 END,
        |  CASE WHEN p.used + t.t <= 512 THEN p.used + t.t ELSE t.t END
        | FROM pack p JOIN t ON t.shard = p.shard AND t.rn = p.rn + 1)
        |SELECT CAST(doc_id AS BIGINT) AS doc_id,
        | CAST(shard AS BIGINT) AS shard, CAST(bin AS BIGINT) AS bin_id,
        | t AS n_tokens
        |FROM pack ORDER BY doc_id""".stripMargin),

    // contiguous dense ids 0..n-1 without a global single-node sort:
    // range exchange + per-partition sort + counts-only offsets
    // (TrainingData.denseIds) — the sample-index primitive; sort key =
    // md5 of the doc id so the assignment is a genuine permutation,
    // not the identity
    Entry("train_dense_ids", (s, dir) => {
      val keyed = Tables.documents(s, dir).select(col("doc_id"),
        md5(col("doc_id").cast("string").cast("binary")).as("sort_key"))
      graft.pipeline.TrainingData.denseIds(keyed, "sort_key")
        .select("doc_id", "dense_id")
        .orderBy("doc_id")
    },
      """SELECT doc_id,
        | CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)))
        |   - 1 AS BIGINT) AS dense_id
        |FROM documents ORDER BY doc_id""".stripMargin),

    // END-TO-END pretraining-data pipeline: quality filter -> exact
    // dedup -> benchmark decontamination -> LEAKAGE-FREE split (the
    // SOFT near-dup path: surviving near-dup pairs co-assign through
    // their component representative instead of being hard-dropped, so
    // the no-straddling gate is NON-vacuous — the hard-drop
    // alternative is corpus_clean's, after which no pairs remain to
    // leak) -> deterministic shards -> sequence packing. Every stage
    // individually oracle-gated elsewhere; THIS entry gates the
    // composition: stage counts monotone, split covers exactly, NO
    // near-dup pair straddles splits (and pairs exist — vacuity
    // guarded), shards cover the train set, packing preserves rows.
    // All invariants sf-independent (literal-row oracle).
    Entry("pipeline_end_to_end", (s, dir) => SparkEntry.pipelineEndToEnd(s, dir),
      """SELECT CAST(1 AS BIGINT) AS monotone_ok,
        | CAST(1 AS BIGINT) AS cover_ok,
        | CAST(0 AS BIGINT) AS n_leak_pairs,
        | CAST(1 AS BIGINT) AS leak_nonvacuous,
        | CAST(1 AS BIGINT) AS shards_ok,
        | CAST(1 AS BIGINT) AS pack_ok,
        | CAST(1 AS BIGINT) AS nonempty""".stripMargin),

    // END-TO-END STREAMING ingest (StreamingPipeline): quality → exact
    // dedup (persisted hash state) → decontaminate (static gram state)
    // → leak-safe split (static full-closure rep map) driven as four
    // ascending-id micro-batches through the foreachBatch body; the
    // gate row-compares the ACCUMULATED output — the oracle replays the
    // whole chain in SQL (quality signals, min-id keeper, 8-gram hit
    // set against the %97 bench slice, recursive pair closure, md5
    // split buckets) and never sees the batching. Full-closure reps
    // (not ready-induced) are the documented streaming contract: a
    // growing induced subgraph could merge components and change an
    // emitted doc's split; the full closure is conservative and static.
    Entry("pipeline_stream_end_to_end", (s, dir) => {
      import graft.streaming.StreamingPipeline
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
      // the three static-state materializations are independent —
      // submitted concurrently (guide §2.6)
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fGrams = Future(StreamingPipeline.benchGramState(bench, "text", 8)
        .localCheckpoint())
      val fReps = Future(StreamingPipeline
        .repState(lshPairs90(s, dir).select("a_id", "b_id"))
        .localCheckpoint())
      val fMaxId = Future(docs.agg(max(col("doc_id"))).head().getLong(0))
      val grams = Await.result(fGrams, Duration.Inf)
      val reps = Await.result(fReps, Duration.Inf)
      val maxId = Await.result(fMaxId, Duration.Inf)
      val cut = maxId / 4 + 1
      var state = StreamingPipeline.emptyHashState(s)
      val outs = (0L until 4L).map { i =>
        val batch = docs.where(col("doc_id") >= i * cut &&
          col("doc_id") < (i + 1) * cut)
        // keeper-stability audit (round 12): ascending-id ingest must
        // never see an already-emitted hash arrive with a smaller id —
        // a violation here means the accumulated output silently
        // degraded to first-seen-wins and the gate must fail loudly.
        // processBatchAudited (round 14) shares ONE quality+hash
        // materialization between the audit and the trigger outputs —
        // same rows as the separate keeperViolations + processBatch.
        val (out, ns, viol) = StreamingPipeline.processBatchAudited(
          batch, state, grams, reps)
        // the audit count, the new-state checkpoint and the output
        // checkpoint all derive from the trigger's ONE materialized
        // quality+hash relation and are mutually independent — submit
        // the three actions concurrently (guide §2.6: overlap
        // independent jobs) so a trigger costs the longest of the
        // three, not their sum; cross-trigger sequencing (state → next
        // batch) is untouched
        import scala.concurrent.{Await, Future}
        import scala.concurrent.duration.Duration
        import scala.concurrent.ExecutionContext.Implicits.global
        val fViol = Future(viol.count())
        val fNs = Future(ns.localCheckpoint())
        val fOut = Future(out.localCheckpoint())
        val nViol = Await.result(fViol, Duration.Inf)
        require(nViol == 0L,
          s"trigger $i: $nViol keeper-stability violations under the " +
            "ascending-id contract")
        state = Await.result(fNs, Duration.Inf)
        Await.result(fOut, Duration.Inf)
      }
      outs.reduce(_ unionByName _).orderBy("doc_id")
    },
      // replays the whole streamed chain batching-free: quality signals,
      // global min-id keeper, the 8-gram hit set vs the %97 bench slice,
      // the recursive full pair closure, the md5 split buckets
      s"""WITH q AS (SELECT doc_id, text FROM documents
         | WHERE len(string_split(text, ' ')) >= 20
         |  AND floor(100.0 * len(list_filter(string_split(text, ' '),
         |    t -> t IN ('the','a','an','of','to','and','in','is')))
         |    / len(string_split(text, ' '))) <= 60),
         |k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)),
         |fresh AS (SELECT q.doc_id, q.text FROM q JOIN k USING (doc_id)),
         |bt AS (SELECT string_split(text, ' ') AS ts FROM documents
         | WHERE doc_id % 97 = 0),
         |bg AS (SELECT DISTINCT
         |  md5(array_to_string(ts[i.i : i.i + 7], ' ')) AS g
         | FROM bt, generate_series(1, 4096) AS i(i)
         | WHERE i.i + 7 <= len(ts)),
         |dts AS (SELECT doc_id, string_split(text, ' ') AS ts FROM fresh),
         |dg AS (SELECT DISTINCT doc_id,
         |  md5(array_to_string(ts[i.i : i.i + 7], ' ')) AS g
         | FROM dts, generate_series(1, 4096) AS i(i)
         | WHERE i.i + 7 <= len(ts)),
         |contam AS (SELECT DISTINCT doc_id FROM dg JOIN bg USING (g)),
         |ready AS (SELECT doc_id FROM fresh
         | WHERE doc_id NOT IN (SELECT doc_id FROM contam)),
         |pairs AS (${jaccardOracle(90)}),
         |ed AS (SELECT a_id AS s, b_id AS d FROM pairs
         | UNION ALL SELECT b_id, a_id FROM pairs),
         |ids AS (SELECT DISTINCT s AS id FROM ed),
         |r AS (
         |  WITH RECURSIVE reach(id, root) AS (
         |    SELECT id, id FROM ids
         |    UNION
         |    SELECT ed.d, reach.root FROM reach JOIN ed ON ed.s = reach.id)
         |  SELECT id, min(root) AS comp FROM reach GROUP BY id)
         |SELECT ready.doc_id, coalesce(r.comp, ready.doc_id) AS rep,
         | CASE WHEN substr(md5(CAST(coalesce(r.comp, ready.doc_id)
         |     AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
         |  WHEN substr(md5(CAST(coalesce(r.comp, ready.doc_id)
         |     AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         |  ELSE 'test' END AS split
         |FROM ready LEFT JOIN r ON r.id = ready.doc_id
         |ORDER BY doc_id""".stripMargin),

    // the one-row corpus card: the dataset-datasheet summary a curation
    // run publishes — sizes, vocabulary, source count, exact-dup rate
    // in basis points, mean length — all integer-exact
    Entry("corpus_card", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val toks = docs.select(col("doc_id"),
        explode(graft.pipeline.TextAnalysis.tokens(col("text")))
          .as("tok"))
      val tokAgg = toks.agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("tok")).as("n_vocab"))
      docs.agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(md5(col("text"))).as("n_distinct_texts"))
        .crossJoin(tokAgg)
        .select(col("n_docs"), col("n_sources"), col("n_tokens"),
          col("n_vocab"),
          expr("((n_docs - n_distinct_texts) * 10000) div n_docs")
            .as("dup_rate_bp"),
          expr("(n_tokens * 100) div n_docs").as("mean_tokens_x100"))
    },
      """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |ta AS (SELECT CAST(count(*) AS BIGINT) AS n_tokens,
        |  CAST(count(DISTINCT tok) AS BIGINT) AS n_vocab FROM t),
        |da AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(count(DISTINCT md5(text)) AS BIGINT) AS n_distinct_texts
        | FROM documents)
        |SELECT n_docs, n_sources, n_tokens, n_vocab,
        | ((n_docs - n_distinct_texts) * 10000) // n_docs AS dup_rate_bp,
        | (n_tokens * 100) // n_docs AS mean_tokens_x100
        |FROM da, ta""".stripMargin),
  )
}
