package graft
package entries

import org.apache.spark.sql.functions._

import graft.pipeline.Dedup
import Fixtures._

/** stats_*, sample_*, outlier_*, drift_*, mixture_* and privacy_*
  * entries: sketches, sampling, outliers, drift, data mixtures and
  * privacy transforms. */
private[graft] object StatsEntries {

  def entries: Seq[Entry] = Seq(
    // duplication-aware SAMPLING: survivors of the 1/(1+degree)
    // md5-bucket downsample — a cluster of d+1 near-identical docs keeps
    // ~1 expected member, unique docs pass whole; deterministic, so the
    // oracle reproduces it exactly
    Entry("sample_dedup_aware", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val degrees = Dedup.duplicationDegree(docs.select("doc_id"),
        lshPairs90(s, dir))
      graft.pipeline.TrainingData
        .degreeWeightedSample(docs.select("doc_id"), degrees)
        .orderBy("doc_id")
    },
      // `//` (floor division) mirrors the Spark side's double-divide +
      // int cast exactly for positive operands; a rounding CAST would
      // disagree at exact .5 fractions
      s"""WITH pairs AS (${jaccardOracle(90)}),
         |e AS (SELECT a_id AS doc_id FROM pairs
         | UNION ALL SELECT b_id FROM pairs),
         |d AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id),
         |deg AS (SELECT doc.doc_id, coalesce(d.n, 0) AS n_dups
         | FROM documents doc LEFT JOIN d USING (doc_id))
         |SELECT doc_id FROM deg
         |WHERE n_dups = 0
         |  OR substr(md5('dw:' || CAST(doc_id AS VARCHAR)), 1, 2)
         |     < printf('%02x', 256 // (n_dups + 1))
         |ORDER BY doc_id""".stripMargin),

    // sketch family: HyperLogLog++ approximate distinct tokens per
    // source, audited against the exact distinct count computed in the
    // same job. The estimate is deterministic for fixed data (no RNG);
    // the oracle checks the exact count (engine-comparable) plus the
    // sketch's error staying far inside its 5%-rsd contract (|est −
    // exact| ≤ 20%·exact ⇒ within_bound = 1 for every source).
    // MERGEABLE distinct-count sketches: per-day HLL sketches of the
    // active-user set, then the all-time distinct as a UNION OF FINISHED
    // SKETCHES — the raw events are scanned exactly once. At this
    // cardinality the DataSketches HLL is in exact sparse mode, so the
    // rounded estimates equal DuckDB's exact distincts (full oracle);
    // the scale story is the merge itself: at 100 TB the daily sketches
    // persist beside the data and any rollup unions a handful of rows
    Entry("stats_hll_merge", (s, dir) => {
      val e = Tables.events(s, dir)
        .select(expr("ts div 86400000000000").as("day"), col("user_id"))
      val sk = graft.pipeline.Sketches.hllByGroup(e, "day", "user_id")
      val perDay = graft.pipeline.Sketches.hllEstimates(sk, "day")
      val total = graft.pipeline.Sketches.hllUnionEstimate(sk)
        .select(lit(-1L).as("day"), col("n_distinct"))
      perDay.unionByName(total).orderBy("day")
    },
      """WITH e AS (SELECT
        |  CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day, user_id
        | FROM events)
        |SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM e GROUP BY day
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT) AS day,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct FROM e
        |ORDER BY day""".stripMargin),

    Entry("stats_approx_distinct", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(col("source"),
          explode(graft.pipeline.TextAnalysis.tokens(col("text"))).as("tok"))
      toks.groupBy("source")
        .agg(countDistinct(col("tok")).as("exact_distinct"),
          approx_count_distinct(col("tok"), rsd = 0.05).as("approx"))
        .select(col("source"), col("exact_distinct"),
          when(abs(col("approx") - col("exact_distinct")) * 5 <=
            col("exact_distinct"), 1L).otherwise(0L).as("within_bound"))
        .orderBy("source")
    },
      """SELECT source,
        | count(DISTINCT tok) AS exact_distinct,
        | CAST(1 AS BIGINT) AS within_bound
        |FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        | FROM documents) t
        |GROUP BY source ORDER BY source""".stripMargin),

    // count-min frequency sketch audited in-job against exact token
    // counts: undercounts are IMPOSSIBLE (checked row by row) and every
    // estimate stays within the εN = (e/width)·N one-sided bound (the
    // sketch is deterministic for fixed data + hashes, so the audited
    // result is a constant)
    Entry("stats_count_min", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(graft.pipeline.TextAnalysis.tokens(col("text")))
          .as("tok"))
      val cm = graft.pipeline.Sketches.countMinBuild(toks, "tok",
        depth = 4, width = 2048)
      val est = graft.pipeline.Sketches.countMinEstimate(col("tok"), cm)
      val audited = toks.groupBy("tok")
        .agg(count(lit(1)).as("exact_cnt"))
        .withColumn("est", est)
      audited
        .crossJoin(toks.agg(count(lit(1)).as("n_total")))
        .agg(
          count(lit(1)).cast("long").as("n_items"),
          coalesce(sum(when(col("est") < col("exact_cnt"), 1L)
            .otherwise(0L)), lit(0L)).as("n_under"),
          coalesce(sum(when((col("est") - col("exact_cnt")) * 2048 >
            col("n_total") * 3, 1L).otherwise(0L)), lit(0L))
            .as("n_over_bound"))
    },
      """SELECT count(DISTINCT tok) AS n_items,
        | CAST(0 AS BIGINT) AS n_under, CAST(0 AS BIGINT) AS n_over_bound
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok
        | FROM documents) t""".stripMargin),

    // AMS second-frequency-moment sketch (Sketches.f2SketchState):
    // 16 ±1 sign-hash running sums over l_partkey (ONE scan, one 1-row
    // fold — the mergeable streaming alternative to the domain
    // histogram), each sum's square an unbiased F2 estimate; output
    // pins every per-sketch sum, the floor-mean estimate and the exact
    // F2 = Σc² in decimal(20,0)
    Entry("stats_f2_sketch", (s, dir) => {
      val li = Tables.lineitem(s, dir).select("l_partkey")
      val state = graft.pipeline.Sketches
        .f2SketchState(li, "l_partkey", numSketches = 16)
        .localCheckpoint()
      state
        .crossJoin(broadcast(graft.pipeline.Sketches.f2FromState(state)
          .select("f2_est")))
        .crossJoin(broadcast(graft.pipeline.Sketches
          .f2Exact(li, "l_partkey")
          .select(col("f2").cast("long").as("f2"))))
        .orderBy("sketch_id")
    },
      {
      // inline the SAME splitmix-derived polynomial coefficients the
      // Spark plan compiles in — the oracle replays the sign hash
      // bit-for-bit from these literals
      val coefs = (0 until 16).map { j =>
        val a3 = graft.pipeline.Sketches.amsCoef(j, 3) % 2147483646L + 1
        s"(${j}, ${graft.pipeline.Sketches.amsCoef(j, 1)}, " +
          s"${graft.pipeline.Sketches.amsCoef(j, 2)}, ${a3}, " +
          s"${graft.pipeline.Sketches.amsCoef(j, 0)})"
      }.mkString(", ")
      s"""WITH j(sketch_id, a1, a2, a3, b) AS (VALUES $coefs),
         |sg AS (SELECT sketch_id, t, t2, (t2 * t) % 2147483647 AS t3,
         |  a1, a2, a3, b
         | FROM (SELECT sketch_id, t, (t * t) % 2147483647 AS t2,
         |   a1, a2, a3, b
         |  FROM (SELECT sketch_id, l_partkey % 2147483647 AS t,
         |    a1, a2, a3, b FROM lineitem, j))),
         |st AS (SELECT CAST(sketch_id AS BIGINT) AS sketch_id,
         |  CAST(sum(1 - 2 * ((((t3 * a3) % 2147483647
         |   + (t2 * a2) % 2147483647 + (t * a1) % 2147483647 + b)
         |   % 2147483647) % 2)) AS BIGINT) AS s_sum
         | FROM sg GROUP BY sketch_id),
         |est AS (SELECT CAST(sum(s_sum * s_sum) // count(*) AS BIGINT)
         |   AS f2_est FROM st),
         |ex AS (SELECT CAST(sum(CAST(c * c AS DECIMAL(20,0)))
         |   AS BIGINT) AS f2
         | FROM (SELECT count(*) AS c FROM lineitem GROUP BY l_partkey))
         |SELECT sketch_id, s_sum, f2_est, f2
         |FROM st, est, ex ORDER BY sketch_id""".stripMargin
    }),

    // exact Pearson correlation components (Profile.corrExact):
    // integer moment sums + decimal(38,0) cross products (bit-exact on
    // any partitioning), r² as one fixed-association double chain —
    // quantity vs price-in-hundreds over lineitem; components cast to
    // BIGINT at the gate (they fit at this sf; the operator keeps
    // decimals for the 100 TB bound)
    Entry("stats_corr_exact", (s, dir) =>
      graft.operators.Profile.corrExact(
        Tables.lineitem(s, dir)
          .withColumn("qty", col("l_quantity").cast("long"))
          .withColumn("price_h",
            floor(col("l_extendedprice") / 100).cast("long")),
        "qty", "price_h")
        .select(col("n"), col("sx"), col("sy"),
          col("cov_num").cast("long").as("cov_num"),
          col("varx_num").cast("long").as("varx_num"),
          col("vary_num").cast("long").as("vary_num"),
          col("r2_x1e6")),
      """WITH b AS (SELECT CAST(l_quantity AS BIGINT) AS x,
        |  CAST(floor(l_extendedprice / 100) AS BIGINT) AS y
        | FROM lineitem),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |  CAST(sum(x * y) AS DECIMAL(38,0)) AS sxy,
        |  CAST(sum(x * x) AS DECIMAL(38,0)) AS sxx,
        |  CAST(sum(y * y) AS DECIMAL(38,0)) AS syy FROM b),
        |c AS (SELECT n, sx, sy,
        |  CAST(n * sxy - CAST(sx AS DECIMAL(38,0))
        |    * CAST(sy AS DECIMAL(38,0)) AS BIGINT) AS cov_num,
        |  CAST(n * sxx - CAST(sx AS DECIMAL(38,0))
        |    * CAST(sx AS DECIMAL(38,0)) AS BIGINT) AS varx_num,
        |  CAST(n * syy - CAST(sy AS DECIMAL(38,0))
        |    * CAST(sy AS DECIMAL(38,0)) AS BIGINT) AS vary_num
        | FROM a)
        |SELECT n, sx, sy, cov_num, varx_num, vary_num,
        | CASE WHEN varx_num = 0 OR vary_num = 0
        |  THEN CAST(NULL AS BIGINT)
        |  ELSE CAST(floor(CAST(cov_num AS DOUBLE)
        |    * CAST(cov_num AS DOUBLE)
        |    / (CAST(varx_num AS DOUBLE) * CAST(vary_num AS DOUBLE))
        |    * 1000000.0) AS BIGINT) END AS r2_x1e6
        |FROM c""".stripMargin),

    // exact join-size prediction from mergeable key histograms
    // (Sketches.joinSizeFromHistograms): |A join B| = sum c_A(k)*c_B(k)
    // over persisted stats — the planner primitive; the gate proves
    // prediction == the actually-executed join's count
    Entry("stats_join_size", (s, dir) => {
      val pred = graft.pipeline.Sketches.joinSizeFromHistograms(
          graft.pipeline.Sketches.valueHistogram(
            Tables.lineitem(s, dir), "l_orderkey"),
          graft.pipeline.Sketches.valueHistogram(
            Tables.orders(s, dir), "o_orderkey"))
        .select(col("join_rows").cast("long").as("join_rows"),
          col("n_keys_joint"))
      val actual = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .agg(count(lit(1)).as("actual_rows"))
      pred.crossJoin(broadcast(actual))
    },
      """WITH ha AS (SELECT l_orderkey AS v,
        |  CAST(count(*) AS BIGINT) AS ca FROM lineitem GROUP BY 1),
        |hb AS (SELECT o_orderkey AS v,
        |  CAST(count(*) AS BIGINT) AS cb FROM orders GROUP BY 1),
        |p AS (SELECT CAST(coalesce(sum(ca * cb), 0) AS BIGINT)
        |   AS join_rows,
        |  CAST(count(*) AS BIGINT) AS n_keys_joint
        | FROM ha JOIN hb USING (v)),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS actual_rows
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
        |SELECT join_rows, n_keys_joint, actual_rows FROM p, a""".stripMargin),

    // discrete mutual information (Profile.mutualInfoCells): per-cell
    // (c_xy/N)·ln(c_xy·N/(c_x·c_y)) ×1e6 floor over the
    // returnflag × linestatus joint domain — the general-dependence
    // statistic beside the linear r²; joint counts + window marginals,
    // one corpus scan
    Entry("stats_mutual_info", (s, dir) =>
      graft.operators.Profile.mutualInfoCells(
        Tables.lineitem(s, dir), "l_returnflag", "l_linestatus")
        .orderBy("l_returnflag", "l_linestatus"),
      """WITH c AS (SELECT l_returnflag, l_linestatus,
        |  CAST(count(*) AS BIGINT) AS n_xy
        | FROM lineitem GROUP BY 1, 2),
        |m AS (SELECT l_returnflag, l_linestatus, n_xy,
        |  CAST(sum(n_xy) OVER (PARTITION BY l_returnflag) AS BIGINT)
        |    AS nx,
        |  CAST(sum(n_xy) OVER (PARTITION BY l_linestatus) AS BIGINT)
        |    AS ny,
        |  CAST(sum(n_xy) OVER () AS BIGINT) AS n FROM c)
        |SELECT l_returnflag, l_linestatus, n_xy,
        | CAST(floor(CAST(n_xy AS DOUBLE) / CAST(n AS DOUBLE)
        |   * ln(CAST(n_xy AS DOUBLE) * CAST(n AS DOUBLE)
        |     / (CAST(nx AS DOUBLE) * CAST(ny AS DOUBLE)))
        |   * 1000000.0) AS BIGINT) AS contrib_x1e6
        |FROM m ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // deterministic exact-n sampling: 100 docs by md5 race key — exact
    // output size (fraction sampling can't promise it) via a bounded
    // TakeOrderedAndProject, stable under reruns and repartitioning
    Entry("sample_exact_n", (s, dir) =>
      graft.pipeline.TrainingData
        .exactSample(Tables.documents(s, dir), "doc_id", n = 100, seed = 5)
        .select("doc_id")
        .orderBy("doc_id"),
      """SELECT doc_id FROM (
        | SELECT doc_id FROM documents
        | ORDER BY md5('es:5:' || CAST(doc_id AS VARCHAR)), doc_id
        | LIMIT 100)
        |ORDER BY doc_id""".stripMargin),

    // per-source rank normalization: each doc's length score replaced
    // by its within-source percentile rank in basis points — the
    // cross-domain score calibration step before global thresholds
    Entry("sample_rank_normalize", (s, dir) =>
      graft.pipeline.TrainingData.rankNormalize(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "n_chars")
        .select("doc_id", "source", "n_chars", "rank_bp")
        .orderBy("doc_id"),
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  rank() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
        |  count(*) OVER (PARTITION BY source) AS n
        | FROM documents)
        |SELECT doc_id, source, n_chars,
        | CASE WHEN n = 1 THEN 5000
        |   ELSE (10000 * (rk - 1)) // (n - 1) END AS rank_bp
        |FROM r ORDER BY doc_id""".stripMargin),

    // the 100 TB twin of sample_rank_normalize: the rank comes from a
    // per-(source, score) histogram (cum − cnt + 1 IS SQL rank()'s
    // min-tie), the cumulative window runs over distinct scores only —
    // exactly equal output, no corpus-sized group sort anywhere
    Entry("sample_rank_normalize_hist", (s, dir) =>
      graft.pipeline.TrainingData.rankNormalizeHist(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "n_chars")
        .select("doc_id", "source", "n_chars", "rank_bp")
        .orderBy("doc_id"),
      // the histogram twin is exactly equal to rank() — same oracle
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  rank() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
        |  count(*) OVER (PARTITION BY source) AS n
        | FROM documents)
        |SELECT doc_id, source, n_chars,
        | CASE WHEN n = 1 THEN 5000
        |   ELSE (10000 * (rk - 1)) // (n - 1) END AS rank_bp
        |FROM r ORDER BY doc_id""".stripMargin),

    // exact per-group stratified sampling: each source contributes
    // exactly its quota (derived here from the source number) by the
    // per-group md5 race — the row-level materialization of a
    // mixture-budget plan
    Entry("sample_stratified", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val quotas = docs.select("source").distinct()
        .withColumn("n", expr("cast(substring(source, 4) as int) % 7 + 3"))
      graft.pipeline.TrainingData
        .stratifiedSample(docs, "source", "doc_id", quotas, seed = 9)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    },
      """WITH q AS (SELECT source,
        |  CAST(substr(source, 4) AS INTEGER) % 7 + 3 AS n
        | FROM (SELECT DISTINCT source FROM documents)),
        |r AS (SELECT d.source, d.doc_id,
        |  row_number() OVER (PARTITION BY d.source
        |    ORDER BY md5('ss:9:' || CAST(d.doc_id AS VARCHAR)), d.doc_id)
        |    AS rn, q.n
        | FROM documents d JOIN q USING (source))
        |SELECT source, doc_id FROM r WHERE rn <= n
        |ORDER BY source, doc_id""".stripMargin),

    // the 100 TB twin of sample_stratified: the same per-group md5 race
    // as a bounded top-k aggregate at k = max quota, quota applied to
    // winner ranks — no group ever sorts in one task; quotas broadcast
    Entry("sample_stratified_topk", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val quotas = docs.select("source").distinct()
        .withColumn("n", expr("cast(substring(source, 4) as int) % 7 + 3"))
      graft.pipeline.TrainingData
        .stratifiedSampleTopK(docs, "source", "doc_id", quotas, seed = 9)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    },
      // the twin's contract: the same race keyed on the 52-bit md5 prefix
      """WITH q AS (SELECT source,
        |  CAST(substr(source, 4) AS INTEGER) % 7 + 3 AS n
        | FROM (SELECT DISTINCT source FROM documents)),
        |r AS (SELECT d.source, d.doc_id,
        |  row_number() OVER (PARTITION BY d.source
        |    ORDER BY substr(md5('ss:9:' || CAST(d.doc_id AS VARCHAR)),
        |      1, 13), d.doc_id) AS rn, q.n
        | FROM documents d JOIN q USING (source))
        |SELECT source, doc_id FROM r WHERE rn <= n
        |ORDER BY source, doc_id""".stripMargin),

    // repeat-factor materialization (the upsampling half of a mixture
    // plan): sources at 50/125/200 centi-epochs emit ~half / all+~quarter
    // / exactly-double rows, copy-indexed, by the md5 256-bucket race
    Entry("sample_repeat", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val epochs = docs.select("source").distinct()
        .withColumn("epochs_x100",
          expr("(cast(substring(source, 4) as int) % 3) * 75 + 50"))
      graft.pipeline.TrainingData
        .repeatSample(docs, "source", "doc_id", epochs, seed = 3)
        .select(col("source"), col("doc_id"),
          col("copy").cast("long").as("copy"))
        .orderBy("source", "doc_id", "copy")
    },
      """WITH e AS (SELECT source,
        |  (CAST(substr(source, 4) AS INTEGER) % 3) * 75 + 50 AS e100
        | FROM (SELECT DISTINCT source FROM documents)),
        |c AS (SELECT d.source, d.doc_id,
        |  e.e100 // 100 +
        |  CASE WHEN ('0x' || substr(
        |      md5('rs:3:' || CAST(d.doc_id AS VARCHAR)), 1, 2))::BIGINT
        |    < ((e.e100 % 100) * 256) // 100 THEN 1 ELSE 0 END AS n
        | FROM documents d JOIN e USING (source))
        |SELECT source, doc_id, CAST(i.i AS BIGINT) AS copy
        |FROM c, generate_series(0, 3) AS i(i)
        |WHERE i.i < c.n
        |ORDER BY source, doc_id, copy""".stripMargin),

    // token-budget mixture planning (water-filling under per-source
    // epoch caps): quotas for a 10k-token budget over the 20 sources,
    // weighted by source number. The plan itself is driver-computed
    // over the metadata-sized per-source table; the gate cross-checks
    // the conservation law total_quota = min(budget, total_capacity)
    // and the per-source cap/epoch bounds
    Entry("mixture_budget", (s, dir) => {
      val per = Tables.documents(s, dir)
        .select(col("source"),
          size(split(col("text"), " ")).cast("long").as("nt"))
        .groupBy("source").agg(sum("nt").as("n_tokens"))
        .withColumn("weight",
          expr("cast(substring(source, 4) as long) + 1"))
      graft.pipeline.TrainingData
        .mixtureBudget(per, budget = 10000L, maxEpochsX100 = 150L)
        .agg(count(lit(1)).cast("long").as("n_sources"),
          sum("quota_tokens").cast("long").as("total_quota"),
          coalesce(sum(when(col("epochs_x100") > 150, 1L).otherwise(0L)),
            lit(0L)).as("n_over_epochs"),
          coalesce(sum(when(
            col("quota_tokens") > expr("(n_tokens * 150) div 100"), 1L)
            .otherwise(0L)), lit(0L)).as("n_over_cap"))
    },
      """WITH t AS (SELECT source,
        |  sum(len(string_split(text, ' '))) AS n_tokens
        | FROM documents GROUP BY source)
        |SELECT CAST(count(*) AS BIGINT) AS n_sources,
        | CAST(least(10000, sum((n_tokens * 150) // 100)) AS BIGINT)
        |   AS total_quota,
        | CAST(0 AS BIGINT) AS n_over_epochs,
        | CAST(0 AS BIGINT) AS n_over_cap
        |FROM t""".stripMargin),

    // per-source cap subsampling: at most 150 docs per source, selected
    // by deterministic md5 order — corpus balancing
    Entry("sample_per_source", (s, dir) =>
      graft.pipeline.TrainingData
        .perGroupCap(Tables.documents(s, dir), "source", "doc_id", cap = 150)
        .select("doc_id", "source")
        .orderBy("doc_id"),
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        | FROM documents) t
        |WHERE rnk <= 150 ORDER BY doc_id""".stripMargin),

    // the AUTO-routed form (round 12): samplerStrategyFor probes the
    // corpus (one groupBy-count + leaf task count), persists the
    // decision record through the JSON+SHA artifact round-trip, and
    // perGroupCapAuto routes on the RELOADED record — at gate scale
    // cap × mapTasks is far under the concentration ceiling, so this
    // exercises probe → persist → load → window route, against the
    // exact window oracle
    Entry("sample_per_source_auto", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val st = graft.pipeline.TrainingData
        .samplerStrategyFor(docs, "source", Some(150))
      val p = newStoreDir("graft_sampler_strategy") + "/strategy.json"
      graft.pipeline.TrainingData.saveSamplerStrategy(s, st, p)
      val loaded = graft.pipeline.TrainingData.loadSamplerStrategy(s, p)
      require(loaded == st, "sampler strategy round-trip mismatch")
      graft.pipeline.TrainingData
        .perGroupCapAuto(docs, "source", "doc_id", 150, Some(loaded))
        .select("doc_id", "source")
        .orderBy("doc_id")
    },
      // the auto router resolves to the window form at gate scale, so
      // the oracle is the exact window rule verbatim
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        | FROM documents) t
        |WHERE rnk <= 150 ORDER BY doc_id""".stripMargin),

    // the 100 TB twin of sample_per_source: the same md5-order cut as a
    // bounded top-k AGGREGATE (shuffle ≤ cap·|sources| rows, no
    // giant-group window sort) + an id semi-join back; race keys are
    // the 52-bit md5 prefix, ties by id (the documented divergence —
    // prefix collisions are ~n²/2⁵³ per group)
    Entry("sample_per_source_topk", (s, dir) =>
      graft.pipeline.TrainingData
        .perGroupCapTopK(Tables.documents(s, dir), "source", "doc_id",
          cap = 150)
        .select("doc_id", "source")
        .orderBy("doc_id"),
      // the twin's own contract: rank on the 52-bit md5 prefix (13 hex
      // chars order identically as string and number), ties by id
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |   ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id)
        |   AS rnk
        | FROM documents) t
        |WHERE rnk <= 150 ORDER BY doc_id""".stripMargin),

    // deterministic weighted source mixture: keep w/256 of each listed
    // source by md5 bucket of the id (pure function of the row — stable
    // under reruns and appends); unlisted sources pass whole
    Entry("mixture_sample", (s, dir) =>
      graft.pipeline.TrainingData
        .mixtureSample(Tables.documents(s, dir), "source", "doc_id",
          Map("src0" -> 64, "src1" -> 128, "src2" -> 0, "src3" -> 255))
        .select("doc_id", "source")
        .orderBy("doc_id"),
      """SELECT doc_id, source FROM documents
        |WHERE CASE
        |  WHEN source = 'src0'
        |    THEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2) < '40'
        |  WHEN source = 'src1'
        |    THEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2) < '80'
        |  WHEN source = 'src2' THEN FALSE
        |  WHEN source = 'src3'
        |    THEN substr(md5('mix:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'ff'
        |  ELSE TRUE END
        |ORDER BY doc_id""".stripMargin),

    // sketch family: percentile_approx (KLL-style quantile summary)
    // audited in-job against the exact p50 rank — rank_ok = 1 iff the
    // count of values ≤ the approximate median sits within ±4% of n/2
    // (the sketch's rank-error contract at accuracy 10000 is n/10000;
    // the slack keeps the invariant robust, the audit keeps it honest)
    // EXACT discrete quantiles via the mergeable value histogram
    // (pipeline/Sketches): domain-sized state, all-integer rank
    // arithmetic ceil(q·n/100) — the hash-exact complement of the
    // rank-invariant-gated approx entry below
    Entry("stats_exact_quantiles", (s, dir) =>
      graft.pipeline.Sketches.exactQuantiles(
        Tables.events(s, dir)
          .select(floor(col("value") * 100).cast("long").as("cents")),
        "cents", Seq(1, 5, 25, 50, 75, 95, 99))
        .orderBy("q_x100"),
      """WITH v AS (SELECT CAST(floor(value * 100) AS BIGINT) AS v
        |  FROM events),
        |h AS (SELECT v, count(*) AS cnt FROM v GROUP BY v),
        |c AS (SELECT v, sum(cnt) OVER (ORDER BY v) AS cum FROM h),
        |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM h),
        |q AS (SELECT CAST(unnest([1, 5, 25, 50, 75, 95, 99]) AS BIGINT)
        |  AS q_x100)
        |SELECT q.q_x100, min(c.v) AS value,
        | (q.q_x100 * n.n_total + 99) // 100 AS rank, n.n_total
        |FROM q, n, c
        |WHERE c.cum >= (q.q_x100 * n.n_total + 99) // 100
        |GROUP BY q.q_x100, n.n_total ORDER BY q_x100""".stripMargin),

    // per-source exact heavy hitters (tokens with > n_source/50 = 2%
    // frequency inside their source): the Misra-Gries two-pass run per
    // group — bounded candidate state, exact recount, no (group, item)
    // distinct materialization
    Entry("stats_heavy_hitters_by_group", (s, dir) =>
      graft.pipeline.Sketches.heavyHittersByGroup(
        Tables.documents(s, dir).select(col("source"),
          explode(graft.pipeline.TextAnalysis.tokens(col("text")))
            .as("tok")),
        "source", "tok", k = 50)
        .orderBy("source", "item"),
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok AS item, CAST(count(*) AS BIGINT) AS cnt
        | FROM t GROUP BY source, tok),
        |n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_group
        | FROM c GROUP BY source)
        |SELECT c.source, c.item, c.cnt, n.n_group
        |FROM c JOIN n USING (source)
        |WHERE c.cnt * 50 > n.n_group
        |ORDER BY source, item""".stripMargin),

    // per-group exact quantiles: same integer rank rule, cumulative
    // window bounded by each group's value domain
    Entry("stats_exact_quantiles_by_group", (s, dir) =>
      graft.pipeline.Sketches.exactQuantilesByGroup(
        Tables.events(s, dir).select(col("event_type"),
          floor(col("value") * 100).cast("long").as("cents")),
        "event_type", "cents", Seq(25, 50, 75, 95))
        .orderBy("event_type", "q_x100"),
      """WITH v AS (SELECT event_type,
        |  CAST(floor(value * 100) AS BIGINT) AS v FROM events),
        |h AS (SELECT event_type, v, count(*) AS cnt
        | FROM v GROUP BY event_type, v),
        |c AS (SELECT event_type, v,
        |  sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |  CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS n_total
        | FROM h),
        |q AS (SELECT CAST(unnest([25, 50, 75, 95]) AS BIGINT) AS q_x100)
        |SELECT c.event_type, q.q_x100, min(c.v) AS value,
        | (q.q_x100 * c.n_total + 99) // 100 AS rank, c.n_total
        |FROM q, c
        |WHERE c.cum >= (q.q_x100 * c.n_total + 99) // 100
        |GROUP BY c.event_type, q.q_x100, c.n_total
        |ORDER BY event_type, q_x100""".stripMargin),

    Entry("stats_approx_quantiles", (s, dir) => {
      val ev = Tables.events(s, dir)
      val ap = ev.groupBy("event_type")
        .agg(percentile_approx(col("value"), lit(0.5), lit(10000)).as("ap"))
      ev.join(ap, "event_type")
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"),
          coalesce(sum(when(col("value") <= col("ap"), 1L).otherwise(0L)),
            lit(0L)).as("n_le"))
        .select(col("event_type"), col("cnt"),
          when(abs(col("n_le") * 2 - col("cnt")) * 25 <= col("cnt") + 100, 1L)
            .otherwise(0L).as("rank_ok"))
        .orderBy("event_type")
    },
      """SELECT event_type, count(*) AS cnt, CAST(1 AS BIGINT) AS rank_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // fixed-width value histogram per event type: integer bucket ids
    // (floor((value - lo) / w)), clamped into [0, 19] — exact integer
    // bucketing, no float in any group key
    Entry("stats_histogram", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("bucket",
          greatest(lit(0L), least(lit(19L),
            floor((col("value") - lit(0.0)) / lit(50.0)).cast("long"))))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_type", "bucket"),
      """SELECT event_type,
        | greatest(0, least(19,
        |   CAST(floor((value - 0.0) / 50.0) AS BIGINT))) AS bucket,
        | count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // deterministic weighted sampling without replacement (Efraimidis-
    // Spirakis exponential race on an md5-derived uniform): 100 docs
    // biased by length; bounded top-k, never a global sort
    Entry("sample_weighted", (s, dir) =>
      graft.pipeline.TrainingData.weightedSample(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "doc_id", "n_chars", k = 100)
        .orderBy("doc_id"),
      """WITH r AS (SELECT doc_id, n_chars,
        |  -ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
        |      1, 6))::BIGINT + 1.0) / 16777216.0)
        |    / CAST(n_chars AS DOUBLE) AS race_key
        | FROM documents)
        |SELECT doc_id, n_chars FROM (
        | SELECT doc_id, n_chars FROM r ORDER BY race_key, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin),

    // PII scrub: e-mail/phone/IPv4 redaction + match counts over text
    // with deterministically injected PII (the corpus itself is clean);
    // pure narrow regex projections (pipeline/Redact.scala)
    // k-anonymity audit (pipeline/Privacy.kAnonymityGroups): quasi-
    // identifier group sizes over (nation, segment) — groups below
    // k=12 are re-identification risks; one domain-sized groupBy, the
    // structured complement of the free-text PII scrub below
    Entry("privacy_k_anon", (s, dir) =>
      graft.pipeline.Privacy.kAnonymityGroups(
          Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
          k = 12)
        .orderBy("c_nationkey", "c_mktsegment"),
      """SELECT c_nationkey, c_mktsegment,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(CASE WHEN count(*) >= 12 THEN 1 ELSE 0 END AS INTEGER)
        |   AS is_k_anon
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),

    // suppression release (Privacy.kAnonymize after a generalization
    // step): band acctbal to width-2000 dollars (integer-exact
    // c − pmod(c, w), no double round trip), keep only rows whose
    // (segment, band) group reaches k=30, checksum the released set
    Entry("privacy_k_anon_release", (s, dir) => {
      val c = Tables.customer(s, dir)
        .withColumn("bal_band", graft.pipeline.Privacy.generalized(
          floor(col("c_acctbal")).cast("long"), width = 2000))
      graft.pipeline.Privacy.kAnonymize(
          c, Seq("c_mktsegment", "bal_band"), k = 30)
        .agg(count(lit(1)).as("n_released"),
          sum(col("c_custkey")).as("sum_keys"))
    },
      """WITH b AS (SELECT c_custkey, c_mktsegment,
        |  CAST(floor(c_acctbal) AS BIGINT)
        |   - ((CAST(floor(c_acctbal) AS BIGINT) % 2000 + 2000) % 2000)
        |   AS bal_band
        | FROM customer),
        |ok AS (SELECT c_mktsegment, bal_band FROM b
        | GROUP BY 1, 2 HAVING count(*) >= 30)
        |SELECT CAST(count(*) AS BIGINT) AS n_released,
        | CAST(sum(c_custkey) AS BIGINT) AS sum_keys
        |FROM b JOIN ok USING (c_mktsegment, bal_band)""".stripMargin),

    // per-group weighted sampling (TrainingData.weightedSamplePerGroup)
    // — 10 length-weighted winners per source via the same
    // exponential-race key as sample_weighted, bounded by a
    // group-partitioned row_number instead of a global top-k
    Entry("sample_weighted_by_group", (s, dir) =>
      graft.pipeline.TrainingData.weightedSamplePerGroup(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", kPerGroup = 10)
        .orderBy("source", "doc_id"),
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  -ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
        |      1, 6))::BIGINT + 1.0) / 16777216.0)
        |    / CAST(n_chars AS DOUBLE) AS race_key
        | FROM documents),
        |k AS (SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY race_key, doc_id) AS rn FROM r)
        |SELECT doc_id, source, n_chars FROM k WHERE rn <= 10
        |ORDER BY source, doc_id""".stripMargin),

    // the 100 TB twin of sample_weighted_by_group: the identical
    // exponential-race doubles through the bounded top-k aggregate
    // (ties toward the smaller id = the window's ORDER BY race, id) —
    // bit-identical winners, no giant-group window
    Entry("sample_weighted_by_group_topk", (s, dir) =>
      graft.pipeline.TrainingData.weightedSamplePerGroupTopK(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", kPerGroup = 10)
        .orderBy("source", "doc_id"),
      // the twin is bit-identical to the window form (the race key is a
      // double either way; aggregator ties break by id like the window)
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  -ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
        |      1, 6))::BIGINT + 1.0) / 16777216.0)
        |    / CAST(n_chars AS DOUBLE) AS race_key
        | FROM documents),
        |k AS (SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY race_key, doc_id) AS rn FROM r)
        |SELECT doc_id, source, n_chars FROM k WHERE rn <= 10
        |ORDER BY source, doc_id""".stripMargin),

    // salted pseudonymization (Privacy.pseudonym): consistent opaque
    // 64-bit tokens (joins on released data still work; the mapping
    // needs the salt to replay) — one codegen projection, md5 parity
    // with the oracle
    Entry("privacy_pseudonymize", (s, dir) =>
      Tables.customer(s, dir).select(col("c_custkey"),
        graft.pipeline.Privacy.pseudonym(col("c_custkey"), "salt7")
          .as("token"))
        .orderBy("c_custkey"),
      """SELECT c_custkey,
        | substr(md5('salt7:' || CAST(c_custkey AS VARCHAR)), 1, 16)
        |   AS token
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // t-closeness audit (Privacy.tClosenessGroups): exact integer
    // cross-multiplied EMD between each nation's balance-band
    // distribution and the global one — the leak l-diversity misses
    // (all bands present but one dominating); t = 0.035 splits the 25
    // nations into close/far at sf0.01
    Entry("privacy_t_closeness", (s, dir) => {
      val c = Tables.customer(s, dir)
        .withColumn("bal_band", graft.pipeline.Privacy.generalized(
          floor(col("c_acctbal")).cast("long"), width = 2000))
      graft.pipeline.Privacy.tClosenessGroups(
          c, Seq("c_nationkey"), "bal_band", tX1e6 = 35000L)
        .orderBy("c_nationkey")
    },
      """WITH b AS (SELECT c_nationkey AS q,
        |  CAST(floor(c_acctbal) AS BIGINT)
        |   - ((CAST(floor(c_acctbal) AS BIGINT) % 2000 + 2000) % 2000)
        |   AS v
        | FROM customer),
        |gl AS (SELECT v, count(*) AS a FROM b GROUP BY v),
        |g2 AS (SELECT v, a,
        |  sum(a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS cuma,
        |  sum(a) OVER () AS n_total, count(*) OVER () AS m FROM gl),
        |grp AS (SELECT q, count(*) AS n FROM b GROUP BY q),
        |cnts AS (SELECT q, v, count(*) AS g FROM b GROUP BY q, v),
        |grid AS (SELECT grp.q, grp.n, g2.v, g2.cuma, g2.n_total, g2.m,
        |  coalesce(cnts.g, 0) AS g
        | FROM grp CROSS JOIN g2
        | LEFT JOIN cnts ON cnts.q = grp.q AND cnts.v = g2.v),
        |c AS (SELECT q, n, n_total, m, v, cuma,
        |  sum(g) OVER (PARTITION BY q ORDER BY v ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS cumg
        | FROM grid),
        |e AS (SELECT q, n, n_total, m,
        |  CAST(sum(abs(cumg * n_total - cuma * n)) AS BIGINT) AS emd_num
        | FROM c GROUP BY q, n, n_total, m)
        |SELECT q AS c_nationkey, CAST(n AS BIGINT) AS n,
        | CAST(m AS BIGINT) AS n_values, emd_num,
        | CAST(CASE WHEN m <= 1 THEN 1
        |  WHEN emd_num * 1000000 <= 35000 * n * n_total * (m - 1)
        |  THEN 1 ELSE 0 END AS INTEGER) AS is_t_close
        |FROM e ORDER BY c_nationkey""".stripMargin),

    // bucketed-EMD t-closeness (Privacy.tClosenessBuckets): the
    // scale-safe numeric variant — the RAW account balance folds into
    // width-1000 buckets inside the operator, so the groups×categories
    // grid is bounded by the bucket count, never the distinct values;
    // same exact-integer cross-multiplied EMD as privacy_t_closeness
    Entry("privacy_t_closeness_bucketed", (s, dir) => {
      val c = Tables.customer(s, dir)
        .withColumn("bal", floor(col("c_acctbal")).cast("long"))
      graft.pipeline.Privacy.tClosenessBuckets(
          c, Seq("c_nationkey"), "bal", tX1e6 = 35000L, bucketWidth = 1000L)
        .orderBy("c_nationkey")
    },
      // identical EMD chain to privacy_t_closeness, with v pre-folded
      // into width-1000 buckets by the same floor-mod rule
      """WITH b AS (SELECT c_nationkey AS q,
        |  CAST(floor(c_acctbal) AS BIGINT)
        |   - ((CAST(floor(c_acctbal) AS BIGINT) % 1000 + 1000) % 1000)
        |   AS v
        | FROM customer),
        |gl AS (SELECT v, count(*) AS a FROM b GROUP BY v),
        |g2 AS (SELECT v, a,
        |  sum(a) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND
        |    CURRENT ROW) AS cuma,
        |  sum(a) OVER () AS n_total, count(*) OVER () AS m FROM gl),
        |grp AS (SELECT q, count(*) AS n FROM b GROUP BY q),
        |cnts AS (SELECT q, v, count(*) AS g FROM b GROUP BY q, v),
        |grid AS (SELECT grp.q, grp.n, g2.v, g2.cuma, g2.n_total, g2.m,
        |  coalesce(cnts.g, 0) AS g
        | FROM grp CROSS JOIN g2
        | LEFT JOIN cnts ON cnts.q = grp.q AND cnts.v = g2.v),
        |c AS (SELECT q, n, n_total, m, v, cuma,
        |  sum(g) OVER (PARTITION BY q ORDER BY v ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS cumg
        | FROM grid),
        |e AS (SELECT q, n, n_total, m,
        |  CAST(sum(abs(cumg * n_total - cuma * n)) AS BIGINT) AS emd_num
        | FROM c GROUP BY q, n, n_total, m)
        |SELECT q AS c_nationkey, CAST(n AS BIGINT) AS n,
        | CAST(m AS BIGINT) AS n_values, emd_num,
        | CAST(CASE WHEN m <= 1 THEN 1
        |  WHEN emd_num * 1000000 <= 35000 * n * n_total * (m - 1)
        |  THEN 1 ELSE 0 END AS INTEGER) AS is_t_close
        |FROM e ORDER BY c_nationkey""".stripMargin),

    // l-diversity audit (Privacy.lDiversityGroups): a k-anonymous
    // group is still unsafe when it is HOMOGENEOUS in the sensitive
    // attribute — here the width-2000 account-balance band must take
    // >= 5 distinct values inside every (nation, segment) group; one
    // domain-sized groupBy with a distinct aggregate
    Entry("privacy_l_diversity", (s, dir) => {
      val c = Tables.customer(s, dir)
        .withColumn("bal_band", graft.pipeline.Privacy.generalized(
          floor(col("c_acctbal")).cast("long"), width = 2000))
      graft.pipeline.Privacy.lDiversityGroups(
          c, Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 5)
        .orderBy("c_nationkey", "c_mktsegment")
    },
      """WITH b AS (SELECT c_nationkey, c_mktsegment,
        |  CAST(floor(c_acctbal) AS BIGINT)
        |   - ((CAST(floor(c_acctbal) AS BIGINT) % 2000 + 2000) % 2000)
        |   AS bal_band
        | FROM customer)
        |SELECT c_nationkey, c_mktsegment,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(count(DISTINCT bal_band) AS BIGINT) AS n_sensitive,
        | CAST(CASE WHEN count(DISTINCT bal_band) >= 5 THEN 1 ELSE 0 END
        |   AS INTEGER) AS is_l_diverse
        |FROM b GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),

    // exact heavy hitters via mergeable Misra-Gries + exact second pass:
    // tokens with freq > n/32; the shuffle carries <= k-1 counters per
    // task, never the full domain (Sketches.heavyHitters)
    Entry("stats_heavy_hitters", (s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(graft.pipeline.TextAnalysis.tokens(col("text")))
          .as("tok"))
      graft.pipeline.Sketches.heavyHitters(toks, "tok", k = 32)
        .orderBy("item")
    },
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        | FROM documents)
        |SELECT tok AS item, CAST(count(*) AS BIGINT) AS cnt
        |FROM t GROUP BY tok
        |HAVING count(*) * 32 > (SELECT count(*) FROM t)
        |ORDER BY item""".stripMargin),

    // corpus drift (PSI) between two snapshot variants: fixed-width
    // price buckets, Laplace-smoothed shares, per-bucket contributions
    // floor-scaled ×1e6 — the ingest regression check (pipeline/Drift)
    Entry("drift_psi", (s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      val v1 = o.where(expr("o_orderkey % 11 != 0"))
      val v2 = o.where(expr("o_orderkey % 7 != 0"))
        .withColumn("o_totalprice",
          when(expr("o_orderkey % 2 = 0"), col("o_totalprice") * lit(1.2))
            .otherwise(col("o_totalprice")))
      graft.pipeline.Drift.psiBuckets(v1, v2, "o_totalprice",
          width = 50000.0, numBuckets = 10)
        .orderBy("bucket")
    },
      """WITH v1 AS (SELECT o_totalprice FROM orders
        |  WHERE o_orderkey % 11 <> 0),
        |v2 AS (SELECT CASE WHEN o_orderkey % 2 = 0
        |    THEN o_totalprice * 1.2 ELSE o_totalprice END AS o_totalprice
        | FROM orders WHERE o_orderkey % 7 <> 0),
        |b AS (SELECT CAST(i AS BIGINT) AS bucket
        |  FROM generate_series(0, 9) AS g(i)),
        |c1 AS (SELECT CAST(least(greatest(floor(o_totalprice / 50000.0),
        |    0.0), 9.0) AS BIGINT) AS bucket, count(*) AS n_old
        | FROM v1 GROUP BY 1),
        |c2 AS (SELECT CAST(least(greatest(floor(o_totalprice / 50000.0),
        |    0.0), 9.0) AS BIGINT) AS bucket, count(*) AS n_new
        | FROM v2 GROUP BY 1),
        |j AS (SELECT b.bucket, coalesce(n_old, 0) AS n_old,
        |  coalesce(n_new, 0) AS n_new
        | FROM b LEFT JOIN c1 USING (bucket) LEFT JOIN c2 USING (bucket))
        |SELECT bucket, CAST(n_old AS BIGINT) AS n_old,
        | CAST(n_new AS BIGINT) AS n_new,
        | CAST(floor(((CAST(n_new AS DOUBLE) + 1.0)
        |     / (sum(CAST(n_new AS DOUBLE)) OVER () + 10.0)
        |   - (CAST(n_old AS DOUBLE) + 1.0)
        |     / (sum(CAST(n_old AS DOUBLE)) OVER () + 10.0))
        |  * ln(((CAST(n_new AS DOUBLE) + 1.0)
        |     / (sum(CAST(n_new AS DOUBLE)) OVER () + 10.0))
        |   / ((CAST(n_old AS DOUBLE) + 1.0)
        |     / (sum(CAST(n_old AS DOUBLE)) OVER () + 10.0)))
        |  * 1000000.0) AS BIGINT) AS contrib_x1e6
        |FROM j ORDER BY bucket""".stripMargin),

    // exact two-sample KS drift test (Drift.ksStatistic) on the same
    // shifted-snapshot fixture as drift_psi, in integer cents — the
    // ECDF-gap statistic |cumA·n_b − cumB·n_a| that catches shifts
    // smaller than a PSI bucket; one row, engine-exact
    Entry("drift_ks", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val v1 = o.where(expr("o_orderkey % 11 != 0"))
      val v2 = o.where(expr("o_orderkey % 7 != 0"))
        .withColumn("cents",
          when(expr("o_orderkey % 2 = 0"), expr("(cents * 12) div 10"))
            .otherwise(col("cents")))
      graft.pipeline.Drift.ksStatistic(v1, v2, "cents")
    },
      """WITH o AS (SELECT o_orderkey,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders),
        |a AS (SELECT cents AS x, CAST(count(*) AS BIGINT) AS ca
        | FROM o WHERE o_orderkey % 11 != 0 GROUP BY cents),
        |bsrc AS (SELECT CASE WHEN o_orderkey % 2 = 0
        |   THEN (cents * 12) // 10 ELSE cents END AS x
        | FROM o WHERE o_orderkey % 7 != 0),
        |b AS (SELECT x, CAST(count(*) AS BIGINT) AS cb
        | FROM bsrc GROUP BY x),
        |m AS (SELECT COALESCE(a.x, b.x) AS x,
        |  COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
        | FROM a FULL JOIN b ON a.x = b.x),
        |c AS (SELECT x,
        |  CAST(sum(ca) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
        |  CAST(sum(cb) OVER (ORDER BY x ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
        | FROM m),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS n_a,
        |  CAST(sum(cb) AS BIGINT) AS n_b FROM m)
        |SELECT abs(cuma * n_b - cumb * n_a) AS d_num, n_a, n_b,
        | x AS at_value
        |FROM c, t ORDER BY d_num DESC, at_value ASC LIMIT 1""".stripMargin),

    // Pearson chi-square homogeneity drift (Drift.chiSquareBuckets) on
    // the same shifted-snapshot fixture as drift_psi — the nominal-
    // domain drift test with a null distribution; exact integer inner
    // difference, one fixed-association double chain, floor ×1e6
    Entry("drift_chi2", (s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      val v1 = o.where(expr("o_orderkey % 11 != 0"))
      val v2 = o.where(expr("o_orderkey % 7 != 0"))
        .withColumn("o_totalprice",
          when(expr("o_orderkey % 2 = 0"), col("o_totalprice") * lit(1.2))
            .otherwise(col("o_totalprice")))
      graft.pipeline.Drift.chiSquareBuckets(v1, v2, "o_totalprice",
          width = 50000.0, numBuckets = 10)
        .orderBy("bucket")
    },
      """WITH v1 AS (SELECT o_totalprice FROM orders
        |  WHERE o_orderkey % 11 <> 0),
        |v2 AS (SELECT CASE WHEN o_orderkey % 2 = 0
        |    THEN o_totalprice * 1.2 ELSE o_totalprice END AS o_totalprice
        | FROM orders WHERE o_orderkey % 7 <> 0),
        |b AS (SELECT CAST(i AS BIGINT) AS bucket
        |  FROM generate_series(0, 9) AS g(i)),
        |c1 AS (SELECT CAST(least(greatest(floor(o_totalprice / 50000.0),
        |    0.0), 9.0) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_old FROM v1 GROUP BY 1),
        |c2 AS (SELECT CAST(least(greatest(floor(o_totalprice / 50000.0),
        |    0.0), 9.0) AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_new FROM v2 GROUP BY 1),
        |j AS (SELECT b.bucket,
        |  CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
        |  CAST(coalesce(n_new, 0) AS BIGINT) AS n_new
        | FROM b LEFT JOIN c1 USING (bucket) LEFT JOIN c2 USING (bucket)),
        |t AS (SELECT CAST(sum(n_old) AS BIGINT) AS t_old,
        |  CAST(sum(n_new) AS BIGINT) AS t_new FROM j)
        |SELECT bucket, n_old, n_new,
        | CASE WHEN n_old + n_new = 0 THEN CAST(0 AS BIGINT)
        |  ELSE CAST(floor(
        |   CAST(n_old * t_new - n_new * t_old AS DOUBLE)
        |   * CAST(n_old * t_new - n_new * t_old AS DOUBLE)
        |   / (CAST(t_old AS DOUBLE) * CAST(t_new AS DOUBLE))
        |   / CAST(n_old + n_new AS DOUBLE)
        |   * 1000000.0) AS BIGINT) END AS contrib_x1e6
        |FROM j, t ORDER BY bucket""".stripMargin),

    // temperature-balanced mixture (τ=2): keep ~half the length-filtered
    // corpus with per-source rates ∝ 1/√n_s so small sources are
    // up-weighted; thresholds derived IN-PLAN from source stats (√ is
    // correctly rounded everywhere — exact cross-engine thresholds)
    Entry("mixture_temperature", (s, dir) =>
      graft.pipeline.TrainingData.temperatureMixture(
        Tables.documents(s, dir).where(col("n_chars") >= 220),
        "source", "doc_id", targetFrac = 0.5)
        .select("doc_id", "source")
        .orderBy("doc_id"),
      """WITH d0 AS (SELECT * FROM documents WHERE n_chars >= 220),
        |s AS (SELECT source, CAST(count(*) AS DOUBLE) AS n_s
        | FROM d0 GROUP BY source),
        |t AS (SELECT sum(sqrt(n_s)) AS z, sum(n_s) AS n FROM s),
        |thr AS (SELECT source,
        |  least(256.0, floor(256.0 * 0.5 * n * sqrt(n_s) / z / n_s)) AS t_s
        | FROM s, t)
        |SELECT doc_id, source FROM d0 JOIN thr USING (source)
        |WHERE ('0x' || substr(md5('tmix:' || CAST(doc_id AS VARCHAR)),
        |  1, 2))::BIGINT < t_s
        |ORDER BY doc_id""".stripMargin),

    // robust outlier flags: |x − median| > 3·MAD per event type, both
    // statistics exact lower-median order statistics (deterministic,
    // engine-portable; immune to the outliers they hunt)
    Entry("outlier_mad", (s, dir) =>
      graft.pipeline.Outliers.madOutliers(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        "event_type", "value", "event_id", k = 3.0)
        .select("event_id", "event_type", "is_outlier")
        .orderBy("event_id"),
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |r1 AS (SELECT *,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS BIGINT) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |med AS (SELECT event_type,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
        | FROM r1 GROUP BY event_type),
        |d AS (SELECT e.event_id, e.event_type, e.value,
        |  abs(e.value - med.med) AS dev FROM e JOIN med USING (event_type)),
        |r2 AS (SELECT *,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY dev, event_id) AS BIGINT) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |mad AS (SELECT event_type,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
        | FROM r2 GROUP BY event_type)
        |SELECT d.event_id, d.event_type,
        | CAST(CASE WHEN d.dev > 3.0 * mad.mad THEN 1 ELSE 0 END AS BIGINT)
        |   AS is_outlier
        |FROM d JOIN mad USING (event_type) ORDER BY event_id""".stripMargin),

    // the 100 TB twin of outlier_mad: both medians from (group, value)
    // histograms — domain-sized cumulative windows, identical flags
    // (the id tie-break can never change a median VALUE)
    Entry("outlier_mad_hist", (s, dir) =>
      graft.pipeline.Outliers.madOutliersHist(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        "event_type", "value", k = 3.0)
        .select("event_id", "event_type", "is_outlier")
        .orderBy("event_id"),
      // the histogram twin reproduces the exact lower medians — same
      // oracle as outlier_mad
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |r1 AS (SELECT *,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS BIGINT) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |med AS (SELECT event_type,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN value END) AS med
        | FROM r1 GROUP BY event_type),
        |d AS (SELECT e.event_id, e.event_type, e.value,
        |  abs(e.value - med.med) AS dev FROM e JOIN med USING (event_type)),
        |r2 AS (SELECT *,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY dev, event_id) AS BIGINT) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM d),
        |mad AS (SELECT event_type,
        |  max(CASE WHEN rn = (n + 1) // 2 THEN dev END) AS mad
        | FROM r2 GROUP BY event_type)
        |SELECT d.event_id, d.event_type,
        | CAST(CASE WHEN d.dev > 3.0 * mad.mad THEN 1 ELSE 0 END AS BIGINT)
        |   AS is_outlier
        |FROM d JOIN mad USING (event_type) ORDER BY event_id""".stripMargin),

    // per-group winsorization at exact [p05, p95] rank statistics:
    // every event keeps its identity, value clamped into its type's
    // bounds, clip side flagged (pipeline/Outliers.scala)
    Entry("outlier_winsorize", (s, dir) =>
      graft.pipeline.Outliers.winsorize(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        "event_type", "value", "event_id")
        .select("event_id", "event_type", "value", "clipped")
        .orderBy("event_id"),
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |r AS (SELECT *,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS BIGINT) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |b AS (SELECT event_type,
        |  max(CASE WHEN rn = (n * 1 + 19) // 20 THEN value END) AS lo,
        |  max(CASE WHEN rn = (n * 19 + 19) // 20 THEN value END) AS hi
        | FROM r GROUP BY event_type)
        |SELECT e.event_id, e.event_type,
        | least(greatest(e.value, b.lo), b.hi) AS value,
        | CAST(CASE WHEN e.value < b.lo THEN -1
        |   WHEN e.value > b.hi THEN 1 ELSE 0 END AS BIGINT) AS clipped
        |FROM e JOIN b USING (event_type) ORDER BY event_id""".stripMargin),

    // the 100 TB twin of outlier_winsorize: [p05, p95] bounds from the
    // (group, value) histogram — the value at rank r is the smallest
    // value whose cumulative count reaches r, identical clamps
    Entry("outlier_winsorize_hist", (s, dir) =>
      graft.pipeline.Outliers.winsorizeHist(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        "event_type", "value")
        .select("event_id", "event_type", "value", "clipped")
        .orderBy("event_id"),
      // the histogram twin reproduces the exact rank bounds — same oracle
      """WITH e AS (SELECT event_id, event_type, value FROM events),
        |r AS (SELECT *,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS BIGINT) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS n FROM e),
        |b AS (SELECT event_type,
        |  max(CASE WHEN rn = (n * 1 + 19) // 20 THEN value END) AS lo,
        |  max(CASE WHEN rn = (n * 19 + 19) // 20 THEN value END) AS hi
        | FROM r GROUP BY event_type)
        |SELECT e.event_id, e.event_type,
        | least(greatest(e.value, b.lo), b.hi) AS value,
        | CAST(CASE WHEN e.value < b.lo THEN -1
        |   WHEN e.value > b.hi THEN 1 ELSE 0 END AS BIGINT) AS clipped
        |FROM e JOIN b USING (event_type) ORDER BY event_id""".stripMargin),

    // curriculum sampling: rank docs into 4 equal-population length
    // buckets (ties to doc_id), keep w/256 of each by the md5 rule —
    // more of the long tail, a thin slice of the short head
    // (TrainingData.curriculumSample)
    Entry("sample_curriculum", (s, dir) =>
      graft.pipeline.TrainingData.curriculumSample(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "n_chars", "doc_id", bucketWeights = Seq(32, 64, 128, 255))
        .select("doc_id", "n_chars", "bucket")
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, n_chars,
        |  CAST(ntile(4) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
        |    AS bucket
        | FROM documents)
        |SELECT doc_id, n_chars, bucket FROM t
        |WHERE substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE bucket WHEN 1 THEN '20' WHEN 2 THEN '40'
        |    WHEN 3 THEN '80' ELSE 'ff' END
        |ORDER BY doc_id""".stripMargin),

    // the 100 TB-shaped twin of sample_curriculum: bucket boundaries
    // from an integer score histogram (mergeable agg + domain-sized
    // cumulative window + broadcast boundary array) instead of a
    // global ntile sort; same md5 keep rule — the oracle replays the
    // identical integer boundary arithmetic (k·cum >= i·n)
    Entry("sample_curriculum_approx", (s, dir) =>
      graft.pipeline.TrainingData.curriculumSampleApprox(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "n_chars", "doc_id", bucketWeights = Seq(32, 64, 128, 255))
        .select("doc_id", "n_chars", "bucket")
        .orderBy("doc_id"),
      // integer histogram boundaries: b_i = min score whose cumulative
      // count reaches i*n/4 (exact integer cross-multiply), bucket =
      // 1 + #(boundaries strictly below the score)
      """WITH hist AS (SELECT n_chars AS s, count(*) AS c
        |  FROM documents GROUP BY 1),
        |cum AS (SELECT s, sum(c) OVER (ORDER BY s) AS cc,
        |  sum(c) OVER () AS n FROM hist),
        |bounds AS (SELECT i.i AS i, min(s) AS b FROM cum
        |  CROSS JOIN generate_series(1, 3) AS i(i)
        |  WHERE cc * 4 >= i.i * n GROUP BY 1),
        |t AS (SELECT doc_id, n_chars,
        |  1 + (SELECT count(*) FROM bounds WHERE b < d.n_chars)
        |    AS bucket
        | FROM documents d)
        |SELECT doc_id, n_chars, CAST(bucket AS BIGINT) AS bucket
        |FROM t
        |WHERE substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE bucket WHEN 1 THEN '20' WHEN 2 THEN '40'
        |    WHEN 3 THEN '80' ELSE 'ff' END
        |ORDER BY doc_id""".stripMargin),
  )
}
