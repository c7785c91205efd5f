package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes document classifier — the count-based linear
  * classifier behind fastText-style quality/language filtering in
  * training-data pipelines (label docs with a cheap model, filter or
  * route on the prediction).
  *
  * Training is pure counting (one token explode + vocabulary-sized
  * aggregates); scoring is ONE vocabulary join + ONE doc-keyed
  * aggregate — no gradient loop, no per-row state, so the operator
  * scales like the TF-IDF / LM-fit family it sits next to.
  *
  * Scoring shape (the load-bearing choice, measured at 1M docs,
  * BENCH_NOTES "Text-family 1M-doc scale probe"): the per-label
  * counts PIVOT into one score ARRAY per vocabulary token, so the test
  * token stream joins the
  * vocabulary table ONCE — never multiplied ×|labels| before an
  * exchange — and per-label sums are |labels| columns of a single
  * map-side-combining doc-keyed aggregate (the exchange carries one
  * |labels|-wide partial per doc per partition). The naive
  * labels-crossJoin-then-join formulation ships |tokens|·|labels| rows
  * through the vocabulary join and then windows over |docs|·|labels|
  * rows: measured ~13× slower end to end at 1M docs / 5 labels
  * (84 s → 6 s). Per-label
  * totals/priors are METADATA-sized (|labels| rows) and collect to
  * plan literals, like every model-constant table in the index family.
  *
  * Two scoring rules, one plan shape:
  *  - [[fitScores]] / [[classify]]: the GATE-deterministic rule — per
  *    token, the floor-scaled smoothed class-conditional probability
  *    `floor(1e6·(cnt(c,w)+1)/(T_c+V))` is summed per (doc, class) and
  *    added to the floor-scaled prior. Integer arithmetic end to end
  *    (the repo's oracle idiom, see [[TextAnalysis.bigramLmScores]]):
  *    bit-identical in any engine, so the argmax — and therefore the
  *    gate hash — cannot flake on a float ulp.
  *  - [[logScores]]: textbook log-space NB
  *    (`log P(c) + Σ log P(w|c)`), for API users who want the real
  *    posterior ordering; double-valued, spec-covered (NaiveBayesSpec
  *    checks it against a hand-computed fixture), not oracle-hashed.
  */
object NaiveBayes {

  private val SCALE = 1000000L

  /** Model constants + the (doc_id, n_tokens, scores) relation, where
    * `scores(i)` is the integer fit score for `labels(i)` (sorted label
    * order). Shared by [[fitScores]] and [[classify]]. */
  private def scoreTable(train: DataFrame, test: DataFrame,
                         labelCol: String): (DataFrame, Seq[String]) = {
    val toks = train.select(col(labelCol).as("label"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    // the (label, tok, c) base aggregate feeds the per-label totals,
    // the vocabulary count, AND the pivot — persisted across the two
    // plan-build actions so the training text is tokenized ONCE, then
    // released (final execution recomputes it once more)
    val cnt = toks.groupBy("label", "tok").agg(count(lit(1)).as("c"))
      .persist()
    try {
      // model constants, driver-collected (metadata-sized): doc counts
      // LEFT-joined with token totals so a class whose docs carry no
      // tokens (e.g. all-NULL text) KEEPS its prior with T_c = 0 —
      // matching the SQL oracle, which counts priors over all rows
      val stats = train.groupBy(col(labelCol).as("label"))
        .agg(count(lit(1)).as("n_c"))
        .join(cnt.groupBy("label").agg(sum("c").as("t_c")),
          Seq("label"), "left")
        .select(col("label"), coalesce(col("t_c"), lit(0L)).as("t_c"),
          col("n_c"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
      require(stats.nonEmpty, "NaiveBayes: empty training set")
      require(stats.forall(_._1 != null),
        "NaiveBayes: NULL label in training set")
      val sorted = stats.sortBy(_._1)
      val labels = sorted.map(_._1).toSeq
      val nTrain = sorted.map(_._3).sum
      val v = cnt.select("tok").distinct().count()
      val denom = sorted.map(_._2 + v)
      val priors = sorted.map(s => (SCALE * s._3) / nTrain)

      // vocabulary-sized relation: tok -> per-label score array (label
      // order = the sorted `labels`); pivot values passed explicitly so
      // the column set is deterministic
      val cntPiv = cnt.groupBy("tok").pivot("label", labels)
        .agg(sum("c"))
        .toDF("tok" +: labels.indices.map(i => s"cnt_$i"): _*)
    val pArr = array(labels.indices.map { i =>
      expr(s"($SCALE * (coalesce(cnt_$i, 0L) + 1L)) div ${denom(i)}")
    }: _*)
    val oovArr = array(denom.map(d => lit(SCALE / d)): _*)

      val aggs = count(lit(1)).as("n_tokens") +:
        labels.indices.map(i =>
          sum(element_at(col("p"), i + 1)).as(s"s$i"))
      val scoreArr = array(labels.indices.map(i =>
        col(s"s$i") + lit(priors(i))): _*)
      val scored = test
        .select(col("doc_id"),
          explode(TextAnalysis.tokens(col("text"))).as("tok"))
        .join(cntPiv.select(col("tok"), pArr.as("p")), Seq("tok"), "left")
        .select(col("doc_id"), coalesce(col("p"), oovArr).as("p"))
        .groupBy("doc_id")
        .agg(aggs.head, aggs.tail: _*)
        .select(col("doc_id"), col("n_tokens"), scoreArr.as("scores"))
      (scored, labels)
    } finally cnt.unpersist(blocking = false)
  }

  /** Per-(test doc, class) integer fit scores. `train` needs (`labelCol`,
    * text); `test` needs (doc_id, text). Output: (doc_id, label,
    * n_tokens, score_x1e6) — one row per test doc per training class,
    * score = floor-scaled prior + Σ_tokens floor-scaled smoothed
    * P(w|c). Add-one smoothing over the training vocabulary V; unseen
    * test tokens contribute the floor of 1e6/(T_c+V) like any other
    * zero-count token. The per-label rows materialize by a narrow
    * posexplode AFTER the doc-keyed aggregate. */
  def fitScores(train: DataFrame, test: DataFrame,
                labelCol: String = "label"): DataFrame = {
    val (scored, labels) = scoreTable(train, test, labelCol)
    val labelArr = array(labels.map(lit(_)): _*)
    scored
      .select(col("doc_id"), col("n_tokens"),
        posexplode(col("scores")).as(Seq("li", "score_x1e6")))
      .select(col("doc_id"),
        element_at(labelArr, col("li") + 1).as("label"),
        col("n_tokens"), col("score_x1e6"))
  }

  /** Predicted class per test doc: argmax with ties to the smallest
    * label string (deterministic). Output: (doc_id, pred_label,
    * score_x1e6). NO window: `array_position(scores, array_max(scores))`
    * finds the FIRST maximal index, which in sorted label order IS the
    * tie-to-smallest-label rule — argmax is a narrow projection on the
    * aggregate output. */
  def classify(train: DataFrame, test: DataFrame,
               labelCol: String = "label"): DataFrame = {
    val (scored, labels) = scoreTable(train, test, labelCol)
    val labelArr = array(labels.map(lit(_)): _*)
    val best: Column = array_max(col("scores"))
    scored
      .select(col("doc_id"),
        element_at(labelArr,
          array_position(col("scores"), best).cast("int")).as("pred_label"),
        best.as("score_x1e6"))
  }

  /** Textbook log-space NB scores: (doc_id, label, log_score) with
    * log_score = ln(N_c/N) + Σ ln((cnt+1)/(T_c+V)). Double-valued, for
    * API use (see object doc); the straightforward per-(label, tok)
    * join formulation — fine at its duty (analysis, spec parity), the
    * gate path is the pivoted [[fitScores]]/[[classify]]. */
  def logScores(train: DataFrame, test: DataFrame,
                labelCol: String = "label"): DataFrame = {
    val toks = train.select(col(labelCol).as("label"),
      explode(TextAnalysis.tokens(col("text"))).as("tok"))
    val cnt = toks.groupBy("label", "tok").agg(count(lit(1)).as("cnt"))
    val tot = toks.groupBy("label").agg(count(lit(1)).as("t_c"))
    val pri = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_c"))
    val nTrain = train.agg(count(lit(1)).as("n_train"))
    val vocab = toks.agg(countDistinct(col("tok")).as("v"))
    test
      .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("tok"))
      .crossJoin(broadcast(pri.select("label")))
      .join(cnt, Seq("label", "tok"), "left")
      .join(broadcast(tot), Seq("label"))
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"), col("label"),
        log((coalesce(col("cnt"), lit(0L)) + lit(1L)).cast("double") /
          (col("t_c") + col("v")).cast("double")).as("lp"))
      .groupBy("doc_id", "label")
      .agg(sum("lp").as("sum_lp"))
      .join(broadcast(pri), Seq("label"))
      .crossJoin(broadcast(nTrain))
      .select(col("doc_id"), col("label"),
        (log(col("n_c").cast("double") / col("n_train").cast("double")) +
          col("sum_lp")).as("log_score"))
  }
}
