package graft
package entries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.pipeline.TextAnalysis

/** text_* and doc_* entries: text analysis, tokenizers and BPE. */
private[graft] object TextEntries {

  /** BPE vocabulary fit once per sf dir (train is its own pipeline stage
    * in production; the encode entry measures encoding, not training). */
  private val bpeModels = scala.collection.concurrent.TrieMap
    .empty[String, graft.pipeline.Bpe.BpeModel]
  private val bpeMerges = 24
  private def fittedBpe(s: SparkSession, dir: String): graft.pipeline.Bpe.BpeModel =
    bpeModels.getOrElseUpdate(dir,
      graft.pipeline.Bpe.fit(Tables.documents(s, dir), "text", bpeMerges))

  /** Generated DuckDB replica of [[graft.pipeline.Bpe]] training: the
    * merge loop unrolled as MATERIALIZED CTE stages (materialization is
    * load-bearing — seg_k is referenced three times per stage, so
    * inlining would blow up exponentially). seg strings use the same
    * double-space symbol encoding as the Spark side, so one merge
    * application is the same plain replace(). */
  private def bpeTrainCtes: String = {
    val tok = "[\\p{L}\\p{M}]+|\\p{N}+|[^\\p{L}\\p{M}\\p{N}\\s]"
    val head =
      s"""w AS MATERIALIZED (
         | SELECT tok AS word, CAST(count(*) AS BIGINT) AS cnt
         | FROM (SELECT unnest(regexp_extract_all(text, '$tok')) AS tok
         |       FROM documents)
         | GROUP BY tok),
         |seg_0 AS MATERIALIZED (
         | SELECT word, cnt,
         |  '  ' || array_to_string(string_split(word, ''), '  ') || '  ' AS sym
         | FROM w)""".stripMargin
    val stages = (0 until bpeMerges).map { k =>
      s"""p_$k AS MATERIALIZED (
         | SELECT ss[g.i] AS l, ss[g.i+1] AS r, SUM(cnt) AS c
         | FROM (SELECT string_split(trim(sym), '  ') AS ss, cnt
         |       FROM seg_$k) t,
         |      generate_series(1, 600) AS g(i)
         | WHERE g.i < len(ss)
         | GROUP BY 1, 2),
         |m_$k AS MATERIALIZED (SELECT l, r FROM p_$k ORDER BY c DESC, l, r LIMIT 1),
         |seg_${k + 1} AS MATERIALIZED (
         | SELECT word, cnt, replace(sym,
         |   coalesce((SELECT ' '||l||'  '||r||' ' FROM m_$k), chr(2)),
         |   coalesce((SELECT ' '||l||r||' ' FROM m_$k), chr(2))) AS sym
         | FROM seg_$k)""".stripMargin
    }
    (head +: stages).mkString(",\n")
  }

  /** Oracle for the merges TABLE: rank + pair per training stage. */
  private def bpeTrainSql: String = {
    val union = (0 until bpeMerges).map { k =>
      s"SELECT CAST(${k + 1} AS BIGINT) AS rank, l AS left_sym, " +
        s"r AS right_sym FROM m_$k"
    }.mkString("\nUNION ALL\n")
    s"WITH $bpeTrainCtes\n$union\nORDER BY rank"
  }

  /** Oracle for per-document encoding: the same replace chain applied
    * to the chr(1)-sentinelled document symbol stream. */
  private def bpeEncodeSql: String = {
    val tok = "[\\p{L}\\p{M}]+|\\p{N}+|[^\\p{L}\\p{M}\\p{N}\\s]"
    val base = s"'  ' || array_to_string(list_transform(" +
      s"regexp_extract_all(text, '$tok'), " +
      s"t -> array_to_string(string_split(t, ''), '  ')), " +
      s"'  ' || chr(1) || '  ') || '  '"
    val chain = (0 until bpeMerges).foldLeft(base) { (acc, k) =>
      s"replace($acc,\n  coalesce((SELECT ' '||l||'  '||r||' ' FROM m_$k), chr(2)),\n" +
        s"  coalesce((SELECT ' '||l||r||' ' FROM m_$k), chr(2)))"
    }
    val nToks = s"len(regexp_extract_all(text, '$tok'))"
    s"""WITH $bpeTrainCtes
       |SELECT doc_id,
       | CAST(CASE WHEN $nToks = 0 THEN 0
       |   ELSE len(string_split(trim($chain), '  ')) - ($nToks - 1)
       |   END AS BIGINT) AS n_subwords,
       | $chain AS bpe_text
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  def entries: Seq[Entry] = Seq(
    Entry("text_tokens", (s, dir) =>
      TextAnalysis.tokenStats(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        | CAST(length(text) AS BIGINT) AS n_chars_computed
        |FROM documents ORDER BY doc_id""".stripMargin),

    Entry("text_quality", (s, dir) =>
      TextAnalysis.qualitySignals(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id, n_tokens, stop_cnt,
        | CAST(floor(100.0 * stop_cnt / n_tokens) AS BIGINT) AS stop_pct,
        | CAST(floor(10.0 * (n_chars - (n_tokens - 1)) / n_tokens) AS BIGINT)
        |   AS avg_tok_len_x10
        |FROM (SELECT doc_id,
        |  CAST(length(text) AS BIGINT) AS n_chars,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_filter(string_split(text, ' '),
        |    t -> t IN ('the','a','an','of','to','and','in','is'))) AS BIGINT)
        |   AS stop_cnt
        | FROM documents) t
        |ORDER BY doc_id""".stripMargin),

    // language mix per source: the langId projection aggregated into
    // the per-source distribution a multilingual curation run reports
    Entry("text_lang_by_source", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.TextAnalysis.langId(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "pred_lang")
    },
      // generated from TextAnalysis.langProfiles so oracle and operator
      // can never drift: score = # profile trigrams contained, argmax with
      // lexicographic (smallest-lang) tie-break — same as the struct-max
      {
      val langs = TextAnalysis.langProfiles.keys.toSeq.sorted
      val scoreExprs = langs.map { lang =>
        val s = TextAnalysis.langProfiles(lang)
          .map(g => s"CAST(contains(text, '${g.replace("'", "''")}') AS INT)")
          .mkString(" + ")
        s"($s) AS s_$lang"
      }.mkString(", ")
      s"""WITH sc AS (SELECT doc_id, source, $scoreExprs FROM documents),
         |u AS (SELECT doc_id, source,
         |  unnest([${langs.map(l => s"'$l'").mkString(", ")}]) AS lang,
         |  unnest([${langs.map(l => s"s_$l").mkString(", ")}]) AS score
         | FROM sc),
         |p AS (SELECT doc_id, source, lang FROM (
         | SELECT doc_id, source, lang, row_number() OVER (
         |   PARTITION BY doc_id ORDER BY score DESC, lang) AS rn FROM u) t
         | WHERE rn = 1)
         |SELECT source, lang AS pred_lang,
         | CAST(count(*) AS BIGINT) AS n_docs
         |FROM p GROUP BY source, lang
         |ORDER BY source, pred_lang""".stripMargin
    }),

    Entry("text_langid", (s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir)).orderBy("doc_id"),
      {
      val langs = TextAnalysis.langProfiles.keys.toSeq.sorted
      val scoreExprs = langs.map { lang =>
        val s = TextAnalysis.langProfiles(lang)
          .map(g => s"CAST(contains(text, '${g.replace("'", "''")}') AS INT)")
          .mkString(" + ")
        s"($s) AS s_$lang"
      }.mkString(", ")
      s"""WITH sc AS (SELECT doc_id, $scoreExprs FROM documents),
         |u AS (SELECT doc_id,
         |  unnest([${langs.map(l => s"'$l'").mkString(", ")}]) AS lang,
         |  unnest([${langs.map(l => s"s_$l").mkString(", ")}]) AS score
         | FROM sc)
         |SELECT doc_id, lang AS pred_lang FROM (
         | SELECT doc_id, lang, row_number() OVER (PARTITION BY doc_id
         |   ORDER BY score DESC, lang) AS rn FROM u) t
         |WHERE rn = 1 ORDER BY doc_id""".stripMargin
    }),

    // script-mix detection (TextAnalysis.scriptSignals): Unicode
    // script-class counts + fixed-precedence dominant verdict over a
    // fixture with Greek/Cyrillic passages injected on %13/%17 keys —
    // the routing signal BEFORE any per-script language model
    Entry("text_scripts", (s, dir) =>
      graft.pipeline.TextAnalysis.scriptSignals(
        Tables.documents(s, dir).withColumn("text", concat(col("text"),
          when(pmod(col("doc_id"), lit(13)) === 0,
            repeat(lit(" αβγδε εζηθι κλμνξ"), 40)).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(17)) === 0,
            repeat(lit(" пример текста"), 80)).otherwise(lit("")))))
        .orderBy("doc_id"),
      """WITH p AS (SELECT doc_id, text
        |  || CASE WHEN doc_id % 13 = 0
        |      THEN repeat(' αβγδε εζηθι κλμνξ', 40) ELSE '' END
        |  || CASE WHEN doc_id % 17 = 0
        |      THEN repeat(' пример текста', 80) ELSE '' END AS t
        | FROM documents),
        |c AS (SELECT doc_id,
        |  CAST(length(regexp_replace(t, '[^\p{Latin}]', '', 'g'))
        |    AS BIGINT) AS n_latin,
        |  CAST(length(regexp_replace(t, '[^\p{Greek}]', '', 'g'))
        |    AS BIGINT) AS n_greek,
        |  CAST(length(regexp_replace(t, '[^\p{Cyrillic}]', '', 'g'))
        |    AS BIGINT) AS n_cyrillic,
        |  CAST(length(regexp_replace(t, '[^\p{Han}]', '', 'g'))
        |    AS BIGINT) AS n_han
        | FROM p)
        |SELECT doc_id, n_latin, n_greek, n_cyrillic, n_han,
        | CASE WHEN n_latin >= n_greek AND n_latin >= n_cyrillic
        |    AND n_latin >= n_han AND n_latin > 0 THEN 'latin'
        |  WHEN n_greek >= n_cyrillic AND n_greek >= n_han
        |    AND n_greek > 0 THEN 'greek'
        |  WHEN n_cyrillic >= n_han AND n_cyrillic > 0 THEN 'cyrillic'
        |  WHEN n_han > 0 THEN 'han' ELSE 'none' END AS dominant
        |FROM c ORDER BY doc_id""".stripMargin),

    Entry("text_subwords", (s, dir) =>
      TextAnalysis.subwordStats(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |   AS BIGINT) AS n_subwords,
        | CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
        |   AS n_number_runs
        |FROM documents ORDER BY doc_id""".stripMargin),

    // literal-blocklist filter pass (TextAnalysis.blocklistHits): the
    // blocklist is compiled INTO a single codegen projection via the
    // replace-length identity — zero joins, zero regex; per-doc total
    // hits + the blocked verdict
    Entry("text_blocklist", (s, dir) => {
      val pats = Seq("slow fast", "hash join", "scan")
      val hits = graft.pipeline.TextAnalysis
        .blocklistHits(col("text"), pats)
      Tables.documents(s, dir).select(col("doc_id"),
        hits.as("n_hits"),
        (hits > 0L).cast("int").as("blocked"))
        .orderBy("doc_id")
    },
      """WITH h AS (SELECT doc_id,
        |  CAST((len(text) - len(replace(text, 'slow fast', ''))) / 9
        |    AS BIGINT)
        |  + CAST((len(text) - len(replace(text, 'hash join', ''))) / 9
        |    AS BIGINT)
        |  + CAST((len(text) - len(replace(text, 'scan', ''))) / 4
        |    AS BIGINT) AS n_hits
        | FROM documents)
        |SELECT doc_id, n_hits,
        | CAST(CASE WHEN n_hits > 0 THEN 1 ELSE 0 END AS INTEGER)
        |   AS blocked
        |FROM h ORDER BY doc_id""".stripMargin),

    // Flesch reading-ease readability (TextAnalysis.readability) over
    // a sentence-injected variant of the corpus ('table' ends a
    // sentence) — clamped whitespace words / [.!?]+ sentences /
    // vowel-group syllables, score floor-scaled x1000 with a fixed
    // double association order; pure regex projection
    Entry("text_readability", (s, dir) =>
      graft.pipeline.TextAnalysis.readability(
        Tables.documents(s, dir).withColumn("text",
          call_function("replace", col("text"), lit("table "),
            lit("table. "))))
        .orderBy("doc_id"),
      """WITH p AS (SELECT doc_id,
        |  replace(text, 'table ', 'table. ') AS t FROM documents),
        |c AS (SELECT doc_id,
        |  greatest(CAST(len(regexp_split_to_array(trim(t), '\s+'))
        |    AS BIGINT), 1) AS w,
        |  greatest(CAST(len(regexp_extract_all(t, '[.!?]+')) AS BIGINT),
        |    1) AS se,
        |  greatest(CAST(len(regexp_extract_all(lower(t), '[aeiouy]+'))
        |    AS BIGINT), 1) AS sy
        | FROM p)
        |SELECT doc_id, w AS n_words, se AS n_sentences, sy AS n_syllables,
        | CAST(floor((CAST(206.835 AS DOUBLE)
        |   - CAST(1.015 AS DOUBLE)
        |     * (CAST(w AS DOUBLE) / CAST(se AS DOUBLE))
        |   - CAST(84.6 AS DOUBLE)
        |     * (CAST(sy AS DOUBLE) / CAST(w AS DOUBLE)))
        |  * 1000.0) AS BIGINT) AS flesch_x1000
        |FROM c ORDER BY doc_id""".stripMargin),

    // trainable BPE vocabulary (the REAL subword tokenizer, not the
    // regex proxy): corpus-fit merges table, hash-compared against a
    // DuckDB replica that unrolls the identical merge loop
    Entry("text_bpe", (s, dir) =>
      fittedBpe(s, dir).mergesDf(s).orderBy("rank"),
      bpeTrainSql),

    // BPE encoding as one narrow projection: per-doc REAL subword count
    // plus the full segmentation string — both hash-compared against
    // the oracle's identical replace-chain encode
    Entry("text_bpe_encode", (s, dir) =>
      graft.pipeline.Bpe.encode(Tables.documents(s, dir), "text", "doc_id",
        fittedBpe(s, dir)).orderBy("doc_id"),
      bpeEncodeSql),

    // cross-document novelty: fraction of a doc's bigrams that are
    // corpus-unique (df = 1) — the statistical quality signal the
    // per-doc-local signals can't compute
    Entry("text_novelty", (s, dir) =>
      TextAnalysis.noveltySignals(Tables.documents(s, dir), n = 2, rareDf = 1)
        .orderBy("doc_id"),
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ts)) > 4095 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM tok),
        |g AS (SELECT DISTINCT doc_id,
        |  md5(array_to_string(ts[i.i : i.i + 1], ' ')) AS g
        | FROM tok, generate_series(1, 4096) AS i(i)
        | WHERE i.i + 1 <= len(ts)),
        |df AS (SELECT g, count(*) AS df FROM g GROUP BY g),
        |pd AS (SELECT doc_id, count(*) AS n_grams,
        |  sum(CASE WHEN df <= 1 THEN 1 ELSE 0 END) AS n_rare
        | FROM g JOIN df USING (g) GROUP BY doc_id)
        |SELECT d.doc_id,
        | CAST(coalesce(pd.n_grams, 0) AS BIGINT) AS n_grams,
        | CAST(coalesce(pd.n_rare, 0) AS BIGINT) AS n_rare,
        | CAST(CASE WHEN coalesce(pd.n_grams, 0) = 0 THEN 0
        |   ELSE (pd.n_rare * 100) // pd.n_grams END AS BIGINT) AS rare_pct
        |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
        |CROSS JOIN guard WHERE guard.ok = 1
        |ORDER BY d.doc_id""".stripMargin),

    // bigram-LM fit score (CCNet-style quality signal): each doc scored
    // against an add-one-smoothed bigram model trained on the corpus;
    // integer floor(1e6·p) terms so the oracle never hashes a float
    Entry("text_lm_fit", (s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.bigramLmScores(docs, docs).orderBy("doc_id")
    },
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
        | GROUP BY bg.doc_id)
        |SELECT d.doc_id,
        | CAST(coalesce(pd.n_bigrams, 0) AS BIGINT) AS n_bigrams,
        | CAST(coalesce(pd.sum_p, 0) AS BIGINT) AS sum_p_x1e6,
        | CAST(CASE WHEN coalesce(pd.n_bigrams, 0) = 0 THEN 0
        |   ELSE pd.sum_p // pd.n_bigrams END AS BIGINT) AS mean_p_x1e6
        |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id
        |CROSS JOIN guard WHERE guard.ok = 1
        |ORDER BY d.doc_id""".stripMargin),

    // multinomial Naive Bayes language classifier (the fastText-shaped
    // count model): train on even doc_ids labeled by lang, predict the
    // odd ones — integer-arithmetic fit scores so the argmax cannot
    // flake on a float ulp (log-space variant is API-only, spec-covered)
    Entry("text_nb_classify", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.NaiveBayes.classify(
          docs.where(col("doc_id") % 2 === 0).select(col("text"), col("lang")),
          docs.where(col("doc_id") % 2 === 1).select(col("doc_id"), col("text")),
          labelCol = "lang")
        .orderBy("doc_id")
    },
      """WITH tr AS (SELECT lang AS label, string_split(text, ' ') AS ts
        |  FROM documents WHERE doc_id % 2 = 0),
        |te AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents WHERE doc_id % 2 = 1),
        |ttok AS (SELECT label, unnest(ts) AS tok FROM tr),
        |cnt AS (SELECT label, tok, count(*) AS cnt FROM ttok GROUP BY 1, 2),
        |tot AS (SELECT label, count(*) AS t_c FROM ttok GROUP BY 1),
        |pri AS (SELECT label, count(*) AS n_c FROM tr GROUP BY 1),
        |ntr AS (SELECT count(*) AS n_train FROM tr),
        |voc AS (SELECT count(DISTINCT tok) AS v FROM ttok),
        |ptok AS (SELECT s.doc_id, p.label,
        |  (1000000 * (coalesce(c.cnt, 0) + 1)) // (t.t_c + voc.v) AS p
        | FROM (SELECT doc_id, unnest(ts) AS tok FROM te) s
        | CROSS JOIN pri p
        | JOIN tot t ON t.label = p.label CROSS JOIN voc
        | LEFT JOIN cnt c ON c.label = p.label AND c.tok = s.tok),
        |dc AS (SELECT doc_id, label, sum(p) AS sum_p
        |  FROM ptok GROUP BY 1, 2),
        |sc AS (SELECT dc.doc_id, dc.label,
        |  (1000000 * pri.n_c) // ntr.n_train + dc.sum_p AS score
        | FROM dc JOIN pri USING (label) CROSS JOIN ntr),
        |r AS (SELECT doc_id, label, score,
        |  row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, label) AS rn FROM sc)
        |SELECT doc_id, label AS pred_label,
        | CAST(score AS BIGINT) AS score_x1e6
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin),

    // Gopher-style repetition signal: one shuffle-free kernel call per
    // row; the oracle must explode + groupBy to express the same thing
    Entry("text_repetition", (s, dir) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, dir), n = 3)
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  len(string_split(text, ' ')) AS nt FROM documents),
        |guard AS (SELECT CASE WHEN max(nt) > 4094 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM t),
        |sh AS (SELECT doc_id, array_to_string(toks[g.i : g.i + 2], ' ') AS s
        | FROM t, generate_series(1, 4096) AS g(i) WHERE g.i + 2 <= nt),
        |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id, s),
        |agg AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS max_rep,
        |  CAST(sum(c) AS BIGINT) AS n_shingles
        | FROM cnt GROUP BY doc_id)
        |SELECT d.doc_id,
        | coalesce(a.max_rep, 0) AS max_rep,
        | coalesce(a.n_shingles, 0) AS n_shingles,
        | CAST(CASE WHEN coalesce(a.n_shingles, 0) = 0 THEN 0
        |   ELSE (a.max_rep * 100) // a.n_shingles END AS BIGINT) AS rep_pct
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |CROSS JOIN guard WHERE guard.ok = 1
        |ORDER BY d.doc_id""".stripMargin),

    Entry("doc_fingerprint", (s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir)).orderBy("doc_id"),
      """SELECT doc_id, md5(text) AS fp_md5,
        | substring(md5(text), 1, 15) AS fp_prefix
        |FROM documents ORDER BY doc_id""".stripMargin),

    // corpus vocabulary by document frequency, top-100 by (df desc, tok)
    Entry("text_vocab", (s, dir) =>
      TextAnalysis.topVocabulary(Tables.documents(s, dir), k = 100, minDf = 2)
        .orderBy("rank"),
      """WITH t AS (SELECT DISTINCT doc_id,
        |  unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS df FROM t
        | GROUP BY tok HAVING count(*) >= 2)
        |SELECT CAST(row_number() OVER (ORDER BY df DESC, tok) AS BIGINT)
        |   AS rank,
        | tok, df
        |FROM v ORDER BY df DESC, tok LIMIT 100""".stripMargin),

    // corpus n-gram diversity per source: total/distinct/repeated
    // 4-gram mass + the exact Simpson collision-pair count — the
    // corpus-level memorization-risk statistic (text_repetition is
    // per-document). All integers; md5 gram fingerprints replayed
    // verbatim by the oracle
    Entry("text_ngram_diversity", (s, dir) =>
      TextAnalysis.ngramDiversity(Tables.documents(s, dir),
          "source", "text", n = 4)
        .orderBy("source"),
      """WITH tok AS (SELECT source, string_split(text, ' ') AS ts
        |  FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ts)) > 4093 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM tok),
        |gr AS (SELECT source,
        |  md5(array_to_string(ts[g.i : g.i + 3], ' ')) AS g
        | FROM tok, generate_series(1, 4096) AS g(i)
        | WHERE g.i + 3 <= len(ts)),
        |cnt AS (SELECT source, g, count(*) AS c FROM gr GROUP BY 1, 2)
        |SELECT source,
        | CAST(sum(c) AS BIGINT) AS n_grams,
        | CAST(count(*) AS BIGINT) AS n_distinct,
        | CAST(sum(c) - count(*) AS BIGINT) AS n_repeats,
        | CAST(sum(c * (c - 1)) // 2 AS BIGINT) AS collision_pairs
        |FROM cnt CROSS JOIN guard WHERE guard.ok = 1
        |GROUP BY source ORDER BY source""".stripMargin),

    // incremental diversity state: per-(group, gram) counts over
    // DOC-DISJOINT batches merge additively (the lineDocCounts
    // persistable-state shape) — gated: merged two-batch state ==
    // one-shot state count for count, the report from the merged state
    // == the one-shot report row for row, and the merge is NON-vacuous
    // (some gram occurs in both batches, so addition actually happened
    // — constructed like dedup_lines_incr's shared boilerplate: a tail
    // appended to every doc guarantees cross-batch grams per source,
    // since the corpus's natural 4-grams turn out batch-unique; the
    // split is doc_id%40<20 BECAUSE source = src{doc_id%20}, so any
    // split on a divisor of 20 would put each whole source in one
    // batch and make the merge vacuous)
    Entry("text_ngram_diversity_incr", (s, dir) => {
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("source"),
        concat(col("text"), lit(" shared tail alpha beta gamma delta"))
          .as("text"))
      val a = docs.where(pmod(col("doc_id"), lit(40)) < 20)
      val b = docs.where(pmod(col("doc_id"), lit(40)) >= 20)
      // Each distinct state (sa, sb, one-shot) is derived ONCE, fanned
      // 32-wide, and localCheckpointed; the three materialization jobs
      // are submitted CONCURRENTLY (guide §2.6 — independent jobs
      // overlap, so the three barriers cost about one). Round 15
      // rewrite: the previous form re-derived the gram states 7+ times
      // inside one plan as serial single-task md5 explodes — 7.2 s of
      // single-thread CPU that ran 34.6 s in the driver's in-suite
      // battery (r14 verdict item 1; fine solo, pathological late in a
      // 338-entry JVM). Three fanned explodes cut the CPU 8/3× and
      // parallelize it 32-way; the checkpointed states are
      // gram-vocabulary-sized. (The r14 rejected variant checkpointed
      // sa/sb/merged SERIALLY with single-task explodes — 4.2 → 5.8 s;
      // the fan-out + concurrent submission is what makes this one
      // win.) The gate's algebra is unchanged: merge still runs via
      // mergeNgramCounts over the per-batch states, the one-shot state
      // is still an independent ngramDiversityState pass, and both
      // report rows still come from ngramDiversityFromState.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration.Duration
      import scala.concurrent.ExecutionContext.Implicits.global
      val fsa = Future(TextAnalysis
        .ngramDiversityState(a, "source", "text", 4).localCheckpoint())
      val fsb = Future(TextAnalysis
        .ngramDiversityState(b, "source", "text", 4).localCheckpoint())
      val fone = Future(TextAnalysis
        .ngramDiversityState(docs, "source", "text", 4).localCheckpoint())
      val sa = Await.result(fsa, Duration.Inf)
      val sb = Await.result(fsb, Duration.Inf)
      val one = Await.result(fone, Duration.Inf)
      val merged = TextAnalysis.mergeNgramCounts(sa, sb)
      val oneState = one.withColumnRenamed("c", "c2")
      val stateDiff = merged.join(oneState, Seq("grp", "g"), "full_outer")
        .agg(coalesce(sum(when(col("c") <=> col("c2"), 0L).otherwise(1L)),
          lit(0L)).as("n_state_diff"))
      val rep = TextAnalysis.ngramDiversityFromState(merged, "source")
      val oneRep = TextAnalysis.ngramDiversityFromState(one, "source")
        .select(col("source"), col("n_grams").as("g2"),
          col("n_distinct").as("d2"), col("n_repeats").as("r2"),
          col("collision_pairs").as("p2"))
      val repDiff = rep.join(oneRep, Seq("source"), "full_outer")
        .agg(coalesce(sum(when(col("n_grams") <=> col("g2") &&
          col("n_distinct") <=> col("d2") && col("n_repeats") <=> col("r2") &&
          col("collision_pairs") <=> col("p2"), 0L).otherwise(1L)), lit(0L))
          .as("n_report_diff"))
      val nonvac = sa.select("grp", "g").join(sb.select("grp", "g"),
          Seq("grp", "g"))
        .agg(when(count(lit(1)) > 0, 1L).otherwise(0L)
          .as("merge_nonvacuous"))
      stateDiff.crossJoin(repDiff).crossJoin(nonvac)
    },
      """SELECT CAST(0 AS BIGINT) AS n_state_diff,
        | CAST(0 AS BIGINT) AS n_report_diff,
        | CAST(1 AS BIGINT) AS merge_nonvacuous""".stripMargin),

    // SKETCH diversity state (constant bytes per group — the form that
    // persists when even the exact (group, gram) counts outgrow a
    // table): per source an exact additive window count + a
    // DataSketches HLL of the gram fingerprints. Gated in-job against
    // the exact report: totals equal exactly, and BOTH the merged-state
    // and the one-shot estimates stay within 5% of the exact distinct
    // count (deterministic for fixed data; the union is accuracy-
    // lossless but not register-identical — mode transitions differ —
    // so estimate equality is not the right claim)
    Entry("text_ngram_diversity_sketch", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val a = docs.where(pmod(col("doc_id"), lit(40)) < 20)
      val b = docs.where(pmod(col("doc_id"), lit(40)) >= 20)
      val merged = TextAnalysis.mergeDiversitySketches(
        TextAnalysis.ngramDiversitySketchState(a, "source", "text", 4),
        TextAnalysis.ngramDiversitySketchState(b, "source", "text", 4))
      val rep = TextAnalysis.ngramDiversityFromSketch(merged, "source")
      val oneShot = TextAnalysis.ngramDiversityFromSketch(
        TextAnalysis.ngramDiversitySketchState(docs, "source", "text", 4),
        "source")
        .select(col("source"), col("n_grams").as("g1"),
          col("n_distinct_est").as("d1"))
      val exact = TextAnalysis.ngramDiversity(docs, "source", "text", 4)
        .select(col("source"), col("n_grams").as("ge"),
          col("n_distinct").as("de"))
      rep.join(oneShot, Seq("source")).join(exact, Seq("source"))
        .agg(count(lit(1)).cast("long").as("n_sources"),
          coalesce(sum(when(col("n_grams") === col("ge") &&
            col("n_grams") === col("g1"), 0L).otherwise(1L)), lit(0L))
            .as("n_total_diff"),
          coalesce(sum(when(abs(col("d1") - col("de")) * 20
            <= col("de"), 0L).otherwise(1L)), lit(0L))
            .as("n_oneshot_out_of_bound"),
          coalesce(sum(when(abs(col("n_distinct_est") - col("de")) * 20
            <= col("de"), 0L).otherwise(1L)), lit(0L))
            .as("n_merged_out_of_bound"))
    },
      """SELECT CAST(20 AS BIGINT) AS n_sources,
        | CAST(0 AS BIGINT) AS n_total_diff,
        | CAST(0 AS BIGINT) AS n_oneshot_out_of_bound,
        | CAST(0 AS BIGINT) AS n_merged_out_of_bound""".stripMargin),

    // overlapping token-window chunking (retrieval/embedding prep):
    // 32-token windows every 16 tokens; chunk text exposed as its md5
    Entry("doc_chunks", (s, dir) =>
      graft.pipeline.TrainingData
        .chunk(Tables.documents(s, dir), "doc_id", "text",
          windowTokens = 32, stride = 16)
        .select(col("doc_id"), col("chunk_id"),
          md5(col("chunk_text")).as("chunk_md5"), col("n_chunk_tokens"))
        .orderBy("doc_id", "chunk_id"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
        |c AS (SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_id,
        |  toks[g.i * 16 + 1 : g.i * 16 + 32] AS chunk
        | FROM t, generate_series(0, 4095) AS g(i)
        | WHERE g.i * 16 < nt)
        |SELECT doc_id, chunk_id,
        | md5(array_to_string(chunk, ' ')) AS chunk_md5,
        | CAST(len(chunk) AS BIGINT) AS n_chunk_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin),

    Entry("text_pii_redact", (s, dir) => {
      val injected = Tables.documents(s, dir)
        .withColumn("pii_text", concat(
          col("text"), lit(" contact user"), col("doc_id").cast("string"),
          lit("@example.com or call 555-"),
          lpad(pmod(col("doc_id") * 7919, lit(10000)).cast("string"), 4, "0"),
          lit(" from "), pmod(col("doc_id"), lit(256)).cast("string"),
          lit(".0.0."), pmod(col("doc_id") * 31, lit(256)).cast("string")))
      injected.select(col("doc_id"),
        graft.pipeline.Redact.countMatches(col("pii_text"),
          graft.pipeline.Redact.emailRe).as("n_email"),
        graft.pipeline.Redact.countMatches(col("pii_text"),
          graft.pipeline.Redact.phoneRe).as("n_phone"),
        graft.pipeline.Redact.countMatches(col("pii_text"),
          graft.pipeline.Redact.ipv4Re).as("n_ip"),
        graft.pipeline.Redact.scrub(col("pii_text")).as("clean"))
        .orderBy("doc_id")
    },
      """WITH p AS (SELECT doc_id,
        |  text || ' contact user' || CAST(doc_id AS VARCHAR)
        |    || '@example.com or call 555-'
        |    || lpad(CAST((doc_id * 7919) % 10000 AS VARCHAR), 4, '0')
        |    || ' from ' || CAST(doc_id % 256 AS VARCHAR) || '.0.0.'
        |    || CAST((doc_id * 31) % 256 AS VARCHAR) AS pii_text
        | FROM documents)
        |SELECT doc_id,
        | CAST(len(regexp_extract_all(pii_text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS BIGINT)
        |   AS n_email,
        | CAST(len(regexp_extract_all(pii_text,
        |   '(\(\d{3}\)[ -]?|\b\d{3}[ -])?\b\d{3}[ -]\d{4}\b')) AS BIGINT)
        |   AS n_phone,
        | CAST(len(regexp_extract_all(pii_text,
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS BIGINT) AS n_ip,
        | regexp_replace(regexp_replace(regexp_replace(pii_text,
        |   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>',
        |   'g'),
        |   '(\(\d{3}\)[ -]?|\b\d{3}[ -])?\b\d{3}[ -]\d{4}\b', '<PHONE>', 'g'),
        |   '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g') AS clean
        |FROM p ORDER BY doc_id""".stripMargin),

    // PMI collocation mining: adjacent pairs co-occurring beyond their
    // marginals — one bigram aggregate feeds marginals + total, global
    // bounded top-k (TextAnalysis.collocations)
    Entry("text_collocations", (s, dir) =>
      graft.pipeline.TextAnalysis
        .collocations(Tables.documents(s, dir), k = 20, minCount = 5L)
        .orderBy("rank"),
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ts)) > 4095 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM tok),
        |bg AS (SELECT ts[i.i] AS w1, ts[i.i + 1] AS w2
        | FROM tok, generate_series(1, 4096) AS i(i)
        | WHERE i.i + 1 <= len(ts)),
        |pairs AS (SELECT w1, w2, count(*) AS n_pair FROM bg GROUP BY 1, 2),
        |l AS (SELECT w1, sum(n_pair) AS n_left FROM pairs GROUP BY 1),
        |r AS (SELECT w2, sum(n_pair) AS n_right FROM pairs GROUP BY 1),
        |t AS (SELECT sum(n_pair) AS n_total FROM pairs),
        |sc AS (SELECT w1, w2, n_pair,
        |  ln(CAST(n_pair AS DOUBLE) * CAST(n_total AS DOUBLE)
        |    / (CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE))) AS pmi
        | FROM pairs JOIN l USING (w1) JOIN r USING (w2), t
        | WHERE n_pair >= 5)
        |SELECT CAST(row_number() OVER
        |   (ORDER BY pmi DESC, w1, w2) AS BIGINT) AS rank,
        | w1, w2, CAST(n_pair AS BIGINT) AS n_pair,
        | round(pmi, 4) AS pmi_r4
        |FROM sc CROSS JOIN guard WHERE guard.ok = 1
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin),

    // per-doc characteristic keywords: smoothed TF-IDF top-3 with a
    // deterministic (score desc, term) rank; corpus stats are one
    // vocabulary-sized aggregate broadcast back (TextAnalysis)
    Entry("text_keywords", (s, dir) =>
      graft.pipeline.TextAnalysis
        .tfidfKeywords(Tables.documents(s, dir), k = 3)
        .orderBy("doc_id", "rank"),
      """WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tfc AS (SELECT doc_id, term, count(*) AS tf
        | FROM tf GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents) t GROUP BY term),
        |n AS (SELECT count(*) AS n FROM documents),
        |sc AS (SELECT doc_id, term,
        |  CAST(tf AS DOUBLE) * ln((CAST(n AS DOUBLE) + 1.0)
        |    / (CAST(df AS DOUBLE) + 1.0)) AS score
        | FROM tfc JOIN df USING (term), n)
        |SELECT doc_id, CAST(rank AS BIGINT) AS rank, term,
        | round(score, 4) AS score_r4
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id
        |   ORDER BY score DESC, term) AS rank FROM sc) r
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),

    // corpus-wide top-k frequent 3-gram phrases (boilerplate phrase
    // mining — what feeds removeBoilerplate's minDocs threshold): the
    // shingle relation counted map-side, bounded top-20 by (count desc,
    // phrase hash) via TakeOrderedAndProject, never a global sort of
    // the phrase domain. Phrases ride as md5 fingerprints so ordering
    // is engine-agnostic
    Entry("text_ngram_topk", (s, dir) => {
      // fan out before the md5 3-gram explode (the gramRelation
      // discipline): the explode + partial top-k ran as ONE 2.2 s task
      // on the single-split source (round-15 profile)
      val docs = graft.functions.PlanShape.fanOut(Tables.documents(s, dir))
      docs.select(explode(graft.pipeline.TrainingData
          .ngramFingerprints(col("text"), 3)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("g"))
        .limit(20)
    },
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |  md5(array_to_string(ts[i.i : i.i + 2], ' ')) AS g
        | FROM t, generate_series(1, 4096) AS i(i)
        | WHERE i.i + 2 <= len(ts))
        |SELECT g, CAST(count(*) AS BIGINT) AS n_docs
        |FROM g GROUP BY g ORDER BY n_docs DESC, g LIMIT 20""".stripMargin),

    // vocabulary growth curve (Heaps'-law diagnostic): running distinct
    // tokens vs running token count in doc order, exactly, via per-token
    // first-seen + one cumulative sum over per-doc rows — saturation
    // says new data adds volume, not vocabulary
    Entry("text_vocab_growth", (s, dir) =>
      graft.pipeline.TextAnalysis.vocabGrowth(
        Tables.documents(s, dir), "doc_id", every = 50)
        .orderBy("ord"),
      """WITH t AS (SELECT doc_id AS ord,
        |  unnest(string_split(text, ' ')) AS tok FROM documents),
        |fn AS (SELECT ord, CAST(count(*) AS BIGINT) AS n_new
        | FROM (SELECT tok, min(ord) AS ord FROM t GROUP BY tok)
        | GROUP BY ord),
        |pd AS (SELECT t.ord, CAST(count(*) AS BIGINT) AS n_toks
        | FROM t GROUP BY t.ord),
        |c AS (SELECT pd.ord,
        |  sum(pd.n_toks) OVER (ORDER BY pd.ord
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cum_tokens,
        |  sum(coalesce(fn.n_new, 0)) OVER (ORDER BY pd.ord
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cum_vocab
        | FROM pd LEFT JOIN fn USING (ord))
        |SELECT ord, CAST(cum_tokens AS BIGINT) AS cum_tokens,
        | CAST(cum_vocab AS BIGINT) AS cum_vocab
        |FROM c WHERE ord % 50 = 0 ORDER BY ord""".stripMargin),

    // the 100 TB twin: the cumulative window runs over BUCKET sums
    // (curve-sized — one row per report point) instead of one row per
    // document; exactly equal to text_vocab_growth on the dense
    // doc_id domain (the documented contract)
    Entry("text_vocab_growth_bucketed", (s, dir) =>
      graft.pipeline.TextAnalysis.vocabGrowthBucketed(
        Tables.documents(s, dir), "doc_id", every = 50)
        .orderBy("ord"),
      """WITH t AS (SELECT doc_id AS ord,
        |  unnest(string_split(text, ' ')) AS tok FROM documents),
        |nb AS (SELECT (ford + 49) // 50 AS b,
        |  CAST(count(*) AS BIGINT) AS n_new
        | FROM (SELECT tok, min(ord) AS ford FROM t GROUP BY tok)
        | GROUP BY 1),
        |tb AS (SELECT (ord + 49) // 50 AS b,
        |  CAST(count(*) AS BIGINT) AS n_toks
        | FROM t GROUP BY 1),
        |c AS (SELECT tb.b,
        |  sum(tb.n_toks) OVER (ORDER BY tb.b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cum_tokens,
        |  sum(coalesce(nb.n_new, 0)) OVER (ORDER BY tb.b
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS cum_vocab
        | FROM tb LEFT JOIN nb USING (b)),
        |mx AS (SELECT max(doc_id) AS m FROM documents)
        |SELECT CAST(b * 50 AS BIGINT) AS ord,
        | CAST(cum_tokens AS BIGINT) AS cum_tokens,
        | CAST(cum_vocab AS BIGINT) AS cum_vocab
        |FROM c, mx WHERE b * 50 <= m ORDER BY ord""".stripMargin),

    // Gopher-style rule-based quality DECISION: four 25-point binary
    // rules (length band, stopword floor, token-length band, repetition
    // cap) composed from the individual signals in one projection;
    // thresholds chosen to split the fixture non-vacuously
    Entry("text_gopher_rules", (s, dir) =>
      graft.pipeline.TextAnalysis.gopherRules(Tables.documents(s, dir),
        minTokens = 30, maxTokens = 90, minStopPct = 3,
        minTokLenX10 = 30, maxTokLenX10 = 100, maxRepPct = 20,
        cutoff = 75)
        .orderBy("doc_id"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
        |  CAST(length(text) AS BIGINT) AS nc FROM documents),
        |guard AS (SELECT CASE WHEN max(nt) > 4094 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM t),
        |sh AS (SELECT doc_id, array_to_string(toks[g.i : g.i + 2], ' ')
        |   AS s
        | FROM t, generate_series(1, 4096) AS g(i) WHERE g.i + 2 <= nt),
        |cnt AS (SELECT doc_id, count(*) AS c FROM sh GROUP BY doc_id, s),
        |rep AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS mr,
        |  CAST(sum(c) AS BIGINT) AS ns FROM cnt GROUP BY doc_id),
        |q AS (SELECT t.doc_id, nt,
        |  CAST(floor(100.0 * len(list_filter(toks, x -> x IN
        |    ('the','a','an','of','to','and','in','is'))) / nt) AS BIGINT)
        |    AS sp,
        |  CAST(floor(10.0 * (nc - (nt - 1)) / nt) AS BIGINT) AS tl,
        |  COALESCE(CASE WHEN rep.ns = 0 THEN 0
        |    ELSE (rep.mr * 100) // rep.ns END, 0) AS rp
        | FROM t LEFT JOIN rep USING (doc_id) CROSS JOIN guard
        | WHERE guard.ok = 1),
        |f AS (SELECT doc_id,
        |  CASE WHEN nt >= 30 AND nt <= 90 THEN 1 ELSE 0 END AS r_len,
        |  CASE WHEN sp >= 3 THEN 1 ELSE 0 END AS r_stop,
        |  CASE WHEN tl >= 30 AND tl <= 100 THEN 1 ELSE 0 END AS r_tlen,
        |  CASE WHEN rp <= 20 THEN 1 ELSE 0 END AS r_rep FROM q)
        |SELECT doc_id, CAST(r_len AS BIGINT) AS r_len,
        | CAST(r_stop AS BIGINT) AS r_stop,
        | CAST(r_tlen AS BIGINT) AS r_tlen,
        | CAST(r_rep AS BIGINT) AS r_rep,
        | CAST((r_len + r_stop + r_tlen + r_rep) * 25 AS BIGINT) AS score,
        | CAST(CASE WHEN (r_len + r_stop + r_tlen + r_rep) * 25 >= 75
        |   THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM f ORDER BY doc_id""".stripMargin),

    // compression-ratio quality signal (deflate kernel): byte counts are
    // zlib-dependent, so the gate asserts INVARIANTS — every doc's 8×
    // self-repetition compresses to a strictly lower ratio than the doc
    // itself, and every ratio stays in (0, 150]
    Entry("text_compress_ratio", (s, dir) => {
      import graft.pipeline.TextAnalysis
      val docs = Tables.documents(s, dir)
      val base = TextAnalysis.compressionSignals(docs)
        .select(col("doc_id"), col("ratio_x100").as("r_base"))
      val rep = TextAnalysis.compressionSignals(
          docs.select(col("doc_id"), repeat(col("text"), 8).as("text")))
        .select(col("doc_id"), col("ratio_x100").as("r_rep"))
      base.join(rep, "doc_id")
        .agg(count(lit(1)).as("n_docs"),
          coalesce(sum(when(col("r_rep") < col("r_base"), 1L)
            .otherwise(0L)), lit(0L)).as("n_rep_better"),
          coalesce(sum(when(col("r_base") > 0 && col("r_base") <= 150 &&
            col("r_rep") > 0 && col("r_rep") <= 150, 1L).otherwise(0L)),
            lit(0L)).as("n_in_bounds"))
    },
      // invariant oracle: repetition always compresses strictly better
      // and every ratio is in bounds, for all 500 docs
      """SELECT CAST(500 AS BIGINT) AS n_docs,
        | CAST(500 AS BIGINT) AS n_rep_better,
        | CAST(500 AS BIGINT) AS n_in_bounds""".stripMargin),

    // accent stripping (codegen NFD+mark-drop kernel vs DuckDB's
    // strip_accents): the same decomposed/precomposed injections as the
    // NFC entry must BOTH fold to the bare-ASCII suffix
    Entry("text_strip_accents", (s, dir) => {
      val decomposed = "cafe\u0301 nai\u0308ve A\u030A"
      val composed = "caf\u00e9 na\u00efve \u00c5"
      Tables.documents(s, dir)
        .select(col("doc_id"), concat(col("text"), lit(" "),
          when(pmod(col("doc_id"), lit(2)) === 0, lit(decomposed))
            .otherwise(lit(composed))).as("t"))
        .select(col("doc_id"),
          md5(graft.pipeline.TextAnalysis.stripAccents(col("t"))
            .cast("binary")).as("stripped_md5"),
          length(graft.pipeline.TextAnalysis.stripAccents(col("t")))
            .cast("long").as("n_chars"))
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, text || ' ' ||
        |  CASE WHEN doc_id % 2 = 0
        |    THEN 'cafe' || chr(769) || ' nai' || chr(776) || 've A'
        |      || chr(778)
        |    ELSE 'caf' || chr(233) || ' na' || chr(239) || 've '
        |      || chr(197) END AS t
        | FROM documents)
        |SELECT doc_id, md5(strip_accents(t)) AS stripped_md5,
        | CAST(length(strip_accents(t)) AS BIGINT) AS n_chars
        |FROM d ORDER BY doc_id""".stripMargin),

    // Unicode NFC normalization (codegen kernel vs DuckDB's
    // nfc_normalize): decomposed combining sequences (e+U+0301,
    // i+U+0308, A+U+030A) injected on even docs, their precomposed
    // twins on odd docs — after NFC both suffixes hash identically,
    // and the md5 gate compares the full normalized text per doc
    Entry("text_unicode_nfc", (s, dir) => {
      val decomposed = "cafe\u0301 nai\u0308ve A\u030A"
      val composed = "caf\u00e9 na\u00efve \u00c5"
      Tables.documents(s, dir)
        .select(col("doc_id"), concat(col("text"), lit(" "),
          when(pmod(col("doc_id"), lit(2)) === 0, lit(decomposed))
            .otherwise(lit(composed))).as("t"))
        .select(col("doc_id"),
          md5(graft.pipeline.TextAnalysis.nfc(col("t")).cast("binary"))
            .as("norm_md5"),
          length(graft.pipeline.TextAnalysis.nfc(col("t"))).cast("long")
            .as("n_chars"))
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, text || ' ' ||
        |  CASE WHEN doc_id % 2 = 0
        |    THEN 'cafe' || chr(769) || ' nai' || chr(776) || 've A'
        |      || chr(778)
        |    ELSE 'caf' || chr(233) || ' na' || chr(239) || 've '
        |      || chr(197) END AS t
        | FROM documents)
        |SELECT doc_id, md5(nfc_normalize(t)) AS norm_md5,
        | CAST(length(nfc_normalize(t)) AS BIGINT) AS n_chars
        |FROM d ORDER BY doc_id""".stripMargin),

    // C4-style rule-based line filtering: >= 3 words, terminal
    // punctuation, no banned phrase — line-LOCAL rules, so the whole
    // pass is one codegen projection with NO shuffle (vs dedup_lines'
    // cross-doc counting); injected short / banned / unpunctuated
    // lines exercise every rule and the first-failing-rule precedence
    Entry("text_c4_filters", (s, dir) => {
      val lined = Tables.documents(s, dir).select(col("doc_id"), concat(
        col("text"), lit(" end of document text.\nok."),
        when(pmod(col("doc_id"), lit(2)) === 0,
          lit("\nClick Here to win a prize now.")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("\nthis line has no terminal punctuation here"))
          .otherwise(lit(""))).as("text"))
      graft.pipeline.TextAnalysis.c4LineFilters(lined, "\n", minWords = 3,
        banned = Seq("click here"), requirePunct = true)
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id, text || ' end of document text.'
        |  || chr(10) || 'ok.' ||
        |  CASE WHEN doc_id % 2 = 0
        |    THEN chr(10) || 'Click Here to win a prize now.'
        |    ELSE '' END ||
        |  CASE WHEN doc_id % 3 = 0
        |    THEN chr(10) || 'this line has no terminal punctuation here'
        |    ELSE '' END AS t
        | FROM documents),
        |l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line,
        |  generate_subscripts(string_split(t, chr(10)), 1) AS pos FROM d),
        |c AS (SELECT doc_id, pos, line,
        |  CASE WHEN len(list_filter(regexp_split_to_array(line, '\s+'),
        |      x -> len(x) > 0)) < 3 THEN 'short'
        |       WHEN contains(lower(line), 'click here') THEN 'banned'
        |       WHEN NOT regexp_matches(line, '[.!?]$') THEN 'no_punct'
        |       ELSE 'kept' END AS cls FROM l)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(sum(CASE WHEN cls = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_kept,
        | CAST(sum(CASE WHEN cls = 'short' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_short,
        | CAST(sum(CASE WHEN cls = 'banned' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_banned,
        | CAST(sum(CASE WHEN cls = 'no_punct' THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_no_punct,
        | coalesce(string_agg(CASE WHEN cls = 'kept' THEN line END,
        |   chr(10) ORDER BY pos), '') AS clean_text
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin),
  )
}
