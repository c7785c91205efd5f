package graft
package entries

import org.apache.spark.sql.functions._

import graft.query.ExactKnn
import Fixtures._

/** search_*, link_* and rank_* entries: keyword retrieval, record
  * linkage and ranking evaluation. */
private[graft] object SearchEntries {

  def entries: Seq[Entry] = Seq(
    // join-key skew telemetry (operators/SkewJoin.keyStats): the
    // all-integer max/mean histogram aggregate that sizes the salt for
    // the salted rewrite below — AnnJoin.recommendedSalt generalized to
    // relational keys
    // passage->document retrieval (MaxP): passages = embeddings rows,
    // parent doc = vec_id div 5 (100 docs x 5 passages); each query's
    // top-20 passage hits collapse to docs by best passage, bounded
    // top-5 docs per query
    Entry("search_doc_topk", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val hits = graft.query.ExactKnn.batchTopK(emb, "embedding",
          "vec_id", queries, "qid", "qv", k = 20)
        .withColumn("doc_id", expr("vec_id div 5"))
      graft.query.ExactKnn.docTopK(hits, "qid", "doc_id", "sq_dist", k = 5)
        .orderBy("qid", "doc_rank")
    },
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id <= 4),
        |d AS (SELECT q.qid AS qid, e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE)))
        |    AS sq
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2),
        |h AS (SELECT qid, vec_id, sq, row_number() OVER (
        |  PARTITION BY qid ORDER BY sq, vec_id) AS rnk FROM d),
        |ds AS (SELECT qid, vec_id // 5 AS doc_id, min(sq) AS doc_dist
        | FROM h WHERE rnk <= 20 GROUP BY qid, vec_id // 5)
        |SELECT qid, doc_id, doc_rank FROM (
        | SELECT qid, doc_id, CAST(row_number() OVER (PARTITION BY qid
        |   ORDER BY doc_dist, doc_id) AS BIGINT) AS doc_rank
        | FROM ds) t
        |WHERE doc_rank <= 5 ORDER BY qid, doc_rank""".stripMargin),

    // retrieval evaluation: exact kNN@10 results scored against
    // label-relevance ground truth (a hit = neighbor shares the query's
    // label) — integer per-query counters; the oracle recomputes the
    // same kNN AND the same scoring independently
    Entry("rank_eval", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val res = ExactKnn.batchTopK(emb, "embedding", "vec_id",
          qs, "qid", "qvec", 10)
        .select(col("qid"), col("vec_id").as("doc_id"), col("rank"))
      val ql = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("label"))
      val truth = emb.select(col("vec_id").as("doc_id"), col("label"))
        .join(ql, "label").select("qid", "doc_id")
      graft.query.RankEval.perQuery(res, truth).orderBy("qid")
    },
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id <= 4),
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
        |  WHERE vec_id <= 4),
        |tr AS (SELECT ql.qid, e.vec_id AS doc_id FROM embeddings e
        |  JOIN ql ON e.label = ql.label),
        |tc AS (SELECT qid, count(*) AS n_relevant FROM tr GROUP BY 1),
        |m AS (SELECT r.qid, r.rank,
        |  CASE WHEN tr.doc_id IS NULL THEN 0 ELSE 1 END AS rel
        | FROM r LEFT JOIN tr ON tr.qid = r.qid AND tr.doc_id = r.doc_id)
        |SELECT m.qid, CAST(count(*) AS BIGINT) AS n_retrieved,
        | CAST(coalesce(tc.n_relevant, 0) AS BIGINT) AS n_relevant,
        | CAST(sum(m.rel) AS BIGINT) AS n_hits,
        | CAST(coalesce(min(CASE WHEN m.rel = 1 THEN m.rank END), 0)
        |   AS BIGINT) AS first_hit_rank
        |FROM m LEFT JOIN tc ON tc.qid = m.qid
        |GROUP BY m.qid, tc.n_relevant ORDER BY m.qid""".stripMargin),

    // ranked conjunctive search, index-free scan path: per-term tf via
    // codegen array filters, rank by (total tf desc, id) — integer
    // scoring so the oracle is exact (see TextSearch scaladoc)
    Entry("search_rank", (s, dir) =>
      graft.query.TextSearch.rankedSearch(Tables.documents(s, dir),
        "doc_id", "text", Seq("spark", "vector"), k = 20),
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |p AS (SELECT tok, doc_id, count(*) AS tf FROM toks
        | WHERE tok IN ('spark', 'vector') GROUP BY 1, 2),
        |h AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total
        | FROM p GROUP BY doc_id HAVING count(*) = 2)
        |SELECT CAST(row_number() OVER (ORDER BY tf_total DESC, doc_id)
        |   AS BIGINT) AS rank,
        | doc_id, tf_total
        |FROM h ORDER BY tf_total DESC, doc_id LIMIT 20""".stripMargin),

    // same semantics through the inverted-index path: postings build
    // (explode + map-side-combined count) + IN-filtered doc-keyed agg
    Entry("search_conj", (s, dir) =>
      graft.query.TextSearch.searchPostings(
        graft.query.TextSearch.postings(Tables.documents(s, dir),
          "doc_id", "text"),
        "doc_id", Seq("spark", "vector"))
        .orderBy("doc_id"),
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |p AS (SELECT tok, doc_id, count(*) AS tf FROM toks
        | WHERE tok IN ('spark', 'vector') GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total
        |FROM p GROUP BY doc_id HAVING count(*) = 2
        |ORDER BY doc_id""".stripMargin),

    // typo-tolerant search (TextSearch.fuzzySearch): query terms
    // expand to every vocabulary token within Levenshtein 1 (length-
    // band prefiltered, vocabulary-sized scan), then one posting
    // semi-join scores docs by original-term coverage; top-50 under a
    // total (coverage, tf, id) order
    Entry("search_fuzzy", (s, dir) => {
      val post = graft.query.TextSearch.postings(
        Tables.documents(s, dir), "doc_id", "text").localCheckpoint()
      graft.query.TextSearch.fuzzySearch(post,
          post.select("tok").distinct(), "doc_id",
          Seq("tabl", "filtr"), maxDist = 1)
        .limit(50)
    },
      """WITH post AS (SELECT tok, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |   FROM documents) GROUP BY tok, doc_id),
        |vocab AS (SELECT DISTINCT tok FROM post),
        |q(q) AS (VALUES ('tabl'), ('filtr')),
        |e AS (SELECT tok, q FROM vocab, q
        | WHERE abs(length(tok) - length(q)) <= 1
        |  AND levenshtein(tok, q) <= 1),
        |m AS (SELECT p.doc_id, p.tok, p.tf, e.q
        | FROM post p JOIN e USING (tok)),
        |nq AS (SELECT doc_id,
        |  CAST(count(DISTINCT q) AS BIGINT) AS n_query_terms
        | FROM m GROUP BY doc_id),
        |tf AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total FROM
        |  (SELECT DISTINCT doc_id, tok, tf FROM m) GROUP BY doc_id)
        |SELECT nq.doc_id, n_query_terms, tf_total
        |FROM nq JOIN tf USING (doc_id)
        |ORDER BY n_query_terms DESC, tf_total DESC, doc_id ASC
        |LIMIT 50""".stripMargin),

    // transposition-tolerant fuzzy search: the same vocab expansion
    // under Damerau-Levenshtein — the planted typos "tabel"/"fitler"
    // are adjacent transpositions of real vocab tokens (plain
    // levenshtein scores them 2, outside maxDist=1; DL charges 1),
    // so this gate finds documents the plain metric provably cannot
    Entry("search_fuzzy_dl", (s, dir) => {
      val post = graft.query.TextSearch.postings(
        Tables.documents(s, dir), "doc_id", "text").localCheckpoint()
      graft.query.TextSearch.fuzzySearch(post,
          post.select("tok").distinct(), "doc_id",
          Seq("tabel", "fitler"), maxDist = 1, metric = "damerau")
        .limit(50)
    },
      // DuckDB's damerau_levenshtein is the TRUE (unrestricted) DL, the
      // same contract as the Spark kernel (link_damerau pins parity);
      // a planted guard row proves the expansion is non-vacuous
      """WITH post AS (SELECT tok, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |   FROM documents) GROUP BY tok, doc_id),
        |vocab AS (SELECT DISTINCT tok FROM post),
        |guard AS (SELECT CASE WHEN EXISTS (SELECT 1 FROM vocab
        |   WHERE damerau_levenshtein(tok, 'tabel') <= 1) THEN 1
        |  ELSE CAST(error('no vocab token within DL 1 of tabel') AS
        |   INTEGER) END AS ok),
        |q(q) AS (VALUES ('tabel'), ('fitler')),
        |e AS (SELECT tok, q FROM vocab, q
        | WHERE abs(length(tok) - length(q)) <= 1
        |  AND damerau_levenshtein(tok, q) <= 1),
        |m AS (SELECT p.doc_id, p.tok, p.tf, e.q
        | FROM post p JOIN e USING (tok)),
        |nq AS (SELECT doc_id,
        |  CAST(count(DISTINCT q) AS BIGINT) AS n_query_terms
        | FROM m GROUP BY doc_id),
        |tf AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total FROM
        |  (SELECT DISTINCT doc_id, tok, tf FROM m) GROUP BY doc_id)
        |SELECT nq.doc_id, n_query_terms, tf_total
        |FROM nq JOIN tf USING (doc_id) CROSS JOIN guard
        |WHERE guard.ok = 1
        |ORDER BY n_query_terms DESC, tf_total DESC, doc_id ASC
        |LIMIT 50""".stripMargin),

    // prefix search (TextSearch.prefixSearch): 'fil' expands over the
    // vocabulary (a range scan on a sorted vocab; the corpus never
    // sees the predicate) then one posting semi-join — the
    // autocomplete shape; top-50 under a total order
    Entry("search_prefix", (s, dir) => {
      val post = graft.query.TextSearch.postings(
        Tables.documents(s, dir), "doc_id", "text").localCheckpoint()
      graft.query.TextSearch.prefixSearch(post,
          post.select("tok").distinct(), "doc_id", "fil")
        .limit(50)
    },
      """WITH post AS (SELECT tok, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |   FROM documents) GROUP BY tok, doc_id),
        |e AS (SELECT DISTINCT tok FROM post WHERE tok LIKE 'fil%')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        | CAST(sum(tf) AS BIGINT) AS tf_total
        |FROM post JOIN e USING (tok)
        |GROUP BY doc_id
        |ORDER BY tf_total DESC, doc_id ASC LIMIT 50""".stripMargin),

    // MMR diversity rerank (query/Mmr): three queries' top-8 tf
    // candidates, pairwise similarity = shared distinct tokens
    // (all-integer), greedy λ=0.7 walk picks 5 per query inside
    // bounded flatMapGroups state — the oracle unrolls the same five
    // rounds as CTEs with correlated max-over-selected penalties
    Entry("search_mmr", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      import s.implicits._
      val post = graft.query.TextSearch.postings(
        Tables.documents(s, dir), "doc_id", "text").localCheckpoint()
      val termDf = Seq(("table", 0L), ("filter", 1L), ("spark", 2L))
        .toDF("tok", "qid")
      val w = Window.partitionBy("qid")
        .orderBy(col("rel").desc, col("cid").asc)
      val cands = post.join(broadcast(termDf), "tok")
        .select(col("qid"), col("doc_id").as("cid"),
          col("tf").cast("long").as("rel"))
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 8).drop("rn")
        .localCheckpoint()
      val candToks = post.select(col("doc_id"), col("tok"))
        .join(cands.select(col("qid"), col("cid").as("doc_id")),
          Seq("doc_id"))
        .select("qid", "doc_id", "tok").distinct()
      val sims = candToks.as("x").join(candToks.as("y"),
          col("x.qid") === col("y.qid") &&
            col("x.tok") === col("y.tok") &&
            col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.qid").as("qid"), col("x.doc_id").as("a"),
          col("y.doc_id").as("b"))
        .agg(count(lit(1)).as("sim"))
      graft.query.Mmr.rerank(cands, sims, k = 5, lambdaX1e6 = 700000L)
        .orderBy("qid", "rank")
    },
      """WITH post AS (SELECT tok, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |   FROM documents) GROUP BY tok, doc_id),
        |q(tok, qid) AS (VALUES ('table', 0), ('filter', 1),
        |  ('spark', 2)),
        |c0 AS (SELECT qid, doc_id AS cid, CAST(tf AS BIGINT) AS rel,
        |  row_number() OVER (PARTITION BY qid
        |    ORDER BY tf DESC, doc_id ASC) AS rn
        | FROM post JOIN q USING (tok)),
        |c AS (SELECT CAST(qid AS BIGINT) AS qid, cid, rel
        | FROM c0 WHERE rn <= 8),
        |ct AS (SELECT DISTINCT c.qid, c.cid AS doc_id, p.tok
        | FROM c JOIN post p ON p.doc_id = c.cid),
        |sims AS (SELECT x.qid, x.doc_id AS a, y.doc_id AS b,
        |  CAST(count(*) AS BIGINT) AS sim
        | FROM ct x JOIN ct y ON x.qid = y.qid AND x.tok = y.tok
        |  AND x.doc_id < y.doc_id
        | GROUP BY 1, 2, 3),
        |s2 AS (SELECT qid, a, b, sim FROM sims
        | UNION ALL SELECT qid, b, a, sim FROM sims),
        |r1 AS (SELECT qid, cid, 700000 * rel AS score,
        |  row_number() OVER (PARTITION BY qid
        |    ORDER BY 700000 * rel DESC, cid ASC) AS rn FROM c),
        |p1 AS (SELECT qid, cid, score FROM r1 WHERE rn = 1),
        |sel1 AS (SELECT qid, cid FROM p1),
        |r2 AS (SELECT qid, cid, score, row_number() OVER (
        |   PARTITION BY qid ORDER BY score DESC, cid ASC) AS rn
        | FROM (SELECT c.qid, c.cid, 700000 * c.rel
        |   - 300000 * coalesce((SELECT max(s.sim) FROM s2 s, sel1 t
        |     WHERE s.qid = c.qid AND s.a = c.cid AND t.qid = c.qid
        |      AND t.cid = s.b), 0) AS score
        |  FROM c WHERE NOT EXISTS (SELECT 1 FROM sel1 t
        |   WHERE t.qid = c.qid AND t.cid = c.cid))),
        |p2 AS (SELECT qid, cid, score FROM r2 WHERE rn = 1),
        |sel2 AS (SELECT qid, cid FROM p1 UNION ALL
        |  SELECT qid, cid FROM p2),
        |r3 AS (SELECT qid, cid, score, row_number() OVER (
        |   PARTITION BY qid ORDER BY score DESC, cid ASC) AS rn
        | FROM (SELECT c.qid, c.cid, 700000 * c.rel
        |   - 300000 * coalesce((SELECT max(s.sim) FROM s2 s, sel2 t
        |     WHERE s.qid = c.qid AND s.a = c.cid AND t.qid = c.qid
        |      AND t.cid = s.b), 0) AS score
        |  FROM c WHERE NOT EXISTS (SELECT 1 FROM sel2 t
        |   WHERE t.qid = c.qid AND t.cid = c.cid))),
        |p3 AS (SELECT qid, cid, score FROM r3 WHERE rn = 1),
        |sel3 AS (SELECT qid, cid FROM sel2 UNION ALL
        |  SELECT qid, cid FROM p3),
        |r4 AS (SELECT qid, cid, score, row_number() OVER (
        |   PARTITION BY qid ORDER BY score DESC, cid ASC) AS rn
        | FROM (SELECT c.qid, c.cid, 700000 * c.rel
        |   - 300000 * coalesce((SELECT max(s.sim) FROM s2 s, sel3 t
        |     WHERE s.qid = c.qid AND s.a = c.cid AND t.qid = c.qid
        |      AND t.cid = s.b), 0) AS score
        |  FROM c WHERE NOT EXISTS (SELECT 1 FROM sel3 t
        |   WHERE t.qid = c.qid AND t.cid = c.cid))),
        |p4 AS (SELECT qid, cid, score FROM r4 WHERE rn = 1),
        |sel4 AS (SELECT qid, cid FROM sel3 UNION ALL
        |  SELECT qid, cid FROM p4),
        |r5 AS (SELECT qid, cid, score, row_number() OVER (
        |   PARTITION BY qid ORDER BY score DESC, cid ASC) AS rn
        | FROM (SELECT c.qid, c.cid, 700000 * c.rel
        |   - 300000 * coalesce((SELECT max(s.sim) FROM s2 s, sel4 t
        |     WHERE s.qid = c.qid AND s.a = c.cid AND t.qid = c.qid
        |      AND t.cid = s.b), 0) AS score
        |  FROM c WHERE NOT EXISTS (SELECT 1 FROM sel4 t
        |   WHERE t.qid = c.qid AND t.cid = c.cid))),
        |p5 AS (SELECT qid, cid, score FROM r5 WHERE rn = 1)
        |SELECT qid, CAST(rank AS BIGINT) AS rank, cid, score FROM (
        | SELECT qid, 1 AS rank, cid, score FROM p1
        | UNION ALL SELECT qid, 2, cid, score FROM p2
        | UNION ALL SELECT qid, 3, cid, score FROM p3
        | UNION ALL SELECT qid, 4, cid, score FROM p4
        | UNION ALL SELECT qid, 5, cid, score FROM p5)
        |ORDER BY qid, rank""".stripMargin),

    // BM25 relevance scoring (disjunctive hit set): idf/df/avglen from
    // ONE corpus pass (integer counts in doubles — exact), scoring a
    // narrow shuffle-free projection. The oracle replicates the exact
    // arithmetic (same parenthesization, same ln argument); the score is
    // rounded to 4 decimals on both sides.
    Entry("search_bm25", (s, dir) =>
      graft.query.TextSearch.bm25Scores(Tables.documents(s, dir),
        "doc_id", "text", Seq("spark", "vector"))
        .orderBy("doc_id"),
      // (1.2 + 1) instead of the literal 2.2: k1+1 is COMPUTED in the
      // Spark side's Scala, and the double sum 1.2+1 sits a hair from the
      // double nearest to literal 2.2 — both engines must do the same op
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |tf AS (SELECT doc_id,
        |  CAST(len(list_filter(toks, x -> x = 'spark')) AS DOUBLE) AS tf1,
        |  CAST(len(list_filter(toks, x -> x = 'vector')) AS DOUBLE) AS tf2,
        |  CAST(len(toks) AS DOUBLE) AS dl FROM t),
        |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avglen,
        |  sum(CASE WHEN tf1 > 0 THEN 1.0 ELSE 0.0 END) AS df1,
        |  sum(CASE WHEN tf2 > 0 THEN 1.0 ELSE 0.0 END) AS df2 FROM tf)
        |SELECT doc_id,
        | CAST((CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) +
        |      (CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
        | round(ln(1 + (n - df1 + 0.5) / (df1 + 0.5)) * tf1 * (1.2 + 1)
        |     / (tf1 + 1.2 * (0.25 + 0.75 * dl / avglen))
        |   + ln(1 + (n - df2 + 0.5) / (df2 + 0.5)) * tf2 * (1.2 + 1)
        |     / (tf2 + 1.2 * (0.25 + 0.75 * dl / avglen)), 4) AS bm25_r4
        |FROM tf, st
        |WHERE tf1 > 0 OR tf2 > 0
        |ORDER BY doc_id""".stripMargin),

    // exact-phrase search via the positional inverted index: every
    // phrase-term posting votes for the occurrence start it implies
    // (pos − slot), a start collecting all slots is an occurrence —
    // one candidate-sized shuffle, text never moves; the index-free
    // scan twin is spec-pinned equal (TextSearchSpec)
    Entry("search_phrase", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.query.TextSearch.phraseSearch(
          graft.query.TextSearch.positionalPostings(docs, "doc_id", "text"),
          "doc_id", Seq("batch", "data"))
        .orderBy("doc_id")
    },
      // sliding 2-window scan for the phrase 'batch data' — overlapping
      // occurrences count separately, same guard pattern as the
      // window-dedup oracles
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  len(string_split(text, ' ')) AS nt FROM documents),
        |guard AS (SELECT CASE WHEN max(nt) > 4095 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM t),
        |o AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences
        | FROM t, generate_series(1, 4096) AS g(s)
        | WHERE s + 1 <= nt AND toks[s] = 'batch' AND toks[s + 1] = 'data'
        | GROUP BY 1)
        |SELECT doc_id, n_occurrences FROM o CROSS JOIN guard
        |WHERE guard.ok = 1 ORDER BY doc_id""".stripMargin),

    // NEAR-3 proximity over the same positional index: qualifying
    // ('batch','data') position pairs within 3 tokens either order —
    // the two terms' postings join on the doc with a residual distance
    // predicate, candidate-sized
    Entry("search_proximity", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.query.TextSearch.proximitySearch(
          graft.query.TextSearch.positionalPostings(docs, "doc_id", "text"),
          "doc_id", "batch", "data", k = 3)
        .orderBy("doc_id")
    },
      // 1-based oracle positions cancel in the |pa − pb| distance
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  len(string_split(text, ' ')) AS nt FROM documents),
        |guard AS (SELECT CASE WHEN max(nt) > 4096 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM t),
        |pa AS (SELECT doc_id, g.s AS p FROM t, generate_series(1, 4096) g(s)
        | WHERE g.s <= nt AND toks[g.s] = 'batch'),
        |pb AS (SELECT doc_id, g.s AS p FROM t, generate_series(1, 4096) g(s)
        | WHERE g.s <= nt AND toks[g.s] = 'data'),
        |o AS (SELECT pa.doc_id, CAST(count(*) AS BIGINT) AS n_pairs
        | FROM pa JOIN pb ON pa.doc_id = pb.doc_id
        |   AND abs(pa.p - pb.p) <= 3
        | GROUP BY 1)
        |SELECT doc_id, n_pairs FROM o CROSS JOIN guard
        |WHERE guard.ok = 1 ORDER BY doc_id""".stripMargin),

    // keyword-in-context snippets for the same phrase: first-occurrence
    // position + the hit with 2 tokens of context either side, clamped
    // at doc boundaries — one codegen projection, no shuffle
    Entry("search_snippets", (s, dir) =>
      graft.query.TextSearch.phraseSnippets(Tables.documents(s, dir),
          "doc_id", "text", Seq("batch", "data"), ctx = 2)
        .orderBy("doc_id"),
      // first_pos is 0-based (min 1-based start − 1); the slice window is
      // [first_pos−2, first_pos+3] 0-based, clamped at both ends
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  len(string_split(text, ' ')) AS nt FROM documents),
        |guard AS (SELECT CASE WHEN max(nt) > 4095 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM t),
        |o AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_occurrences,
        |  CAST(min(g.s) - 1 AS BIGINT) AS first_pos
        | FROM t, generate_series(1, 4096) AS g(s)
        | WHERE g.s + 1 <= nt AND toks[g.s] = 'batch'
        |   AND toks[g.s + 1] = 'data'
        | GROUP BY 1)
        |SELECT o.doc_id, o.n_occurrences, o.first_pos,
        | array_to_string(t.toks[greatest(o.first_pos - 2, 0) + 1 :
        |   least(o.first_pos + 4, t.nt)], ' ') AS snippet
        |FROM o JOIN t USING (doc_id) CROSS JOIN guard
        |WHERE guard.ok = 1 ORDER BY o.doc_id""".stripMargin),

    // hybrid retrieval: RRF fusion (SIGIR'09) of the keyword ranking
    // (search_rank's scan path, top-50) and the vector ranking
    // (knn_exact's brute-force cosine-free L2 path, top-50) — integer
    // scoring end to end, so the fused ranking has an exact SQL oracle
    Entry("search_hybrid", (s, dir) => {
      val text = graft.query.TextSearch.rankedSearch(Tables.documents(s, dir),
        "doc_id", "text", Seq("spark", "vector"), k = 50)
        .select(col("doc_id"), col("rank"))
      val vec = ExactKnn.rankedIds(Tables.embeddings(s, dir), "embedding",
        "vec_id", queryVec(s, dir, 0L), 50)
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.query.HybridSearch.rrfFuse(Seq(text, vec), "doc_id", k = 20)
    },
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |p AS (SELECT tok, doc_id, count(*) AS tf FROM toks
        | WHERE tok IN ('spark', 'vector') GROUP BY 1, 2),
        |h AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total
        | FROM p GROUP BY doc_id HAVING count(*) = 2),
        |tr AS (SELECT CAST(row_number() OVER (ORDER BY tf_total DESC, doc_id)
        |   AS BIGINT) AS rank, doc_id
        | FROM h ORDER BY tf_total DESC, doc_id LIMIT 50),
        |q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE)))
        |    AS sq
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id),
        |vr AS (SELECT CAST(row_number() OVER (ORDER BY sq, vec_id)
        |   AS BIGINT) AS rank, vec_id AS doc_id
        | FROM d ORDER BY sq, vec_id LIMIT 50),
        |u AS (SELECT doc_id, rank FROM tr
        | UNION ALL SELECT doc_id, rank FROM vr),
        |f AS (SELECT doc_id,
        |  CAST(sum(1000000 // (rank + 60)) AS BIGINT) AS rrf_scaled,
        |  CAST(count(*) AS BIGINT) AS n_lists
        | FROM u GROUP BY doc_id
        | ORDER BY rrf_scaled DESC, doc_id LIMIT 20)
        |SELECT CAST(row_number() OVER (ORDER BY rrf_scaled DESC, doc_id)
        |   AS BIGINT) AS rank,
        | doc_id, rrf_scaled, n_lists
        |FROM f ORDER BY rank""".stripMargin),

    // ColBERT-style late-interaction retrieval (query/MaxSim): every
    // query token takes its best dot product against the candidate
    // doc's token vectors, per-token maxima sum per pair. Token
    // vectors = the 8×8-dim slices of each embedding, quantized
    // round(1000·x) so every dot/max/sum is EXACT integer arithmetic
    // in both engines; candidates are an explicit bounded relation,
    // the first-stage-retriever contract at scale
    Entry("search_maxsim", (s, dir) => {
      val sliced = Tables.embeddings(s, dir).select(col("vec_id"),
        posexplode(array((0 until 8).map(i =>
          transform(slice(col("embedding"), i * 8 + 1, 8),
            x => round(x.cast("double") * 1000))): _*))
          .as(Seq("pos", "v")))
      val q = sliced.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("pos").as("qpos"),
          col("v").as("qvec"))
      val d = sliced.where(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("doc_id"), col("pos").as("dpos"),
          col("v").as("dvec"))
      val cand = q.select("qid").distinct()
        .crossJoin(d.select("doc_id").distinct())
      graft.query.MaxSim.topK(q, d, cand, k = 5)
        .select(col("qid"), col("doc_id"),
          col("score").cast("long").as("score"), col("rank"))
        .orderBy("qid", "rank")
    },
      """WITH s AS (SELECT vec_id, g AS pos,
        |  list_transform(embedding[(g*8+1):(g*8+8)],
        |    x -> round(CAST(x AS DOUBLE) * 1000)) AS v
        | FROM embeddings, generate_series(0, 7) AS t(g)),
        |q AS (SELECT vec_id AS qid, pos AS qpos, v AS qv FROM s
        | WHERE vec_id % 100 = 0),
        |d AS (SELECT vec_id AS doc_id, v AS dv FROM s
        | WHERE vec_id % 10 = 0),
        |p AS (SELECT qid, doc_id, qpos,
        |  max(list_dot_product(qv, dv)) AS best
        | FROM q CROSS JOIN d GROUP BY qid, doc_id, qpos),
        |sc AS (SELECT qid, doc_id, CAST(sum(best) AS BIGINT) AS score
        | FROM p GROUP BY qid, doc_id),
        |r AS (SELECT qid, doc_id, score, CAST(row_number() OVER
        |  (PARTITION BY qid ORDER BY score DESC, doc_id) AS BIGINT)
        |  AS rank FROM sc)
        |SELECT qid, doc_id, score, rank FROM r WHERE rank <= 5
        |ORDER BY qid, rank""".stripMargin),

    // record-linkage fuzzy join: every customer-name pair within edit
    // distance 1 (digit typos) — sound positional rare-gram signature
    // candidates + exact levenshtein verify (Dedup.editDistancePairs);
    // the oracle brute-forces all pairs. The %3 slice bounds the
    // fixture's pair DENSITY, not the operator: sequentially numbered
    // synthetic names give every row dozens of true edit-1 partners,
    // a density real name data doesn't have
    Entry("link_fuzzy_names", (s, dir) =>
      graft.pipeline.Dedup.editDistancePairs(
        Tables.customer(s, dir).select("c_custkey", "c_name")
          .where(pmod(col("c_custkey"), lit(3)) === 0),
        "c_custkey", "c_name", maxDist = 1, q = 3)
        .orderBy("a_id", "b_id"),
      """WITH c AS (SELECT c_custkey, c_name FROM customer
        | WHERE c_custkey % 3 = 0)
        |SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        | CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM c a, c b
        |WHERE a.c_custkey < b.c_custkey
        | AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY a_id, b_id""".stripMargin),

    // Jaro–Winkler scoring over an explicit candidate relation (the
    // linkage SCORER next to the Levenshtein verifier; DuckDB's
    // jaro_winkler_similarity is the oracle, semantics pinned incl.
    // the 0.7 boost threshold and integer transposition halving) —
    // bounded pair set, scores rounded to 4 decimals on both sides
    Entry("link_jaro_winkler", (s, dir) => {
      val c = Tables.customer(s, dir).where(col("c_custkey") <= 30)
      val a = c.select(col("c_custkey").as("a_id"),
        col("c_name").as("a_name"))
      val b = c.select(col("c_custkey").as("b_id"),
        col("c_name").as("b_name"))
      a.crossJoin(b).where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          round(graft.functions.FastFunctions.jaroWinkler(
            col("a_name"), col("b_name")), 4).as("jw_r4"))
        .orderBy("a_id", "b_id")
    },
      """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        | round(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS jw_r4
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |WHERE a.c_custkey <= 30 AND b.c_custkey <= 30
        |ORDER BY a_id, b_id""".stripMargin),

    // TRUE Damerau–Levenshtein scoring over the same candidate
    // relation (Kernels.damerauLevenshtein, Lowrance–Wagner — a
    // transposition later edits may cross, unlike the restricted/OSA
    // variant; DuckDB's damerau_levenshtein is the oracle)
    Entry("link_damerau", (s, dir) => {
      val c = Tables.customer(s, dir).where(col("c_custkey") <= 30)
      val a = c.select(col("c_custkey").as("a_id"),
        col("c_name").as("a_name"))
      val b = c.select(col("c_custkey").as("b_id"),
        col("c_name").as("b_name"))
      a.crossJoin(b).where(col("a_id") < col("b_id"))
        .select(col("a_id"), col("b_id"),
          graft.functions.FastFunctions.damerauLevenshtein(
            col("a_name"), col("b_name")).as("dl_dist"))
        .orderBy("a_id", "b_id")
    },
      """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        | CAST(damerau_levenshtein(a.c_name, b.c_name) AS BIGINT)
        |   AS dl_dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |WHERE a.c_custkey <= 30 AND b.c_custkey <= 30
        |ORDER BY a_id, b_id""".stripMargin),

    // golden-record survivorship (Dedup.goldenRecords): synthetic
    // 3-customer entity clusters collapse to one row with PER-FIELD
    // latest-non-null-wins (a newer record missing a field must not
    // erase the older value) — planted nulls on %5/%7 keys; one
    // entity-keyed exchange, per-field in-partition sorts
    Entry("link_golden_record", (s, dir) => {
      val c = Tables.customer(s, dir).select(
        expr("c_custkey div 3").as("entity"),
        col("c_custkey").as("rec_ts"),
        when(pmod(col("c_custkey"), lit(5)) === 0, lit(null))
          .otherwise(floor(col("c_acctbal")).cast("long")).as("bal"),
        when(pmod(col("c_custkey"), lit(7)) === 0,
          lit(null).cast("string"))
          .otherwise(col("c_mktsegment")).as("segment"))
      graft.pipeline.Dedup.goldenRecords(c, "entity",
          Seq("rec_ts"), Seq("bal", "segment"))
        .orderBy("entity")
    },
      """WITH b AS (SELECT c_custkey // 3 AS entity,
        |  c_custkey AS rec_ts,
        |  CASE WHEN c_custkey % 5 = 0 THEN NULL
        |   ELSE CAST(floor(c_acctbal) AS BIGINT) END AS bal,
        |  CASE WHEN c_custkey % 7 = 0 THEN NULL
        |   ELSE c_mktsegment END AS segment
        | FROM customer),
        |f1 AS (SELECT entity, bal FROM (SELECT entity, bal,
        |  row_number() OVER (PARTITION BY entity
        |   ORDER BY (bal IS NULL) ASC, rec_ts DESC) AS rn FROM b)
        | WHERE rn = 1),
        |f2 AS (SELECT entity, segment FROM (SELECT entity, segment,
        |  row_number() OVER (PARTITION BY entity
        |   ORDER BY (segment IS NULL) ASC, rec_ts DESC) AS rn FROM b)
        | WHERE rn = 1)
        |SELECT f1.entity, bal, segment
        |FROM f1 JOIN f2 USING (entity) ORDER BY entity""".stripMargin),

    // sorted-neighborhood linkage (Dedup.sortedNeighborPairs): block
    // on the name's first 6 digits, rank by the name inside each
    // block, compare only rows within 2 sort positions, verify exact
    // levenshtein <= 1 — the candidate generator for data that SORTS
    // near its duplicates (serials, padded codes) where gram rarity
    // is uninformative; the %3 slice bounds fixture pair density as
    // in link_fuzzy_names
    Entry("link_sorted_block", (s, dir) =>
      graft.pipeline.Dedup.sortedNeighborPairs(
        Tables.customer(s, dir)
          .where(pmod(col("c_custkey"), lit(3)) === 0)
          .withColumn("blk", substring(col("c_name"), 10, 6)),
        "c_custkey", "c_name", "blk", window = 2, maxDist = 1)
        .orderBy("a_id", "b_id"),
      """WITH base AS (SELECT c_custkey AS id, c_name AS s,
        |  substr(c_name, 10, 6) AS bk
        | FROM customer WHERE c_custkey % 3 = 0),
        |r AS (SELECT id, s, bk,
        |  row_number() OVER (PARTITION BY bk ORDER BY s, id) AS r
        | FROM base)
        |SELECT least(a.id, b.id) AS a_id, greatest(a.id, b.id) AS b_id,
        | CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM r a JOIN r b
        | ON a.bk = b.bk AND b.r > a.r AND b.r <= a.r + 2
        |WHERE levenshtein(a.s, b.s) <= 1
        |ORDER BY a_id, b_id""".stripMargin),

    // incremental record linkage: a new batch of names links against
    // the master slice, never master x master — new-side signatures
    // ranked by MASTER gram frequencies probe the persistable master
    // gram relation (Dedup.editDistancePairsBipartite)
    Entry("link_fuzzy_incr", (s, dir) =>
      graft.pipeline.Dedup.editDistancePairsBipartite(
        Tables.customer(s, dir).select("c_custkey", "c_name")
          .where(pmod(col("c_custkey"), lit(21)) === 1),
        Tables.customer(s, dir).select("c_custkey", "c_name")
          .where(pmod(col("c_custkey"), lit(3)) === 0),
        "c_custkey", "c_name", maxDist = 1, q = 3)
        .orderBy("new_id", "master_id"),
      """WITH n AS (SELECT c_custkey, c_name FROM customer
        | WHERE c_custkey % 21 = 1),
        |m AS (SELECT c_custkey, c_name FROM customer
        | WHERE c_custkey % 3 = 0)
        |SELECT n.c_custkey AS new_id, m.c_custkey AS master_id,
        | CAST(levenshtein(n.c_name, m.c_name) AS BIGINT) AS dist
        |FROM n, m
        |WHERE levenshtein(n.c_name, m.c_name) <= 1
        |ORDER BY new_id, master_id""".stripMargin),
  )
}
