package graft
package entries

import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, TextAnalysis}
import Fixtures._

/** dedup_*, decontaminate_* and bloom_* entries: exact, fuzzy and
  * span deduplication and benchmark decontamination. */
private[graft] object DedupEntries {

  def entries: Seq[Entry] = Seq(
    Entry("dedup_exact", (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir))
        .select("content_hash", "keep_id", "n_docs")
        .orderBy("content_hash"),
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_docs
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin),

    // normalization-aware exact dedup: canonicalize (lowercase, strip
    // punctuation, collapse spaces) BEFORE hashing — catches trivially
    // reformatted duplicates plain exact dedup misses
    Entry("dedup_normalized", (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir)
          .withColumn("text", TextAnalysis.normalizedText(col("text"))))
        .select("content_hash", "keep_id", "n_docs")
        .orderBy("content_hash"),
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS text
        | FROM documents)
        |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_docs
        |FROM n GROUP BY md5(text) ORDER BY content_hash""".stripMargin),

    // normalization-aware dedup with the UNICODE-robust key: accents
    // stripped (composed AND decomposed forms of the same injected
    // diacritic suffix fold together) before the lowercase/alnum
    // canonicalization — the multilingual twin of dedup_normalized
    Entry("dedup_normalized_unicode", (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir)
          .withColumn("text", TextAnalysis.normalizedTextUnicode(
            concat(col("text"),
              when(pmod(col("doc_id"), lit(2)) === 0,
                lit(" Cre\u0300me Bru\u0302le\u0301e!"))
                .otherwise(lit(" Cr\u00e8me Br\u00fbl\u00e9e"))))))
        .select("content_hash", "keep_id", "n_docs")
        .orderBy("content_hash"),
      """WITH d AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 2 = 0
        |    THEN ' Cre' || chr(768) || 'me Bru' || chr(770) || 'le'
        |      || chr(769) || 'e!'
        |    ELSE ' Cr' || chr(232) || 'me Br' || chr(251) || 'l'
        |      || chr(233) || 'e' END AS text
        | FROM documents),
        |n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(strip_accents(text)),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS text
        | FROM d)
        |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_docs
        |FROM n GROUP BY md5(text) ORDER BY content_hash""".stripMargin),

    Entry("dedup_jaccard", (s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir), thresholdPct = 85)
        .orderBy("a_id", "b_id"),
      jaccardOracle(85)),

    Entry("dedup_jaccard_ngram", (s, dir) =>
      Dedup.jaccardPairsShingled(Tables.documents(s, dir), thresholdPct = 60, n = 3)
        .orderBy("a_id", "b_id"),
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  len(string_split(text, ' ')) AS nt FROM documents),
        |sh AS (SELECT DISTINCT doc_id,
        |  array_to_string(toks[g.i : g.i + 2], ' ') AS s
        | FROM t, generate_series(1, 1024) AS g(i) WHERE g.i + 2 <= nt),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |ip AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        | FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT a_id, b_id, inter, (sa.n + sb.n - inter) AS union_sz
        |FROM ip JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
        |WHERE inter * 100 >= (sa.n + sb.n - inter) * 60
        |ORDER BY a_id, b_id""".stripMargin),

    Entry("dedup_minhash_lsh", (s, dir) =>
      Dedup.minHashLshPairs(Tables.documents(s, dir), thresholdPct = 90)
        .orderBy("a_id", "b_id"),
      jaccardOracle(90)),

    Entry("dedup_simhash", (s, dir) =>
      Dedup.simHashDupPairsVerified(Tables.documents(s, dir))
        .orderBy("a_id", "b_id"),
      """WITH k AS (SELECT doc_id,
        |  list_sort(list_distinct(string_split(text, ' '))) AS key
        | FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |FROM k a JOIN k b ON a.key = b.key AND a.doc_id < b.doc_id
        |ORDER BY a_id, b_id""".stripMargin),

    // the persistable LSH candidate-strategy decision (Dedup
    // .lshStrategyFor + save/load round-trip through the SHA-256
    // sidecar), gated on invariants: the probe's n equals the corpus
    // count (one histogram row per doc), and the loaded record equals
    // the computed one field for field. The probe is the only corpus
    // pass; the decision itself is regime-dependent (the sf fixture is
    // template-dense) and intentionally NOT pinned here — the spec pins
    // both regimes on synthetic corpora
    Entry("dedup_lsh_strategy", (s, dir) => {
      import s.implicits._
      val strat = Dedup.lshStrategyFor(Tables.documents(s, dir))
      val path = newStoreDir("graft_lsh_strategy") + "/strategy.json"
      Dedup.saveLshStrategy(s, strat, path)
      val loaded = Dedup.loadLshStrategy(s, path)
      Seq((strat.nDocs, if (loaded == strat) 1L else 0L,
          if (strat.numHashes == 128 && strat.bands == 32 &&
            strat.oph) 1L else 0L))
        .toDF("n_docs", "roundtrip_ok", "params_ok")
    },
      """SELECT count(*) AS n_docs, CAST(1 AS BIGINT) AS roundtrip_ok,
        | CAST(1 AS BIGINT) AS params_ok FROM documents""".stripMargin),

    Entry("dedup_drop_list", (s, dir) =>
      Dedup.dropList(Tables.documents(s, dir), thresholdPct = 90)
        .orderBy("drop_id"),
      s"""WITH pairs AS (${jaccardOracle(90)}),
         |ed AS (SELECT a_id AS s, b_id AS d FROM pairs
         |  UNION ALL SELECT b_id, a_id FROM pairs),
         |r AS (
         |  WITH RECURSIVE reach(id, root) AS (
         |    SELECT doc_id, doc_id FROM documents
         |    UNION
         |    SELECT ed.d, reach.root FROM reach JOIN ed ON ed.s = reach.id)
         |  SELECT id, min(root) AS comp FROM reach GROUP BY id)
         |SELECT id AS drop_id, comp AS keep_id FROM r
         |WHERE id != comp ORDER BY drop_id""".stripMargin),

    // duplication DEGREE (the soft alternative to dropping): each doc's
    // near-dup partner count, 0 included — feeds duplication-aware
    // sampling weights (keep probability ∝ 1/(1+degree))
    Entry("dedup_degree", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.duplicationDegree(docs.select("doc_id"), lshPairs90(s, dir))
        .orderBy("doc_id")
    },
      s"""WITH pairs AS (${jaccardOracle(90)}),
         |e AS (SELECT a_id AS doc_id FROM pairs
         | UNION ALL SELECT b_id FROM pairs),
         |d AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id)
         |SELECT doc.doc_id, CAST(coalesce(d.n, 0) AS BIGINT) AS n_dups
         |FROM documents doc LEFT JOIN d USING (doc_id)
         |ORDER BY doc.doc_id""".stripMargin),

    // SimHash near-dup at Hamming ≤ 3 via 16-bit band pigeonhole.
    // Hamming is over our own hash, so the oracle checks invariants:
    // every pair within bound and ordered, and every verified equal-set
    // duplicate (the oracle-gated dedup_simhash relation) is found —
    // equal sets ⇒ equal SimHash ⇒ Hamming 0
    Entry("dedup_simhash_near", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val pairs = Dedup.simHashNearDupPairs(docs, maxHamming = 3)
      val dups = Dedup.simHashDupPairsVerified(docs)
      val missed = dups.join(pairs.select("a_id", "b_id"),
          Seq("a_id", "b_id"), "left_anti")
        .agg(count(lit(1)).cast("long").as("n_dup_missed"))
      pairs.agg(
        coalesce(sum(when(col("hamming") > 3, 1L).otherwise(0L)), lit(0L))
          .as("n_hamming_viol"),
        coalesce(sum(when(col("a_id") >= col("b_id"), 1L).otherwise(0L)),
          lit(0L)).as("n_order_viol"))
        .crossJoin(missed)
    },
      """SELECT CAST(0 AS BIGINT) AS n_hamming_viol,
        | CAST(0 AS BIGINT) AS n_order_viol,
        | CAST(0 AS BIGINT) AS n_dup_missed""".stripMargin),

    // benchmark decontamination: train docs (id % 23 ≠ 0) sharing any
    // word 3-gram with the benchmark subset (id % 23 = 0); n_hits =
    // distinct shared 3-grams per contaminated doc
    Entry("decontaminate", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.TrainingData.decontaminate(
        docs.where(col("doc_id") % 23 =!= 0),
        docs.where(col("doc_id") % 23 === 0),
        "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ts)) > 4094 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM tok),
        |be AS (SELECT DISTINCT md5(array_to_string(ts[g.i : g.i + 2], ' '))
        |   AS g
        | FROM tok, generate_series(1, 4096) AS g(i)
        | WHERE doc_id % 23 = 0 AND g.i + 2 <= len(ts)),
        |tg AS (SELECT DISTINCT doc_id,
        |  md5(array_to_string(ts[g.i : g.i + 2], ' ')) AS g
        | FROM tok, generate_series(1, 4096) AS g(i)
        | WHERE doc_id % 23 <> 0 AND g.i + 2 <= len(ts))
        |SELECT doc_id, count(*) AS n_hits FROM tg JOIN be USING (g)
        |CROSS JOIN guard WHERE guard.ok = 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // BLOOM-prefiltered decontamination: the broadcast-bytes scale
    // lever — a ~16-bit-per-gram bit array probes in the scan
    // projection (no false negatives), flagged grams exact-verify
    // against the true set, so the output is IDENTICAL to
    // `decontaminate` and shares its full SQL oracle verbatim
    Entry("decontaminate_bloom", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.TrainingData.decontaminateBloom(
        docs.where(col("doc_id") % 23 =!= 0),
        docs.where(col("doc_id") % 23 === 0),
        "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ts)) > 4094 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM tok),
        |be AS (SELECT DISTINCT md5(array_to_string(ts[g.i : g.i + 2], ' '))
        |   AS g
        | FROM tok, generate_series(1, 4096) AS g(i)
        | WHERE doc_id % 23 = 0 AND g.i + 2 <= len(ts)),
        |tg AS (SELECT DISTINCT doc_id,
        |  md5(array_to_string(ts[g.i : g.i + 2], ' ')) AS g
        | FROM tok, generate_series(1, 4096) AS g(i)
        | WHERE doc_id % 23 <> 0 AND g.i + 2 <= len(ts))
        |SELECT doc_id, count(*) AS n_hits FROM tg JOIN be USING (g)
        |CROSS JOIN guard WHERE guard.ok = 1
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // span-level decontamination REPORT: benchmark-covered token
    // positions merged into maximal contiguous spans (gaps-and-islands)
    // — WHERE the leak sits, not just that it does; the oracle rebuilds
    // windows, matches, covered positions and islands from the same
    // md5 keys
    Entry("decontaminate_spans", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.TrainingData.decontaminateSpans(
        docs.where(col("doc_id") % 23 =!= 0),
        docs.where(col("doc_id") % 23 === 0),
        "doc_id", "text", n = 3)
        .orderBy("doc_id", "span_start")
    },
      // covered = every token index under a bench-matching window
      // (0-based like Spark's posexplode); islands merge them to spans
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ts)) > 4094 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM tok),
        |be AS (SELECT DISTINCT md5(array_to_string(ts[g.i : g.i + 2], ' '))
        |   AS g
        | FROM tok, generate_series(1, 4096) AS g(i)
        | WHERE doc_id % 23 = 0 AND g.i + 2 <= len(ts)),
        |hit AS (SELECT doc_id, g.i AS wpos
        | FROM tok, generate_series(1, 4096) AS g(i)
        | WHERE doc_id % 23 <> 0 AND g.i + 2 <= len(ts)
        |   AND md5(array_to_string(ts[g.i : g.i + 2], ' ')) IN
        |     (SELECT g FROM be)),
        |cov AS (SELECT DISTINCT doc_id, hit.wpos + o.k - 1 AS idx0
        | FROM hit, generate_series(0, 2) AS o(k)),
        |isl AS (SELECT doc_id, idx0,
        |  idx0 - row_number() OVER (PARTITION BY doc_id ORDER BY idx0)
        |    AS grp
        | FROM cov)
        |SELECT doc_id, CAST(min(idx0) AS BIGINT) AS span_start,
        | CAST(max(idx0) AS BIGINT) AS span_end,
        | CAST(count(*) AS BIGINT) AS span_tokens
        |FROM isl CROSS JOIN guard WHERE guard.ok = 1
        |GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin),

    // span-level decontamination REMOVAL: covered tokens cut, document
    // reassembled from survivors (untouched docs verbatim) — the oracle
    // strips with an anti-join over the same covered set and re-joins
    // tokens position-ordered
    Entry("decontaminate_remove", (s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.TrainingData.removeContaminatedSpans(
        docs.where(col("doc_id") % 23 =!= 0),
        docs.where(col("doc_id") % 23 === 0),
        "doc_id", "text", n = 3)
        .orderBy("doc_id")
    },
      """WITH tok AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |guard AS (SELECT CASE WHEN max(len(ts)) > 4094 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM tok),
        |be AS (SELECT DISTINCT md5(array_to_string(ts[g.i : g.i + 2], ' '))
        |   AS g
        | FROM tok, generate_series(1, 4096) AS g(i)
        | WHERE doc_id % 23 = 0 AND g.i + 2 <= len(ts)),
        |hit AS (SELECT doc_id, g.i AS wpos
        | FROM tok, generate_series(1, 4096) AS g(i)
        | WHERE doc_id % 23 <> 0 AND g.i + 2 <= len(ts)
        |   AND md5(array_to_string(ts[g.i : g.i + 2], ' ')) IN
        |     (SELECT g FROM be)),
        |cov AS (SELECT DISTINCT doc_id, hit.wpos + o.k AS p
        | FROM hit, generate_series(0, 2) AS o(k)),
        |tp AS (SELECT doc_id, g.i AS p, ts[g.i] AS tk
        | FROM tok, generate_series(1, 4096) AS g(i)
        | WHERE doc_id % 23 <> 0 AND g.i <= len(ts)),
        |kept AS (SELECT tp.doc_id, tp.p, tp.tk FROM tp
        | LEFT JOIN cov ON cov.doc_id = tp.doc_id AND cov.p = tp.p
        | WHERE cov.p IS NULL),
        |nrem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_removed
        | FROM cov GROUP BY doc_id)
        |SELECT d.doc_id,
        | coalesce((SELECT string_agg(kept.tk, ' ' ORDER BY kept.p)
        |   FROM kept WHERE kept.doc_id = d.doc_id), '') AS clean_text,
        | coalesce(nrem.n_tokens_removed, 0) AS n_tokens_removed
        |FROM documents d CROSS JOIN guard
        |LEFT JOIN nrem ON nrem.doc_id = d.doc_id
        |WHERE guard.ok = 1 AND d.doc_id % 23 <> 0
        |ORDER BY d.doc_id""".stripMargin),

    // Bloom-filter semi-join reduction (invariant-gated): filter built
    // over the selective order keys in one pass, probe side pre-filtered
    // by a codegen membership test. Invariants: NO true match is dropped
    // (Bloom guarantees no false negatives — audited row by row), the
    // false-positive overhead stays under 2% of the probe, and the exact
    // match count equals the oracle's semi-join count.
    Entry("bloom_semi_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val big = Tables.orders(s, dir).where(col("o_totalprice") > 400000)
        .select("o_orderkey")
      val n = big.count()
      val bits = graft.operators.BloomJoin.buildBits(big, "o_orderkey",
        graft.operators.BloomJoin.sizeFor(n))
      val pass = graft.operators.BloomJoin.mightContain(col("l_orderkey"), bits)
      val exact = li
        .join(big, col("l_orderkey") === col("o_orderkey"), "left_semi")
      val missed = exact.where(!pass)
        .agg(count(lit(1)).cast("long").as("n_missed"))
      val counts = li.agg(count(lit(1)).as("n_probe"),
        coalesce(sum(when(pass, 1L).otherwise(0L)), lit(0L)).as("n_pass"))
      val trueCnt = exact.agg(count(lit(1)).cast("long").as("n_true"))
      missed.crossJoin(counts).crossJoin(trueCnt)
        .select(col("n_missed"),
          when((col("n_pass") - col("n_true")) * 50 <= col("n_probe"), 1L)
            .otherwise(0L).as("fp_ok"),
          col("n_true"))
    },
      """SELECT CAST(0 AS BIGINT) AS n_missed, CAST(1 AS BIGINT) AS fp_ok,
        | (SELECT count(*) FROM lineitem WHERE EXISTS (SELECT 1 FROM orders
        |   WHERE o_orderkey = l_orderkey AND o_totalprice > 400000))
        |   AS n_true""".stripMargin),

    // incremental-ingest dedup: the doc_id%5==0 batch deduplicated
    // against the rest of the corpus via the BIPARTITE LSH band join —
    // the corpus never pairs with itself. Oracle = exact bipartite
    // Jaccard at 0.9 (band-geometry miss probability < 2e-15/pair,
    // same contract as dedup_minhash_lsh)
    Entry("dedup_incremental", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.minHashLshPairsBipartite(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0), thresholdPct = 90)
        .orderBy("new_id", "corpus_id")
    },
      """WITH tn AS (SELECT DISTINCT doc_id,
        |  unnest(string_split(text, ' ')) AS tok FROM documents
        | WHERE doc_id % 5 = 0),
        |tc AS (SELECT DISTINCT doc_id,
        |  unnest(string_split(text, ' ')) AS tok FROM documents
        | WHERE doc_id % 5 <> 0),
        |szn AS (SELECT doc_id, count(*) AS n FROM tn GROUP BY doc_id),
        |szc AS (SELECT doc_id, count(*) AS n FROM tc GROUP BY doc_id),
        |ip AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
        |  count(*) AS inter
        | FROM tn a JOIN tc b ON a.tok = b.tok GROUP BY 1, 2)
        |SELECT new_id, corpus_id, inter,
        | (sa.n + sb.n - inter) AS union_sz
        |FROM ip JOIN szn sa ON sa.doc_id = new_id
        | JOIN szc sb ON sb.doc_id = corpus_id
        |WHERE inter * 100 >= (sa.n + sb.n - inter) * 90
        |ORDER BY new_id, corpus_id""".stripMargin),

    // the ingest DECISION on top of dedup_incremental: which new docs
    // to drop given the protected corpus — components over bipartite ∪
    // new-new pairs, keeper = min corpus member else component minimum
    Entry("dedup_incremental_drop", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalDropList(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0), thresholdPct = 90)
        .orderBy("drop_id")
    },
      s"""WITH ndocs AS (SELECT * FROM documents WHERE doc_id % 5 = 0),
         |nn AS (${jaccardOracle(90, "ndocs")}),
         |tn AS (SELECT DISTINCT doc_id,
         |  unnest(string_split(text, ' ')) AS tok FROM documents
         | WHERE doc_id % 5 = 0),
         |tc AS (SELECT DISTINCT doc_id,
         |  unnest(string_split(text, ' ')) AS tok FROM documents
         | WHERE doc_id % 5 <> 0),
         |szn AS (SELECT doc_id, count(*) AS n FROM tn GROUP BY doc_id),
         |szc AS (SELECT doc_id, count(*) AS n FROM tc GROUP BY doc_id),
         |bp AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
         |  count(*) AS inter
         | FROM tn a JOIN tc b ON a.tok = b.tok GROUP BY 1, 2),
         |bpv AS (SELECT new_id, corpus_id FROM bp
         | JOIN szn sa ON sa.doc_id = new_id
         | JOIN szc sb ON sb.doc_id = corpus_id
         | WHERE inter * 100 >= (sa.n + sb.n - inter) * 90),
         |ed AS (SELECT a_id AS s, b_id AS d FROM nn
         | UNION ALL SELECT b_id, a_id FROM nn
         | UNION ALL SELECT new_id, corpus_id FROM bpv
         | UNION ALL SELECT corpus_id, new_id FROM bpv),
         |r AS (
         |  WITH RECURSIVE reach(id, root) AS (
         |    SELECT doc_id, doc_id FROM documents
         |    UNION
         |    SELECT ed.d, reach.root FROM reach JOIN ed ON ed.s = reach.id)
         |  SELECT id, min(root) AS comp FROM reach GROUP BY id),
         |mc AS (SELECT comp, min(id) AS min_corpus FROM r
         | WHERE id % 5 <> 0 GROUP BY comp)
         |SELECT r.id AS drop_id,
         | coalesce(mc.min_corpus, r.comp) AS keep_id
         |FROM r LEFT JOIN mc ON mc.comp = r.comp
         |WHERE r.id % 5 = 0 AND r.id != coalesce(mc.min_corpus, r.comp)
         |ORDER BY drop_id""".stripMargin),

    // span-level exact-substring dedup (Lee et al. 2022 n-gram-window
    // formulation): per-doc duplicated 8-token windows, merged into
    // maximal spans — all-integer output, exact DuckDB oracle grouping
    // the same window STRINGS (hash ≡ string mod 64-bit collisions)
    Entry("dedup_spans", (s, dir) =>
      Dedup.duplicateSpans(Tables.documents(s, dir), n = 8)
        .orderBy("doc_id"),
      // window STRINGS group exactly as the Spark side's window hashes
      // (same space-joined construction; 64-bit collisions are the only
      // divergence and are ~V²/2⁶⁴-improbable). The `guard` CTE makes the
      // fixed series bound FAIL LOUDLY if the corpus ever outgrows it —
      // without it a >4.1k-token document would silently drop windows on
      // the oracle side only and the gate failure would blame the engine
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  len(string_split(text, ' ')) AS nt FROM documents),
        |guard AS (SELECT CASE WHEN max(nt) > 4089 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM t),
        |w AS (SELECT doc_id, g.i AS pos,
        |  array_to_string(toks[g.i : g.i + 7], ' ') AS s
        | FROM t, generate_series(1, 4096) AS g(i) WHERE g.i + 7 <= nt),
        |dh AS (SELECT s FROM w GROUP BY s HAVING min(doc_id) < max(doc_id)),
        |dw AS (SELECT w.doc_id, w.pos FROM w JOIN dh USING (s)),
        |isl AS (SELECT doc_id, pos,
        |  pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        | FROM dw),
        |sp AS (SELECT doc_id, grp, count(*) AS len FROM isl
        | GROUP BY doc_id, grp),
        |agg AS (SELECT doc_id, CAST(sum(len) AS BIGINT) AS n_dup_windows,
        |  CAST(count(*) AS BIGINT) AS n_spans,
        |  CAST(max(len) + 7 AS BIGINT) AS max_span_tokens
        | FROM sp GROUP BY doc_id)
        |SELECT t.doc_id,
        | CAST(greatest(t.nt - 7, 0) AS BIGINT) AS n_windows,
        | coalesce(a.n_dup_windows, 0) AS n_dup_windows,
        | coalesce(a.n_spans, 0) AS n_spans,
        | coalesce(a.max_span_tokens, 0) AS max_span_tokens
        |FROM t LEFT JOIN agg a USING (doc_id) CROSS JOIN guard
        |WHERE guard.ok = 1
        |ORDER BY t.doc_id""".stripMargin),

    // winnowed-fingerprint verbatim-overlap pairs (MOSS winnowing,
    // SIGMOD'03): only the ~2/(w+1) winnowing-selected gram hashes are
    // exploded and self-joined — the sampled scale path dedup_spans'
    // every-window relation grows out of — with the guarantee that any
    // pair sharing an (n+w−1)-token substring yields a candidate; the
    // output is the VERIFIED, hash-order-independent measure (distinct
    // shared 8-token windows), so the oracle joins window STRINGS
    Entry("dedup_winnow", (s, dir) =>
      Dedup.winnowedPairs(Tables.documents(s, dir), n = 4, w = 5)
        .orderBy("a_id", "b_id"),
      // same window-STRING construction and 4096-series guard as the
      // dedup_spans oracle; count(*) over the per-doc DISTINCT window
      // relation ≡ the Spark side's sorted-distinct L-gram-hash
      // intersection size (mod 64-bit collisions)
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  len(string_split(text, ' ')) AS nt FROM documents),
        |guard AS (SELECT CASE WHEN max(nt) > 4089 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM t),
        |d AS (SELECT DISTINCT doc_id,
        |  array_to_string(toks[g.i : g.i + 7], ' ') AS s
        | FROM t, generate_series(1, 4096) AS g(i) WHERE g.i + 7 <= nt),
        |p AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |  CAST(count(*) AS BIGINT) AS n_shared_windows
        | FROM d a JOIN d b USING (s) WHERE a.doc_id < b.doc_id
        | GROUP BY 1, 2)
        |SELECT a_id, b_id, n_shared_windows FROM p CROSS JOIN guard
        |WHERE guard.ok = 1 ORDER BY a_id, b_id""".stripMargin),

    // ingest-time winnowing: verbatim-overlap pairs between a NEW batch
    // (doc_id % 5 = 0, the dedup_incremental split) and the standing
    // corpus — new×corpus only, the corpus fingerprint relation is a
    // reusable projection; same verified shared-window measure
    Entry("dedup_winnow_incr", (s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.winnowedPairsBipartite(
          docs.where(col("doc_id") % 5 === 0),
          docs.where(col("doc_id") % 5 =!= 0), n = 4, w = 5)
        .orderBy("new_id", "corpus_id")
    },
      // the dedup_winnow oracle restricted to new(doc_id%5=0) x corpus —
      // the winnowing guarantee makes the fingerprint candidate pass
      // complete for the >=1-shared-L-window measure, so the string-join
      // relation IS the expected output
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  len(string_split(text, ' ')) AS nt FROM documents),
        |guard AS (SELECT CASE WHEN max(nt) > 4089 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM t),
        |d AS (SELECT DISTINCT doc_id,
        |  array_to_string(toks[g.i : g.i + 7], ' ') AS s
        | FROM t, generate_series(1, 4096) AS g(i) WHERE g.i + 7 <= nt),
        |p AS (SELECT a.doc_id AS new_id, b.doc_id AS corpus_id,
        |  CAST(count(*) AS BIGINT) AS n_shared_windows
        | FROM d a JOIN d b USING (s)
        | WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
        | GROUP BY 1, 2)
        |SELECT new_id, corpus_id, n_shared_windows FROM p CROSS JOIN guard
        |WHERE guard.ok = 1 ORDER BY new_id, corpus_id""".stripMargin),

    // span REMOVAL on top of dedup_spans' measure (Lee et al. 2022
    // ExactSubstr semantics, symmetric): every token covered by a
    // cross-doc duplicated 8-token window is cut from every copy; the
    // oracle reassembles the surviving tokens from the same window
    // STRINGS, so the gate proves the cut positions AND the rebuild
    Entry("dedup_span_remove", (s, dir) =>
      Dedup.removeDuplicateSpans(Tables.documents(s, dir), n = 8)
        .orderBy("doc_id"),
      // same dup-window detection as the dedup_spans oracle, then the
      // REBUILD: covered = union of [pos, pos+7] over duplicated windows,
      // surviving tokens re-joined in position order (split/join on a
      // single space is an identity, so untouched docs compare verbatim);
      // an all-covered doc rebuilds to the empty string on both sides
      """WITH t AS (SELECT doc_id, text, string_split(text, ' ') AS toks,
        |  len(string_split(text, ' ')) AS nt FROM documents),
        |guard AS (SELECT CASE WHEN max(nt) > 4089 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM t),
        |w AS (SELECT doc_id, g.i AS pos,
        |  array_to_string(toks[g.i : g.i + 7], ' ') AS s
        | FROM t, generate_series(1, 4096) AS g(i) WHERE g.i + 7 <= nt),
        |dh AS (SELECT s FROM w GROUP BY s HAVING min(doc_id) < max(doc_id)),
        |dw AS (SELECT w.doc_id, w.pos FROM w JOIN dh USING (s)),
        |cov AS (SELECT DISTINCT doc_id, pos + g.j AS idx
        | FROM dw, generate_series(0, 7) AS g(j)),
        |tok AS (SELECT doc_id, g.i AS idx, toks[g.i] AS tk
        | FROM t, generate_series(1, 4096) AS g(i) WHERE g.i <= nt),
        |kept AS (SELECT tok.doc_id,
        |  string_agg(tk, ' ' ORDER BY tok.idx) AS rebuilt
        | FROM tok LEFT JOIN cov
        |   ON tok.doc_id = cov.doc_id AND tok.idx = cov.idx
        | WHERE cov.idx IS NULL GROUP BY tok.doc_id),
        |nrem AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens_removed
        | FROM cov GROUP BY doc_id)
        |SELECT t.doc_id,
        | CASE WHEN nrem.doc_id IS NULL THEN t.text
        |      ELSE coalesce(kept.rebuilt, '') END AS clean_text,
        | coalesce(nrem.n_tokens_removed, 0) AS n_tokens_removed
        |FROM t LEFT JOIN kept ON t.doc_id = kept.doc_id
        | LEFT JOIN nrem ON t.doc_id = nrem.doc_id
        | CROSS JOIN guard WHERE guard.ok = 1
        |ORDER BY t.doc_id""".stripMargin),

    // directed containment (partial-copy) pairs over 3-gram shingle
    // sets at |A∩B| ≥ 0.8·|A| — the asymmetric measure Jaccard dilutes
    // when |B| ≫ |A|; shingles (not bags of tokens) because copied
    // passages are consecutive text
    Entry("dedup_containment", (s, dir) =>
      Dedup.containmentPairsShingled(Tables.documents(s, dir),
          thresholdPct = 80, n = 3)
        .orderBy("a_id", "b_id"),
      // guard CTE: loud failure if a document outgrows the series cap —
      // see the dedup_spans note
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  len(string_split(text, ' ')) AS nt FROM documents),
        |guard AS (SELECT CASE WHEN max(nt) > 4093 THEN
        |  CAST(error('doc exceeds the 4096-window oracle cap') AS BIGINT)
        |  ELSE 1 END AS ok FROM t),
        |sh AS (SELECT DISTINCT doc_id,
        |  array_to_string(toks[g.i : g.i + 2], ' ') AS s
        | FROM t, generate_series(1, 4096) AS g(i) WHERE g.i + 2 <= nt),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |ip AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        | FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id <> b.doc_id
        | GROUP BY 1, 2)
        |SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
        | CAST(sa.n AS BIGINT) AS a_sz
        |FROM ip JOIN sz sa ON sa.doc_id = a_id CROSS JOIN guard
        |WHERE inter * 100 >= sa.n * 80 AND guard.ok = 1
        |ORDER BY a_id, b_id""".stripMargin),

    // best-of-cluster dedup: keep the LONGEST member of each near-dup
    // component (not the min id) — what a pipeline wants when
    // duplicates differ in truncation; shares the memoized LSH pair
    // fixture with dedup_degree / sample_dedup_aware
    Entry("dedup_keep_best", (s, dir) =>
      graft.pipeline.Dedup.keepBest(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "n_chars", lshPairs90(s, dir))
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
         |SELECT doc_id, comp, n_chars,
         | CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
         |FROM (SELECT d.doc_id, r.comp, d.n_chars,
         |  row_number() OVER (PARTITION BY r.comp
         |    ORDER BY d.n_chars DESC, d.doc_id) AS rn
         | FROM documents d JOIN r ON r.id = d.doc_id) t
         |ORDER BY doc_id""".stripMargin),

    // LSH band planning: the S-curve p = 1-(1-t^r)^b over every
    // factorization of 128 hashes at the t=0.85 dedup threshold — the
    // knob-picker for minHashLshPairs' bands/rows split (the Jaccard
    // twin of ann_calibrate); metadata-sized, computed in-plan
    Entry("dedup_lsh_plan", (s, dir) =>
      graft.pipeline.Dedup.lshPlan(s, numHashes = 128, thresholdPct = 85)
        .orderBy("bands"),
      // same scale-1e9 fixed-point fold as Dedup.lshPlan: integer ops are
      // bit-identical across engines, unlike double power()
      """WITH RECURSIVE g AS (
        |  SELECT CAST(b AS BIGINT) AS bands, CAST(128 // b AS BIGINT) AS r
        |  FROM generate_series(1, 128) AS t(b) WHERE 128 % b = 0),
        |tr(bands, r, i, acc) AS (
        |  SELECT bands, r, CAST(0 AS BIGINT), CAST(1000000000 AS BIGINT)
        |  FROM g
        |  UNION ALL
        |  SELECT bands, r, i + 1, (acc * 850000000) // 1000000000
        |  FROM tr WHERE i < r),
        |ob(bands, r, miss, i, acc) AS (
        |  SELECT bands, r, 1000000000 - acc, CAST(0 AS BIGINT),
        |    CAST(1000000000 AS BIGINT)
        |  FROM tr WHERE i = r
        |  UNION ALL
        |  SELECT bands, r, miss, i + 1, (acc * miss) // 1000000000
        |  FROM ob WHERE i < bands)
        |SELECT bands, r AS rows_per_band,
        |  (10000 * (1000000000 - acc)) // 1000000000 AS p_capture_bp
        |FROM ob WHERE i = bands ORDER BY bands""".stripMargin),

    // incremental boilerplate state: line-doc counts over DOC-DISJOINT
    // batches merge additively (the persistable-state ingest shape, as
    // with the LSH band relation) — gated: merged two-batch counts ==
    // one-shot counts line-for-line, and stripping against the merged
    // state reproduces the batch removeBoilerplate output exactly
    Entry("dedup_lines_incr", (s, dir) => {
      import graft.pipeline.Dedup
      val lined = Tables.documents(s, dir).select(col("doc_id"), concat(
        lit("shared header boilerplate\n"),
        col("text"), lit("\n"),
        lit("shared middle "), pmod(col("doc_id"), lit(5)).cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("\npromo footer line"))
          .otherwise(lit(""))).as("text"))
      val a = lined.where(pmod(col("doc_id"), lit(2)) === 0)
      val b = lined.where(pmod(col("doc_id"), lit(2)) === 1)
      // states recomputed per consumer ON PURPOSE — the round-15
      // text_ngram_diversity_incr restructure (concurrent checkpointed
      // states) was tried HERE and measured NEGATIVE (warm 0.87 →
      // 2.05 s, solo 1.20 → 1.11 s wash): line hashing is xxhash64 over
      // a handful of lines — ~50 ms per derivation — so the one-plan
      // form gets all re-derivations concurrently for free, while
      // checkpoint barriers serialize. The ngram gate differs in kind:
      // its per-derivation cost is 1.2-2.3 s of single-task md5 work.
      val merged = Dedup.mergeLineCounts(
        Dedup.lineDocCounts(a, "\n"), Dedup.lineDocCounts(b, "\n"))
      val oneShot = Dedup.lineDocCounts(lined, "\n")
        .withColumnRenamed("line_docs", "ld2")
      val countDiff = merged.join(oneShot, Seq("lh"), "full_outer")
        .agg(coalesce(sum(when(col("line_docs") <=> col("ld2"), 0L)
          .otherwise(1L)), lit(0L)).as("n_count_diff"))
      val incrOut = Dedup.removeBoilerplateWith(lined,
        merged.where(col("line_docs") >= 5), "\n")
      val batchOut = Dedup.removeBoilerplate(lined, "\n", minDocs = 5)
        .select(col("doc_id"), col("n_dropped").as("nd2"),
          col("clean_text").as("ct2"))
      val outDiff = incrOut.join(batchOut, Seq("doc_id"), "full_outer")
        .agg(coalesce(sum(when(col("n_dropped") <=> col("nd2") &&
          col("clean_text") <=> col("ct2"), 0L).otherwise(1L)), lit(0L))
          .as("n_out_diff"))
      val nonvac = merged.where(col("line_docs") >= 5)
        .agg(when(count(lit(1)) > 0, 1L).otherwise(0L)
          .as("boiler_nonempty"))
      countDiff.crossJoin(outDiff).crossJoin(nonvac)
    },
      """SELECT CAST(0 AS BIGINT) AS n_count_diff,
        | CAST(0 AS BIGINT) AS n_out_diff,
        | CAST(1 AS BIGINT) AS boiler_nonempty""".stripMargin),

    // CCNet/RefinedWeb-style boilerplate removal: lines recurring in
    // >= 5 DISTINCT docs drop (deterministically injected header /
    // per-residue middle / footer lines, plus any naturally duplicated
    // bodies); survivors keep their order, fully-boilerplate docs keep
    // an empty clean_text (pipeline/Dedup.removeBoilerplate)
    Entry("dedup_lines", (s, dir) => {
      val lined = Tables.documents(s, dir).select(col("doc_id"), concat(
        lit("shared header boilerplate\n"),
        col("text"), lit("\n"),
        lit("shared middle "), pmod(col("doc_id"), lit(5)).cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("\npromo footer line"))
          .otherwise(lit(""))).as("text"))
      graft.pipeline.Dedup.removeBoilerplate(lined, "\n", minDocs = 5)
        .orderBy("doc_id")
    },
      """WITH d AS (SELECT doc_id,
        |  'shared header boilerplate' || chr(10) || text || chr(10) ||
        |  'shared middle ' || CAST(doc_id % 5 AS VARCHAR) ||
        |  CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'promo footer line'
        |       ELSE '' END AS t
        | FROM documents),
        |l AS (SELECT doc_id, unnest(string_split(t, chr(10))) AS line,
        |  generate_subscripts(string_split(t, chr(10)), 1) AS pos FROM d),
        |b AS (SELECT line FROM (SELECT line, count(DISTINCT doc_id) AS nd
        |  FROM l GROUP BY line) WHERE nd >= 5)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines,
        | CAST(sum(CASE WHEN line IN (SELECT line FROM b) THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_dropped,
        | coalesce(string_agg(CASE WHEN line NOT IN (SELECT line FROM b)
        |   THEN line END, chr(10) ORDER BY pos), '') AS clean_text
        |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin),
  )
}
