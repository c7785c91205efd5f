package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TextAnalysisSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the cat sat on the mat"),
    (2L, "hello world"),
    (3L, "a a a a"))
    .toDF("doc_id", "text")

  test("tokenStats: counts and distinct counts") {
    val r = TextAnalysis.tokenStats(docs).orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3))).toSeq
    assert(r === Seq(
      (1L, 6L, 5L, 22L),  // "the" repeats
      (2L, 2L, 2L, 11L),
      (3L, 4L, 1L, 7L)))
  }

  test("qualitySignals: integer-exact ratios") {
    val r = TextAnalysis.qualitySignals(docs).orderBy("doc_id").collect()
    val d1 = r(0)
    assert(d1.getAs[Long]("n_tokens") === 6L)
    assert(d1.getAs[Long]("stop_cnt") === 2L)  // two "the"
    assert(d1.getAs[Long]("stop_pct") === 33L) // floor(200/6)
    val d3 = r(2)
    assert(d3.getAs[Long]("stop_cnt") === 4L)  // "a" is a stopword
    assert(d3.getAs[Long]("stop_pct") === 100L)
  }

  test("langId: deterministic, one prediction per doc") {
    val r1 = TextAnalysis.langId(docs).orderBy("doc_id").collect()
      .map(_.getString(1)).toSeq
    val r2 = TextAnalysis.langId(docs).orderBy("doc_id").collect()
      .map(_.getString(1)).toSeq
    assert(r1 === r2)
    assert(r1.length === 3)
    assert(TextAnalysis.langProfiles.keySet.intersect(r1.toSet) === r1.toSet)
    // doc 1 contains "the " and "is-free text → english profile hits most
    assert(r1.head === "en")
  }

  test("subwordStats: regex runs counted like a BPE pre-tokenizer") {
    val d = Seq((1L, "abc12 de-f 34")).toDF("doc_id", "text")
    val r = TextAnalysis.subwordStats(d).head()
    // runs: abc, 12, de, -, f, 34 → 6 subwords, 2 digit runs
    assert(r.getLong(1) === 6L)
    assert(r.getLong(2) === 2L)
  }

  test("fingerprint: md5 identity equals text identity") {
    val twins = Seq((1L, "same text"), (2L, "same text"), (3L, "other"))
      .toDF("doc_id", "text")
    val r = TextAnalysis.fingerprint(twins).collect()
      .map(x => (x.getLong(0), x.getString(1))).toMap
    assert(r(1L) === r(2L))
    assert(r(1L) !== r(3L))
  }

  test("normalizedText: case, punctuation, and space runs collapse") {
    val d = Seq((1L, "Hello,  World! x"), (2L, "hello world x"),
      (3L, "  A--B  ")).toDF("doc_id", "text")
    val r = d.select($"doc_id",
        TextAnalysis.normalizedText($"text").as("t"))
      .collect().map(x => (x.getLong(0), x.getString(1))).toMap
    assert(r(1L) === "hello world x")
    assert(r(1L) === r(2L)) // reformatted duplicates now collide
    assert(r(3L) === "a b")
  }

  test("repetitionSignals: max shingle multiplicity and ratio") {
    val d = Seq(
      (1L, "a b c a b c a b c"),  // trigram "a b c" x3 of 7 → 42%
      (2L, "x y z w"),            // all trigrams distinct: max 1 of 2
      (3L, "q"),                  // shorter than n → zeros
      (4L, "s s s s")).toDF("doc_id", "text") // "s s s" x2 of 2 → 100%
    val r = TextAnalysis.repetitionSignals(d, n = 3).orderBy("doc_id")
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    assert(r.toSeq === Seq(
      (1L, 3L, 7L, 42L), (2L, 1L, 2L, 50L), (3L, 0L, 0L, 0L),
      (4L, 2L, 2L, 100L)))
  }

  test("noveltySignals: rare-bigram fraction against corpus df") {
    val d = Seq(
      (1L, "a b c d"),   // bigrams: ab, bc, cd
      (2L, "a b x y"),   // bigrams: ab, bx, xy
      (3L, "q")).toDF("doc_id", "text") // too short: zero bigrams
    val r = TextAnalysis.noveltySignals(d, n = 2, rareDf = 1)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
    // "a b" has df 2 (shared); all other bigrams are unique (df 1)
    assert(r.toSeq === Seq(
      (1L, 3L, 2L, 66L), (2L, 3L, 2L, 66L), (3L, 0L, 0L, 0L)))
  }

  test("noveltySignals: duplicated bigram inside ONE doc counts once") {
    val d = Seq((1L, "a b a b"), (2L, "z z")).toDF("doc_id", "text")
    // doc 1 distinct bigrams: {a b, b a}; doc 2: {z z}
    val r = TextAnalysis.noveltySignals(d, n = 2, rareDf = 1)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSeq
    assert(r === Seq((1L, 2L, 2L), (2L, 1L, 1L)))
  }

  test("bigramLmScores: hand-computed add-one-smoothed bigram model") {
    val train = Seq(
      (1L, "a b a b"), // bigrams (a,b) (b,a) (a,b)
      (2L, "a b c"),   // bigrams (a,b) (b,c)
      (3L, "z"))       // no bigrams, but z joins the vocabulary
      .toDF("doc_id", "text")
    // c12: (a,b)=3 (b,a)=1 (b,c)=1 ; c1: a=3 b=2 ; V = |{a,b,c,z}| = 4
    // p(b|a) = 4/7 -> 571428 ; p(a|b) = p(c|b) = 2/6 -> 333333
    val r = TextAnalysis.bigramLmScores(train, train).orderBy("doc_id")
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getLong(2), x.getLong(3)))
      .toSeq
    assert(r === Seq(
      (1L, 3L, 571428L + 333333L + 571428L, 1476189L / 3),
      (2L, 2L, 571428L + 333333L, 904761L / 2),
      (3L, 0L, 0L, 0L)))
  }

  test("bigramLmScores: unseen bigrams fall back to the smoothing mass") {
    val train = Seq((1L, "a b a b"), (2L, "a b c"), (3L, "z"))
      .toDF("doc_id", "text")
    // (q,q): c12 -> 0, context q unseen -> c1 = 0, so p = 1/(0+4)
    val oov = Seq((9L, "q q")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramLmScores(train, oov).collect().head
    assert(r.getLong(1) === 1L)
    assert(r.getLong(2) === 250000L)
    // an in-distribution doc outranks the OOV doc under the same model
    val typical = Seq((8L, "a b")).toDF("doc_id", "text")
    val t = TextAnalysis.bigramLmScores(train, typical).collect().head
    assert(t.getLong(3) > r.getLong(3))
  }

  test("vocabulary: document frequency, tokens counted once per doc") {
    val d = Seq(
      (1L, "a a b c"),   // a counts ONCE for doc 1
      (2L, "a b"),
      (3L, "a z")).toDF("doc_id", "text")
    val v = TextAnalysis.vocabulary(d, minDf = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(v === Map("a" -> 3L, "b" -> 2L)) // c, z fall under minDf
    val top = TextAnalysis.topVocabulary(d, k = 10, minDf = 1).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // rank by (df desc, tok asc)
    assert(top === Seq((1L, "a", 3L), (2L, "b", 2L), (3L, "c", 1L), (4L, "z", 1L)))
  }

  // --------------------------------------------------- TF-IDF keywords

  test("tfidfKeywords: rare repeated terms beat ubiquitous ones") {
    // 'zebra' is unique to doc 1 and repeated; 'common' is in every doc
    val docs = Seq(
      (1L, "common zebra zebra common alpha"),
      (2L, "common beta beta gamma"),
      (3L, "common gamma delta")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfKeywords(docs, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    val top1 = got.filter(t => t._1 == 1L && t._2 == 1L).map(_._3)
    assert(top1.toSeq === Seq("zebra"))
    // 'common' has df = N -> idf = ln((N+1)/(N+1)) = 0: never a keyword
    assert(!got.exists(_._3 == "common"))
  }

  test("tfidfKeywords: k bound, dense rank, deterministic tie order") {
    val docs = Seq((1L, "x y z w"), (2L, "x y")).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfKeywords(docs, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .sortBy(t => (t._1, t._2))
    assert(got.count(_._1 == 1L) === 3)  // capped at k of 4 terms
    assert(got.count(_._1 == 2L) === 2)  // short doc yields < k
    // doc 1: z and w (df=1) tie ahead of x/y (df=2); term order breaks it
    assert(got.filter(_._1 == 1L).map(_._3).toSeq === Seq("w", "z", "x"))
  }

  // ------------------------------------------------------ collocations

  test("collocations: an exclusive pair outranks promiscuous ones") {
    // 'alpha beta' always co-occur exclusively (6x); 'x'/'y' pair with
    // everything. Exclusive pair -> maximal PMI.
    val docs = Seq(
      (1L, "alpha beta x y alpha beta x alpha beta y"),
      (2L, "alpha beta y x alpha beta x y x y"),
      (3L, "x y alpha beta y x y x y x")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, k = 3, minCount = 3L)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(got.head._2 === "alpha")
    assert(got.head._3 === "beta")
  }

  test("collocations: minCount suppresses the unstable singleton tail") {
    // 'rare once' occurs once with maximal PMI -- must not surface
    val docs = Seq(
      (1L, "a b a b a b a b rare once"),
      (2L, "a b a b a b")).toDF("doc_id", "text")
    val got = TextAnalysis.collocations(docs, k = 10, minCount = 2L)
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(!got.contains(("rare", "once")))
    assert(got.contains(("a", "b")))
  }

  // ----------------------------------------------------- C4 line rules

  test("c4LineFilters: every rule fires, precedence keeps counts exact") {
    val docs = Seq(
      // kept / short ('ok.') / banned / no-punct — one of each
      (1L, "a good long line stays here.\nok.\nfree Lorem Ipsum offer.\nno punctuation on this line"),
      // short line that ALSO contains a banned phrase counts short
      // (first failing rule), not banned
      (2L, "lorem ipsum\nanother fine kept line here!")).toDF("doc_id", "text")
    val got = TextAnalysis.c4LineFilters(docs, "\n", minWords = 3,
        banned = Seq("lorem ipsum"), requirePunct = true)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getString(6)))).toMap
    assert(got(1L) ===
      ((4L, 1L, 1L, 1L, 1L, "a good long line stays here.")))
    assert(got(2L) ===
      ((2L, 1L, 1L, 0L, 0L, "another fine kept line here!")))
    // conservation: kept + short + banned + no_punct = n_lines
    got.values.foreach { case (n, k, s, b, p, _) => assert(k + s + b + p === n) }
  }

  test("c4LineFilters plans ZERO exchanges — a pure projection") {
    val docs = Seq((1L, "a line of text here.")).toDF("doc_id", "text")
    val plan = TextAnalysis.c4LineFilters(docs)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("c4LineFilters: requirePunct=false admits unpunctuated lines") {
    val docs = Seq((1L, "three words suffice here\nok")).toDF("doc_id", "text")
    val got = TextAnalysis.c4LineFilters(docs, "\n", minWords = 3,
        banned = Seq("zzz"), requirePunct = false)
      .collect().map(r => (r.getLong(2), r.getString(6))).head
    assert(got === ((1L, "three words suffice here")))
  }

  test("gopherRules: each rule flips independently and keep follows score") {
    val good = ("the quick brown fox of the woods is happy to run and " +
      "jump in a field " + (1 to 30).map(i => s"word$i").mkString(" "))
    val docs = Seq(
      (1L, good),                                 // all rules pass
      (2L, "too short is this"),                  // fails length
      (3L, ("nostops " * 45).trim),               // no stopwords + repetitive
      (4L, good + " " + Seq.fill(40)("rep tok").mkString(" ")))
      // doc 4: 80 alternating tokens make "rep tok rep"-type shingles
      // dominate (~39/124 > 20%) while stopwords/length still pass
      .toDF("doc_id", "text")
    val got = TextAnalysis.gopherRules(docs, minTokens = 20,
      maxTokens = 200, minStopPct = 3, minTokLenX10 = 20,
      maxTokLenX10 = 120, maxRepPct = 20, cutoff = 75)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6))).toMap
    assert(got(1L) === ((1L, 1L, 1L, 1L, 100L, 1L)))
    assert(got(2L)._1 === 0L)                     // length rule fails
    assert(got(3L)._2 === 0L)                     // stopword rule fails
    assert(got(3L)._4 === 0L)                     // repetition rule fails
    assert(got(4L)._4 === 0L)                     // repetition rule fails
    got.values.foreach { case (a, b, c, d, score, keep) =>
      assert(score === (a + b + c + d) * 25)
      assert(keep === (if (score >= 75) 1L else 0L))
    }
  }

  test("vocabGrowth: running distinct equals a sequential fold") {
    val docs = Seq(
      (50L, "a b c a"), (100L, "b c d"), (150L, "e"), (200L, "a e f g"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.vocabGrowth(docs, "doc_id", every = 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sortBy(_._1)
    // sequential reference
    var seen = Set.empty[String]; var toks = 0L
    val want = Seq((50L, "a b c a"), (100L, "b c d"), (150L, "e"),
      (200L, "a e f g")).map { case (d, t) =>
      val ts = t.split(" ").toSeq
      toks += ts.size; seen ++= ts
      (d, toks, seen.size.toLong)
    }
    assert(got === want)
  }

  test("vocabGrowthBucketed: exactly equals vocabGrowth on a dense " +
      "order domain, including a trailing partial bucket") {
    // dense 0..10, every=3 — report points 0, 3, 6, 9; ord 10 lands in
    // a partial bucket whose boundary (12) exceeds the data and must
    // NOT be reported
    val docs = (0L to 10L).map(i =>
      (i, s"w${i % 4} w${(i * 7) % 9} w${(i * 3) % 5}"))
      .toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("ord").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = rows(TextAnalysis.vocabGrowth(docs, "doc_id", every = 3))
    val twin = rows(
      TextAnalysis.vocabGrowthBucketed(docs, "doc_id", every = 3))
    assert(exact.map(_._1) === Seq(0L, 3L, 6L, 9L))
    assert(twin === exact)
    // large-`every` regression: decimal(38,0)÷BIGINT yields
    // decimal(38,6), whose HALF_UP rounding flipped boundary ords into
    // the next bucket once every ≥ 2e6 (ord 0 landed in bucket 1 and
    // the ord-0 report point vanished); the decimal(20,0)-first form
    // is exact — both forms must still report exactly ord 0 here
    val exactBig =
      rows(TextAnalysis.vocabGrowth(docs, "doc_id", every = 3000000))
    val twinBig = rows(
      TextAnalysis.vocabGrowthBucketed(docs, "doc_id", every = 3000000))
    assert(exactBig.map(_._1) === Seq(0L))
    assert(twinBig === exactBig)
  }

  test("vocabGrowth/vocabGrowthBucketed: NULL and empty text keep their " +
      "report points, and the two forms stay aligned (round-12 ADVICE)") {
    // ord 3 has NULL text, ord 6 empty — both are report points at
    // every=3; presence comes from the doc relation so both forms must
    // emit them with carried-forward cumulative counts
    val docs = (0L to 9L).map {
      case 3L => (3L, null: String)
      case 6L => (6L, "")
      case i => (i, s"w${i % 4} w${(i * 7) % 9}")
    }.toDF("doc_id", "text")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("ord").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val exact = rows(TextAnalysis.vocabGrowth(docs, "doc_id", every = 3))
    val twin = rows(
      TextAnalysis.vocabGrowthBucketed(docs, "doc_id", every = 3))
    assert(exact.map(_._1) === Seq(0L, 3L, 6L, 9L)) // no dropped points
    assert(twin === exact)
  }

  test("qualityBuckets: per-language terciles by LM fit, head = best " +
      "fit, ties break on doc_id, uneven groups front-load") {
    // lang en: 4 docs — 3 corpus-typical, 1 shuffled junk (worst fit);
    // lang de: 2 docs (bucket 3 stays empty — ntile(3) over 2 rows)
    val docs = Seq(
      (1L, "en", "a b a b a b"), (2L, "en", "a b a b c"),
      (3L, "en", "b a b a b"), (4L, "en", "q z q z"),
      (10L, "de", "x y x y"), (11L, "de", "y x q")).toDF(
      "doc_id", "lang", "text")
    val r = TextAnalysis.qualityBuckets(docs, docs, "lang", nBuckets = 3)
      .orderBy("doc_id").collect()
      .map(x => (x.getLong(0), x.getString(1), x.getLong(3))).toSeq
    val score = TextAnalysis.bigramLmScores(docs, docs)
      .collect().map(x => x.getLong(0) -> x.getLong(3)).toMap
    // replicate: rank per lang by (score desc, doc_id), ntile semantics
    def buckets(ids: Seq[Long], n: Int): Map[Long, Long] = {
      val ordered = ids.sortBy(id => (-score(id), id))
      val sz = ordered.size
      ordered.zipWithIndex.map { case (id, i) =>
        // SQL ntile: first (sz % n) buckets get ceil(sz/n) rows
        val big = sz % n; val base = sz / n
        val b = if (i < big * (base + 1)) i / (base + 1)
                else big + (i - big * (base + 1)) / base
        id -> (b + 1).toLong
      }.toMap
    }
    val want = buckets(Seq(1L, 2L, 3L, 4L), 3) ++
      buckets(Seq(10L, 11L), 3)
    assert(r === Seq(1L, 2L, 3L, 4L, 10L, 11L)
      .map(id => (id, if (id < 10) "en" else "de", want(id))))
    // the shuffled-junk doc lands in the en tail bucket
    assert(want(4L) === 3L)
  }
  test("phraseCount / blocklistHits count literal occurrences exactly") {
    import org.apache.spark.sql.functions.col
    val df = Seq(
      (1L, "hash join beats hash join here"),
      (2L, "full scan then scan and scan"),
      (3L, "nothing to see")).toDF("doc_id", "text")
    val got = df.select(col("doc_id"),
        TextAnalysis.phraseCount(col("text"), "hash join").as("hj"),
        TextAnalysis.blocklistHits(col("text"),
          Seq("hash join", "scan")).as("hits"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === Set((1L, 2L, 2L), (2L, 0L, 3L), (3L, 0L, 0L)))
  }

  test("readability pins the Flesch fixed-point on a known sentence " +
      "and clamps the degenerate cases") {
    val df = Seq(
      (1L, "the cat sat. the dog ran!"),
      (2L, "")).toDF("doc_id", "text")
    val got = TextAnalysis.readability(df).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // 6 words, 2 sentences, 6 vowel groups:
    // 206.835 − 1.015·3 − 84.6·1 = 119.19 → 119190
    assert(got(1L) === ((6L, 2L, 6L, 119190L)))
    // empty text clamps every count to 1: 206.835 − 1.015 − 84.6
    assert(got(2L) === ((1L, 1L, 1L, 121220L)))
  }
  test("scriptSignals counts per Unicode script and routes by the " +
      "fixed-precedence dominant verdict") {
    val df = Seq(
      (1L, "hello world"),
      (2L, "καλημέρα κόσμε"),
      (3L, "привет мир"),
      (4L, "你好世界"),
      (5L, "ab και мир"),    // latin 2, greek 3, cyrillic 3 → ties to
                             // greek after latin loses (2 < 3)
      (6L, "123 !!!"))       // no letters at all
      .toDF("doc_id", "text")
    val got = TextAnalysis.scriptSignals(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(got(1L) === ((10L, 0L, 0L, 0L, "latin")))
    assert(got(2L) === ((0L, 13L, 0L, 0L, "greek")))
    assert(got(3L) === ((0L, 0L, 9L, 0L, "cyrillic")))
    assert(got(4L) === ((0L, 0L, 0L, 4L, "han")))
    assert(got(5L) === ((2L, 3L, 3L, 0L, "greek"))) // precedence tie
    assert(got(6L) === ((0L, 0L, 0L, 0L, "none")))
  }

  test("ngramDiversity: totals, distincts and collision pairs equal " +
      "brute force; short docs contribute nothing") {
    val docs = Seq(
      (1L, "s1", "a b c d e"),       // grams: abcd, bcde
      (2L, "s1", "a b c d"),         // gram:  abcd  (collides with doc 1)
      (3L, "s1", "a b c d e"),       // abcd, bcde (collide with both)
      (4L, "s1", "x y"),             // < n tokens: nothing
      (5L, "s2", "a b c d"),         // s2 is independent of s1
      (6L, "s2", "p q r s p q r s")) // pqrs, qrsp, rspq, spqr, pqrs
      .toDF("doc_id", "source", "text")
    val got = TextAnalysis.ngramDiversity(docs, "source", "text", n = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // s1 gram multiset: abcd x3, bcde x2 -> total 5, distinct 2,
    // repeats 3, pairs C(3,2)+C(2,2) = 3 + 1 = 4
    assert(got("s1") === ((5L, 2L, 3L, 4L)))
    // s2: abcd x1 + pqrs x2, qrsp, rspq, spqr -> total 6, distinct 5,
    // repeats 1, pairs C(2,2) = 1
    assert(got("s2") === ((6L, 5L, 1L, 1L)))
    // brute-force cross-check on a pseudo-random fixture
    val rnd = new scala.util.Random(13)
    val rows = (1L to 200L).map { i =>
      (i, "g" + (i % 3),
        Seq.fill(3 + rnd.nextInt(8))("w" + rnd.nextInt(6)).mkString(" "))
    }
    val want = rows.groupBy(_._2).map { case (g, rs) =>
      val grams = rs.flatMap(_._3.split(" ").sliding(4)
        .filter(_.length == 4).map(_.mkString(" ")).toSeq)
      val byGram = grams.groupBy(identity).map(_._2.size.toLong)
      g -> ((grams.size.toLong, byGram.size.toLong,
        grams.size.toLong - byGram.size,
        byGram.map(c => c * (c - 1) / 2).sum))
    }
    val got2 = TextAnalysis
      .ngramDiversity(rows.toDF("doc_id", "source", "text"), "source",
        "text", n = 4)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got2 === want)
  }
}
