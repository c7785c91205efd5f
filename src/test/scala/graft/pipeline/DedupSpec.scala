package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Dedup operators vs a brute-force in-JVM oracle on a corpus with known
  * structure: near-dup families, an exact-dup pair, and unrelated docs. */
class DedupSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  // family A: 4 docs sharing most tokens; family B: 2 identical docs;
  // family C/D: unrelated
  private val corpus = Seq(
    (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
    (2L, "alpha beta gamma delta epsilon zeta eta theta iota lambda"),
    (3L, "alpha beta gamma delta epsilon zeta eta theta mu nu"),
    (4L, "alpha beta gamma delta epsilon zeta eta xi omicron pi"),
    (5L, "the quick brown fox jumps over the lazy dog"),
    (6L, "the quick brown fox jumps over the lazy dog"),
    (7L, "completely different words here nothing shared at all"),
    (8L, "unrelated content again with its own vocabulary entirely"))

  private lazy val docs: DataFrame = corpus.toDF("doc_id", "text")

  /** Brute-force token-set jaccard pairs at >= pct/100. */
  private def bruteJaccard(pct: Int): Set[(Long, Long)] = {
    val sets = corpus.map { case (id, t) => id -> t.split(" ").toSet }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      inter = sa.intersect(sb).size; union = sa.union(sb).size
      if inter * 100 >= union * pct
    } yield (a, b)).toSet
  }

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("a_id", "b_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exactGroups: identical texts collapse, keeper is min id") {
    val g = Dedup.exactGroups(docs).collect()
    assert(g.length === 7) // 8 docs, one exact-dup pair
    val dupGroup = g.find(_.getLong(2) == 2L).get
    assert(dupGroup.getLong(1) === 5L) // keep_id = min(5, 6)
    assert(pairs(Dedup.exactDuplicates(docs).withColumnRenamed("doc_id", "a_id")
      .withColumnRenamed("keep_id", "b_id").select("a_id", "b_id")) === Set((6L, 5L)))
  }

  test("jaccardPairs matches brute force at several thresholds") {
    for (pct <- Seq(50, 80, 90, 100)) {
      val got = pairs(Dedup.jaccardPairs(docs, pct))
      assert(got === bruteJaccard(pct), s"threshold $pct")
    }
  }

  test("jaccardPairs reports exact intersection/union sizes") {
    val r = Dedup.jaccardPairs(docs, 80).where($"a_id" === 1 && $"b_id" === 2)
      .select("inter", "union_sz").collect()
    assert(r.length === 1)
    assert((r(0).getLong(0), r(0).getLong(1)) === ((9L, 11L)))
  }

  test("minHashLshPairs equals exact jaccard on this corpus") {
    for (pct <- Seq(80, 90)) {
      assert(pairs(Dedup.minHashLshPairs(docs, pct)) === bruteJaccard(pct),
        s"threshold $pct")
    }
  }

  test("duplicationDegree: pair-graph degree per doc, zeros included") {
    import org.apache.spark.sql.functions.col
    val pct = 80
    val got = Dedup.duplicationDegree(docs.select(col("doc_id")),
        Dedup.jaccardPairs(docs, pct))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val brute = bruteJaccard(pct)
    val want = corpus.map(_._1).map(id =>
      id -> brute.count(p => p._1 == id || p._2 == id).toLong).toMap
    assert(got === want)
    assert(got.values.exists(_ === 0L)) // the unrelated docs
    assert(got.values.exists(_ > 0L))   // the near-dup families
  }

  test("minHashLshPairs: salting changes the plan, never the result") {
    for (salt <- Seq(2, 5)) {
      assert(pairs(Dedup.minHashLshPairs(docs, 80, salt = salt))
        === bruteJaccard(80), s"salt $salt")
    }
  }

  test("minHashLshPairs: fixed-width candidate path (emitOnce=false) " +
    "equals the emit-once path and brute force") {
    for (pct <- Seq(80, 90); collapse <- Seq(true, false)) {
      assert(pairs(Dedup.minHashLshPairs(docs, pct,
          collapseIdentical = collapse, emitOnce = Some(false)))
        === bruteJaccard(pct), s"pct $pct collapse $collapse")
    }
  }

  test("lshEmitOnceAuto pins both measured corpus regimes") {
    import org.apache.spark.sql.functions.{col, concat, expr, lit}
    // dense regime: 200 docs sharing ~all tokens (one unique token each)
    // collide into huge band buckets -> emit-once
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val dense = spark.range(200)
      .select(col("id").as("doc_id"),
        concat(lit(base + " uniq"), col("id").cast("string")).as("text"))
    assert(Dedup.lshEmitOnceAuto(Dedup.hashedSets(dense),
      numHashes = 128, bands = 32, oph = true))
    // near-unique regime: 200 docs with disjoint vocabularies -> buckets
    // of size ~1 -> fixed-width
    val uniq = spark.range(200)
      .select(col("id").as("doc_id"),
        expr("array_join(transform(sequence(1, 40), " +
          "i -> concat('d', cast(id as string), 'w', cast(i as string))), ' ')")
          .as("text"))
    assert(!Dedup.lshEmitOnceAuto(Dedup.hashedSets(uniq),
      numHashes = 128, bands = 32, oph = true))
  }

  test("lshStrategyFor: persisted decision round-trips and pins both regimes " +
    "without a re-probe") {
    import org.apache.spark.sql.functions.{col, concat, expr, lit}
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val dense = spark.range(200)
      .select(col("id").as("doc_id"),
        concat(lit(base + " uniq"), col("id").cast("string")).as("text"))
    val uniq = spark.range(200)
      .select(col("id").as("doc_id"),
        expr("array_join(transform(sequence(1, 40), " +
          "i -> concat('d', cast(id as string), 'w', cast(i as string))), ' ')")
          .as("text"))
    val dir = java.nio.file.Files.createTempDirectory("graft_lshstrat")
    for ((corpus, wantEmitOnce, tag) <- Seq((dense, true, "dense"),
        (uniq, false, "uniq"))) {
      val s = Dedup.lshStrategyFor(corpus, numHashes = 128, bands = 32)
      assert(s.emitOnce === wantEmitOnce, tag)
      assert(s.nDocs === 200L, tag)
      assert(s.numHashes === 128 && s.bands === 32 && s.oph, tag)
      // dense buckets are heavy, near-unique buckets are ~singletons
      if (wantEmitOnce) assert(s.avgWeightedBucketSize > 22.3, tag)
      else assert(s.avgWeightedBucketSize < 1.5, tag)
      val path = s"$dir/strategy_$tag.json"
      Dedup.saveLshStrategy(spark, s, path)
      // sha sidecar written and verified on load
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(path + ".sha256")))
      assert(Dedup.loadLshStrategy(spark, path) === s)
      // the reuse path: pinning with the loaded decision replays the
      // probed corpus's pair output exactly (no corpus probe pass)
      val pinned = pairs(Dedup.minHashLshPairs(corpus, 90,
        emitOnce = Some(Dedup.loadLshStrategy(spark, path).emitOnce)))
      assert(pinned === pairs(Dedup.minHashLshPairs(corpus, 90)), tag)
    }
    // a corrupted artifact fails the integrity check loudly (rewrite the
    // JSON through the Hadoop path, leaving the stale sha256 sidecar)
    val p = s"$dir/strategy_dense.json"
    graft.index.IvfPqBuilder.writeString(spark, p,
      """{"emit_once":false,"num_hashes":128,"bands":32,"oph":true,""" +
        """"n_docs":1,"avg_weighted_bucket_size":0.0}""")
    val e = intercept[IllegalArgumentException] {
      Dedup.loadLshStrategy(spark, p)
    }
    assert(e.getMessage.contains("integrity"))
  }

  test("minHashLshPairs: identical-set collapse never changes the result") {
    // reordered tokens (equal SETS, unequal text) + an identical trio so
    // both intra-group and cross-group expansion paths fire
    val dup = docs.unionByName(Seq(
      (9L, "dog lazy the over jumps fox brown quick the"), // = set of 5/6
      (10L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "kappa iota theta eta zeta epsilon delta gamma beta alpha"))
      .toDF("doc_id", "text"))
    for (pct <- Seq(80, 90)) {
      val collapsed = Dedup
        .minHashLshPairs(dup, pct, collapseIdentical = true)
      val plain = Dedup
        .minHashLshPairs(dup, pct, collapseIdentical = false)
      val ci = collapsed.select("a_id", "b_id", "inter", "union_sz")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet
      val pi = plain.select("a_id", "b_id", "inter", "union_sz")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          r.getLong(2), r.getLong(3))).toSet
      assert(ci === pi, s"threshold $pct")
      assert(ci.nonEmpty)
      // each pair appears exactly once
      assert(collapsed.count() === collapsed
        .select("a_id", "b_id").distinct().count())
    }
  }

  test("simHashDupPairsVerified finds exactly the equal-token-set pairs") {
    assert(pairs(Dedup.simHashDupPairsVerified(docs)) === Set((5L, 6L)))
  }

  test("simHashNearDupPairs includes all exact dups and respects hamming bound") {
    val r = Dedup.simHashNearDupPairs(docs, maxHamming = 3)
    val got = pairs(r)
    assert(got.contains((5L, 6L)))
    assert(r.collect().forall(_.getAs[Int]("hamming") <= 3))
  }

  test("embeddingNearDupPairs thresholds on cosine") {
    val emb = Seq(
      (1L, Seq(1f, 0f, 0f)),
      (2L, Seq(0.9f, 0.1f, 0f)),  // cos vs 1 ≈ 0.994
      (3L, Seq(0f, 1f, 0f)),      // orthogonal to 1
      (4L, Seq(-1f, 0f, 0f)))     // opposite of 1
      .toDF("vec_id", "embedding")
    val got = pairs(Dedup.embeddingNearDupPairs(emb, thresholdMilli = 900))
    assert(got === Set((1L, 2L)))
  }

  test("semDeDup: component keeps the member farthest from its cell " +
      "centroid, ties to the smaller id; singletons keep themselves") {
    // cell 0: docs 1, 2, 3 — 1 and 2 nearly parallel (a near-dup pair),
    // 3 off-axis (no pair). Centroid pulls toward the 1/2 direction, so
    // within component {1, 2} doc 2 (the longer vector, farther from the
    // mean) must win over doc 1; min-id policy would keep 1.
    // cell 1: docs 10, 11 parallel (a pair); 12 off-axis (no pair) —
    // the CELL centroid includes 12 (the paper's cluster centroid, not
    // a component centroid: a 2-member component against its own mean
    // would always tie), pulling the mean low so the longer vector 11
    // is farther and wins.
    val emb = Seq(
      (1L, Seq(1.0f, 0f, 0f), 0),
      (2L, Seq(2.0f, 0.02f, 0f), 0),
      (3L, Seq(0.2f, 1.0f, 0f), 0),
      (10L, Seq(0f, 0f, 1.0f), 1),
      (11L, Seq(0f, 0f, 3.0f), 1),
      (12L, Seq(0.1f, 0f, 0.5f), 1))
      .toDF("vec_id", "embedding", "label")
    val lab = emb.select($"vec_id", $"label")
    val pr = Dedup.embeddingNearDupPairs(emb, thresholdMilli = 990)
      .join(lab.select($"vec_id".as("a_id"), $"label".as("la")), "a_id")
      .join(lab.select($"vec_id".as("b_id"), $"label".as("lb")), "b_id")
      .where($"la" === $"lb").select("a_id", "b_id")
    val got = Dedup.semDeDup(emb, "vec_id", "embedding", "label", pr)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    // components: {1,2} (comp 1), {3} alone, {10,11} (comp 10), {12}
    assert(got === Set(
      (1L, 1L, 0L), (2L, 1L, 1L),   // farthest-from-centroid wins
      (3L, 3L, 1L),                 // singleton keeps itself
      (10L, 10L, 0L), (11L, 10L, 1L),
      (12L, 12L, 1L)))
    // ragged vector widths in a cell must fail LOUDLY, not null-pad
    // through zip_with and crown an arbitrary keeper (round-12 ADVICE)
    val ragged = Seq(
      (1L, Seq(1.0f, 0f, 0f), 0),
      (2L, Seq(2.0f, 0.02f), 0)) // width 2 in a width-3 cell
      .toDF("vec_id", "embedding", "label")
    val raggedPairs = Seq((1L, 2L)).toDF("a_id", "b_id")
    val ex = intercept[Exception] {
      Dedup.semDeDup(ragged, "vec_id", "embedding", "label", raggedPairs)
        .collect()
    }
    assert(ex.getMessage.contains("ragged") ||
      Option(ex.getCause).exists(_.getMessage.contains("ragged")))

    // sanity: the exact integer farness prefers 2 over 1 in cell 0
    // (sequential replica of Σ(n·xm − S)²; note 0.02f → ⌊19.999…⌋ = 19
    // milli — the float-to-double widening the quantization contract
    // makes deterministic)
    val cell0 = Seq(
      Array(1000L, 0L, 0L), Array(2000L, 19L, 0L), Array(200L, 1000L, 0L))
    val s = Array(0, 1, 2).map(i => cell0.map(_(i)).sum)
    def far(v: Array[Long]) =
      (0 to 2).map(i => BigInt(3L * v(i) - s(i)).pow(2)).sum
    assert(far(cell0(1)) > far(cell0(0)))
  }

  test("jaccardPairsShingled: order-sensitive where token jaccard is not") {
    val reordered = Seq(
      (1L, "a b c d e f"),
      (2L, "f e d c b a"),   // same token SET, no shared trigram
      (3L, "a b c d e f"))   // identical text
      .toDF("doc_id", "text")
    // token jaccard: all three pairwise identical sets
    assert(pairs(Dedup.jaccardPairs(reordered, 100)) ===
      Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // trigram jaccard: only the truly identical pair survives
    assert(pairs(Dedup.jaccardPairsShingled(reordered, 50, n = 3)) ===
      Set((1L, 3L)))
  }

  test("jaccardPairsShingled: short docs (< n tokens) drop out cleanly") {
    val short = Seq((1L, "a b"), (2L, "a b"), (3L, "a b c d")).toDF("doc_id", "text")
    // docs 1,2 have no trigrams at all → no pairs from them
    assert(pairs(Dedup.jaccardPairsShingled(short, 10, n = 3)) === Set.empty)
  }

  test("connectedComponents + dropList: clusters collapse to min id") {
    // family A docs 1-4 are pairwise ≥ 50% similar → one component at 50;
    // docs 5,6 identical; 7, 8 singletons
    val r = Dedup.dropList(docs, thresholdPct = 50).collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(r === Set((2L, 1L), (3L, 1L), (4L, 1L), (6L, 5L)))
    // chain transitivity: A-B similar, B-C similar, A-C NOT — still one
    // component through B
    val chain = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f x y"),     // ~60% vs 1
      (3L, "a b c d x y z w"))     // 33% vs 1 (below), 60% vs 2 (above)
      .toDF("doc_id", "text")
    val comps = Dedup.connectedComponents(
      chain.select($"doc_id"),
      Dedup.jaccardPairs(chain, 40).select("a_id", "b_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toMap
    assert(comps === Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents: distributed star contraction equals the " +
      "local union-find endgame") {
    // random-ish sparse graph with chains, a big star, and singletons
    val edges = (Seq((10L, 11L), (11L, 12L), (12L, 13L)) ++ // chain
      (20L to 40L).map(i => (19L, i)) ++                    // star
      Seq((50L, 51L), (52L, 51L), (53L, 50L), (60L, 61L)))  // merges
    val pairs = edges.toDF("a_id", "b_id")
    val ids = (1L to 70L).toDF("doc_id")
    def run(cutoff: Long) =
      Dedup.connectedComponents(ids, pairs, localCutoff = cutoff)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val viaLocal = run(1L << 20) // everything through union-find
    val viaStars = run(0L)       // cutoff 0: pure distributed contraction
    assert(viaLocal === viaStars)
    assert(viaLocal(13L) === 10L && viaLocal(40L) === 19L &&
      viaLocal(53L) === 50L && viaLocal(61L) === 60L && viaLocal(1L) === 1L)
  }

  test("dropList: clean corpus drops nothing") {
    val clean = Seq((1L, "aa bb cc"), (2L, "dd ee ff")).toDF("doc_id", "text")
    assert(Dedup.dropList(clean, 80).count() === 0)
  }

  test("dropList / incrementalDropList: a pinned candidate strategy " +
      "replays the auto decision's output") {
    // t = 50 exercises the banded path (the one the pin reaches)
    def setOf(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val auto = setOf(Dedup.dropList(docs, thresholdPct = 50))
    for (pin <- Seq(true, false))
      assert(setOf(Dedup.dropList(docs, 50, emitOnce = Some(pin))) === auto,
        s"pin $pin")
    val corpus = docs.where($"doc_id" <= 4)
    val incoming = docs.where($"doc_id" > 4)
      .select(($"doc_id" + 100).as("doc_id"), $"text")
    val autoInc = setOf(Dedup.incrementalDropList(incoming, corpus, 50))
    for (pin <- Seq(true, false))
      assert(setOf(Dedup.incrementalDropList(incoming, corpus, 50,
        emitOnce = Some(pin))) === autoInc, s"pin $pin")
  }

  test("hashedSets: sorted distinct hashes, permutation-invariant") {
    val two = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    val r = Dedup.hashedSets(two).orderBy("doc_id")
      .select("hset").collect().map(_.getSeq[Long](0))
    assert(r(0) == r(1))
    assert(r(0).toSeq == r(0).sorted.toSeq)
  }

  test("duplicateSpans: cross-doc windows merge into maximal spans") {
    // corpus (n=8): docs 1-2 share their first TWO 8-token windows (one
    // 9-token span); doc 3 shares only window 0 (one 8-token span);
    // doc 4 diverges at token 8 (clean); docs 5-6 identical 9-token
    // texts (one 9-token span); docs 7-8 single unique windows (clean)
    val rows = Dedup.duplicateSpans(docs, n = 8)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(rows.toSeq === Seq(
      (1L, 3L, 2L, 1L, 9L),
      (2L, 3L, 2L, 1L, 9L),
      (3L, 3L, 1L, 1L, 8L),
      (4L, 3L, 0L, 0L, 0L),
      (5L, 2L, 2L, 1L, 9L),
      (6L, 2L, 2L, 1L, 9L),
      (7L, 1L, 0L, 0L, 0L),
      (8L, 1L, 0L, 0L, 0L)))
  }

  test("duplicateSpans: disjoint shared passages count as separate spans") {
    val d = Seq(
      (1L, "s1 s2 s3 gap1 gap2 t1 t2 t3"),
      (2L, "s1 s2 s3 other words t1 t2 t3")).toDF("doc_id", "text")
    // n=3: doc 1 windows: [s1s2s3][s2s3gap1][s3gap1gap2][gap1gap2t1]
    // [gap2t1t2][t1t2t3] — shared: positions 0 and 5 (two 3-token spans)
    val rows = Dedup.duplicateSpans(d, n = 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.toSeq === Seq((1L, 2L, 2L, 3L), (2L, 2L, 2L, 3L)))
  }

  test("removeDuplicateSpans: every token covered by a cross-doc " +
      "duplicated window is cut from EVERY copy; clean docs verbatim") {
    val out = Dedup.removeDuplicateSpans(docs, n = 8).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // brute force over window STRINGS
    val wins = corpus.map { case (id, t) =>
      id -> t.split(" ").sliding(8).zipWithIndex
        .filter(_._1.length == 8)
        .map { case (ws, i) => (ws.mkString(" "), i) }.toSeq
    }.toMap
    val dup = wins.toSeq
      .flatMap { case (id, ws) => ws.map { case (s, _) => (s, id) } }
      .groupBy(_._1).filter(_._2.map(_._2).distinct.size > 1).keySet
    val expected = corpus.map { case (id, t) =>
      val toks = t.split(" ")
      val cov = wins(id).filter { case (s, _) => dup(s) }
        .flatMap { case (_, p) => p until (p + 8) }.toSet
      val kept = toks.zipWithIndex.collect { case (tk, i) if !cov(i) => tk }
      (id, if (cov.isEmpty) t else kept.mkString(" "), cov.size.toLong)
    }
    assert(out === expected)
    val byId = out.map(r => r._1 -> r).toMap
    // the exact-dup pair is stripped to nothing on BOTH sides
    assert(byId(5L) === ((5L, "", 9L)) && byId(6L) === ((6L, "", 9L)))
    // untouched docs pass through verbatim
    assert(byId(7L)._2 === corpus.find(_._1 == 7L).get._2)
    assert(byId(7L)._3 === 0L)
  }

  test("removeDuplicateSpans: disjoint shared passages cut separately, " +
      "the unshared middle survives") {
    val d = Seq(
      (1L, "s1 s2 s3 gap1 gap2 t1 t2 t3"),
      (2L, "s1 s2 s3 other words t1 t2 t3")).toDF("doc_id", "text")
    val rows = Dedup.removeDuplicateSpans(d, n = 3).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.toSeq === Seq(
      (1L, "gap1 gap2", 6L), (2L, "other words", 6L)))
  }

  /** Brute-force directed containment pairs at |A∩B| >= pct·|A|/100. */
  private def bruteContainment(pct: Int): Set[(Long, Long, Long, Long)] = {
    val sets = corpus.map { case (id, t) => id -> t.split(" ").toSet }
    (for {
      (a, sa) <- sets; (b, sb) <- sets if a != b
      inter = sa.intersect(sb).size
      if inter * 100 >= sa.size * pct
    } yield (a, b, inter.toLong, sa.size.toLong)).toSet
  }

  test("containmentPairs matches brute force at several thresholds") {
    for (pct <- Seq(60, 80, 90, 100)) {
      val got = Dedup.containmentPairs(docs, pct)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got === bruteContainment(pct), s"threshold $pct")
    }
  }

  test("containmentPairsShingled matches brute force over shingle sets") {
    def shingles(t: String, n: Int): Set[String] =
      t.split(" ").sliding(n).filter(_.length == n).map(_.mkString(" ")).toSet
    for (pct <- Seq(60, 80, 100); n <- Seq(2, 3)) {
      val want = (for {
        (a, ta) <- corpus; (b, tb) <- corpus if a != b
        sa = shingles(ta, n); sb = shingles(tb, n)
        if sa.nonEmpty
        inter = sa.intersect(sb).size
        if inter * 100 >= sa.size * pct
      } yield (a, b, inter.toLong, sa.size.toLong)).toSet
      val got = Dedup.containmentPairsShingled(docs, pct, n)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
      assert(got === want, s"threshold $pct n $n")
    }
  }

  test("containmentPairs is directed: a small doc inside a big one " +
      "qualifies one way only") {
    val d = Seq(
      (1L, "alpha beta gamma"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
      .toDF("doc_id", "text")
    val got = Dedup.containmentPairs(d, 100)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got === Set((1L, 2L))) // 1 ⊆ 2, not 2 ⊆ 1
  }

  test("minHashLshPairsBipartite: new-vs-corpus pairs equal brute force, " +
      "corpus never pairs with itself") {
    val newDocs = docs.where($"doc_id" % 2 === 0)
    val corpus = docs.where($"doc_id" % 2 =!= 0)
    val got = Dedup.minHashLshPairsBipartite(newDocs, corpus, 80)
      .select("new_id", "corpus_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sets = this.corpus.map { case (id, t) => id -> t.split(" ").toSet }
    val want = (for {
      (a, sa) <- sets if a % 2 == 0
      (b, sb) <- sets if b % 2 != 0
      inter = sa.intersect(sb).size; union = sa.union(sb).size
      if inter * 100 >= union * 80
    } yield (a, b)).toSet
    assert(got === want)
    assert(want.nonEmpty) // docs 5/6 are identical and split across sides
    assert(got.forall { case (n, c) => n % 2 == 0 && c % 2 != 0 })
  }

  test("incrementalDropList: corpus protected, keeper is the min corpus " +
      "member else the component minimum") {
    val corpus = Seq(
      (101L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (103L, "the quick brown fox jumps over the lazy dog"),
      (104L, "totally unrelated corpus content sits here quietly"))
      .toDF("doc_id", "text")
    val incoming = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // dup of 103
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // 101
      (3L, "brand new content thing with no close twin at all"),
      (7L, "twin pair content shared exactly between new docs"),
      (8L, "twin pair content shared exactly between new docs")) // dup of 7
      .toDF("doc_id", "text")
    val got = Dedup.incrementalDropList(incoming, corpus, 90)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // 1 and 2 drop in favor of their corpus twins (corpus never drops);
    // 8 drops in favor of surviving new doc 7; 3 survives untouched
    assert(got === Set((1L, 103L), (2L, 101L), (8L, 7L)))
  }

  test("hammingNearPairs equals brute-force all-pairs Hamming <= 3") {
    val rnd = new scala.util.Random(7)
    // cluster structure: base signatures plus <=3-bit perturbations, so
    // true near pairs exist; plus uniform noise
    val base = Seq.fill(6)(rnd.nextLong())
    val sigs = (0 until 60).map { i =>
      val b = base(i % base.length)
      val flips = rnd.nextInt(4)
      val sig = (0 until flips).foldLeft(b)((s, _) => s ^ (1L << rnd.nextInt(64)))
      (i.toLong, sig)
    } ++ (60 until 100).map(i => (i.toLong, rnd.nextLong()))
    val df = sigs.toDF("id", "sig")
    val got = Dedup.hammingNearPairs(df, "id", "sig", 3)
      .select("a_id", "b_id", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val want = (for {
      (a, sa) <- sigs; (b, sb) <- sigs if a < b
      h = java.lang.Long.bitCount(sa ^ sb) if h <= 3
    } yield (a, b, h)).toSet
    assert(got === want)
    assert(want.nonEmpty) // the corpus genuinely exercises the join
  }

  test("editDistancePairs equals brute-force Levenshtein <= k") {
    // planted typo families (substitution, insertion, deletion) plus
    // unrelated strings; long enough for the 3-gram signature floor
    val rows = Seq(
      (1L, "jonathan smithers"),
      (2L, "jonathan smithers"),  // exact dup -> dist 0
      (3L, "jonathon smithers"),  // substitution -> dist 1
      (4L, "jonathan smitherss"), // insertion -> dist 1
      (5L, "jonathan smither"),   // deletion -> dist 1
      (6L, "veronica albright"),
      (7L, "veronika albright"),  // substitution -> dist 1
      (8L, "completely unrelated"),
      (9L, "another distinct name"))
    val df = rows.toDF("id", "name")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (k <- Seq(1, 2)) {
      val got = Dedup.editDistancePairs(df, "id", "name", maxDist = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val want = (for {
        (a, sa) <- rows; (b, sb) <- rows if a < b
        d = lev(sa, sb) if d <= k
      } yield (a, b, d.toLong)).toSet
      assert(got === want, s"k=$k")
      assert(want.nonEmpty)
    }
  }

  test("editDistancePairsBipartite equals brute force, never master x master") {
    val master = Seq(
      (101L, "jonathan smithers"),
      (102L, "veronica albright"),
      (103L, "completely unrelated")).toDF("id", "name")
    val incoming = Seq(
      (1L, "jonathon smithers"),  // dist 1 to 101
      (2L, "veronica albright"),  // dist 0 to 102
      (3L, "veronika albrights"), // dist 2 to 102
      (4L, "brand new person")).toDF("id", "name")
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0
      }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    for (k <- Seq(1, 2)) {
      val got = Dedup.editDistancePairsBipartite(incoming, master,
          "id", "name", maxDist = k)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSet
      val mRows = Seq((101L, "jonathan smithers"),
        (102L, "veronica albright"), (103L, "completely unrelated"))
      val nRows = Seq((1L, "jonathon smithers"), (2L, "veronica albright"),
        (3L, "veronika albrights"), (4L, "brand new person"))
      val want = (for {
        (n, sn) <- nRows; (m, sm) <- mRows
        d = lev(sn, sm) if d <= k
      } yield (n, m, d.toLong)).toSet
      assert(got === want, s"k=$k")
      assert(want.nonEmpty)
      // outputs pair new against master only
      got.foreach { case (n, m, _) =>
        assert(n < 100L && m >= 100L)
      }
    }
  }

  test("editDistancePairs: below the gram floor fails loudly in-pass") {
    val df = Seq((1L, "abc"), (2L, "abd")).toDF("id", "name")
    // 3 chars -> ONE distinct 3-gram < maxDist*q+1 = 4; the raise_error
    // guard fires inside the job (no pre-flight count pass)
    val e = intercept[Exception] {
      Dedup.editDistancePairs(df, "id", "name", maxDist = 1).collect()
    }
    val messages = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(messages.contains("soundness floor"))
  }

  test("editDistancePairs: null strings flow through without tripping the guard") {
    // the in-pass soundness guard must not raise on NULL text (the old
    // pre-flight count never counted nulls); null rows produce no grams
    // and so no pairs, and the valid rows still link
    val df = Seq((1L, "jonathan smithers"), (2L, "jonathon smithers"),
      (3L, null.asInstanceOf[String])).toDF("id", "name")
    val got = Dedup.editDistancePairs(df, "id", "name", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set((1L, 2L, 1L)))
    val master = Seq((101L, "jonathan smithers"),
      (102L, null.asInstanceOf[String])).toDF("id", "name")
    val incoming = Seq((1L, "jonathon smithers"),
      (2L, null.asInstanceOf[String])).toDF("id", "name")
    val bi = Dedup.editDistancePairsBipartite(incoming, master,
        "id", "name", maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(bi === Set((1L, 101L, 1L)))
  }

  test("lshPlan: S-curve over the factorizations, monotone in bands") {
    val rows = Dedup.lshPlan(spark, numHashes = 128, thresholdPct = 85)
      .orderBy("bands")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.map(_._1).toSeq ===
      Seq(1L, 2L, 4L, 8L, 16L, 32L, 64L, 128L))
    rows.foreach { case (b, r, _) => assert(b * r === 128L) }
    // capture probability rises with more (shorter) bands
    assert(rows.map(_._3).toSeq === rows.map(_._3).toSeq.sorted)
    // closed-form endpoints: one 128-row band is hopeless (p = t^128 ~
    // 4e-10), 128 single-row bands are near-certain
    assert(rows.head._3 === 0L)
    assert(rows.last._3 >= 9999L)
  }

  test("lshRecommend picks the fewest bands reaching the target") {
    val rec = Dedup.lshRecommend(spark, 128, 85, targetBp = 9000)
      .collect()
    assert(rec.length === 1)
    val bands = rec.head.getLong(0)
    assert(rec.head.getLong(2) >= 9000L)
    // every cheaper split must miss the target
    val all = Dedup.lshPlan(spark, 128, 85).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toMap
    all.keys.filter(_ < bands).foreach(b => assert(all(b) < 9000L))
    // unreachable target -> empty, not a wrong plan (4 hashes at t=0.1:
    // best split captures 1-(0.9)^4 ~ 34%)
    assert(Dedup.lshRecommend(spark, 4, 10, targetBp = 9000).isEmpty)
  }

  test("removeBoilerplate strips cross-doc common lines, keeps order") {
    // 'shared header' in all 4 docs, 'nav bar' in 3; unique bodies stay.
    // doc 4 is ALL boilerplate; doc 3 repeats the header twice (both
    // instances must drop and both count in n_dropped).
    val docs = Seq(
      (1L, "shared header\nunique body one\nnav bar"),
      (2L, "shared header\nnav bar\nunique body two"),
      (3L, "shared header\nunique body three\nshared header\nnav bar"),
      (4L, "shared header")).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplate(docs, "\n", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got === Map(
      1L -> ((3L, 2L, "unique body one")),
      2L -> ((3L, 2L, "unique body two")),
      3L -> ((4L, 3L, "unique body three")),
      4L -> ((1L, 1L, ""))))
  }

  test("removeBoilerplate: within-doc repeats below minDocs survive") {
    // 'solo line' repeats inside doc 1 only — ONE distinct doc, so it
    // is not boilerplate at minDocs=2 and both instances survive
    val docs = Seq(
      (1L, "solo line\nmiddle\nsolo line"),
      (2L, "other content\nmore other")).toDF("doc_id", "text")
    val got = Dedup.removeBoilerplate(docs, "\n", minDocs = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got === Map(
      1L -> ((3L, 0L, "solo line\nmiddle\nsolo line")),
      2L -> ((2L, 0L, "other content\nmore other"))))
  }

  test("incremental line counts: disjoint-batch merge equals one-shot") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      (1L, "header\nbody one"),
      (2L, "header\nbody two"),
      (3L, "header\nbody three"),
      (4L, "header\nbody four")).toDF("doc_id", "text")
    val a = docs.where(col("doc_id") <= 2)
    val b = docs.where(col("doc_id") > 2)
    val merged = Dedup.mergeLineCounts(
        Dedup.lineDocCounts(a, "\n"), Dedup.lineDocCounts(b, "\n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val oneShot = Dedup.lineDocCounts(docs, "\n")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(merged === oneShot)
    // stripping against the merged state reproduces the batch operator
    val viaState = Dedup.removeBoilerplateWith(docs,
        Dedup.mergeLineCounts(Dedup.lineDocCounts(a, "\n"),
          Dedup.lineDocCounts(b, "\n"))
          .where(col("line_docs") >= 3), "\n")
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    val batch = Dedup.removeBoilerplate(docs, "\n", minDocs = 3)
      .collect().map(r => (r.getLong(0), r.getString(3))).toMap
    assert(viaState === batch)
    assert(batch(1L) === "body one") // header really dropped
  }

  test("commonLines counts distinct docs, not instances") {
    val docs = Seq(
      (1L, "dup\ndup\ndup"), // 3 instances, 1 doc
      (2L, "dup\nx"),
      (3L, "y\nz")).toDF("doc_id", "text")
    val got = Dedup.commonLines(docs, "\n", minDocs = 2)
      .collect().map(r => r.getLong(1))
    // only 'dup' clears 2 distinct docs (docs 1 and 2)
    assert(got.toSeq === Seq(2L))
  }

  test("keepBest keeps the highest score per component, min-id on ties") {
    // components: {1,2,3} (chain), {10,11}, singletons 20, 21
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val scored = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 4L), (11L, 4L),
      (20L, 1L), (21L, 0L)).toDF("doc_id", "n_chars")
    val got = Dedup.keepBest(scored, "n_chars", pairs)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3))))
      .toMap
    // chain: 2 and 3 tie at 9 -> smaller id 2 wins; 10/11 tie -> 10
    assert(got === Map(
      1L -> ((1L, 0L)), 2L -> ((1L, 1L)), 3L -> ((1L, 0L)),
      10L -> ((10L, 1L)), 11L -> ((10L, 0L)),
      20L -> ((20L, 1L)), 21L -> ((21L, 1L))))
  }
  test("sortedNeighborPairs pairs only within the rank window inside a " +
      "block and verifies exact distance") {
    import org.apache.spark.sql.functions.{col, substring}
    // block A sorted: a01 a02 a03 a99; window 1 → (a01,a02), (a02,a03)
    // adjacent; a99 adjacent to a03 but distance 2 fails maxDist 1;
    // block B's b01 never pairs across the block boundary with a01
    val df = Seq(
      (1L, "a01"), (2L, "a02"), (3L, "a03"), (4L, "a99"), (5L, "b01"))
      .toDF("id", "s")
      .withColumn("bk", substring(col("s"), 1, 1))
    val got = Dedup.sortedNeighborPairs(df, "id", "s", "bk",
        window = 1, maxDist = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === Set((1L, 2L, 1L), (2L, 3L, 1L)))
    // window 2 also reaches (a01,a03); a99 stays out (dist 2)
    val wide = Dedup.sortedNeighborPairs(df, "id", "s", "bk", 2, 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide === Set((1L, 2L), (2L, 3L), (1L, 3L)))
    // raising maxDist admits the far neighbor
    val loose = Dedup.sortedNeighborPairs(df, "id", "s", "bk", 1, 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(loose === Set((1L, 2L), (2L, 3L), (3L, 4L)))
  }
  test("sortedNeighborPairs plan audit: block-keyed sort, never a " +
      "single-partition global window") {
    import org.apache.spark.sql.functions.{col, substring}
    val df = (1L to 50L).map(i => (i, f"s$i%04d")).toDF("id", "s")
      .withColumn("bk", substring(col("s"), 1, 3))
    val plan = Dedup.sortedNeighborPairs(df, "id", "s", "bk", 2, 1)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      s"global exchange in:\n$plan")
    assert(!plan.contains("CartesianProduct"))
  }
  test("removeDuplicateSpans plan audit: the corpus text relation is " +
      "never sort-merge-joined against the drop-index aggregate") {
    val df = (1L to 40L).map(i =>
      (i, if (i % 4 == 0) "a b c d e f g h i j" else s"u$i v$i w$i x$i y$i z$i q$i r$i"))
      .toDF("doc_id", "text")
    val plan = Dedup.removeDuplicateSpans(df, n = 8)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-sorting join in:\n$plan")
  }

  test("goldenRecords survives the latest NON-NULL value per field " +
      "and never lets a newer null erase an older value") {
    val rows = Seq(
      // entity 1: ts 3 is newest but has no phone → phone from ts 2;
      // name from ts 3
      (1L, 1L, Some("ann"), Some("111")),
      (1L, 2L, Some("anne"), Some("222")),
      (1L, 3L, Some("anna"), None),
      // entity 2: phone null everywhere → stays null
      (2L, 1L, Some("bob"), None),
      (2L, 2L, None, None))
      .toDF("entity", "ts", "name", "phone")
    val got = Dedup.goldenRecords(rows, "entity", Seq("ts"),
        Seq("name", "phone"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .toSet
    assert(got === Set((1L, "anna", "222"), (2L, "bob", null)))
    // recency tiebreak: equal ts falls to the next order column
    val tied = Seq((9L, 5L, 1L, Some("x")), (9L, 5L, 2L, Some("y")))
      .toDF("entity", "ts", "seq", "v")
    assert(Dedup.goldenRecords(tied, "entity", Seq("ts", "seq"),
        Seq("v")).collect()(0).getString(1) === "y")
  }
}
