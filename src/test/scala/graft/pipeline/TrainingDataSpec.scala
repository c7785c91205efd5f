package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class TrainingDataSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = (0L until 1000L)
    .map(i => (i, Seq.fill((i % 37 + 1).toInt)("tok").mkString(" "),
      s"src${i % 5}"))
    .toDF("doc_id", "text", "source")

  test("hashSplit: total cover, rough 80/10/10, pure function of id") {
    val r = TrainingData.hashSplit(docs, "doc_id")
    val counts = r.groupBy("split").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(counts.values.sum === 1000L)
    assert(counts("train") > 700 && counts("train") < 900)
    assert(counts("val") > 50 && counts("val") < 180)
    assert(counts("test") > 50 && counts("test") < 180)
    // membership depends only on the id: a second run and a shuffled
    // input produce the identical assignment
    val again = TrainingData.hashSplit(docs.repartition(13), "doc_id")
      .select("doc_id", "split").collect().map(x => x.getLong(0) -> x.getString(1)).toMap
    r.select("doc_id", "split").collect()
      .foreach(x => assert(again(x.getLong(0)) === x.getString(1)))
  }

  test("groupAwareSplit: clusters move as a unit, singletons = hashSplit") {
    val ids = (0L until 50L).map(Tuple1(_)).toDF("doc_id")
    // chain 1-2-3 is ONE component (closure over non-transitive pairs);
    // 10-11 a second; everything else singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val r = TrainingData.groupAwareSplit(ids, pairs).collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getString(2))).toMap
    assert(Seq(1L, 2L, 3L).map(r(_)._1).distinct === Seq(1L))
    assert(Seq(1L, 2L, 3L).map(r(_)._2).distinct.size === 1)
    assert(r(10L) === r(11L))
    // cluster split = the REPRESENTATIVE's hashSplit outcome
    val base = TrainingData.hashSplit(ids, "doc_id").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r(3L)._2 === base(1L))
    assert(r(11L)._2 === base(10L))
    // docs in no pair keep their own id and exact hashSplit assignment
    (0L until 50L).filterNot(Set(1L, 2L, 3L, 10L, 11L)).foreach { i =>
      assert(r(i) === ((i, base(i))))
    }
    // no near-dup pair ever straddles a split boundary
    Seq((1L, 2L), (2L, 3L), (10L, 11L)).foreach { case (a, b) =>
      assert(r(a)._2 === r(b)._2)
    }
  }

  test("kFolds: total cover, balanced, repartition-stable, seed-sensitive") {
    val r = TrainingData.kFolds(docs, "doc_id", folds = 5, seed = 3)
    val counts = r.groupBy("fold").count().collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(counts.keySet === Set(0L, 1L, 2L, 3L, 4L))
    assert(counts.values.sum === 1000L)
    // hash balance: each fold within ±40% of the expected 200
    assert(counts.values.forall(c => c > 120 && c < 280))
    // pure function of (seed, id): repartitioned input assigns identically
    val again = TrainingData.kFolds(docs.repartition(13), "doc_id", 5, 3)
      .select("doc_id", "fold").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    r.select("doc_id", "fold").collect()
      .foreach(x => assert(again(x.getLong(0)) === x.getLong(1)))
    // a different seed re-draws the assignment
    val other = TrainingData.kFolds(docs, "doc_id", 5, 4)
      .select("doc_id", "fold").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(r.select("doc_id", "fold").collect()
      .count(x => other(x.getLong(0)) != x.getLong(1)) > 500)
  }

  test("perGroupCap: cap respected, deterministic, subset of input") {
    val r = TrainingData.perGroupCap(docs, "source", "doc_id", cap = 30)
    val per = r.groupBy("source").count().collect().map(_.getLong(1))
    assert(per.forall(_ === 30L)) // every source has 200 docs, capped to 30
    val ids = r.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf((0L until 1000L).toSet))
    val again = TrainingData.perGroupCap(docs.repartition(7), "source",
      "doc_id", cap = 30).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(again === ids)
  }

  test("packSequences matches a sequential reference layout") {
    val budget = 64
    val shards = 4
    val got = TrainingData.packSequences(docs, "doc_id",
        size(TextAnalysis.tokens(col("text"))), budget, shards)
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // reference: per shard, docs in id order, running start offset
    val nTok = (0L until 1000L).map(i => i -> (i % 37 + 1)).toMap
    val expect = scala.collection.mutable.Map[Long, (Long, Long, Long)]()
    for (sh <- 0L until shards.toLong) {
      var cum = 0L
      for (id <- sh until 1000L by shards.toLong) {
        expect(id) = (sh, cum / budget, cum % budget)
        cum += nTok(id)
      }
    }
    assert(got.size === 1000)
    got.foreach { case (id, v) => assert(v === expect(id), s"doc $id") }
  }

  test("packSequences: offsets within budget and monotone within a sequence") {
    val r = TrainingData.packSequences(docs, "doc_id",
      size(TextAnalysis.tokens(col("text"))), budget = 128, shards = 2)
    assert(r.where(col("seq_offset") < 0 || col("seq_offset") >= 128).count() === 0)
    val bySeq = r.collect().groupBy(x => (x.getLong(1), x.getLong(2)))
    bySeq.values.foreach { rows =>
      val sorted = rows.sortBy(_.getLong(0)).map(_.getLong(3)).toSeq
      assert(sorted == sorted.sorted)
    }
  }

  test("chunk: sliding windows cover every token; tail may be short") {
    val d = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" ")), (2L, "only"))
      .toDF("doc_id", "text")
    val r = TrainingData.chunk(d, "doc_id", "text", windowTokens = 4, stride = 2)
      .orderBy("doc_id", "chunk_id").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getString(2), x.getLong(3)))
    assert(r.toSeq === Seq(
      (1L, 0L, "t1 t2 t3 t4", 4L), (1L, 1L, "t3 t4 t5 t6", 4L),
      (1L, 2L, "t5 t6 t7 t8", 4L), (1L, 3L, "t7 t8 t9 t10", 4L),
      (1L, 4L, "t9 t10", 2L),
      (2L, 0L, "only", 1L)))
  }

  test("shuffleShards: stable under repartition, seed-sensitive, balanced") {
    val r = TrainingData.shuffleShards(docs, "doc_id", seed = 7, numShards = 8)
      .select("doc_id", "shard", "sort_key").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getString(2))).toMap
    // total cover, shards in range
    assert(r.size === 1000)
    assert(r.values.forall { case (sh, _) => sh >= 0 && sh < 8 })
    // hash-balanced: no shard dominates (1000 rows / 8 shards ≈ 125)
    val counts = r.values.groupBy(_._1).view.mapValues(_.size).toMap
    assert(counts.size === 8)
    assert(counts.values.forall(c => c > 60 && c < 190), counts.toString)
    // pure function of (seed, id): identical under repartition
    val again = TrainingData
      .shuffleShards(docs.repartition(13), "doc_id", seed = 7, numShards = 8)
      .select("doc_id", "shard", "sort_key").collect()
      .map(x => x.getLong(0) -> (x.getLong(1), x.getString(2))).toMap
    assert(again === r)
    // a different seed reshuffles: the induced order must differ
    val other = TrainingData.shuffleShards(docs, "doc_id", seed = 8, numShards = 8)
      .select("doc_id", "sort_key").collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    val order7 = r.toSeq.sortBy(_._2._2).map(_._1)
    val order8 = other.toSeq.sortBy(_._2).map(_._1)
    assert(order7 !== order8)
    // shuffled: the sort-key order decorrelates from id order (no long
    // monotone run of ids at the head)
    assert(order7.take(20) !== order7.take(20).sorted)
  }

  test("mixtureSample: deterministic, per-group rates, unlisted kept whole") {
    val d = (0L until 2000L).map(i => (i, s"g${i % 4}")).toDF("doc_id", "grp")
    val sampled = TrainingData.mixtureSample(d, "grp", "doc_id",
      Map("g0" -> 64, "g1" -> 0, "g2" -> 255))
    val again = TrainingData.mixtureSample(d, "grp", "doc_id",
      Map("g0" -> 64, "g1" -> 0, "g2" -> 255))
    assert(sampled.collect().map(_.getLong(0)).sorted.toSeq ===
      again.collect().map(_.getLong(0)).sorted.toSeq) // pure function of id
    val byGrp = sampled.groupBy("grp").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byGrp.getOrElse("g1", 0L) === 0L)          // weight 0 drops all
    assert(byGrp("g3") === 500L)                      // unlisted kept whole
    val g0 = byGrp("g0").toDouble / 500               // ≈ 64/256 = 25%
    assert(g0 > 0.15 && g0 < 0.35, s"g0 rate $g0")
    val g2 = byGrp("g2").toDouble / 500               // ≈ 255/256
    assert(g2 > 0.95, s"g2 rate $g2")
  }

  test("degreeWeightedSample: zeros pass whole, clusters thin per the md5 rule") {
    val degrees = Seq(
      (0L, 0L), (1L, 0L), (2L, 3L), (3L, 3L), (4L, 3L), (5L, 3L),
      (6L, 255L), (7L, 300L))
      .toDF("doc_id", "n_dups")
    val ids = degrees.select("doc_id")
    val kept = graft.pipeline.TrainingData
      .degreeWeightedSample(ids, degrees)
      .collect().map(_.getLong(0)).toSet
    // degree-0 docs ALWAYS survive (even when their bucket is 'ff')
    assert(kept.contains(0L) && kept.contains(1L))
    // the rule is the exact md5-bucket comparison, reproduced in-JVM
    def bucket(id: Long): String = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"dw:$id".getBytes("UTF-8"))
      f"${md(0) & 0xff}%02x"
    }
    for (id <- 2L to 5L) // degree 3 -> threshold 256/4 = 64 -> "40"
      assert(kept.contains(id) === (bucket(id) < "40"), s"doc $id")
    // degree >= 255 floors the keep probability to (near) zero
    assert(kept.contains(6L) === (bucket(6L) < "01"))
    assert(!kept.contains(7L)) // 256 // 301 = 0 -> threshold "00"
    // deterministic: a second evaluation is identical
    val again = graft.pipeline.TrainingData
      .degreeWeightedSample(ids, degrees)
      .collect().map(_.getLong(0)).toSet
    assert(again === kept)
  }

  test("ngramFingerprints: short docs yield EMPTY, not a descending range") {
    val d = Seq((1L, "a b"), (2L, "a b c"), (3L, "a b c d"))
      .toDF("doc_id", "text")
    val r = d.select(org.apache.spark.sql.functions.size(
        TrainingData.ngramFingerprints(
          org.apache.spark.sql.functions.col("text"), 3)).as("n"))
      .orderBy("n").collect().map(_.getInt(0)).toSeq
    assert(r === Seq(0, 1, 2))
  }

  test("removeContaminatedSpans plan audit: the corpus text relation " +
      "is never sort-merge-joined against the drop-index aggregate") {
    val train = (1L to 40L).map(i =>
      (i, if (i % 4 == 0) "a b c m" else s"u$i v$i w$i x$i"))
      .toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val plan = TrainingData
      .removeContaminatedSpans(train, bench, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"),
      s"corpus-sorting join in:\n$plan")
  }

  test("decontaminate matches a brute-force n-gram intersection") {
    val train = Seq(
      (1L, "x y z w q"),          // shares 3-grams "b c d" ? no — control
      (2L, "a b c d zz"),         // shares "a b c" and "b c d"
      (3L, "c d e unrelated t"),  // shares "c d e"
      (4L, "a b x c d y")).toDF("doc_id", "text") // no shared 3-gram
    val bench = Seq((100L, "a b c d e")).toDF("doc_id", "text")
    val got = TrainingData.decontaminate(train, bench, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    // bench 3-grams: {a b c, b c d, c d e}
    assert(got === Seq((2L, 2L), (3L, 1L)))
  }

  test("decontaminate counts DISTINCT shared n-grams once per doc") {
    val train = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val bench = Seq((9L, "b a b")).toDF("doc_id", "text")
    // train 3-grams {a b a, b a b} (each occurring twice); bench {b a b}
    val got = TrainingData.decontaminate(train, bench, "doc_id", "text", 3)
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq((1L, 1L)))
  }

  test("decontaminateBloom ≡ decontaminate on a mixed fixture, and the " +
      "exact-verify join kills false positives even at a deliberately " +
      "saturated 1-bit-per-gram filter") {
    val rnd = new scala.util.Random(43)
    val words = Array("alpha", "beta", "gamma", "delta", "eps", "zeta",
      "eta", "theta", "iota", "kappa")
    val train = (1L to 120L).map { i =>
      val body = Seq.fill(8)(words(rnd.nextInt(words.length))).mkString(" ")
      (i, if (i % 5 == 0) s"$body leak one two three tail" else body)
    }.toDF("doc_id", "text")
    val bench = Seq((900L, "leak one two three"),
      (901L, "alpha beta gamma")).toDF("doc_id", "text")
    val expected = TrainingData
      .decontaminate(train, bench, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    val got = TrainingData
      .decontaminateBloom(train, bench, "doc_id", "text", 3)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(got === expected)
    // 1 bit/gram, 1 hash: the filter flags nearly everything — the
    // verification join must still produce the exact result
    val saturated = TrainingData
      .decontaminateBloom(train, bench, "doc_id", "text", 3,
        bitsPerGram = 1, numHashes = 1)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(saturated === expected)
  }

  test("decontaminateBloom plans the probe as a scan-side codegen " +
      "filter (the gram relation is never broadcast to the train scan)") {
    val train = Seq((1L, "a b c d zz"), (2L, "u v w x")).toDF("doc_id", "text")
    val bench = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    val plan = TrainingData
      .decontaminateBloom(train, bench, "doc_id", "text", 3)
      .queryExecution.executedPlan.toString
    // the probe is a StaticInvoke in a Filter under the train scan —
    // its presence (it exists nowhere else) plus the absence of a
    // broadcast under that filter is the shape the 100 TB claim needs
    assert(plan.contains("bloomHit"), s"bloom probe missing from:\n$plan")
  }

  test("bloom kernel: inserted hashes always hit (no false negatives); " +
      "a sized filter keeps the false-positive rate near theory") {
    import graft.functions.Kernels
    val rnd = new scala.util.Random(7)
    val inserted = Array.fill(10000)(rnd.nextLong())
    val words = new Array[Long](((10000L * 16 + 63) >>> 6).toInt)
    inserted.foreach(h => Kernels.bloomSet(words, 7, h))
    val bits = org.apache.spark.sql.catalyst.util.ArrayData
      .toArrayData(words)
    assert(inserted.forall(h => Kernels.bloomHit(bits, 7, h)),
      "a Bloom filter must never produce a false negative")
    val insertedSet = inserted.toSet
    val probes = Array.fill(20000)(rnd.nextLong())
      .filterNot(insertedSet.contains)
    val fp = probes.count(h => Kernels.bloomHit(bits, 7, h))
    // theory at 16 bits/elem, k=7: ~0.046% — allow an order of margin
    assert(fp.toDouble / probes.length < 0.005,
      s"fp rate ${fp.toDouble / probes.length} far above theory")
  }

  // ------------------------------------------------- weighted sampling

  test("weightedSample: deterministic under repartitioning, k rows, subset") {
    val docs = (0 until 400).map(i => (i.toLong, (i % 37) + 1)).toDF("id", "w")
    val a = TrainingData.weightedSample(docs.repartition(3), "id", "w", 50)
      .collect().map(_.getLong(0)).sorted.toSeq
    val b = TrainingData.weightedSample(docs.repartition(19), "id", "w", 50)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b)
    assert(a.length === 50)
    assert(a.forall(id => id >= 0 && id < 400))
  }

  test("weightedSample: non-positive weights fail loudly, never corrupt " +
      "the sample") {
    val docs = ((0 until 10).map(i => (i.toLong, 1.0)) :+ (99L, -2.0))
      .toDF("id", "w")
    val e = intercept[Exception] {
      TrainingData.weightedSample(docs, "id", "w", 5).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("requires w > 0")))
    val zero = ((0 until 10).map(i => (i.toLong, 1.0)) :+ (99L, 0.0))
      .toDF("id", "w")
    val ez = intercept[Exception] {
      TrainingData.weightedSample(zero, "id", "w", 5).collect()
    }
    assert(msgs(ez).exists(_.contains("requires w > 0")))
  }

  test("weightedSample: an overwhelming weight is always drawn") {
    val docs = ((0 until 200).map(i => (i.toLong, 1.0)) :+ (999L, 1e12))
      .toDF("id", "w")
    val got = TrainingData.weightedSample(docs, "id", "w", 5)
      .collect().map(_.getLong(0)).toSet
    assert(got.contains(999L))
  }

  test("weightedSample: equal weights reduce to the pure md5 race order") {
    val docs = (0 until 100).map(i => (i.toLong, 7.0)).toDF("id", "w")
    val got = TrainingData.weightedSample(docs, "id", "w", 10)
      .collect().map(_.getLong(0)).toSet
    // with equal weights the k smallest -ln(u)/w are the k LARGEST u
    // (-ln is decreasing), i.e. the k largest md5 buckets -- compute them
    val md = java.security.MessageDigest.getInstance("MD5")
    val expect = (0 until 100).map { i =>
      val h = md.digest(s"ws:$i".getBytes("UTF-8"))
        .take(3).map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(h, 16), i.toLong)
    }.sortBy(t => (-t._1, t._2)).take(10).map(_._2).toSet
    assert(got === expect)
  }

  test("weightedSample: different seeds draw different samples") {
    val docs = (0 until 300).map(i => (i.toLong, 1.0)).toDF("id", "w")
    val s1 = TrainingData.weightedSample(docs, "id", "w", 30, seed = "s1")
      .collect().map(_.getLong(0)).toSet
    val s2 = TrainingData.weightedSample(docs, "id", "w", 30, seed = "s2")
      .collect().map(_.getLong(0)).toSet
    assert(s1 !== s2)
  }

  // ------------------------------------------- temperature mixture

  test("temperatureMixture: small sources keep a HIGHER rate, mass ~ sqrt") {
    // 40 docs in 'big', 10 in 'small'
    val docs = ((0 until 40).map(i => (i.toLong, "big")) ++
      (100 until 110).map(i => (i.toLong, "small"))).toDF("id", "src")
    val kept = TrainingData.temperatureMixture(docs, "src", "id", 0.6)
      .collect().map(r => (r.getLong(1), r.getString(0)))
    // thresholds: Z = sqrt(40)+sqrt(10); t_s = floor(256*.6*50*sqrt(n)/Z/n)
    val z = math.sqrt(40.0) + math.sqrt(10.0)
    def t(n: Int) = math.min(256.0, math.floor(256.0 * 0.6 * 50.0 * math.sqrt(n.toDouble) / z / n))
    assert(t(10) > t(40)) // smaller source, higher keep rate
    // exact membership via the same md5-bucket rule
    val md = java.security.MessageDigest.getInstance("MD5")
    def bucket(id: Long) = java.lang.Integer.parseInt(
      md.digest(s"tmix:$id".getBytes("UTF-8")).take(1).map("%02x".format(_)).mkString, 16)
    val expect = ((0 until 40).filter(i => bucket(i) < t(40)).map(i => (i.toLong, "big")) ++
      (100 until 110).filter(i => bucket(i) < t(10)).map(i => (i.toLong, "small"))).toSet
    assert(kept.toSet === expect)
  }

  test("temperatureMixture: deterministic under repartitioning") {
    val docs = (0 until 300).map(i => (i.toLong, s"s${i % 3}")).toDF("id", "src")
    val a = TrainingData.temperatureMixture(docs.repartition(4), "src", "id", 0.3)
      .collect().map(_.getLong(1)).sorted.toSeq
    val b = TrainingData.temperatureMixture(docs.repartition(23), "src", "id", 0.3)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(a === b)
  }

  // ------------------------------------------- exact-n sampling

  test("exactSample: exact size, repartition-stable, seed re-draws") {
    val a = TrainingData.exactSample(docs, "doc_id", 50, seed = 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a.length === 50)
    val b = TrainingData.exactSample(docs.repartition(17), "doc_id", 50, 1)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(a === b)
    val c = TrainingData.exactSample(docs, "doc_id", 50, seed = 2)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(c !== a) // a different seed draws a different sample
    // n >= |df| returns everything; the plan is a bounded top-n
    assert(TrainingData.exactSample(docs, "doc_id", 5000, 1).count() === 1000L)
    val plan = TrainingData.exactSample(docs, "doc_id", 50, 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  // ------------------------------------------- stratified sampling

  test("stratifiedSample: exact quota per group, short groups kept whole") {
    // docs: 1000 rows over 5 sources (200 each); add a tiny 2-row group
    val withTiny = docs.union(
      Seq((2000L, "t t", "tiny"), (2001L, "t", "tiny"))
        .toDF("doc_id", "text", "source"))
    val quotas = Seq(("src0", 7), ("src1", 3), ("src2", 0), ("src3", 5),
      ("src4", 1), ("tiny", 10)).toDF("source", "n")
    val r = TrainingData.stratifiedSample(withTiny, "source", "doc_id",
        quotas, seed = 4)
      .groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(r.getOrElse("src0", 0L) === 7L)
    assert(r.getOrElse("src1", 0L) === 3L)
    assert(r.getOrElse("src2", 0L) === 0L) // zero quota -> no rows
    assert(r.getOrElse("src3", 0L) === 5L)
    assert(r.getOrElse("src4", 0L) === 1L)
    assert(r.getOrElse("tiny", 0L) === 2L) // quota beyond size -> whole group
  }

  test("stratifiedSample: deterministic under repartitioning") {
    val quotas = Seq(("src0", 5), ("src1", 5), ("src2", 5), ("src3", 5),
      ("src4", 5)).toDF("source", "n")
    def ids(parts: Int) = TrainingData.stratifiedSample(
        docs.repartition(parts), "source", "doc_id", quotas, seed = 4)
      .select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(3) === ids(19))
  }

  // ------------------------------------------- repeat materialization

  test("repeatSample: whole epochs exact, fractional epochs ~proportional") {
    val epochs = Seq(("src0", 200L), ("src1", 100L), ("src2", 50L),
      ("src3", 0L), ("src4", 150L)).toDF("source", "epochs_x100")
    val r = TrainingData.repeatSample(docs, "source", "doc_id", epochs, 11L)
    val bySrc = r.groupBy("source").count().collect()
      .map(x => x.getString(0) -> x.getLong(1)).toMap
    assert(bySrc("src0") === 400L) // 200 rows × exactly 2
    assert(bySrc("src1") === 200L) // exactly 1 copy each
    assert(bySrc.getOrElse("src3", 0L) === 0L) // zero epochs -> dropped
    // ~50% and ~150%: race-quantized, within ±15% of expectation
    assert(math.abs(bySrc("src2") - 100L) <= 30L)
    assert(math.abs(bySrc("src4") - 300L) <= 30L)
    // copy indices are dense 0..n-1 per row
    val copies = r.where($"source" === "src0").groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.collect_list("copy").as("cs"))
      .collect()
    copies.foreach(x =>
      assert(x.getSeq[Int](1).sorted === Seq(0, 1)))
  }

  test("repeatSample: deterministic under repartitioning") {
    val epochs = Seq(("src0", 130L), ("src1", 130L), ("src2", 130L),
      ("src3", 130L), ("src4", 130L)).toDF("source", "epochs_x100")
    def sig(parts: Int) = TrainingData.repeatSample(
        docs.repartition(parts), "source", "doc_id", epochs, 7L)
      .select("doc_id", "copy").collect()
      .map(x => (x.getLong(0), x.getInt(1))).sorted.toSeq
    assert(sig(2) === sig(31))
  }

  // ------------------------------------------- mixture budget planning

  private def plan(rows: Seq[(String, Long, Long)], b: Long, e: Long) =
    TrainingData.mixtureBudget(rows.toDF("source", "n_tokens", "weight"), b, e)
      .collect()
      .map(r => r.getString(0) -> (r.getLong(3), r.getLong(4), r.getLong(5)))
      .toMap

  test("mixtureBudget: pure weight apportionment when no cap binds") {
    val p = plan(Seq(("a", 100000L, 1L), ("b", 100000L, 3L)), 100L, 100L)
    assert(p("a")._1 === 25L)
    assert(p("b")._1 === 75L)
    assert(p.values.map(_._3).sum === 0L) // nothing capped
  }

  test("mixtureBudget: capped source's surplus re-apportions (water-fill)") {
    // a caps at 10 tokens (1 epoch of 10); its surplus flows to b
    val p = plan(Seq(("a", 10L, 1L), ("b", 1000L, 1L)), 100L, 100L)
    assert(p("a") === ((10L, 100L, 1L))) // full epoch, capped
    assert(p("b")._1 === 90L)
    assert(p("b")._3 === 0L)
  }

  test("mixtureBudget: budget beyond total capacity stops at the caps") {
    val p = plan(Seq(("a", 10L, 1L), ("b", 20L, 1L)), 10000L, 100L)
    assert(p("a")._1 === 10L && p("b")._1 === 20L)
    assert(p.values.map(_._3).toSeq.sorted === Seq(1L, 1L))
  }

  test("mixtureBudget: floor-share leftover goes to first sources by name") {
    val p = plan(Seq(("a", 1000L, 1L), ("b", 1000L, 1L), ("c", 1000L, 1L)),
      10L, 100L)
    assert(Seq(p("a")._1, p("b")._1, p("c")._1) === Seq(4L, 3L, 3L))
  }

  test("mixtureBudget: epochs_x100 reports repeat factor; >100 means reuse") {
    // one source, budget forces 1.5 epochs under a 2-epoch cap
    val p = plan(Seq(("a", 10L, 1L)), 15L, 200L)
    assert(p("a") === ((15L, 150L, 0L)))
  }

  test("mixtureBudget invariants hold on random inputs") {
    val rnd = new scala.util.Random(31)
    for (round <- 1 to 20) {
      val srcs = (0 until rnd.nextInt(8) + 2).map { i =>
        (f"s$i%02d", rnd.nextInt(5000).toLong, rnd.nextInt(9).toLong + 1)
      }
      val budget = rnd.nextInt(20000).toLong
      val e100 = Seq(50L, 100L, 150L, 300L)(rnd.nextInt(4))
      val p = plan(srcs, budget, e100)
      val caps = srcs.map { case (s, n, _) => s -> n * e100 / 100 }.toMap
      // conservation: all quotas spent up to min(budget, capacity)
      assert(p.values.map(_._1).sum === math.min(budget, caps.values.sum),
        s"round $round")
      // cap respected per source; capped flag consistent
      srcs.foreach { case (s, _, _) =>
        assert(p(s)._1 <= caps(s), s"round $round src $s")
        assert((p(s)._3 == 1L) === (p(s)._1 == caps(s)), s"round $round $s")
      }
      // weight monotonicity among UNCAPPED sources: a strictly larger
      // weight never gets a smaller quota (same race, proportional
      // shares; ±1 leftover units can't invert a strict ordering of
      // floor shares by more than the +1, so compare with slack 1)
      val un = srcs.filter { case (s, _, _) => p(s)._3 == 0L }
      for ((a, _, wa) <- un; (b, _, wb) <- un if wa > wb)
        assert(p(a)._1 + 1 >= p(b)._1, s"round $round: $a vs $b")
    }
  }

  // ------------------------------------------- DSIR selection

  test("dsirScores: target-like candidates outrank off-target ones, " +
    "integer and log scores agree on the ordering") {
    val target = Seq((100L, "ml ai ml data")).toDF("doc_id", "text")
    val cand = Seq(
      (1L, "ml ai"),   // all target vocabulary
      (2L, "cat dog"), // none
      (3L, "ml cat")   // half
    ).toDF("doc_id", "text")
    val r = TrainingData.dsirScores(target, cand).collect()
      .map(x => x.getLong(0) -> (x.getLong(2), x.getDouble(3))).toMap
    assert(r(1L)._1 > r(3L)._1 && r(3L)._1 > r(2L)._1)
    assert(r(1L)._2 > r(3L)._2 && r(3L)._2 > r(2L)._2)
    assert(r(2L)._1 < 0 && r(2L)._2 < 0) // off-target scores negative
  }

  test("groupAwareFolds: clusters share a fold, singletons match kFolds") {
    val docs = (1L to 40L).toDF("doc_id")
    // components: {1,2,3} (chain), {10,11}; everything else singleton
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("a_id", "b_id")
    val got = TrainingData.groupAwareFolds(docs, pairs, "doc_id",
        folds = 5, seed = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    // every cluster member carries the rep's fold
    assert(got(1L) === got(2L) && got(2L) === got(3L))
    assert(got(1L)._1 === 1L)
    assert(got(10L) === got(11L) && got(10L)._1 === 10L)
    // singletons are their own rep with plain kFolds' assignment
    val plain = TrainingData.kFolds((1L to 40L).toDF("doc_id"),
        "doc_id", folds = 5, seed = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (4L to 9L).foreach(i => assert(got(i) === ((i, plain(i)))))
    // all folds in range
    assert(got.values.forall { case (_, f) => f >= 0L && f < 5L })
    // no pair straddles folds
    val straddle = pairs.collect().map(r => (r.getLong(0), r.getLong(1)))
      .filter { case (a, b) => got(a)._2 != got(b)._2 }
    assert(straddle.isEmpty)
  }

  test("curriculumSample: per-bucket rates, extreme weights exact") {
    // 400 rows, score = id (so buckets are contiguous id ranges);
    // weights 0 / 255 pin the bottom bucket empty and keep ~all of the
    // top; middle buckets land near their expected w/256 rates
    val df = (0L until 400L).map(i => (i, i)).toDF("doc_id", "score")
    val got = TrainingData.curriculumSample(df, "score", "doc_id",
        bucketWeights = Seq(0, 64, 128, 255))
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(!got.exists(_._2 == 1L)) // weight 0 -> nothing survives
    val top = got.count(_._2 == 4L)
    assert(top >= 95 && top <= 100, s"top bucket kept $top of 100")
    val mid = got.count(_._2 == 2L)
    assert(mid >= 10 && mid <= 40, s"w=64 bucket kept $mid of 100")
    // buckets are score-ordered: every surviving bucket-4 id > every
    // surviving bucket-2 id (scores are the ids here)
    val b2max = got.filter(_._2 == 2L).map(_._1).max
    val b4min = got.filter(_._2 == 4L).map(_._1).min
    assert(b2max < b4min)
    // deterministic under repartition
    val again = TrainingData.curriculumSample(df.repartition(7), "score",
        "doc_id", bucketWeights = Seq(0, 64, 128, 255))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(again === got.toSet)
  }

  test("binPack: next-fit semantics, whole docs, oversized own bin") {
    // one shard; sizes 300, 300, 512, 600, 100 with budget 512:
    // 300 -> bin 0 (used 300); 300 doesn't fit -> bin 1 (300);
    // 512 doesn't fit -> bin 2 (512, exactly full);
    // 600 oversized -> bin 3 alone; 100 -> bin 4
    val docs = Seq((0L, 300L), (1L, 300L), (2L, 512L), (3L, 600L),
      (4L, 100L)).toDF("doc_id", "n_toks")
    val got = TrainingData.binPack(docs, "doc_id", col("n_toks"),
        budget = 512, shards = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L, 4L -> 4L))
  }

  test("binPack: per-shard budgets hold and every doc packs once") {
    val rnd = new scala.util.Random(3)
    val docs = (0L until 400L).map(i => (i, 20L + rnd.nextInt(200)))
      .toDF("doc_id", "n_toks").repartition(7)
    val got = TrainingData.binPack(docs, "doc_id", col("n_toks"),
        budget = 512, shards = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(got.length === 400)
    assert(got.map(_._1).sorted.toSeq === (0L until 400L).toSeq)
    // no bin over budget (no doc here is oversized)
    got.groupBy(t => (t._2, t._3)).foreach { case (_, rows) =>
      assert(rows.map(_._4).sum <= 512L)
    }
    // bins are dense per shard starting at 0
    got.groupBy(_._2).foreach { case (_, rows) =>
      val bins = rows.map(_._3).distinct.sorted
      assert(bins === (0L to bins.max).toArray.toSeq)
    }
  }

  test("denseIds: a contiguous permutation in sort-key order") {
    // 1000 rows, deliberately shuffled input order and many partitions;
    // keys are a scrambled space so range boundaries genuinely split it
    val rows = scala.util.Random.shuffle(
      (0L until 1000L).map(i => (i, f"${i * 2654435761L % 1000000}%07d")))
    val df = rows.toDF("id", "key").repartition(13)
    val got = TrainingData.denseIds(df, "key")
      .select("id", "key", "dense_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // exactly the ids 0..n-1, each once
    assert(got.map(_._3).sorted.toSeq === (0L until 1000L).toSeq)
    // dense order == key order
    val byDense = got.sortBy(_._3).map(_._2).toSeq
    assert(byDense === byDense.sorted)
    // and for unique keys the assignment is exactly the key rank
    val rank = got.map(_._2).sorted.zipWithIndex.toMap
    got.foreach { case (_, k, d) => assert(d === rank(k).toLong) }
  }

  test("denseIds: duplicate keys still yield a valid permutation") {
    val df = (0L until 100L).map(i => (i, (i % 7).toString))
      .toDF("id", "key").repartition(5)
    val got = TrainingData.denseIds(df, "key")
      .select("key", "dense_id").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(got.map(_._2).sorted.toSeq === (0L until 100L).toSeq)
    // ids respect key-group order even when ties are arbitrary inside
    val byDense = got.sortBy(_._2).map(_._1).toSeq
    assert(byDense === byDense.sorted)
  }

  test("dsirSelect: bounded top-n with (score desc, doc_id) rank order") {
    val target = Seq((100L, "ml ai ml data")).toDF("doc_id", "text")
    val cand = Seq((1L, "ml ai"), (2L, "cat dog"), (3L, "ml cat"))
      .toDF("doc_id", "text")
    val r = TrainingData.dsirSelect(target, cand, n = 2).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(r.toSeq === Seq((1L, 1L), (2L, 3L)))
    // ties (identical text) rank by doc_id ascending
    val dup = Seq((5L, "ml ai"), (4L, "ml ai")).toDF("doc_id", "text")
    val t = TrainingData.dsirSelect(target, dup, n = 2).collect()
      .map(x => (x.getLong(0), x.getLong(1)))
    assert(t.toSeq === Seq((1L, 4L), (2L, 5L)))
  }

  test("rankNormalize: per-group percentile ranks, ties share the " +
      "minimum, singletons get 5000") {
    val df = Seq(
      ("a", 1L, 10L), ("a", 2L, 20L), ("a", 3L, 20L), ("a", 4L, 40L),
      ("b", 5L, 99L)).toDF("src", "id", "score")
    val got = TrainingData.rankNormalize(df, "src", "score")
      .collect().map(r => r.getLong(1) -> r.getLong(3)).toMap
    // group a (n=4): ranks 1,2,2,4 -> bp 0, 3333, 3333, 10000
    assert(got === Map(1L -> 0L, 2L -> 3333L, 3L -> 3333L,
      4L -> 10000L, 5L -> 5000L))
  }

  test("rankNormalize: no int wrap past 214,749 rows per group — " +
      "window form equals the hist twin on a 300k-row group " +
      "(round-12 100M probe finding)") {
    import org.apache.spark.sql.functions.{col, lit, pmod, sum}
    // 300k rows in ONE group: 10000 * (rank - 1) exceeds Int.MaxValue
    // from rank 214,750 on — pre-fix the int product wrapped silently
    val df = spark.range(300000L)
      .select(lit("g").as("src"), col("id"),
        pmod(col("id") * 7L, lit(1000L)).as("score"))
    val wSum = TrainingData.rankNormalize(df, "src", "score")
      .agg(sum("rank_bp")).head().getLong(0)
    val hSum = TrainingData.rankNormalizeHist(df, "src", "score")
      .agg(sum("rank_bp")).head().getLong(0)
    assert(wSum === hSum)
    assert(wSum > 0L) // the wrapped form went hugely negative/small
  }
  test("weightedSamplePerGroup draws k winners inside every group " +
      "with the global race-key semantics") {
    import org.apache.spark.sql.functions.col
    val df = (1L to 40L).map(i =>
      (i, if (i <= 20) "a" else "b", i * 10)).toDF("id", "g", "w")
    val got = TrainingData.weightedSamplePerGroup(df, "g", "id", "w",
      kPerGroup = 3)
    assert(got.groupBy("g").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet ===
      Set(("a", 3L), ("b", 3L)))
    // the per-group winners are exactly the global sample's order
    // restricted to each group (same key, same tiebreak)
    val global = TrainingData.weightedSample(df, "id", "w", k = 40)
      .collect().map(_.getLong(0)).toSeq // ordered by race key
    val wantA = global.filter(_ <= 20L).take(3).toSet
    assert(got.where(col("g") === "a").collect()
      .map(_.getLong(0)).toSet === wantA)
    // zero weight still fails loudly
    intercept[Exception] {
      TrainingData.weightedSamplePerGroup(
        Seq((1L, "a", 0L)).toDF("id", "g", "w"), "g", "id", "w", 1)
        .collect()
    }
  }

  test("samplerStrategyFor: literal caps route by cap x mapTasks, " +
      "dynamic quotas by max group size; record round-trips with " +
      "integrity sidecar; routers match their source forms") {
    val df = (1L to 400L).map(i => (i, if (i <= 300) "big" else "small",
      (i % 7 + 1).toDouble)).toDF("id", "g", "w")

    // literal cap: gate-scale cap x tasks is far below the 32M ceiling
    val stCap = TrainingData.samplerStrategyFor(df, "g", Some(10))
    assert(stCap.literalCap && stCap.cap === 10L && !stCap.useTopK)
    assert(stCap.nRows === 400L && stCap.nGroups === 2L &&
      stCap.maxGroupRows === 300L && stCap.mapTasks >= 1L)
    // a cap big enough that cap x mapTasks crosses the ceiling flips it
    val huge = (TrainingData.maxFinalTaskRows / stCap.mapTasks + 1).toInt
    assert(TrainingData.samplerStrategyFor(df, "g", Some(huge)).useTopK)

    // dynamic quota: small groups -> window; the ceiling is the rule
    val stDyn = TrainingData.samplerStrategyFor(df, "g", None)
    assert(!stDyn.literalCap && !stDyn.useTopK)
    assert(TrainingData.maxWindowGroupRows === 1000000L)

    // round-trip through the JSON artifact (+ SHA-256 sidecar)
    val p = java.nio.file.Files.createTempDirectory("sampler_strategy")
      .toString + "/strategy.json"
    TrainingData.saveSamplerStrategy(spark, stCap, p)
    assert(TrainingData.loadSamplerStrategy(spark, p) === stCap)
    assert(new java.io.File(p + ".sha256").exists)

    // routers: both forms produce the same kept ids at gate scale
    val viaAuto = TrainingData.perGroupCapAuto(df, "g", "id", 10,
      Some(stCap)).select("id").collect().map(_.getLong(0)).toSet
    val viaWindow = TrainingData.perGroupCap(df, "g", "id", 10)
      .select("id").collect().map(_.getLong(0)).toSet
    val viaTopK = TrainingData.perGroupCapTopK(df, "g", "id", 10)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(viaAuto === viaWindow && viaWindow === viaTopK)
    val q = Seq(("big", 5), ("small", 3)).toDF("g", "n")
    val sAuto = TrainingData.stratifiedSampleAuto(df, "g", "id", q, 7L,
      Some(stDyn)).select("id").collect().map(_.getLong(0)).toSet
    val sWin = TrainingData.stratifiedSample(df, "g", "id", q, 7L)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(sAuto === sWin)
    val wAuto = TrainingData.weightedSamplePerGroupAuto(df, "g", "id",
      "w", 4, strategy = Some(stCap.copy(cap = 4L)))
      .select("id").collect().map(_.getLong(0)).toSet
    val wWin = TrainingData.weightedSamplePerGroup(df, "g", "id", "w", 4)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(wAuto === wWin)

    // mismatched reuse is rejected loudly
    intercept[IllegalArgumentException] {
      TrainingData.perGroupCapAuto(df, "g", "id", 11, Some(stCap))
    }
    intercept[IllegalArgumentException] {
      TrainingData.stratifiedSampleAuto(df, "g", "id", q, 7L, Some(stCap))
    }
  }

  test("samplerStrategyFor's premise is plan-verified: literal rank " +
      "bounds plan WindowGroupLimit, dynamic quota bounds do not") {
    val df = (1L to 2000L).map(i => (i, s"s${i % 4}")).toDF("id", "g")
    // literal cap: Spark 4 rewrites row_number <= lit into a map-side
    // partial top-k BEFORE the exchange — the fact that makes the
    // window form viable at modest caps (the 56 s vs 393 s probe)
    val litPlan = TrainingData.perGroupCap(df, "g", "id", 10)
      .queryExecution.executedPlan.toString
    assert(litPlan.contains("WindowGroupLimit"),
      s"literal-cap window lost its WindowGroupLimit rewrite:\n$litPlan")
    // dynamic quota: row_number <= col gets NO rewrite — each group's
    // corpus fraction sorts in one task, which is why the dispatcher
    // routes large-group dynamic quotas to the top-k twin
    val q = Seq(("s0", 5), ("s1", 5), ("s2", 5), ("s3", 5)).toDF("g", "n")
    val dynPlan = TrainingData.stratifiedSample(df, "g", "id", q, 1L)
      .queryExecution.executedPlan.toString
    assert(!dynPlan.contains("WindowGroupLimit"),
      "dynamic-quota window unexpectedly planned WindowGroupLimit — " +
        "re-measure the samplerStrategyFor crossovers")
  }
}
