package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.attrs.{AttributesLog, VectorAttributes}
import graft.index.{IvfPqBuilder, IvfPqConfig, IvfPqModel, OpqBuilder}
import graft.pipeline.{Dedup, Multimodal, TextAnalysis, Web}
import graft.query.{AnnQuery, ExactKnn}

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2 + the training-data pipeline family), with a DuckDB
  * oracle for every SQL-expressible one.
  *
  * Oracle discipline: outputs are integers/ids/strings wherever a float
  * could differ in the last ulp between engines; raw data values and
  * integer-derived numbers pass through untouched; genuinely float
  * aggregates are rounded identically on both sides. Every query ends in
  * an ORDER BY so row order is deterministic.
  */
object SparkEntry {

  /** Fetch one embedding as the probe query vector (deterministic). */
  private def queryVec(s: SparkSession, dir: String, vecId: Long): Array[Float] =
    Tables.embeddings(s, dir).where(col("vec_id") === vecId)
      .select("embedding").head().getSeq[Float](0).toArray

  /** Deterministic messy-URL synthesis for the web_* gates (documents
    * carries no URL column): every [[graft.pipeline.Web.normalizeUrl]]
    * rule is exercised by some doc_id residue class — mixed case,
    * explicit default ports (scheme-consistent by construction),
    * tracking params in leading and trailing positions, fragments. The
    * DuckDB oracles replicate this construction verbatim. */
  private def webMessyUrl: Column = {
    val d = col("doc_id")
    val sch = when(d % 2 === 0, lit("https")).otherwise(lit("http"))
    val sub = when(d % 5 === 0, lit("www.")).when(d % 5 === 2, lit("cdn."))
      .when(d % 5 === 3, lit("m.")).otherwise(lit(""))
    val tld = when(d % 4 === 0, lit(".com")).when(d % 4 === 1, lit(".co.uk"))
      .when(d % 4 === 2, lit(".org")).otherwise(lit(".io"))
    val port = when(d % 6 === 0, lit(":443")).when(d % 6 === 3, lit(":80"))
      .otherwise(lit(""))
    val head = concat(sch, lit("://"), sub, col("source"), tld, port)
    val headCased = when(d % 7 === 0, upper(head)).otherwise(head)
    val q = when(d % 3 === 0,
        concat(lit("?utm_source=feed&id="), d.cast("string")))
      .when(d % 3 === 1, concat(lit("?id="), d.cast("string"),
        lit("&utm_campaign=x&fbclid=abc")))
      .otherwise(lit(""))
    val frag = when(d % 4 === 0, lit("#section-2")).otherwise(lit(""))
    concat(headCased, lit("/"), col("lang"), lit("/doc-"),
      d.cast("string"), q, frag)
  }

  /** Deterministic HTML-page synthesis for the web_html gate: wraps each
    * document's text in a page whose head/script/style/comment/link
    * structure varies by doc_id residue, so every
    * [[graft.pipeline.Html]] extraction rule is exercised (entities in
    * the title, a `<` inside script content, tags inside a comment,
    * 0/1/2 links). The DuckDB oracle replicates this construction AND
    * the rule chain verbatim. */
  private def webHtmlDoc: Column = {
    val d = col("doc_id")
    val ds = d.cast("string")
    val scriptPart = when(d % 2 === 0,
      lit("<script type=\"text/javascript\">var x = 1 < 2;</script>"))
      .otherwise(lit(""))
    val stylePart = when(d % 3 === 0,
      lit("<style>p { margin: 0; }</style>")).otherwise(lit(""))
    val comment = when(d % 4 === 1,
      lit("<!-- footer <b>boiler</b> -->")).otherwise(lit(""))
    val linkPart = when(d % 3 === 0, concat(
        lit("<a href=\"https://site"), (d % 50).cast("string"),
        lit(".com/p/"), ds, lit("\">Link A</a> <a href=\"https://ref.org/"),
        ds, lit("\">B</a>")))
      .when(d % 3 === 1, concat(lit("<a href=\"/rel/"), ds,
        lit("\">only</a>")))
      .otherwise(lit(""))
    concat(
      lit("<html><head><title>Doc "), ds, lit(" &amp; source "),
      col("source"), lit("</title>"), stylePart, lit("</head><body>"),
      scriptPart, comment, lit("<h1>Doc "), ds, lit("</h1><p>"),
      col("text"), lit("</p>"), linkPart, lit("</body></html>"))
  }

  /** Clean host-only URL synthesis for the per-domain gates: subdomain
    * by doc residue, TLD by doc residue (so each source spans several
    * registered domains, including a two-level-suffix one). */
  private def webSimpleUrl: Column = {
    val d = col("doc_id")
    val sub = when(d % 3 === 0, lit("www.")).when(d % 3 === 1, lit("m."))
      .otherwise(lit(""))
    val tld = when(d % 4 === 0, lit(".com")).when(d % 4 === 1, lit(".co.uk"))
      .when(d % 4 === 2, lit(".org")).otherwise(lit(".io"))
    concat(lit("https://"), sub, col("source"), tld, lit("/doc-"),
      d.cast("string"))
  }

  /** Group-stable messy URLs: every triple g = doc_id div 3 canonicalizes
    * to ONE url key while the raw strings differ per doc (www, case,
    * default ports, tracking params, fragments) — the url-dedup gate. */
  private def webGroupUrl: Column = {
    val d = col("doc_id")
    val g = floor(d / lit(3)).cast("long")
    val sch = when(g % 2 === 0, lit("https")).otherwise(lit("http"))
    val sub = when(d % 3 === 0, lit("www.")).otherwise(lit(""))
    val tld = when(g % 4 === 0, lit(".com")).when(g % 4 === 1, lit(".co.uk"))
      .when(g % 4 === 2, lit(".org")).otherwise(lit(".io"))
    // :443 only at d%6==0 (then g even -> https); :80 only at d%6==3
    // (then g odd -> http) — ports stay scheme-consistent
    val port = when(d % 6 === 0, lit(":443")).when(d % 6 === 3, lit(":80"))
      .otherwise(lit(""))
    val head = concat(sch, lit("://"), sub, lit("site"),
      (g % 50).cast("string"), tld, port)
    val headCased = when(d % 7 === 0, upper(head)).otherwise(head)
    val q = concat(lit("?v="), (g % 7).cast("string"),
      when(d % 3 === 0, lit("&utm_source=x"))
        .when(d % 3 === 2, lit("&fbclid=y")).otherwise(lit("")))
    val frag = when(d % 4 === 1, lit("#top")).otherwise(lit(""))
    concat(headCased, lit("/p/"), g.cast("string"), q, frag)
  }

  /** Fit the IVF+PQ index once per sf dir (the build is its own pipeline
    * stage in production; dependent entries measure THEIR operator, not a
    * rebuild — build cost is benchmarked by the reference-scale build
    * entry Bench emits in its "build" field). */
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

  private val fitIdx = scala.collection.concurrent.TrieMap
    .empty[String, (graft.index.IvfPqModel, DataFrame)]
  private def fittedIndex(s: SparkSession, dir: String)
      : (graft.index.IvfPqModel, DataFrame) =
    fitIdx.getOrElseUpdate(dir, {
      val emb = Tables.embeddings(s, dir)
      // ADC ranking error, not cell misses, bounds recall on this corpus
      // (nprobe=P changes nothing at D=8/C=16). C=256 is the standard
      // 8-bit PQ code width: measured per-query recall@10 ≥ 5/10 at both
      // sf0.01 and sf0.1, vs a <3/10 dip at C=64 (sf0.1, one query) that
      // tripped the ≥30% invariant
      val (model, encoded) = IvfPqBuilder.fit(emb, "vec_id", "embedding", 64,
        IvfPqConfig(numPartitions = 8, numDivisions = 16, numCodes = 256, maxIter = 20))
      val cached = encoded.cache()
      cached.count()
      (model, cached)
    })

  // cosine-metric twin of fitIdx: the SAME IVF+PQ machinery fit over
  // L2-normalized vectors (unit-sphere reduction — see
  // AnnQuery.topKCosine); shared by the ann_cosine entry and bench
  private val cosFitIdx = scala.collection.concurrent.TrieMap
    .empty[String, (graft.index.IvfPqModel, DataFrame)]
  private def cosFittedIndex(s: SparkSession, dir: String)
      : (graft.index.IvfPqModel, DataFrame) =
    cosFitIdx.getOrElseUpdate(dir, {
      val unit = graft.pipeline.Embeddings.l2Normalized(
        Tables.embeddings(s, dir), "embedding")
      val (model, encoded) = IvfPqBuilder.fit(unit, "vec_id", "embedding", 64,
        IvfPqConfig(numPartitions = 8, numDivisions = 16, numCodes = 256,
          maxIter = 20))
      val cached = encoded.cache()
      cached.count()
      (model, cached)
    })

  // MIPS twin of fitIdx: the same IVF+PQ machinery over Bachrach-style
  // augmented vectors (dim+1 = 65 = 13 divisions × 5) — see
  // Embeddings.mipsAugmented
  private val mipsFitIdx = scala.collection.concurrent.TrieMap
    .empty[String, (graft.index.IvfPqModel, DataFrame, Double)]
  private def mipsFittedIndex(s: SparkSession, dir: String)
      : (graft.index.IvfPqModel, DataFrame, Double) =
    mipsFitIdx.getOrElseUpdate(dir, {
      val (aug, m) = graft.pipeline.Embeddings.mipsAugmented(
        Tables.embeddings(s, dir), "embedding")
      val (model, encoded) = IvfPqBuilder.fit(aug, "vec_id", "embedding", 65,
        IvfPqConfig(numPartitions = 8, numDivisions = 13, numCodes = 256,
          maxIter = 20))
      val cached = encoded.cache()
      cached.count()
      (model, cached, m)
    })

  /** Save the fitted index once per sf dir, then seed its per-vector
    * attribute store (B12 semantics): batch 0 sets label (string) and
    * views = vec_id·10 (u64) for every vector; batch 1 UPSERTS
    * views = vec_id·10 + 1 for every 7th vector — so reads must replay
    * last-write-wins, not just read a table. */
  private val storedIdx = scala.collection.concurrent.TrieMap.empty[String, String]
  private val dayPartDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private val zorderDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private val deleteDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private val appendDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private val sq8Dir = scala.collection.concurrent.TrieMap.empty[String, String]
  private val rebalDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private val rebalOutDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private val rebalPartDir = scala.collection.concurrent.TrieMap.empty[String, String]
  // (path, pre-compact live hits, codes files before, after)
  private val compactMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[(Long, Double)], Long, Long)]

  /** One per-process root for every memoized store fixture, deleted on
    * JVM exit — repeated suite runs on one machine must not accumulate
    * store copies (each run would otherwise leak ~6 temp directories of
    * parquet). */
  private lazy val storeRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_stores")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val cs = f.listFiles(); if (cs != null) cs.foreach(rm); f.delete(); ()
      }
      rm(root.toFile)
    }))
    root
  }

  /** Fresh store directory under [[storeRoot]]. */
  private def newStoreDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(storeRoot, prefix).toString

  // memoized MinHash-LSH pair relation (thresholdPct = 90) — shared by
  // dedup_degree and sample_dedup_aware the same way store fixtures are
  // shared: the identical 4-5 s pair pass dominated both entries, and
  // re-deriving it per entry is bench hygiene, not coverage (the
  // operator itself stays fully gated by dedup_minhash_lsh, which
  // always recomputes). Materialized to parquet so repeat runs read a
  // deterministic relation instead of re-shuffling.
  private val lshPairsMemo =
    scala.collection.concurrent.TrieMap.empty[String, String]
  private def lshPairs90(s: SparkSession, dir: String): DataFrame = {
    val path = lshPairsMemo.getOrElseUpdate(dir, {
      val out = newStoreDir("graft_lsh_pairs")
      Dedup.minHashLshPairs(Tables.documents(s, dir), thresholdPct = 90)
        .write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(path)
  }

  private def storedIndexPath(s: SparkSession, dir: String): String =
    storedIdx.getOrElseUpdate(dir, {
      val (model, encoded) = fittedIndex(s, dir)
      val out = newStoreDir("graft_ivfpq")
      IvfPqBuilder.save(model, encoded, out)
      val emb = Tables.embeddings(s, dir)
      VectorAttributes.setAttributes(out,
        emb.select(col("vec_id").as("vector_id"), lit("label").as("name"),
            col("label").cast("string").as("value_str"),
            lit(null).cast("long").as("value_u64"))
          .unionByName(emb.select(col("vec_id").as("vector_id"),
            lit("views").as("name"), lit(null).cast("string").as("value_str"),
            (col("vec_id") * 10).cast("long").as("value_u64"))))
      VectorAttributes.setU64Attribute(out,
        emb.where(col("vec_id") % 7 === 0)
          .select(col("vec_id"), (col("vec_id") * 10 + 1).as("v")),
        "vec_id", "views", "v")
      out
    })

  /** One shard-server JVM per saved store, shared by the
    * `ann_serve_remote` entry across bench reruns (the child's
    * SparkSession + store load is the fixture; the gate's measured work
    * is the queries + wire + merge). Closed on JVM exit like every
    * other memoized fixture — and the child also watches its stdin pipe
    * so it cannot outlive this process even on a hard crash. */
  private val remoteShardMemo = scala.collection.concurrent.TrieMap
    .empty[String, (graft.query.ShardProcess.Handle,
                    graft.query.RemoteShards.Pq)]
  private def remoteShard(s: SparkSession, storePath: String,
                          cells: Seq[Int]): graft.query.RemoteShards.Pq =
    remoteShardMemo.getOrElseUpdate(storePath, {
      val h = graft.query.ShardProcess.launch(storePath, "pq", cells,
        cpus = 2)
      val r = graft.query.RemoteShards.pq("127.0.0.1", h.port)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try r.close() finally h.close()
      }))
      (h, r)
    })._2

  /** Lazy twin of [[remoteShardMemo]]: a shard JVM opened through the
    * capped lazy-residency tier (`--lazy`) — nothing resident at open,
    * cells pin on probe or on the `ann_serve_remote_lazy` gate's
    * OpPrefetch warm-up. The memoized client's cells snapshot is the
    * FIRST-connect view, so the gate's empty-at-open invariant stays
    * pure across bench reruns. */
  private val remoteLazyShardMemo = scala.collection.concurrent.TrieMap
    .empty[String, (graft.query.ShardProcess.Handle,
                    graft.query.RemoteShards.Pq)]
  private def remoteLazyShard(storePath: String)
      : graft.query.RemoteShards.Pq =
    remoteLazyShardMemo.getOrElseUpdate(storePath, {
      val h = graft.query.ShardProcess.launch(storePath, "pq", Seq.empty,
        cpus = 2, extraArgs = Seq("--lazy", "true"))
      val r = graft.query.RemoteShards.pq("127.0.0.1", h.port)
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        try r.close() finally h.close()
      }))
      (h, r)
    })._2

  /** Fit the IVF+OPQ index once per sf dir — same discipline (and same
    * P/D/C shape) as [[fittedIndex]]; the rotation alternation is part of
    * the build stage, never a query timing. */
  private val fitOpq = scala.collection.concurrent.TrieMap
    .empty[String, (graft.index.OpqModel, DataFrame)]
  private def fittedOpq(s: SparkSession, dir: String)
      : (graft.index.OpqModel, DataFrame) =
    fitOpq.getOrElseUpdate(dir, {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = OpqBuilder.fit(emb, "vec_id", "embedding", 64,
        IvfPqConfig(numPartitions = 8, numDivisions = 16, numCodes = 256,
          maxIter = 20), opqIters = 4)
      val cached = encoded.cache()
      cached.count()
      (model, cached)
    })

  // shared fixtures for the per-codec store-lifecycle gates (round 12:
  // append/delete/compact parity across ALL codec families, not just
  // IVF+PQ) — models memoized like fitIdx so the lifecycle gates
  // exercise stores, not re-fits
  private val fitSq8Memo = scala.collection.concurrent.TrieMap
    .empty[String, (graft.index.Sq8Model, DataFrame)]
  private def fittedSq8(s: SparkSession, dir: String)
      : (graft.index.Sq8Model, DataFrame) =
    fitSq8Memo.getOrElseUpdate(dir, {
      val emb = Tables.embeddings(s, dir)
      val model = graft.index.Sq8.fit(emb, "embedding", 64)
      val enc = graft.index.Sq8.encode(model, emb, "vec_id", "embedding")
        .cache()
      enc.count()
      (model, enc)
    })

  private val fitIvfSq8Memo = scala.collection.concurrent.TrieMap
    .empty[String, (graft.index.IvfSq8Model, DataFrame)]
  private def fittedIvfSq8(s: SparkSession, dir: String)
      : (graft.index.IvfSq8Model, DataFrame) =
    fitIvfSq8Memo.getOrElseUpdate(dir, {
      val (model, enc0) = graft.index.IvfSq8.fit(
        Tables.embeddings(s, dir), "vec_id", "embedding", 64,
        numPartitions = 8)
      val enc = enc0.cache()
      enc.count()
      (model, enc)
    })

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
    val nTruth = truth.agg(count(lit(1)).cast("long").as("n_truth"))
    val nRec = truth.select("qid", "id")
      .join(got.select("qid", "id"), Seq("qid", "id"))
      .agg(count(lit(1)).cast("long").as("n_rec"))
    curveInv.crossJoin(nTruth).crossJoin(nRec).select(
      col("n_curve_rows"), col("n_mono_viol"), col("recall_p_exact"),
      when(col("n_rec") * 10 >= col("n_truth") * 9, 1L).otherwise(0L)
        .as("promise_delivered"))
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
    val nTruth = truth.agg(count(lit(1)).cast("long").as("n_truth"))
    val nRec = truth.select("qid", "id")
      .join(got.select("qid", "id"), Seq("qid", "id"))
      .agg(count(lit(1)).cast("long").as("n_rec"))
    curveInv.crossJoin(nTruth).crossJoin(nRec).select(
      col("curve_complete"), col("n_mono_viol"), col("recall_full_exact"),
      when(col("n_rec") * 10 >= col("n_truth") * 9, 1L).otherwise(0L)
        .as("promise_delivered"))
  }

  private val opqDeleteDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private val opqRebalDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private val opqRebalOutDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private val sq8DeleteDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private val ivfSq8StoredDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private val hamStoredMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[Double], Seq[Long])]
  // (path, pre-compact live hits, codes files before, after) — one memo
  // shape per cell-partitioned family, the compactMemo discipline
  private val opqCompactMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[(Long, Double)], Long, Long)]
  private val sq8CompactMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[(Long, Double)], Long, Long)]
  private val ivfSq8CompactMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[(Long, Double)], Long, Long)]
  private val hamCompactMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[(Long, Long)], Long, Long)]
  // (path, pre-compact refined hits, live codes2 rows pre-compact)
  private val rqCompactMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[(Long, Double)], Long)]

  private val storedOpqDir = scala.collection.concurrent.TrieMap.empty[String, String]
  private def storedOpqPath(s: SparkSession, dir: String): String =
    storedOpqDir.getOrElseUpdate(dir, {
      val (model, encoded) = fittedOpq(s, dir)
      val out = newStoreDir("graft_opq")
      OpqBuilder.save(model, encoded, out)
      out
    })

  /** WAV round-trip fixture shared by the audio gates: per doc, a
    * deterministic u8 sample stream (frames f with f%4<2 are exactly
    * 128 = silence; loud frames are a step-11 byte progression whose
    * 16-sample energy is provably ≥ ~40000) wrapped in a HAND-ROLLED
    * RIFF/WAVE container and decoded back through javax.sound.sampled
    * behind the batched seam — so every consuming gate re-proves the
    * encode+decode path against an oracle that only ever sees the
    * sample FORMULA. */
  private def wavRoundTripMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = graft.functions.PlanShape.fanOut(
      Tables.documents(s, dir).select(col("doc_id"))).as[Long]
    val wavs = ids.map { id =>
      val n = 128 + (id % 8).toInt * 16
      val samples = Array.tabulate(n) { i =>
        if ((i / 16) % 4 < 2) 128.toByte
        else ((id * 37 + i.toLong * 11) % 256).toByte
      }
      Multimodal.MediaRow(id, Multimodal.wavBytesU8(samples, 8000))
    }
    Multimodal.pcmMedia(Multimodal.decodeAudioBatched(wavs)().toDF, 16)
  }

  /** Per-doc synthesized ANIMATED GIF, round-tripped through real
    * container bytes: frame 0 fills the 16×16 canvas with one
    * achromatic value, later frames paint formula-positioned solid
    * sub-rectangles (doNotDispose), the whole sequence is encoded by
    * [[Multimodal.gifBytes]] (ImageIO GIF writer, explicit palette +
    * offsets) and decoded back by [[Multimodal.gifFrameMedia]]'s
    * composition. The oracle replays the COMPOSITION FORMULA (last
    * covering rect wins per pixel) and never sees the container — any
    * palette, offset, frame-order, or composition bug flips a row. */
  private def gifRoundTripMedia(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ids = graft.functions.PlanShape.fanOut(
      Tables.documents(s, dir).select(col("doc_id"))).as[Long]
    val gifs = ids.map { id =>
      val nf = (2 + id % 3).toInt
      val frames = (0 until nf).map { f =>
        if (f == 0) {
          val v = ((id * 29) % 256).toByte
          Multimodal.GifFrame(Array.fill(256)(v), 16, 16, 0, 0,
            "doNotDispose")
        } else {
          val fw = 4 + (f % 4)
          val fh = 4 + ((id + f) % 4).toInt
          val v = ((id * 37 + f * 61) % 256).toByte
          Multimodal.GifFrame(Array.fill(fw * fh)(v), fw, fh,
            ((id + 3 * f) % 8).toInt, ((id * 5 + f) % 8).toInt,
            "doNotDispose")
        }
      }
      Multimodal.MediaRow(id, Multimodal.gifBytes(frames))
    }
    Multimodal.gifFrameMedia(gifs)
  }

  /** Materialize the shared fixtures (fitted index, stored index +
    * attribute batches) outside any per-query timing — the build is its
    * own pipeline stage in production, benchmarked separately (Bench
    * "build" field), so no query entry should pay it just because map
    * ordering ran it first. */
  def warmFixtures(s: SparkSession, dir: String): Unit = {
    fittedIndex(s, dir)
    cosFittedIndex(s, dir)
    mipsFittedIndex(s, dir)
    storedIndexPath(s, dir)
    fittedOpq(s, dir)
    storedOpqPath(s, dir)
    // the memoized LSH pair relation is shared by four entries; warm it
    // here so whichever runs first doesn't absorb the build into its
    // own timing (dedup_minhash_lsh still recomputes from scratch)
    lshPairs90(s, dir)
    ()
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

  /** Flagship query on sf0.001: exact k-NN over the embeddings table —
    * the reference's core semantics (Q1 with nprobe=P, no quantization). */
  def entry(spark: SparkSession): DataFrame = {
    val dir = "/root/testdata/sf0.001"
    val q = queryVec(spark, dir, 0L)
    ExactKnn.rankedIds(Tables.embeddings(spark, dir), "embedding", "vec_id", q, 10)
  }

  /** The pipeline_end_to_end composite with optional stage-event
    * instrumentation (the build `log` pattern — Bench folds the
    * "name N.NN s" lines into its "pipeline_stages" record field, so
    * a composite regression localizes to its stage instead of leaving
    * a bare total to re-bisect). The shared relations materialize
    * exactly ONCE: `qdocs` (quality survivors) is checkpointed before
    * exact dedup probes it twice (the duplicate probe and the survivor
    * join each rescan quality lineage otherwise), and `clean` is
    * checkpointed so decontamination, the split chain, and the
    * n_clean report branch reuse one materialization instead of
    * re-running the quality+dedup lineage per consumer. */
  private[graft] def pipelineEndToEnd(s: SparkSession, dir: String,
      log: String => Unit = _ => ()): DataFrame = {
    import graft.pipeline.{Dedup, TextAnalysis, TrainingData}
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime(); val r = body
      log(f"$name ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
    }
    val docs = Tables.documents(s, dir).select("doc_id", "text")
    val pairs = timed("lsh-pairs")(
      lshPairs90(s, dir).select("a_id", "b_id"))
    val qdocs = timed("quality-filter") {
      val q = TextAnalysis.qualitySignals(docs)
        .where(col("n_tokens") >= 20 && col("stop_pct") <= 60)
        .select("doc_id")
      docs.join(q, Seq("doc_id")).localCheckpoint()
    }
    val clean = timed("exact-dedup") {
      qdocs.join(Dedup.exactDuplicates(qdocs).select("doc_id"),
        Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val bench = docs.where(pmod(col("doc_id"), lit(97)) === 0)
    val ready = timed("decontaminate") {
      val contam = TrainingData
        .decontaminate(clean, bench, "doc_id", "text", n = 8)
        .select("doc_id")
      clean.join(contam, Seq("doc_id"), "left_anti").localCheckpoint()
    }
    val readyIds = ready.select("doc_id")
    val (p2, split) = timed("leak-safe-split") {
      val p2x = pairs
        .join(readyIds.select(col("doc_id").as("a_id")), "a_id")
        .join(readyIds.select(col("doc_id").as("b_id")), "b_id")
        .localCheckpoint()
      (p2x, TrainingData.groupAwareSplit(ready, p2x).localCheckpoint())
    }
    val train = split.where(col("split") === "train")
    val shards = TrainingData.shuffleShards(train, "doc_id", seed = 42,
      numShards = 4)
    val packed = TrainingData.packSequences(
      train.withColumn("n_toks",
        size(TextAnalysis.tokens(col("text")))),
      "doc_id", col("n_toks"), budget = 512, shards = 4)

    val nIn = docs.agg(count(lit(1)).as("n_input"))
    val nClean = clean.agg(count(lit(1)).as("n_clean"))
    val nReady = ready.agg(count(lit(1)).as("n_ready"))
    val splitCounts = split.agg(
      count(lit(1)).as("n_split_rows"),
      coalesce(sum(when(col("split") === "train", 1L).otherwise(0L)),
        lit(0L)).as("n_train"))
    val leak = p2
      .join(split.select(col("doc_id").as("a_id"),
        col("split").as("split_a")), "a_id")
      .join(split.select(col("doc_id").as("b_id"),
        col("split").as("split_b")), "b_id")
      .agg(coalesce(sum(when(col("split_a") =!= col("split_b"), 1L)
        .otherwise(0L)), lit(0L)).as("n_leak_pairs"),
        count(lit(1)).as("n_pairs_checked"))
    val shardAgg = shards.agg(
      count(lit(1)).as("n_shard_rows"),
      countDistinct(col("shard")).as("n_shards"))
    val packAgg = packed.agg(
      count(lit(1)).as("n_packed"),
      coalesce(sum(when(col("seq_offset") < 0 ||
        col("seq_offset") >= 512, 1L).otherwise(0L)), lit(0L))
        .as("n_offset_viol"))
    nIn.crossJoin(nClean).crossJoin(nReady).crossJoin(splitCounts)
      .crossJoin(leak).crossJoin(shardAgg).crossJoin(packAgg)
      .select(
        when(col("n_input") >= col("n_clean") &&
          col("n_clean") >= col("n_ready"), 1L).otherwise(0L)
          .as("monotone_ok"),
        when(col("n_split_rows") === col("n_ready"), 1L).otherwise(0L)
          .as("cover_ok"),
        col("n_leak_pairs"),
        // the no-straddling gate only means something if pairs exist
        // among the split docs — the soft path guarantees they do
        when(col("n_pairs_checked") > 0, 1L).otherwise(0L)
          .as("leak_nonvacuous"),
        when(col("n_shard_rows") === col("n_train") &&
          col("n_shards") === 4, 1L).otherwise(0L).as("shards_ok"),
        when(col("n_packed") === col("n_train") &&
          col("n_offset_viol") === 0, 1L).otherwise(0L).as("pack_ok"),
        when(col("n_train") > 0, 1L).otherwise(0L).as("nonempty"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------- relational core
    "rel_q1_agg" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus")),

    "rel_q3_top_revenue" -> ((s, dir) =>
      Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10)),

    // TPC-H Q5 shape: six-table star join — dims (region → nation,
    // supplier, customer) broadcast onto the lineitem-orders stream,
    // revenue per nation with the customer-nation = supplier-nation
    // constraint
    "rel_q5_region_revenue" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.load(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(Tables.load(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "region").where(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("cnt"))
        .orderBy("n_name")),

    // TPC-H Q7 (volume shipping): the two-nation disjunction filters
    // each broadcast nation dim down to 2 rows BEFORE the fact joins;
    // the cross-pair OR residual applies after — so the big joins carry
    // only rows touching the two nations
    "rel_q7_volume" -> ((s, dir) => {
      val nations = Seq("NATION_1", "NATION_2")
      val n1 = Tables.load(s, dir, "nation")
        .where(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.load(s, dir, "nation")
        .where(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.load(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        // each term rounded ONCE to integer 1e-4 units (bit-identical
        // per row in any engine), then the LONG sum commutes exactly —
        // a rounded double SUM can differ in the last cent by addition
        // order (measured: 307843.59 vs .60 on q10's first cut)
        .agg(sum(expr(
          "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)"))
          .as("revenue_x10000"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q10 (returned items by customer): one quarter of orders,
    // returned lines only, revenue per customer with the nation dim
    // broadcast; bounded top-20 by (revenue, c_custkey)
    "rel_q10_returns" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
            .where(col("o_orderdate") >= "1996-01-01" &&
              col("o_orderdate") < "1996-04-01"),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir).where(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(expr(
          "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)"))
          .as("revenue_x10000"),
          expr("cast(round(max(c_acctbal) * 100) as long)").as("acctbal_cents"))
        .orderBy(col("revenue_x10000").desc, col("c_custkey"))
        .limit(20)),

    // TPC-H Q6 (forecast revenue): the classic pure scan benchmark —
    // filter + ungrouped aggregate, NO join; every predicate reaches
    // the parquet scan (shipdate range, discount band, quantity cap)
    "rel_q6_forecast" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1997-01-01" &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(expr(
          "cast(round(l_extendedprice * l_discount * 10000) as long)"))
          .as("revenue_x10000"),
          count(lit(1)).as("n_lines"))),

    // TPC-H Q14 (promo revenue share): one quarter of shipments joined
    // to part, promo share as exact integer basis points (long div —
    // no float ratio can flake the gate)
    "rel_q14_promo" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1996-04-01")
        .join(Tables.load(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", expr(
            "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)"))
            .otherwise(0L)).as("promo_x10000"),
          sum(expr(
            "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)"))
            .as("total_x10000"))
        .select(col("promo_x10000"), col("total_x10000"),
          expr("promo_x10000 * 10000 div total_x10000").as("promo_bp"))),

    // TPC-H Q19-shape (disjunctive brand/size/quantity predicates over
    // the part join — the disjunction-pushdown stress query; adapted to
    // this schema's columns: brand + size + quantity bands)
    "rel_q19_disjunct" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.load(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#24" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(expr(
          "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)"))
          .as("revenue_x10000"),
          count(lit(1)).as("n_lines"))),

    // TPC-H Q8 (national market share): NATION_1's share of EUROPE
    // customers' ECONOMY-part import volume by order year — the full
    // seven-table star join with both nation roles and the region dim
    // broadcast; share as exact integer basis points
    "rel_q8_market_share" -> ((s, dir) => {
      val cents = expr(
        "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)")
      val europeNations = Tables.load(s, dir, "nation")
        .join(broadcast(Tables.load(s, dir, "region")
            .where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk"))
      val suppNations = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(europeNations), col("c_nationkey") === col("c_nk"))
        .join(Tables.load(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNations), col("s_nationkey") === col("s_nk"))
        .join(Tables.load(s, dir, "part").where(col("p_type") === "ECONOMY"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_1", cents).otherwise(0L))
            .as("nation_x10000"),
          sum(cents).as("total_x10000"))
        .select(col("o_year"), col("nation_x10000"), col("total_x10000"),
          expr("nation_x10000 * 10000 div total_x10000").as("share_bp"))
        .orderBy("o_year")
    }),

    // TPC-H Q13 (customer order-count distribution): left join keeps
    // zero-order customers, two cascaded map-side-combined aggregates
    "rel_q13_custdist" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"),
          "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)),

    // TPC-H Q15 (top supplier): quarter revenue per supplier, winners
    // at the exact integer maximum (the scalar subquery becomes a
    // broadcast 1-row join; integer cents make the max tie-exact)
    "rel_q15_top_supplier" -> ((s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1996-04-01")
        .groupBy("l_suppkey")
        .agg(sum(expr(
          "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)"))
          .as("total_x10000"))
      val mx = rev.agg(max(col("total_x10000")).as("mx"))
      Tables.load(s, dir, "supplier")
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(mx), col("total_x10000") === col("mx"))
        .select("s_suppkey", "s_name", "total_x10000")
        .orderBy("s_suppkey")
    }),

    // TPC-H Q17 (small-quantity-order revenue, adapted to brand-only
    // predicates): the correlated avg becomes a per-part aggregate
    // join-back, and qty < 0.2·avg is the INTEGER inequality
    // 5·qty·n < Σqty — no float threshold can flake the gate
    "rel_q17_small_qty" -> ((s, dir) => {
      val pq = Tables.lineitem(s, dir).groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity")).cast("long").as("sq"),
          count(lit(1)).as("n"))
      Tables.lineitem(s, dir)
        .join(Tables.load(s, dir, "part").where(col("p_brand") === "Brand#12"),
          col("l_partkey") === col("p_partkey"))
        .join(pq, col("l_partkey") === col("pk"))
        .where(col("l_quantity").cast("long") * lit(5L) * col("n") < col("sq"))
        .agg(sum(expr("cast(round(l_extendedprice * 10000) as long)"))
          .as("sum_price_x10000"),
          count(lit(1)).as("n_lines"))
        .select(col("sum_price_x10000"),
          expr("sum_price_x10000 div 7").as("avg_yearly_x10000"),
          col("n_lines"))
    }),

    // TPC-H Q22-shape (dormant high-balance customers): above-average
    // positive balance (the average as the INTEGER inequality
    // cents·n > Σcents — exact cross-engine) with no orders since 1999
    // (the schema-expressible stand-in for the country-code filter;
    // the unfiltered NOT EXISTS is vacuously empty on this corpus)
    "rel_q22_dormant" -> ((s, dir) => {
      val cust = Tables.customer(s, dir)
      val bal = cust.where(col("c_acctbal") > 0)
        .agg(sum(expr("cast(round(c_acctbal * 100) as long)")).as("s_cents"),
          count(lit(1)).as("n"))
      val recent = Tables.orders(s, dir)
        .where(col("o_orderdate") >= "1999-01-01")
        .select(col("o_custkey")).distinct()
      cust.crossJoin(broadcast(bal))
        .where(expr("cast(round(c_acctbal * 100) as long)") * col("n") >
          col("s_cents"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("numcust"),
          sum(expr("cast(round(c_acctbal * 100) as long)"))
            .as("totacctbal_cents"))
    }),

    // dimension-enriched rollup over the part table (broadcast dim join)
    "rel_part_brand" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.load(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("p_brand")),

    "rel_rollup" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("cnt"), col("sum_qty"))
        .orderBy("rflag", "lstatus")),

    // cube: the full grouping-sets lattice over the rollup entry's keys
    "rel_cube" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("cnt"), col("sum_qty"))
        .orderBy("rflag", "lstatus")),

    // cohort retention: users grouped by first-signup week, counted
    // distinct-active per week offset — the classic product-analytics
    // self-join (cohort relation is user-sized and broadcastable; the
    // activity side aggregates with map-side distinct partials)
    "events_retention" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("week", expr("ts div 604800000000000"))
      val cohort = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("week")).as("cohort_week"))
      ev.select("user_id", "week")
        .join(cohort, "user_id")
        .where(col("week") >= col("cohort_week"))
        .groupBy(col("cohort_week"),
          (col("week") - col("cohort_week")).as("weeks_since"))
        .agg(countDistinct(col("user_id")).as("n_active"))
        .orderBy("cohort_week", "weeks_since")
    }),

    // integer-exact PageRank (operators/PageRank.rankInt) over the
    // supplier->part supply bipartite graph: 3 power-iteration rounds at
    // damping 0.85 in scale-1e9 fixed point — long sums are associative,
    // so the distributed aggregation is bit-identical to the chained
    // per-iteration SQL CTEs
    "graph_pagerank" -> ((s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey") + lit(100000L)).cast("long").as("dst"))
      graft.operators.PageRank.rankInt(edges, iters = 3)
        .orderBy("v")
    }),

    // part co-purchase triangle census (operators/Graph.triangles):
    // parts sharing an order form an edge (per-order fan-out capped at
    // l_linenumber <= 3 — the standard guard against quadratic blow-up
    // when projecting a containment relation to co-occurrence); output
    // is per-node triangle participation + ppm-fixed-point local
    // clustering coefficient, computed via the degree-ordered
    // orientation so no hub's neighbor list is ever self-joined whole
    "graph_triangles" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).where(col("l_linenumber") <= 3)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("i").join(li.as("j"), Seq("l_orderkey"))
        .where(col("i.l_partkey") < col("j.l_partkey"))
        .select(col("i.l_partkey").as("src"), col("j.l_partkey").as("dst"))
      graft.operators.Graph.triangles(edges).orderBy("v")
    }),

    // personalized PageRank (operators/PageRank.rankPersonalized):
    // teleport mass restricted to the 10 trusted seed suppliers
    // (TrustRank shape — rank flows outward from the audited set,
    // nodes no seed reaches score 0), 2 rounds, same scale-1e9 integer
    // fixed point as graph_pagerank
    "graph_pagerank_seeded" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val edges = li.select(col("l_suppkey").cast("long").as("src"),
        (col("l_partkey") + lit(100000L)).cast("long").as("dst"))
      val seeds = li.where(col("l_suppkey") <= 10)
        .select(col("l_suppkey").cast("long").as("v")).distinct()
      graft.operators.PageRank.rankPersonalized(edges, seeds, iters = 2)
        .orderBy("v")
    }),

    // semi-supervised label propagation (operators/Graph.labelProp):
    // clamp labels on the first 30 parts, spread them 2 synchronous
    // rounds over the co-purchase graph by labeled-neighbor majority
    // with smallest-label tie-break — deterministic, so the oracle
    // replays the rounds as CTEs
    "graph_label_prop" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).where(col("l_linenumber") <= 3)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("i").join(li.as("j"), Seq("l_orderkey"))
        .where(col("i.l_partkey") < col("j.l_partkey"))
        .select(col("i.l_partkey").as("src"), col("j.l_partkey").as("dst"))
      val seeds = Tables.lineitem(s, dir)
        .where(col("l_partkey") <= 30)
        .select(col("l_partkey").as("v")).distinct()
        .withColumn("lbl", expr("v % 3"))
      graft.operators.Graph.labelProp(edges, seeds, iters = 2)
        .orderBy("v")
    }),

    // bounded k-core peeling (operators/Graph.kcorePeel): 3 rounds of
    // deleting degree-<18 nodes from the co-purchase graph — the
    // dense-subgraph residue (425 of 2000 parts at sf0.01), each round
    // replayed exactly by the oracle's CTE chain
    "graph_kcore" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).where(col("l_linenumber") <= 3)
        .select(col("l_orderkey"), col("l_partkey"))
      val edges = li.as("i").join(li.as("j"), Seq("l_orderkey"))
        .where(col("i.l_partkey") < col("j.l_partkey"))
        .select(col("i.l_partkey").as("src"), col("j.l_partkey").as("dst"))
      graft.operators.Graph.kcorePeel(edges, k = 18, rounds = 3)
        .orderBy("v")
    }),

    // market-basket co-occurrence projection (Graph.coOccurrence):
    // parts linked by the number of orders containing both, hub guard
    // dropping baskets over 8 distinct items (the quadratic-blowup
    // bound), support floor 2 — the co-engagement edge builder whose
    // output feeds triangles/labelProp/negative-mining directly
    "graph_cooccur" -> ((s, dir) =>
      graft.operators.Graph.coOccurrence(
        Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", minCount = 2L, maxBasketSize = 8L)
        .orderBy("item_a", "item_b")),

    // pairwise association rules (Graph.associationRules): both
    // directed rules per surviving pair with all-integer floor-scaled
    // confidence and lift over the hub-guarded basket population —
    // the "customers who bought X also bought Y" scorer
    "graph_assoc_rules" -> ((s, dir) =>
      graft.operators.Graph.associationRules(
        Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", minCount = 3L, maxBasketSize = 8L)
        .orderBy("antecedent", "consequent")),

    // HITS hubs/authorities (operators/Graph.hits) over the
    // supplier->part supply graph: 2 mutual-reinforcement rounds,
    // max-normalized to scale 1e9 each round via an exact
    // decimal(38,0)-widened multiply-then-floor-divide — bit-identical
    // to the oracle's chained CTEs
    "graph_hits" -> ((s, dir) => {
      val e = Tables.lineitem(s, dir)
        .select(col("l_suppkey").cast("long").as("src"),
          col("l_partkey").cast("long").as("dst"))
      graft.operators.Graph.hits(e, iters = 2)
        .orderBy("kind", "v")
    }),

    // join-key skew telemetry (operators/SkewJoin.keyStats): the
    // all-integer max/mean histogram aggregate that sizes the salt for
    // the salted rewrite below — AnnJoin.recommendedSalt generalized to
    // relational keys
    // passage->document retrieval (MaxP): passages = embeddings rows,
    // parent doc = vec_id div 5 (100 docs x 5 passages); each query's
    // top-20 passage hits collapse to docs by best passage, bounded
    // top-5 docs per query
    "search_doc_topk" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val queries = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
      val hits = graft.query.ExactKnn.batchTopK(emb, "embedding",
          "vec_id", queries, "qid", "qv", k = 20)
        .withColumn("doc_id", expr("vec_id div 5"))
      graft.query.ExactKnn.docTopK(hits, "qid", "doc_id", "sq_dist", k = 5)
        .orderBy("qid", "doc_rank")
    }),

    "rel_skew_plan" -> ((s, dir) =>
      graft.operators.SkewJoin.keyStats(
        Tables.lineitem(s, dir), Seq("l_orderkey"))),

    // skew-salted inner join: output must be IDENTICAL to the plain
    // equi-join (the oracle IS the plain join) — the gate that the
    // straggler-splitting rewrite preserves semantics exactly
    "rel_salted_join" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("orderkey"), col("l_quantity"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
      graft.operators.SkewJoin.saltedInnerJoin(li, o, Seq("orderkey"),
          salt = 8)
        .groupBy("o_orderpriority")
        // floor() before the long cast: Spark's double->long cast
        // truncates while DuckDB's rounds, so only the explicit floor
        // is engine-agnostic (quantities are integral, but the idiom
        // should not depend on that)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(floor(col("l_quantity")).cast("long")), lit(0L))
            .as("sum_qty"))
        .orderBy("o_orderpriority")
    }),

    // correlated-scalar-subquery shape, decorrelated the Spark-first
    // way: per-customer averages via one aggregate + an equi-join, the
    // order kept when its price beats its OWN customer's mean by >10%
    // (integer-cents comparison, no float in the predicate)
    "rel_above_cust_avg" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val avgs = o.groupBy("o_custkey")
        .agg(coalesce(sum(col("cents")), lit(0L)).as("sum_cents"),
          count(lit(1)).as("n_orders"))
      o.join(avgs, "o_custkey")
        // cents > 1.1 * sum/n  <=>  cents * n * 10 > sum * 11
        .where(col("cents") * col("n_orders") * 10 >
          col("sum_cents") * 11)
        .select(col("o_orderkey"), col("o_custkey"), col("cents"))
        .orderBy("o_orderkey")
    }),

    "rel_semi_join" -> ((s, dir) => {
      val bigOrders = Tables.orders(s, dir).where(col("o_totalprice") > 200000)
      Tables.customer(s, dir)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    }),

    // exact DISCRETE quantiles per group: the value at sorted index
    // ⌈p·n⌉, selected — not interpolated — so the output is a raw data
    // value and the rank index is pure integer arithmetic (⌈n·num/den⌉ =
    // (n·num + den − 1) div den). Interpolating percentiles cross-engine
    // is a last-ulp trap: (1−g)a + gb vs a + (b−a)g differ in rounding.
    "rel_quantiles" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      val cw = Window.partitionBy("event_type")
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cnt", count(lit(1)).over(cw))
        .withColumn("i50", expr("(cnt + 1) div 2"))   // ⌈cnt/2⌉, integer
        .withColumn("i90", expr("(cnt * 9 + 9) div 10")) // ⌈cnt·9/10⌉
        .groupBy("event_type")
        .agg(
          max(when(col("rn") === col("i50"), col("value"))).as("p50"),
          max(when(col("rn") === col("i90"), col("value"))).as("p90"),
          max(col("cnt")).as("cnt"))
        .orderBy("event_type")
    }),

    "rel_window_topn" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
        .orderBy("o_custkey", "rnk")
    }),

    // --------------------------- attributes replay log (S7/Q6 semantics)
    "attrs_last_write_wins" -> ((s, dir) =>
      AttributesLog.resolve(Tables.events(s, dir),
          keyCols = Seq("user_id", "event_type"), seqCols = Seq("ts", "event_id"))
        .select(col("user_id"), col("event_type"), col("value"),
          col("event_id").as("last_event_id"))
        .orderBy("user_id", "event_type")),

    // --------------------- streaming operators, batch-path correctness
    // (EventPipeline transforms run identically under readStream; the
    // incremental semantics are covered by EventPipelineSpec)
    "stream_window_hourly" -> ((s, dir) =>
      graft.streaming.EventPipeline
        .windowedStats(Tables.events(s, dir), "1 hour")
        .orderBy("win_start", "event_type")),

    "events_props_json" -> ((s, dir) =>
      graft.streaming.EventPipeline.extractProps(Tables.events(s, dir))
        .orderBy("event_id")),

    // windowed top-n: rank event types per hourly window by count — the
    // leaderboard analytic over the windowed aggregates (batch path; the
    // windowed aggregation itself is the streaming-compatible stage)
    "stream_window_topk" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("win_start")
        .orderBy(col("cnt").desc, col("event_type"))
      graft.streaming.EventPipeline
        .windowedStats(Tables.events(s, dir), "1 hour")
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select("win_start", "rnk", "event_type", "cnt")
        .orderBy("win_start", "rnk")
    }),

    // backward as-of join (graft.operators.AsofJoin): every click gets
    // the latest prior-or-same purchase of the same user — one union +
    // hash exchange on user_id + carry-forward window, never a range
    // cross-join. ts is truncated to µs first so ordering ties and
    // boundary comparisons agree bit-for-bit with the µs oracle engine
    // (the raw column is TIMESTAMP(NANOS); DuckDB reads it at µs).
    // rolling 7-day distinct actives (the WAU metric): observed days
    // broadcast onto the per-(day, user) distinct relation via the
    // band predicate, one exact distinct count per window; ts truncated
    // to µs like every other events gate so day bucketing is
    // bit-identical to the µs oracle engine
    "events_rolling_active" -> ((s, dir) =>
      graft.streaming.EventPipeline.rollingActiveUsers(
          Tables.events(s, dir).withColumn("ts", col("ts") - col("ts") % 1000),
          "ts", "user_id", windowDays = 7)
        .orderBy("day")),

    // regular-grid resampling with forward fill: each user's event
    // stream aligned onto day ticks covering their own span (µs-
    // truncated ns so both engines see identical times); the oracle
    // regenerates the grids and fills by correlated latest-at-or-before
    // lookup with the same (ts, event_id) tie-break
    "events_resample" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts", col("ts") - col("ts") % 1000)
      graft.operators.Resample.forwardFill(ev, Seq("user_id"), "ts",
          "event_id", "value", stepUnits = 86400000000000L)
        .orderBy("user_id", "grid_ts")
    }),

    // linear interpolation at the same day ticks: exact lerp between
    // the surrounding observations, the expression tree mirrored
    // verbatim by the oracle so the IEEE doubles hash identically
    "events_resample_interp" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts", col("ts") - col("ts") % 1000)
      graft.operators.Resample.interpolate(ev, Seq("user_id"), "ts",
          "event_id", "value", stepUnits = 86400000000000L)
        .orderBy("user_id", "grid_ts")
    }),

    "events_asof" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts", col("ts") - col("ts") % 1000)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val purchases = ev.where(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value")
      graft.operators.AsofJoin.backward(clicks, purchases, Seq("user_id"),
          "ts", "ts", payload = Seq("event_id", "value"),
          leftSeq = "event_id", rightSeq = "event_id")
        .select(col("event_id"), col("user_id"),
          col("asof_event_id").as("purchase_event_id"),
          col("asof_value").as("purchase_value"))
        .orderBy("event_id")
    }),

    // stream-static as-of (StreamingAsof, batch-path correctness like the
    // other streaming entries): clicks enriched with the user's latest
    // prior-or-same signup value via a broadcast per-key timeline +
    // binary-search kernel — no shuffle of the fact side
    "events_asof_static" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts", col("ts") - col("ts") % 1000)
      val clicks = ev.where(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val signups = ev.where(col("event_type") === "signup")
        .select("user_id", "ts", "value")
      graft.streaming.StreamingAsof.backwardStatic(clicks, "user_id", "ts",
          signups, "user_id", "ts", "value")
        .select(col("event_id"), col("user_id"),
          expr("asof_time div 1000").as("asof_us"),
          col("asof_value").as("signup_value"))
        .orderBy("event_id")
    }),

    // per-event sessionization (gap-and-island window): session breaks at
    // gaps ≥ 30 min; µs-truncated ts for oracle-engine agreement as above
    "events_sessionize" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .withColumn("ts", col("ts") - col("ts") % 1000)
      graft.streaming.EventPipeline
        .sessionized(ev, gapNanos = 30L * 60 * 1000000000L)
        .select(col("event_id"), col("user_id"), col("session_seq"))
        .orderBy("event_id")
    }),

    // per-session stats via Spark's native session_window (the streaming
    // stateful-agg path, batch-identical); event_time is already
    // µs-truncated by construction
    "events_sessions" -> ((s, dir) =>
      graft.streaming.EventPipeline
        .sessionStats(Tables.events(s, dir), "30 minutes")
        .orderBy("user_id", "win_start")),

    // ------------------------------------------- vector data model (S1/B9)
    "vec_shape" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), size(col("embedding")).cast("long").as("vec_len"),
          col("label"))
        .orderBy("vec_id")),

    // B9 divide_vector_set — emitted as scalar rows (vec_id, pos, val)
    // because the driver's pandas compare cannot hash array cells; pos
    // 0..15 is subvector 0, pos 16..31 is subvector 3
    "vec_divide" -> ((s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(concat(slice(col("embedding"), 1, 16),
            slice(col("embedding"), 49, 16))).as(Seq("pos", "val")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("val"))
        .orderBy("vec_id", "pos")),

    // ------------------------------------------------ exact k-NN (Q1 core)
    "knn_exact" -> ((s, dir) =>
      ExactKnn.rankedIds(Tables.embeddings(s, dir), "embedding", "vec_id",
        queryVec(s, dir, 0L), 10)),

    "knn_exact_cosine" -> ((s, dir) =>
      ExactKnn.rankedIdsCosine(Tables.embeddings(s, dir), "embedding", "vec_id",
        queryVec(s, dir, 0L), 10)),

    // maximum-inner-product search (MIPS): dot-product scoring for
    // retrieval embeddings whose norm carries signal — third exact
    // metric beside L2 and cosine, same bounded top-k plan
    "knn_exact_ip" -> ((s, dir) =>
      ExactKnn.rankedIdsIp(Tables.embeddings(s, dir), "embedding", "vec_id",
        queryVec(s, dir, 0L), 10)),

    // binary quantization: 1-bit-per-dim sign signatures (64 dims pack
    // into ONE long), ranked by popcount-xor Hamming distance — the
    // cheapest sketch in the index family (below SQ8/PQ); the integer
    // distance itself is oracle-compared, not just the ranking
    "knn_hamming" -> ((s, dir) =>
      graft.index.BinaryQuant.rankedIds(Tables.embeddings(s, dir),
        "embedding", "vec_id", queryVec(s, dir, 0L), 10)),

    // the production composition: Hamming nominates 4k candidates from
    // the 8-byte signatures, exact L2 re-ranks just those rows (refine
    // pattern) — candidate ids reach the re-rank scan as an IN filter
    "knn_hamming_rerank" -> ((s, dir) =>
      graft.index.BinaryQuant.rankedIdsRerank(Tables.embeddings(s, dir),
        "embedding", "vec_id", queryVec(s, dir, 0L), 10, kFactor = 4)),

    // batch Hamming top-k: many queries against the 8-byte signatures in
    // ONE streamed pass — bounded top-k aggregate, k·|queries| shuffle
    // rows; the integer distances are oracle-compared
    "knn_hamming_batch" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.index.BinaryQuant
        .batchTopK(emb, "embedding", "vec_id", qs, "qid", "qvec", 10,
          thresholds = null, dim = 64)
        .select(col("qid"), col("vec_id"), col("hamming"), col("rank"))
        .orderBy("qid", "rank")
    }),

    // filtered vector search: the attribute predicate composes BEFORE the
    // top-k, so it reaches the parquet scan as a pushed filter — the
    // "pre-filtered" strategy (exact over the filtered subset), which is
    // the correct plan whenever the predicate is selective
    "knn_filtered" -> ((s, dir) =>
      ExactKnn.rankedIds(Tables.embeddings(s, dir).where(col("label") === 3),
        "embedding", "vec_id", queryVec(s, dir, 0L), 10)),

    // --------------------------------------- ANN (invariant-gated oracle)
    // query path over the shared fitted index; build cost is measured by
    // the dedicated reference-scale build benchmark (Bench "build" field),
    // not folded into a query timing. Output is the invariant row of
    // annInvariants (constant DuckDB oracle).
    "ann_ivfpq" -> ((s, dir) => {
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
    }),

    // cosine-metric ANN via the unit-sphere reduction: the SAME IVF+PQ
    // machinery over L2-normalized vectors answers cosine queries
    // (‖q−x‖² = 2−2·cos on the sphere — AnnQuery.topKCosine). Gated:
    // k rows, hits ⊆ probed cells, the reduction identity
    // |(1 − d²_unit/2) − cos_raw| ≤ 1e-4 recomputed per hit from the
    // TABLES (not the index), and recall ≥ 3/10 vs exact cosine top-k
    // (the knn_exact_cosine twin; ADC quantization bounds recall, as
    // at ann_ivfpq)
    "ann_cosine" -> ((s, dir) => {
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
    }),

    // MIPS ANN via the augmented-vector reduction (Bachrach et al.
    // 2014): one appended coordinate √(M²−‖x‖²) turns max-inner-product
    // into L2-nearest on the SAME index machinery — the metric triple
    // completes (L2 native, cosine = ann_cosine, IP here). Gated: k
    // rows, hits ⊆ probed, the reduction identity ‖[q,0]−[x,s]‖² =
    // ‖q‖²+M²−2·q·x recomputed per hit from the raw tables, recall ≥
    // 3/10 vs exact MIPS (the knn_exact_ip twin)
    "ann_mips" -> ((s, dir) => {
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
    }),

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
    "ann_filtered" -> ((s, dir) => {
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
    }),

    // stored-index query path: partition-pruned scan over the saved codes
    // parquet (S3-S6 + Q1 of SURVEY.md §2); the invariant is round-trip
    // EQUALITY — the loaded index must answer identically (ids and
    // bit-equal distances; parquet doubles round-trip exactly) to the
    // in-memory index it was saved from
    "ann_ivfpq_stored" -> ((s, dir) => {
      val (modelM, encodedM) = fittedIndex(s, dir)
      val (modelL, codesL) = IvfPqBuilder.load(s, storedIndexPath(s, dir))
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val mem = AnnQuery.topK(encodedM, modelM, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("mem_dist"))
      val st = AnnQuery.topK(codesL, modelL, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("st_dist"))
      st.join(mem, Seq("id"), "full_outer").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(col("st_dist").isNull || col("mem_dist").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(when(abs(col("st_dist") - col("mem_dist")) > 1e-12, 1L)
          .otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
    }),

    // driver-local warm serving path (query/LocalServe): the pinned-cell
    // in-process query loop that closes the reference's one remaining
    // win — warm single-query latency (1.48 ms vs the ~100 ms Spark job
    // floor; perfbench `reference` measures its warm p50 at the
    // reference's P=100 D=12 C=256 K=10 nprobe=5 shape, see
    // perfbench/README.md). The invariant is EXACT parity:
    // same ids, same partitions, BIT-IDENTICAL sq_dist, same
    // (sq_dist, id) order as AnnQuery.topK on the same saved store,
    // over three queries × (k=10, nprobe=4)
    "ann_local_serve" -> ((s, dir) => {
      val path = storedIndexPath(s, dir)
      val (model, codes) = IvfPqBuilder.load(s, path)
      val serve = graft.query.LocalServe.fromStore(s, path)
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = AnnQuery.topK(codes, model, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        val local = serve.query(q, k = 10, nprobe = 4)
        cluster.zipAll(local, (-1L, -1, -1.0), (-2L, -2, -2.0)).map {
          case ((cid, cp, cd), (lid, lp, ld)) =>
            (if (cid == lid && cp == lp) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact, no tolerance
        }
      }
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
    }),

    // LAZY-residency warm serving (round 12): cells pin on FIRST probe
    // through the pruned scan — answers must be BIT-IDENTICAL to the
    // cluster query, every resident cell must have cold-loaded exactly
    // once (no re-loads without eviction pressure), and a repeated
    // query must be fully warm (zero new loads)
    "ann_local_serve_lazy" -> ((s, dir) => {
      val path = storedIndexPath(s, dir)
      val (model, codes) = IvfPqBuilder.load(s, path)
      val lazySrv = graft.query.LocalServeLazy.fromStore(s, path)
      def runOne(qid: Long): Seq[(Long, Long)] = {
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = AnnQuery.topK(codes, model, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        val local = lazySrv.query(q, k = 10, nprobe = 4)
        cluster.zipAll(local, (-1L, -1, -1.0), (-2L, -2, -2.0)).map {
          case ((cid, cp, cd), (lid, lp, ld)) =>
            (if (cid == lid && cp == lp) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact, no tolerance
        }.toSeq
      }
      val cold = Seq(0L, 7L, 23L).flatMap(runOne)
      val loadsAfterCold = lazySrv.coldLoads
      val warm = runOne(0L) // repeat: fully warm
      val checks = cold ++ warm
      val oncePerCell = lazySrv.coldLoads == lazySrv.cells.size.toLong
      val warmFree = lazySrv.coldLoads == loadsAfterCold
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(if (oncePerCell) 1L else 0L).as("one_load_per_cell"),
          lit(if (warmFree) 1L else 0L).as("warm_repeat_no_reload"))
    }),

    // CELL-SHARDED serving (round 13): a ServeRouter over two
    // cell-disjoint LocalServe shards (even/odd cells of the saved
    // store) — one probe selection, per-shard ADC top-k, k-sized
    // (sq_dist, id) merge — must answer BIT-IDENTICALLY to the cluster
    // query on the same store (and therefore to the single-box serve,
    // which the ann_local_serve gate already pins to the cluster)
    "ann_serve_sharded" -> ((s, dir) => {
      val path = storedIndexPath(s, dir)
      val (model, codes) = IvfPqBuilder.load(s, path)
      val single = graft.query.LocalServe.fromStore(s, path)
      val cells = single.cells
      val shards = Seq(cells.filter(_ % 2 == 0), cells.filter(_ % 2 == 1))
        .map(cs => graft.query.LocalServe.fromStore(s, path, cs))
      val router = graft.query.ServeRouter(model, shards)
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = AnnQuery.topK(codes, model, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        val routed = router.query(q, k = 10, nprobe = 4)
        cluster.zipAll(routed, (-1L, -1, -1.0), (-2L, -2, -2.0)).map {
          case ((cid, cp, cd), (lid, lp, ld)) =>
            (if (cid == lid && cp == lp) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact, no tolerance
        }
      }
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(if (router.numShards == 2) 1L else 0L).as("two_shards"))
    }),

    // PROCESS-BOUNDARY serving (round 14): the ann_serve_sharded fleet
    // with one shard behind a REAL second JVM — ShardServerMain loads
    // the saved store itself (its own SparkSession, the same
    // integrity-checked pruned scan) and serves its cells over the
    // length-prefixed ShardWire protocol; the router merges the remote
    // and local answers. Scores cross the wire as raw IEEE bits, so the
    // invariant stays BIT-IDENTICAL to the cluster query — the fleet
    // QPS claim's transport seam, running, not extrapolated
    "ann_serve_remote" -> ((s, dir) => {
      val path = storedIndexPath(s, dir)
      val (model, codes) = IvfPqBuilder.load(s, path)
      val allCells = graft.query.LocalServe.fromStore(s, path).cells
      val remote = remoteShard(s, path, allCells.filter(_ % 2 == 1))
      val local = graft.query.LocalServe.fromStore(s, path,
        allCells.filter(_ % 2 == 0))
      val router = graft.query.ServeRouter(model, Seq(local, remote))
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = AnnQuery.topK(codes, model, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        val routed = router.query(q, k = 10, nprobe = 4)
        cluster.zipAll(routed, (-1L, -1, -1.0), (-2L, -2, -2.0)).map {
          case ((cid, cp, cd), (lid, lp, ld)) =>
            (if (cid == lid && cp == lp) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact across the wire
        }
      }
      val remoteHolds = remote.cells.sorted == allCells.filter(_ % 2 == 1)
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(if (remoteHolds) 1L else 0L).as("remote_holds_odd_cells"))
    }),

    // LAZY shard JVM (round 14): the fleet form for a store bigger than
    // the fleet's RAM — a shard server opened through the capped
    // lazy-residency tier (--lazy) starts serving with NOTHING resident,
    // a ServeRouter warm-up under a static assignment travels as ONE
    // OpPrefetch frame and pins exactly the shard's assigned cells, and
    // the warmed fleet answers bit-identically to the cluster query
    "ann_serve_remote_lazy" -> ((s, dir) => {
      val path = storedIndexPath(s, dir)
      val (model, codes) = IvfPqBuilder.load(s, path)
      val allCells = graft.query.LocalServe.fromStore(s, path).cells
      val odd = allCells.filter(_ % 2 == 1)
      val remote = remoteLazyShard(path)
      // the memoized client's cells snapshot is from FIRST connect —
      // a lazy server must have had nothing resident at open
      val emptyAtOpen = remote.cells.isEmpty
      val localLazy = graft.query.LocalServeLazy.fromStore(s, path)
      val router = graft.query.ServeRouter(model,
        Seq(localLazy, remote), c => c % 2)
      router.prefetch(allCells)
      val warmSnap = graft.query.RemoteShards.pq("127.0.0.1",
        remoteLazyShardMemo(path)._1.port)
      val warmed = try warmSnap.cells.sorted == odd.sorted
        finally warmSnap.close()
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = AnnQuery.topK(codes, model, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        val routed = router.query(q, k = 10, nprobe = 4)
        cluster.zipAll(routed, (-1L, -1, -1.0), (-2L, -2, -2.0)).map {
          case ((cid, cp, cd), (lid, lp, ld)) =>
            (if (cid == lid && cp == lp) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact across the wire
        }
      }
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(if (emptyAtOpen && warmed) 1L else 0L)
            .as("prefetch_warmed_assigned"))
    }),

    // SHARDED SQ8 serving (round 13): a ServeRouter over two
    // cell-disjoint LocalServeSq8 shards — bit-identical to the
    // cluster IvfSq8.topK on the same relation
    "ann_sq8_serve_sharded" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded0) = graft.index.IvfSq8
        .fit(emb, "vec_id", "embedding", 64, numPartitions = 8)
      val encoded = encoded0.localCheckpoint()
      val single = graft.query.LocalServeSq8.fromCodes(model, encoded)
      val shards = Seq(single.cells.filter(_ % 2 == 0),
          single.cells.filter(_ % 2 == 1))
        .map(cs => graft.query.LocalServeSq8.fromCodes(model,
          encoded.where(col("partition").isin(cs: _*))))
      val router = graft.query.ServeRouter(model, shards)
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = graft.index.IvfSq8
          .topK(encoded, model, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        val routed = router.query(q, k = 10, nprobe = 4)
        cluster.zipAll(routed, (-1L, -1, -1.0), (-2L, -2, -2.0)).map {
          case ((cid, cp, cd), (lid, lp, ld)) =>
            (if (cid == lid && cp == lp) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact, no tolerance
        }
      }
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
    }),

    // SHARDED RQ serving (round 13): the refine pattern's TWO-PHASE
    // fleet merge — each shard returns level-1 nominees with both
    // scores, the router re-applies the global level-1 cut then the
    // refined order (a naive per-shard refined merge is NOT bit-equal:
    // a shard-local nominee the global cut would drop can refine in) —
    // bit-identical to the cluster Rq.topKRefined
    "ann_rq_serve_sharded" -> ((s, dir) => {
      import graft.index.Rq
      val (model, encoded) = fittedIndex(s, dir)
      val (rq, enc2raw) = Rq.fitRefine(encoded, model,
        numDivisions2 = 16, numCodes2 = 16, trainPointsPerCentroid = 0)
      val enc2 = enc2raw.localCheckpoint()
      val single = graft.query.LocalServeRq.fromCodes(rq, enc2)
      val shards = Seq(single.cells.filter(_ % 2 == 0),
          single.cells.filter(_ % 2 == 1))
        .map(cs => graft.query.LocalServeRq.fromCodes(rq,
          enc2.where(col("partition").isin(cs: _*))))
      val router = graft.query.ServeRouterRq(rq, shards)
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = Rq.topKRefined(enc2, rq, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val routed = router.query(q, k = 10, nprobe = 4)
        cluster.zipAll(routed, (-1L, -1.0), (-2L, -2.0)).map {
          case ((cid, cd), (lid, ld)) =>
            (if (cid == lid) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact, no tolerance
        }
      }
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
    }),

    // SHARDED Hamming serving (round 13): ID-disjoint signature shards
    // (flat scan — every shard answers every query); raw top-k merges
    // by (hamming, id), the rerank composition uses the two-phase merge
    // (global Hamming nomination cut, then exact order) — both
    // bit-identical to BinaryQuant's cluster scans
    "knn_hamming_serve_sharded" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val thr = graft.index.BinaryQuant.fitThresholds(emb, "embedding")
      val shards = Seq(emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1))
        .map(part => graft.query.LocalServeHamming.fromVectors(
          part, "embedding", "vec_id", dim = 64, thresholds = thr,
          pinFloats = true))
      val router = graft.query.ServeRouterHamming(shards)
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid)
        val cluster = graft.index.BinaryQuant.rankedIds(
            emb, "embedding", "vec_id", q, 10, thr)
          .collect().map(r => (r.getLong(1), r.getLong(2)))
        val routed = router.query(q, 10)
        val clusterRr = graft.index.BinaryQuant.rankedIdsRerank(
            emb, "embedding", "vec_id", q, 10, kFactor = 4,
            thresholds = thr)
          .collect().map(_.getLong(1))
        val routedRr = router.queryRerank(q, 10, kFactor = 4).map(_._1)
        cluster.zipAll(routed, (-1L, -1L), (-2L, -2L)).map {
          case ((ci, ch), (li, lh)) =>
            (if (ci == li && ch == lh) 0L else 1L, 0L)
        } ++
        clusterRr.zipAll(routedRr, -1L, -2L).map {
          case (a, b) => (0L, if (a == b) 0L else 1L)
        }
      }
      import s.implicits._
      checks.toDF("ham_mm", "rr_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("ham_mm")), lit(0L)).as("n_ham_mismatch"),
        coalesce(sum(col("rr_mm")), lit(0L)).as("n_rerank_mismatch"))
    }),

    // SHARDED FILTERED serving (round 13): the attribute predicate
    // narrows inside each shard's ADC loop; fleet answers must be
    // bit-identical to the pre-filtered cluster composition
    "ann_filtered_serve_sharded" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val withLabel = encoded
        .join(emb.select(col("vec_id").as("id"), col("label")), "id")
      val allCells = withLabel.select(col("partition").cast("int"))
        .distinct().collect().map(_.getInt(0)).sorted.toSeq
      val shards = Seq(allCells.filter(_ % 2 == 0),
          allCells.filter(_ % 2 == 1))
        .map(cs => graft.query.LocalServe.fromCodesWithAttrs(model,
          withLabel.where(col("partition").isin(cs: _*)), "label"))
      val router = graft.query.ServeRouter(model, shards)
      val filtered = withLabel.where(col("label") === 3)
        .select("id", "partition", "codes")
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = AnnQuery.topK(filtered, model, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        val routed = router.queryFiltered(q, k = 10, nprobe = 4)(_ == 3L)
        cluster.zipAll(routed, (-1L, -1, -1.0), (-2L, -2, -2.0)).map {
          case ((cid, cp, cd), (lid, lp, ld)) =>
            (if (cid == lid && cp == lp) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact, no tolerance
        }
      }
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
    }),

    // LAZY FILTERED serving (round 13): queryFiltered over the
    // lazily-pinned delegate — attributes pin per cell alongside the
    // codes on first probe; answers must be BIT-IDENTICAL to the
    // pre-filtered cluster composition (the ann_filtered_local_serve
    // invariant), cells must cold-load once each, and a repeated query
    // must load nothing
    "ann_filtered_local_serve_lazy" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val withLabel = encoded
        .join(emb.select(col("vec_id").as("id"), col("label")), "id")
      val lazySrv = graft.query.LocalServeLazy.fromCodesWithAttrs(model,
        withLabel, "label")
      val filtered = withLabel.where(col("label") === 3)
        .select("id", "partition", "codes")
      def runOne(qid: Long): Seq[(Long, Long)] = {
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = AnnQuery.topK(filtered, model, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        val local = lazySrv.queryFiltered(q, k = 10, nprobe = 4)(_ == 3L)
        cluster.zipAll(local, (-1L, -1, -1.0), (-2L, -2, -2.0)).map {
          case ((cid, cp, cd), (lid, lp, ld)) =>
            (if (cid == lid && cp == lp) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact, no tolerance
        }.toSeq
      }
      val cold = Seq(0L, 7L, 23L).flatMap(runOne)
      val loadsAfterCold = lazySrv.coldLoads
      val warm = runOne(0L)
      val checks = cold ++ warm
      val oncePerCell = lazySrv.coldLoads == lazySrv.cells.size.toLong
      val warmFree = lazySrv.coldLoads == loadsAfterCold
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(if (oncePerCell) 1L else 0L).as("one_load_per_cell"),
          lit(if (warmFree) 1L else 0L).as("warm_repeat_no_reload"))
    }),

    // LAZY RQ serving (round 13): the two-level refined codec behind
    // lazy residency — level-1 + level-2 codes pin together per cell on
    // first probe; answers must be BIT-IDENTICAL to the cluster
    // Rq.topKRefined, with the lazy tier's load-accounting invariants
    "ann_rq_local_serve_lazy" -> ((s, dir) => {
      import graft.index.Rq
      val (model, encoded) = fittedIndex(s, dir)
      val (rq, enc2raw) = Rq.fitRefine(encoded, model,
        numDivisions2 = 16, numCodes2 = 16, trainPointsPerCentroid = 0)
      val enc2 = enc2raw.localCheckpoint()
      val lazySrv = graft.query.LocalServeRqLazy.fromCodes(rq, enc2)
      def runOne(qid: Long): Seq[(Long, Long)] = {
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = Rq.topKRefined(enc2, rq, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val local = lazySrv.query(q, k = 10, nprobe = 4)
        cluster.zipAll(local, (-1L, -1.0), (-2L, -2.0)).map {
          case ((cid, cd), (lid, ld)) =>
            (if (cid == lid) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact, no tolerance
        }.toSeq
      }
      val cold = Seq(0L, 7L, 23L).flatMap(runOne)
      val loadsAfterCold = lazySrv.coldLoads
      val warm = runOne(0L)
      val checks = cold ++ warm
      val oncePerCell = lazySrv.coldLoads == lazySrv.cells.size.toLong
      val warmFree = lazySrv.coldLoads == loadsAfterCold
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(if (oncePerCell) 1L else 0L).as("one_load_per_cell"),
          lit(if (warmFree) 1L else 0L).as("warm_repeat_no_reload"))
    }),

    // FILTERED warm serving (LocalServe.queryFiltered): the attribute
    // predicate runs over pinned per-cell attrs and everything else is
    // byte-for-byte the plain warm loop, so ids/partitions/distances
    // must be BIT-IDENTICAL to the pre-filtered cluster composition
    // (AnnQuery.topK over the label-narrowed codes — the ann_filtered
    // shape) over three queries
    "ann_filtered_local_serve" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val withLabel = encoded
        .join(emb.select(col("vec_id").as("id"), col("label")), "id")
      val serve = graft.query.LocalServe.fromCodesWithAttrs(model,
        withLabel, "label")
      val filtered = withLabel.where(col("label") === 3)
        .select("id", "partition", "codes")
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = AnnQuery.topK(filtered, model, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        val local = serve.queryFiltered(q, k = 10, nprobe = 4)(_ == 3L)
        cluster.zipAll(local, (-1L, -1, -1.0), (-2L, -2, -2.0)).map {
          case ((cid, cp, cd), (lid, lp, ld)) =>
            (if (cid == lid && cp == lp) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact, no tolerance
        }
      }
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
    }),

    // Hamming warm serving (LocalServeHamming): signatures pin at
    // ~1/32 the float residency; the scan replays pack + popcount(xor)
    // + the (hamming, id) heap rule, so both the raw top-k and the
    // nominate+exact-rerank composition must be BIT-IDENTICAL to
    // BinaryQuant.rankedIds / rankedIdsRerank over three queries
    "knn_hamming_local_serve" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val thr = graft.index.BinaryQuant.fitThresholds(emb, "embedding")
      val serve = graft.query.LocalServeHamming.fromVectors(
        emb, "embedding", "vec_id", dim = 64, thresholds = thr,
        pinFloats = true)
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid)
        val cluster = graft.index.BinaryQuant.rankedIds(
            emb, "embedding", "vec_id", q, 10, thr)
          .collect().map(r => (r.getLong(1), r.getLong(2)))
        val local = serve.query(q, 10)
        val clusterRr = graft.index.BinaryQuant.rankedIdsRerank(
            emb, "embedding", "vec_id", q, 10, kFactor = 4,
            thresholds = thr)
          .collect().map(_.getLong(1))
        val localRr = serve.queryRerank(q, 10, kFactor = 4).map(_._1)
        cluster.zipAll(local, (-1L, -1L), (-2L, -2L)).map {
          case ((ci, ch), (li, lh)) =>
            (if (ci == li && ch == lh) 0L else 1L, 0L)
        } ++
        clusterRr.zipAll(localRr, -1L, -2L).map {
          case (a, b) => (0L, if (a == b) 0L else 1L)
        }
      }
      import s.implicits._
      checks.toDF("ham_mm", "rr_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("ham_mm")), lit(0L)).as("n_ham_mismatch"),
        coalesce(sum(col("rr_mm")), lit(0L)).as("n_rerank_mismatch"))
    }),

    // OPQ warm serving (LocalServe.fromOpqStore): the driver-local warm
    // path extended to the rotated codec family — the ONLY difference
    // from ann_local_serve's loop is the driver-side rotation of the
    // nprobe localized query vectors, the exact step OpqBuilder.topK
    // performs, so the invariant stays EXACT parity: same ids, same
    // partitions, BIT-IDENTICAL sq_dist, same order as the cluster OPQ
    // query on the same saved store, over three queries
    "ann_opq_local_serve" -> ((s, dir) => {
      val path = storedOpqPath(s, dir)
      val (model, codes) = OpqBuilder.load(s, path)
      val serve = graft.query.LocalServe.fromOpqStore(s, path)
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = OpqBuilder.topK(codes, model, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        val local = serve.query(q, k = 10, nprobe = 4)
        cluster.zipAll(local, (-1L, -1, -1.0), (-2L, -2, -2.0)).map {
          case ((cid, cp, cd), (lid, lp, ld)) =>
            (if (cid == lid && cp == lp) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact, no tolerance
        }
      }
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
    }),

    // RQ warm serving (LocalServeRq): the two-level refined codec's
    // warm path — level-1 LocalServe nominates k·kFactor candidates,
    // the driver re-scores each against the two-level reconstruction
    // replaying the cluster float-cast chain exactly, so the invariant
    // stays EXACT parity with Rq.topKRefined (ids + BIT-IDENTICAL
    // sq_dist, same order) over three queries
    "ann_rq_local_serve" -> ((s, dir) => {
      import graft.index.Rq
      val (model, encoded) = fittedIndex(s, dir)
      val (rq, enc2raw) = Rq.fitRefine(encoded, model,
        numDivisions2 = 16, numCodes2 = 16, trainPointsPerCentroid = 0)
      val enc2 = enc2raw.localCheckpoint()
      val serve = graft.query.LocalServeRq.fromCodes(rq, enc2)
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = Rq.topKRefined(enc2, rq, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val local = serve.query(q, k = 10, nprobe = 4)
        cluster.zipAll(local, (-1L, -1.0), (-2L, -2.0)).map {
          case ((cid, cd), (lid, ld)) =>
            (if (cid == lid) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact, no tolerance
        }
      }
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
    }),

    // SQ8 warm serving (LocalServeSq8): the warm path over the
    // scalar-quantized codec — per-row distances replay the sq8Dist
    // fold exactly, so the invariant stays EXACT parity with the
    // cluster IvfSq8.topK (ids, partitions, BIT-IDENTICAL sq_dist,
    // same order) over three queries; completes warm serving across
    // the stored codec family (PQ / OPQ / SQ8)
    "ann_sq8_local_serve" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded0) = graft.index.IvfSq8
        .fit(emb, "vec_id", "embedding", 64, numPartitions = 8)
      val encoded = encoded0.localCheckpoint()
      val serve = graft.query.LocalServeSq8.fromCodes(model, encoded)
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid).map(_.toDouble)
        val cluster = graft.index.IvfSq8
          .topK(encoded, model, q, k = 10, nprobe = 4)
          .collect()
          .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
        val local = serve.query(q, k = 10, nprobe = 4)
        cluster.zipAll(local, (-1L, -1, -1.0), (-2L, -2, -2.0)).map {
          case ((cid, cp, cd), (lid, lp, ld)) =>
            (if (cid == lid && cp == lp) 0L else 1L,
             if (cd == ld) 0L else 1L) // bit-exact, no tolerance
        }
      }
      import s.implicits._
      checks.toDF("id_mm", "dist_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("id_mm")), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(col("dist_mm")), lit(0L)).as("n_dist_mismatch"))
    }),

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
    "ann_opq" -> ((s, dir) => {
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
    }),

    // stored-OPQ query path: the rotation round-trips through its own
    // f64 parquet beside centroids/codebooks (load re-verifies
    // orthonormality), and the loaded store must answer bit-identically
    "ann_opq_stored" -> ((s, dir) => {
      val (modelM, encodedM) = fittedOpq(s, dir)
      val (modelL, codesL) = OpqBuilder.load(s, storedOpqPath(s, dir))
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val mem = OpqBuilder.topK(encodedM, modelM, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("mem_dist"))
      val st = OpqBuilder.topK(codesL, modelL, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("st_dist"))
      st.join(mem, Seq("id"), "full_outer").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(col("st_dist").isNull || col("mem_dist").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(when(abs(col("st_dist") - col("mem_dist")) > 1e-12, 1L)
          .otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
    }),

    // OPQ + exact re-rank: the rotated-space ADC scan nominates
    // candidates, true vectors re-score them exactly — quantization
    // error collapses to candidate error (mirror of ann_rerank)
    "ann_opq_rerank" -> ((s, dir) => {
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
    }),

    // SQ8 scalar-quantization index (the second codec family beside
    // IVF+PQ): per-dim affine bytes, asymmetric distance. Invariants:
    // k rows; every reported distance equals a decode-side recompute
    // through the higher-order-function path; every vector reconstructs
    // within half a quantization step per dimension; recall vs the
    // oracle-verified exact top-k
    "ann_sq8" -> ((s, dir) => {
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
    }),

    // stored-Sq8 query path (mirror of ann_ivfpq_stored for the second
    // codec family): save → load → the loaded index must answer
    // bit-identically (f64 codec constants round-trip exactly in parquet)
    "ann_sq8_stored" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val model = graft.index.Sq8.fit(emb, "embedding", 64)
      val enc = graft.index.Sq8.encode(model, emb, "vec_id", "embedding")
      // one REUSED store per sf dir, same discipline as ann_append
      val out = sq8Dir.getOrElseUpdate(dir,
        newStoreDir("graft_sq8"))
      graft.index.Sq8.save(model, enc, out)
      val (loaded, codes) = graft.index.Sq8.load(s, out)
      val mem = graft.index.Sq8.topK(enc, model, q, 10)
        .select(col("id"), col("sq_dist").as("mem_dist"))
      val st = graft.index.Sq8.topK(codes, loaded, q, 10)
        .select(col("id"), col("sq_dist").as("st_dist"))
      st.join(mem, Seq("id"), "full_outer").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(col("st_dist").isNull || col("mem_dist").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(when(abs(col("st_dist") - col("mem_dist")) > 1e-12, 1L)
          .otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
    }),

    // IVF+SQ8 composite (FAISS IndexIVFScalarQuantizer shape): coarse
    // cells + byte-quantized residuals — invariants mirror ann_ivfpq
    // (k rows, hits ⊆ probed cells, every distance equals an independent
    // decode-side recompute through the HOF path, recall vs exact)
    "ann_ivfsq8" -> ((s, dir) => {
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
    }),

    // incremental ingest: save an index holding HALF the vectors, append
    // the other half through IvfPqBuilder.appendToStore (encode against
    // the frozen model, append-only partitioned write, nothing
    // rewritten), reload — the stored index must hold every vector and
    // answer bit-identically to the in-memory index that encoded
    // everything in one shot (encoding is deterministic given a model)
    "ann_append" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      // one REUSED store per sf dir: save() overwrites the codes table,
      // so each run re-exercises the full save+append+load path without
      // accumulating a fresh directory per invocation
      val out = appendDir.getOrElseUpdate(dir,
        newStoreDir("graft_append"))
      IvfPqBuilder.save(model,
        IvfPqBuilder.encode(model, emb.where(col("vec_id") % 2 === 0),
          "vec_id", "embedding"), out)
      IvfPqBuilder.appendToStore(model, emb.where(col("vec_id") % 2 =!= 0),
        "vec_id", "embedding", out)
      val (loaded, codes) = IvfPqBuilder.load(s, out)
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val st = AnnQuery.topK(codes, loaded, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("st_dist"))
      val mem = AnnQuery.topK(encoded, model, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("mem_dist"))
      val cmp = st.join(mem, Seq("id"), "full_outer").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(col("st_dist").isNull || col("mem_dist").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(when(abs(col("st_dist") - col("mem_dist")) > 1e-12, 1L)
          .otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
      val totals = codes.agg(count(lit(1)).as("n_codes")).crossJoin(
        emb.agg(count(lit(1)).as("n_emb")))
      cmp.crossJoin(totals)
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          (col("n_codes") - col("n_emb")).cast("long").as("n_total_diff"))
    }),

    // append-only DELETE (beyond the reference: update/delete are
    // unimplemented there, README.md:73): tombstone the query's 3
    // nearest ids in the store, reload — the stored query must return k
    // live rows, no deleted id, and match the in-memory query over the
    // surviving vectors bit-exactly
    "ann_delete" -> ((s, dir) => {
      val (model, encoded) = fittedIndex(s, dir)
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val victims = AnnQuery
        .topK(encoded, model, q, k = 3, nprobe = 8).select("id")
      // the whole save+delete rides inside the memo so a re-invocation
      // is read-only (same discipline as events_day_partitioned)
      val out = deleteDir.getOrElseUpdate(dir, {
        val p = newStoreDir("graft_delete")
        IvfPqBuilder.save(model, encoded, p)
        IvfPqBuilder.deleteFromStore(p, victims, "id")
        p
      })
      val (loaded, codes) = IvfPqBuilder.load(s, out)
      val st = AnnQuery.topK(codes, loaded, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("st_dist"))
      val mem = AnnQuery.topK(
          encoded.join(victims, Seq("id"), "left_anti"), model, q,
          k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("mem_dist"))
      val cmp = st.join(mem, Seq("id"), "full_outer").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(col("st_dist").isNull || col("mem_dist").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(when(abs(col("st_dist") - col("mem_dist")) > 1e-12, 1L)
          .otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
      val dead = st.join(victims, "id")
        .agg(count(lit(1)).cast("long").as("n_deleted_in_hits"))
      cmp.crossJoin(dead)
    }),

    // store COMPACTION (the maintenance step that keeps append+tombstone
    // honest): build a store from a half save + an appendToStore batch +
    // 3 tombstoned deletes, stash the pre-compact LIVE answer, compact —
    // the compacted store must answer BIT-IDENTICALLY, the tombstone log
    // must be gone, and the codes file count must shrink (the append
    // batches and anti-join side folded away). All inside the memo so a
    // re-invocation is read-only over the compacted store.
    "ann_compact" -> ((s, dir) => {
      val (model, encoded) = fittedIndex(s, dir)
      val emb = Tables.embeddings(s, dir)
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val (out, preHits, preFiles, postFiles) =
        compactMemo.getOrElseUpdate(dir, {
          val p = newStoreDir("graft_compact")
          IvfPqBuilder.save(model,
            IvfPqBuilder.encode(model, emb.where(col("vec_id") % 2 === 0),
              "vec_id", "embedding"), p)
          IvfPqBuilder.appendToStore(model,
            emb.where(col("vec_id") % 2 =!= 0), "vec_id", "embedding", p)
          val victims = AnnQuery
            .topK(encoded, model, q, k = 3, nprobe = 8).select("id")
          IvfPqBuilder.deleteFromStore(p, victims, "id")
          val (m0, live0) = IvfPqBuilder.load(s, p)
          val pre = AnnQuery.topK(live0, m0, q, k = 10, nprobe = 4)
            .select("id", "sq_dist").collect()
            .map(r => (r.getLong(0), r.getDouble(1)))
          val before = IvfPqBuilder.parquetFileCount(s, s"$p/codes")
          IvfPqBuilder.compactStore(s, p)
          (p, pre, before, IvfPqBuilder.parquetFileCount(s, s"$p/codes"))
        })
      val (loaded, codes) = IvfPqBuilder.load(s, out)
      val post = AnnQuery.topK(codes, loaded, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("post_dist"))
      import s.implicits._
      val pre = preHits.toSeq.toDF("id", "pre_dist")
      val tombstonesLeft =
        if (new java.io.File(s"$out/tombstones").exists) 1L else 0L
      post.join(pre, Seq("id"), "full_outer").agg(
          count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum(when(col("post_dist").isNull || col("pre_dist").isNull,
            1L).otherwise(0L)), lit(0L)).as("n_id_mismatch"),
          coalesce(sum(when(abs(col("post_dist") - col("pre_dist")) > 1e-12,
            1L).otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(tombstonesLeft).as("n_tombstone_dirs"),
          lit(if (postFiles < preFiles) 1L else 0L).as("files_reduced"))
    }),

    // OPQ store DELETE — lifecycle parity across codec families (round
    // 12): the shared tombstone log under an OPQ store; the loaded
    // store's rotated-space query must return k live rows, no deleted
    // id, and match the in-memory query over the survivors bit-exactly
    "ann_opq_delete" -> ((s, dir) => {
      val (model, encoded) = fittedOpq(s, dir)
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val victims = OpqBuilder
        .topK(encoded, model, q, k = 3, nprobe = 8).select("id")
      val out = opqDeleteDir.getOrElseUpdate(dir, {
        val p = newStoreDir("graft_opq_delete")
        OpqBuilder.save(model, encoded, p)
        OpqBuilder.deleteFromStore(p, victims, "id")
        p
      })
      val (loaded, codes) = OpqBuilder.load(s, out)
      val st = OpqBuilder.topK(codes, loaded, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("st_dist"))
      val mem = OpqBuilder.topK(
          encoded.join(victims, Seq("id"), "left_anti"), model, q,
          k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("mem_dist"))
      val cmp = st.join(mem, Seq("id"), "full_outer").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(col("st_dist").isNull || col("mem_dist").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(when(abs(col("st_dist") - col("mem_dist")) > 1e-12, 1L)
          .otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
      val dead = st.join(victims, "id")
        .agg(count(lit(1)).cast("long").as("n_deleted_in_hits"))
      cmp.crossJoin(dead)
    }),

    // OPQ store COMPACTION — half save + OpqBuilder.appendToStore batch
    // (frozen model: rotation included) + 3 tombstoned deletes, stash
    // the pre-compact LIVE answer, compact through the shared
    // cell-partitioned rewrite: the compacted store must answer
    // BIT-IDENTICALLY, tombstones gone, codes file count shrunk
    "ann_opq_compact" -> ((s, dir) => {
      val (model, encoded) = fittedOpq(s, dir)
      val emb = Tables.embeddings(s, dir)
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val (out, preHits, preFiles, postFiles) =
        opqCompactMemo.getOrElseUpdate(dir, {
          val p = newStoreDir("graft_opq_compact")
          OpqBuilder.save(model,
            OpqBuilder.encode(model, emb.where(col("vec_id") % 2 === 0),
              "vec_id", "embedding"), p)
          OpqBuilder.appendToStore(model,
            emb.where(col("vec_id") % 2 =!= 0), "vec_id", "embedding", p)
          val victims = OpqBuilder
            .topK(encoded, model, q, k = 3, nprobe = 8).select("id")
          OpqBuilder.deleteFromStore(p, victims, "id")
          val (m0, live0) = OpqBuilder.load(s, p)
          val pre = OpqBuilder.topK(live0, m0, q, k = 10, nprobe = 4)
            .select("id", "sq_dist").collect()
            .map(r => (r.getLong(0), r.getDouble(1)))
          val before = IvfPqBuilder.parquetFileCount(s, s"$p/codes")
          OpqBuilder.compactStore(s, p)
          (p, pre, before, IvfPqBuilder.parquetFileCount(s, s"$p/codes"))
        })
      val (loaded, codes) = OpqBuilder.load(s, out)
      val post = OpqBuilder.topK(codes, loaded, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("post_dist"))
      import s.implicits._
      val pre = preHits.toSeq.toDF("id", "pre_dist")
      val tombstonesLeft =
        if (new java.io.File(s"$out/tombstones").exists) 1L else 0L
      post.join(pre, Seq("id"), "full_outer").agg(
          count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum(when(col("post_dist").isNull || col("pre_dist").isNull,
            1L).otherwise(0L)), lit(0L)).as("n_id_mismatch"),
          coalesce(sum(when(abs(col("post_dist") - col("pre_dist")) > 1e-12,
            1L).otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(tombstonesLeft).as("n_tombstone_dirs"),
          lit(if (postFiles < preFiles) 1L else 0L).as("files_reduced"))
    }),

    // OPQ drift repair (round 12 — the REBALANCE recommendation OPQ
    // appends emit finally has its repair): skew an OPQ store with a
    // drifted append, blue/green re-fit (fresh rotation AND codebooks)
    // from the store's own unrotated reconstructions — row count
    // preserved, imbalance strictly drops, rebuilt store answers k rows
    "ann_opq_rebalance" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedOpq(s, dir)
      val src = opqRebalDir.getOrElseUpdate(dir,
        newStoreDir("graft_opq_rebal_src"))
      val out = opqRebalOutDir.getOrElseUpdate(dir,
        newStoreDir("graft_opq_rebal_out"))
      OpqBuilder.save(model, encoded, src)
      val base = queryVec(s, dir, 0L)
      val nClones = emb.count() / 2
      val clones = s.range(nClones).select(
        (col("id") + 10000000L).as("vec_id"),
        transform(zip_with(typedlit(base.toSeq),
            graft.functions.FastFunctions.pseudoRandomVec(col("id"),
              base.length, 2024L),
            (a, b) => a + b * abs(a) * lit(0.5)),
          x => x.cast("float")).as("embedding"))
      OpqBuilder.appendToStore(model, clones, "vec_id", "embedding", src)
      def imbalance(p: String): Double = {
        val counts = IvfPqBuilder.cellHistogram(s, p)
          .collect().map(_.getLong(1))
        counts.max / (counts.sum.toDouble / model.ivf.config.numPartitions)
      }
      val before = imbalance(src)
      OpqBuilder.rebalanceStore(s, src, out)
      val after = imbalance(out)
      val (mNew, codesNew) = OpqBuilder.load(s, out)
      val nOldLive = OpqBuilder.load(s, src)._2.count()
      val nNew = codesNew.count()
      val q = base.map(_.toDouble)
      val nHits = OpqBuilder.topK(codesNew, mNew, q, k = 10, nprobe = 4)
        .count()
      s.range(1).select(
        lit(nNew - nOldLive).cast("long").as("n_total_diff"),
        when(lit(after < before), 1L).otherwise(0L).as("flattened"),
        lit(nHits).cast("long").as("n_hits"))
    }),

    // SQ8 store DELETE — the flat-table member of the shared lifecycle:
    // tombstone the query's 3 nearest, reload — k live rows, no deleted
    // id, bit-equal to the in-memory query over the survivors
    "ann_sq8_delete" -> ((s, dir) => {
      val (model, enc) = fittedSq8(s, dir)
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val victims = graft.index.Sq8.topK(enc, model, q, 3).select("id")
      val out = sq8DeleteDir.getOrElseUpdate(dir, {
        val p = newStoreDir("graft_sq8_delete")
        graft.index.Sq8.save(model, enc, p)
        graft.index.Sq8.deleteFromStore(p, victims, "id")
        p
      })
      val (loaded, codes) = graft.index.Sq8.load(s, out)
      val st = graft.index.Sq8.topK(codes, loaded, q, 10)
        .select(col("id"), col("sq_dist").as("st_dist"))
      val mem = graft.index.Sq8
        .topK(enc.join(victims, Seq("id"), "left_anti"), model, q, 10)
        .select(col("id"), col("sq_dist").as("mem_dist"))
      val cmp = st.join(mem, Seq("id"), "full_outer").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(col("st_dist").isNull || col("mem_dist").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(when(abs(col("st_dist") - col("mem_dist")) > 1e-12, 1L)
          .otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
      val dead = st.join(victims, "id")
        .agg(count(lit(1)).cast("long").as("n_deleted_in_hits"))
      cmp.crossJoin(dead)
    }),

    // SQ8 store COMPACTION — flat-table lifecycle: half save + frozen-
    // codec append + 3 deletes, compact via the shared flat rewrite
    // (rowsPerFile sized to force a real file-count reduction at gate
    // scale) — bit-identical answers, tombstones gone, fewer files
    "ann_sq8_compact" -> ((s, dir) => {
      val (model, enc) = fittedSq8(s, dir)
      val emb = Tables.embeddings(s, dir)
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val (out, preHits, preFiles, postFiles) =
        sq8CompactMemo.getOrElseUpdate(dir, {
          val p = newStoreDir("graft_sq8_compact")
          graft.index.Sq8.save(model,
            graft.index.Sq8.encode(model, emb.where(col("vec_id") % 2 === 0),
              "vec_id", "embedding"), p)
          graft.index.Sq8.appendToStore(model,
            emb.where(col("vec_id") % 2 =!= 0), "vec_id", "embedding", p)
          val victims = graft.index.Sq8.topK(enc, model, q, 3).select("id")
          graft.index.Sq8.deleteFromStore(p, victims, "id")
          val (m0, live0) = graft.index.Sq8.load(s, p)
          val pre = graft.index.Sq8.topK(live0, m0, q, 10)
            .select("id", "sq_dist").collect()
            .map(r => (r.getLong(0), r.getDouble(1)))
          val before = IvfPqBuilder.parquetFileCount(s, s"$p/codes")
          graft.index.Sq8.compactStore(s, p)
          (p, pre, before, IvfPqBuilder.parquetFileCount(s, s"$p/codes"))
        })
      val (loaded, codes) = graft.index.Sq8.load(s, out)
      val post = graft.index.Sq8.topK(codes, loaded, q, 10)
        .select(col("id"), col("sq_dist").as("post_dist"))
      import s.implicits._
      val pre = preHits.toSeq.toDF("id", "pre_dist")
      val tombstonesLeft =
        if (new java.io.File(s"$out/tombstones").exists) 1L else 0L
      post.join(pre, Seq("id"), "full_outer").agg(
          count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum(when(col("post_dist").isNull || col("pre_dist").isNull,
            1L).otherwise(0L)), lit(0L)).as("n_id_mismatch"),
          coalesce(sum(when(abs(col("post_dist") - col("pre_dist")) > 1e-12,
            1L).otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(tombstonesLeft).as("n_tombstone_dirs"),
          lit(if (postFiles < preFiles) 1L else 0L).as("files_reduced"))
    }),

    // stored-IVF+SQ8 query path (the family's save → load → bit-equal
    // gate, mirroring ann_ivfpq_stored/ann_sq8_stored): f64 centroids +
    // codec constants round-trip exactly in parquet, so the loaded
    // index must answer bit-identically to the in-memory one
    "ann_ivfsq8_stored" -> ((s, dir) => {
      val (model, enc) = fittedIvfSq8(s, dir)
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val out = ivfSq8StoredDir.getOrElseUpdate(dir, {
        val p = newStoreDir("graft_ivfsq8")
        graft.index.IvfSq8.save(model, enc, p)
        p
      })
      val (loaded, codes) = graft.index.IvfSq8.load(s, out)
      val mem = graft.index.IvfSq8.topK(enc, model, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("mem_dist"))
      val st = graft.index.IvfSq8.topK(codes, loaded, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("st_dist"))
      st.join(mem, Seq("id"), "full_outer").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(col("st_dist").isNull || col("mem_dist").isNull, 1L)
          .otherwise(0L)), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(when(abs(col("st_dist") - col("mem_dist")) > 1e-12, 1L)
          .otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
    }),

    // IVF+SQ8 store lifecycle — half save + frozen-model append + 3
    // tombstoned deletes + cell-partitioned compaction in one gate:
    // post-compact answers bit-equal the pre-compact live view, no
    // deleted id among the hits, tombstones gone, fewer files
    "ann_ivfsq8_compact" -> ((s, dir) => {
      val (model, enc) = fittedIvfSq8(s, dir)
      val emb = Tables.embeddings(s, dir)
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val (out, preHits, preFiles, postFiles) =
        ivfSq8CompactMemo.getOrElseUpdate(dir, {
          val p = newStoreDir("graft_ivfsq8_compact")
          graft.index.IvfSq8.save(model,
            graft.index.IvfSq8.encode(model,
              emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding"), p)
          graft.index.IvfSq8.appendToStore(model,
            emb.where(col("vec_id") % 2 =!= 0), "vec_id", "embedding", p)
          val victims = graft.index.IvfSq8
            .topK(enc, model, q, k = 3, nprobe = 8).select("id")
          graft.index.IvfSq8.deleteFromStore(p, victims, "id")
          val (m0, live0) = graft.index.IvfSq8.load(s, p)
          val pre = graft.index.IvfSq8.topK(live0, m0, q, k = 10, nprobe = 4)
            .select("id", "sq_dist").collect()
            .map(r => (r.getLong(0), r.getDouble(1)))
          val before = IvfPqBuilder.parquetFileCount(s, s"$p/codes")
          graft.index.IvfSq8.compactStore(s, p)
          (p, pre, before, IvfPqBuilder.parquetFileCount(s, s"$p/codes"))
        })
      val (loaded, codes) = graft.index.IvfSq8.load(s, out)
      val post = graft.index.IvfSq8.topK(codes, loaded, q, k = 10, nprobe = 4)
        .select(col("id"), col("sq_dist").as("post_dist"))
      import s.implicits._
      val pre = preHits.toSeq.toDF("id", "pre_dist")
      val tombstonesLeft =
        if (new java.io.File(s"$out/tombstones").exists) 1L else 0L
      post.join(pre, Seq("id"), "full_outer").agg(
          count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum(when(col("post_dist").isNull || col("pre_dist").isNull,
            1L).otherwise(0L)), lit(0L)).as("n_id_mismatch"),
          coalesce(sum(when(abs(col("post_dist") - col("pre_dist")) > 1e-12,
            1L).otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(tombstonesLeft).as("n_tombstone_dirs"),
          lit(if (postFiles < preFiles) 1L else 0L).as("files_reduced"))
    }),

    // binary-signature store with the FULL lifecycle inside a REAL
    // DuckDB oracle (the strongest parity class — Hamming distances are
    // integers): save half, append half (frozen sign thresholds),
    // tombstone the 3 nearest, reload, query — the emitted (rank,
    // vec_id, hamming) rows must equal DuckDB's recount over the
    // surviving vectors, dead ids derived by the SAME rule in SQL
    "knn_hamming_stored" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val qf = queryVec(s, dir, 0L)
      val (out, thr, _) = hamStoredMemo.getOrElseUpdate(dir, {
        val p = newStoreDir("graft_ham")
        val thresholds = new Array[Double](64) // sign bits
        graft.index.BinaryQuant.save(thresholds,
          emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", p)
        graft.index.BinaryQuant.appendToStore(thresholds,
          emb.where(col("vec_id") % 2 =!= 0), "vec_id", "embedding", p)
        val victims = graft.index.BinaryQuant
          .rankedIds(emb, "embedding", "vec_id", qf, 3)
          .select(col("vec_id"))
        graft.index.BinaryQuant.deleteFromStore(p, victims, "vec_id")
        val dead = victims.collect().map(_.getLong(0)).toSeq
        (p, thresholds, dead)
      })
      val (thrL, sigs) = graft.index.BinaryQuant.load(s, out)
      require(java.util.Arrays.equals(thrL, thr), "threshold round-trip")
      val w = Window.orderBy(col("hamming"), col("id"))
      graft.index.BinaryQuant.topKSignatures(sigs, qf, 10, thrL)
        .select(row_number().over(w).cast("long").as("rank"),
          col("id").as("vec_id"), col("hamming").cast("long"))
    }),

    // binary store COMPACTION: fold the append + tombstones of the
    // knn_hamming_stored fixture's twin store through the shared flat
    // rewrite — integer bit-equality pre/post, tombstones gone, fewer
    // files
    "knn_hamming_compact" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qf = queryVec(s, dir, 0L)
      val (out, preHits, preFiles, postFiles) =
        hamCompactMemo.getOrElseUpdate(dir, {
          val p = newStoreDir("graft_ham_compact")
          val thresholds = new Array[Double](64)
          graft.index.BinaryQuant.save(thresholds,
            emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", p)
          graft.index.BinaryQuant.appendToStore(thresholds,
            emb.where(col("vec_id") % 2 =!= 0), "vec_id", "embedding", p)
          val victims = graft.index.BinaryQuant
            .rankedIds(emb, "embedding", "vec_id", qf, 3)
            .select(col("vec_id"))
          graft.index.BinaryQuant.deleteFromStore(p, victims, "vec_id")
          val (thr0, live0) = graft.index.BinaryQuant.load(s, p)
          val pre = graft.index.BinaryQuant
            .topKSignatures(live0, qf, 10, thr0)
            .collect()
            .map(r => (r.getLong(0), r.getAs[Number](1).longValue))
          val before = IvfPqBuilder.parquetFileCount(s, s"$p/codes")
          // rowsPerFile below the fixture's row count so the rewrite
          // provably coalesces the save+append file sets
          graft.index.BinaryQuant.compactStore(s, p)
          (p, pre, before, IvfPqBuilder.parquetFileCount(s, s"$p/codes"))
        })
      val (thrL, sigs) = graft.index.BinaryQuant.load(s, out)
      val post = graft.index.BinaryQuant.topKSignatures(sigs, qf, 10, thrL)
        .select(col("id"), col("hamming").as("post_ham"))
      import s.implicits._
      val pre = preHits.toSeq.toDF("id", "pre_ham")
      val tombstonesLeft =
        if (new java.io.File(s"$out/tombstones").exists) 1L else 0L
      post.join(pre, Seq("id"), "full_outer").agg(
          count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum(when(col("post_ham").isNull || col("pre_ham").isNull,
            1L).otherwise(0L)), lit(0L)).as("n_id_mismatch"),
          coalesce(sum(when(col("post_ham") =!= col("pre_ham"), 1L)
            .otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(tombstonesLeft).as("n_tombstone_dirs"),
          lit(if (postFiles < preFiles) 1L else 0L).as("files_reduced"))
    }),

    // batch ANN: all five query vectors against the stored codes in one
    // job; invariants: 5 query groups of exactly k rows each, distances
    // ascending with rank within every group, and per-query recall vs the
    // oracle-verified exact batch k-NN
    "ann_batch" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val (model, codes) = IvfPqBuilder.load(s, storedIndexPath(s, dir))
      val emb = Tables.embeddings(s, dir)
      val qrows = emb.where(col("vec_id") <= 4)
        .select("vec_id", "embedding").collect()
      val qs = qrows
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
        .toSeq
      val ann = AnnQuery.batchTopK(codes, model, qs, k = 10, nprobe = 4)
      val qsDf = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val exact = ExactKnn
        .batchTopK(emb, "embedding", "vec_id", qsDf, "qid", "qvec", 10)
        .select(col("qid"), col("vec_id").as("id"))
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
    }),

    // table-free batch ANN: queries as a DATAFRAME, probe planning on the
    // executors (topCellsL2 + pqDistDirect kernels) — nothing broadcast
    // or built per query on the driver, so the batch can be as large as
    // the cluster. Gated on PARITY with the driver-planned batchTopK
    // (same id at every (qid, rank), distances equal within 1e-6 — the
    // two paths differ only in float summation order) plus the standard
    // per-query recall invariant vs the oracle-verified exact batch k-NN.
    "ann_batch_direct" -> ((s, dir) => {
      val (model, codes) = IvfPqBuilder.load(s, storedIndexPath(s, dir))
      val emb = Tables.embeddings(s, dir)
      val qsDf = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val direct = AnnQuery
        .batchTopKDirect(codes, model, qsDf, "qid", "qvec", k = 10, nprobe = 4)
      val qs = emb.where(col("vec_id") <= 4)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
        .toSeq
      val planned = AnnQuery.batchTopK(codes, model, qs, k = 10, nprobe = 4)
        .select(col("qid"), col("rank"),
          col("id").as("p_id"), col("sq_dist").as("p_dist"))
      val exact = ExactKnn
        .batchTopK(emb, "embedding", "vec_id", qsDf, "qid", "qvec", 10)
        .select(col("qid"), col("vec_id").as("id"))
      val par = direct.join(planned, Seq("qid", "rank"), "full_outer").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(col("id").isNull || col("p_id").isNull
          || col("id") =!= col("p_id"), 1L).otherwise(0L)), lit(0L))
          .as("n_id_mismatch"),
        coalesce(sum(when(abs(col("sq_dist") - col("p_dist")) > 1e-6, 1L)
          .otherwise(0L)), lit(0L)).as("n_dist_far"))
      val rec = direct.join(exact, Seq("qid", "id"))
        .groupBy("qid").agg(count(lit(1)).as("n_rec"))
        .agg(count(lit(1)).cast("long").as("n_qids"),
          coalesce(sum(when(col("n_rec") < 3, 1L).otherwise(0L)), lit(0L))
            .as("n_low_recall"))
      par.crossJoin(rec).select(col("n_rows"), col("n_id_mismatch"),
        col("n_dist_far"), col("n_qids"), col("n_low_recall"))
    }),

    // the high-throughput batch path (in-plan ADC tables, shuffled-hash
    // scan, nothing query-scaled broadcast — AnnQuery.batchTopKAdc):
    // same invariants as ann_batch_direct, against the driver-planned
    // batchTopK as the parity reference and the exact top-k for recall
    "ann_batch_adc" -> ((s, dir) => {
      val (model, codes) = IvfPqBuilder.load(s, storedIndexPath(s, dir))
      val emb = Tables.embeddings(s, dir)
      val qsDf = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      val adc = AnnQuery
        .batchTopKAdc(codes, model, qsDf, "qid", "qvec", k = 10, nprobe = 4)
      val qs = emb.where(col("vec_id") <= 4)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
        .toSeq
      val planned = AnnQuery.batchTopK(codes, model, qs, k = 10, nprobe = 4)
        .select(col("qid"), col("rank"),
          col("id").as("p_id"), col("sq_dist").as("p_dist"))
      val exact = ExactKnn
        .batchTopK(emb, "embedding", "vec_id", qsDf, "qid", "qvec", 10)
        .select(col("qid"), col("vec_id").as("id"))
      val par = adc.join(planned, Seq("qid", "rank"), "full_outer").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(col("id").isNull || col("p_id").isNull
          || col("id") =!= col("p_id"), 1L).otherwise(0L)), lit(0L))
          .as("n_id_mismatch"),
        coalesce(sum(when(abs(col("sq_dist") - col("p_dist")) > 1e-6, 1L)
          .otherwise(0L)), lit(0L)).as("n_dist_far"))
      val rec = adc.join(exact, Seq("qid", "id"))
        .groupBy("qid").agg(count(lit(1)).as("n_rec"))
        .agg(count(lit(1)).cast("long").as("n_qids"),
          coalesce(sum(when(col("n_rec") < 3, 1L).otherwise(0L)), lit(0L))
            .as("n_low_recall"))
      par.crossJoin(rec).select(col("n_rows"), col("n_id_mismatch"),
        col("n_dist_far"), col("n_qids"), col("n_low_recall"))
    }),

    // drift REPAIR (the operation the append-drift REBALANCE
    // recommendation points at): skew a store with a broad appended
    // cloud around one vector, then rebalanceStore re-fits the coarse
    // layout from the store's OWN reconstructions (pqReconstructF) into
    // a NEW blue/green store. Invariants: every live row survives, the
    // old store is untouched, cell imbalance strictly drops, and the
    // refreshed store still answers k rows.
    "ann_rebalance" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, _) = fittedIndex(s, dir)
      val src = rebalDir.getOrElseUpdate(dir, newStoreDir("graft_rebal_src"))
      val out = rebalOutDir.getOrElseUpdate(dir, newStoreDir("graft_rebal_out"))
      IvfPqBuilder.save(model,
        IvfPqBuilder.encode(model, emb, "vec_id", "embedding"), src)
      // drifted ingest: a cloud of half the corpus size around vector 0,
      // each coordinate perturbed ±50% relative — concentrated enough to
      // skew the frozen layout, spread enough that a re-fit must split it
      val base = queryVec(s, dir, 0L)
      val nClones = emb.count() / 2
      val clones = s.range(nClones).select(
        (col("id") + 10000000L).as("vec_id"),
        transform(zip_with(typedlit(base.toSeq),
            graft.functions.FastFunctions.pseudoRandomVec(col("id"),
              base.length, 2024L),
            (a, b) => a + b * abs(a) * lit(0.5)),
          x => x.cast("float")).as("embedding"))
      IvfPqBuilder.appendToStore(model, clones, "vec_id", "embedding", src)
      def imbalance(p: String): Double = {
        val counts = IvfPqBuilder.cellHistogram(s, p)
          .collect().map(_.getLong(1))
        counts.max / (counts.sum.toDouble / model.config.numPartitions)
      }
      val before = imbalance(src)
      IvfPqBuilder.rebalanceStore(s, src, out)
      val after = imbalance(out)
      val (mNew, codesNew) = IvfPqBuilder.load(s, out)
      val nOldLive = IvfPqBuilder.load(s, src)._2.count()
      val nNew = codesNew.count()
      val q = base.map(_.toDouble)
      val nHits = AnnQuery.topK(codesNew, mNew, q, k = 10, nprobe = 4).count()
      s.range(1).select(
        lit(nNew - nOldLive).cast("long").as("n_total_diff"),
        when(lit(after < before), 1L).otherwise(0L).as("flattened"),
        lit(nHits).cast("long").as("n_hits"))
    }),

    // CELL-TARGETED drift repair (the nightly-maintenance twin of
    // ann_rebalance): skew a store the same way, then
    // rebalanceStorePartial re-fits ONLY the hot+donor cells in place.
    // Invariants: every live row survives with the same id multiset,
    // cell imbalance strictly drops, every untouched cell's files are
    // content-identical (SHA-256 over bytes), and the repaired store
    // still answers k rows.
    "ann_rebalance_partial" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, _) = fittedIndex(s, dir)
      val src = rebalPartDir.getOrElseUpdate(dir, newStoreDir("graft_rebal_part"))
      IvfPqBuilder.save(model,
        IvfPqBuilder.encode(model, emb, "vec_id", "embedding"), src)
      val base = queryVec(s, dir, 0L)
      val nClones = emb.count() / 2
      val clones = s.range(nClones).select(
        (col("id") + 10000000L).as("vec_id"),
        transform(zip_with(typedlit(base.toSeq),
            graft.functions.FastFunctions.pseudoRandomVec(col("id"),
              base.length, 2024L),
            (a, b) => a + b * abs(a) * lit(0.5)),
          x => x.cast("float")).as("embedding"))
      IvfPqBuilder.appendToStore(model, clones, "vec_id", "embedding", src)
      def imbalance(): Double = {
        val counts = IvfPqBuilder.cellHistogram(s, src)
          .collect().map(_.getLong(1))
        counts.max / (counts.sum.toDouble / model.config.numPartitions)
      }
      def codesHashes(): Map[String, String] = {
        val root = new org.apache.hadoop.fs.Path(s"$src/codes")
        val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
        val it = fs.listFiles(root, true)
        val b = Map.newBuilder[String, String]
        while (it.hasNext) {
          val f = it.next().getPath
          val in = fs.open(f)
          val bytes = try in.readAllBytes() finally in.close()
          b += f.toString -> java.security.MessageDigest.getInstance("SHA-256")
            .digest(bytes).map("%02x".format(_)).mkString
        }
        b.result()
      }
      val before = imbalance()
      val hashesBefore = codesHashes()
      val liveBefore = IvfPqBuilder.load(s, src)._2.count()
      val (_, refreshed) = IvfPqBuilder.rebalanceStorePartial(s, src)
      val hashesAfter = codesHashes()
      val touched = refreshed.map(c => s"/partition=$c/").toSet
      val untouchedOk = refreshed.nonEmpty && hashesBefore.forall {
        case (f, h) => touched.exists(f.contains) ||
          hashesAfter.get(f).contains(h)
      }
      val (mNew, codesNew) = IvfPqBuilder.load(s, src)
      val nNew = codesNew.count()
      val after = imbalance()
      val nHits = AnnQuery.topK(codesNew, mNew, base.map(_.toDouble),
        k = 10, nprobe = 4).count()
      s.range(1).select(
        lit(nNew - liveBefore).cast("long").as("n_total_diff"),
        when(lit(refreshed.nonEmpty && after < before), 1L)
          .otherwise(0L).as("flattened"),
        when(lit(untouchedOk), 1L).otherwise(0L).as("untouched_ok"),
        lit(nHits).cast("long").as("n_hits"))
    }),

    // the VECTOR-side end-to-end composite (the pipeline_end_to_end twin
    // for embeddings): hash-embed raw documents -> PCA to 16 dims (one
    // moments pass + driver Jacobi + a codegen projection) -> IVF+PQ
    // build over the reduced vectors -> refined self-query. Invariants:
    // every reduced vector has exactly k dims; the self-query's exact
    // rerank puts the query doc at rank 1 (its reduced distance is 0);
    // recall vs the exact top-10 over reduced vectors >= 30%
    "pipeline_vector_end_to_end" -> ((s, dir) => {
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
    }),

    // two-level residual quantization (index/Rq): a SECOND code layer
    // trained on the level-1 reconstruction error refines candidate
    // rerank WITHOUT stored originals (FAISS IVFPQR shape). Invariants:
    // k rows; the two-level total reconstruction error is strictly
    // below level-1's; refined recall >= 30% and >= the plain ADC
    // top-k's recall on this fixture
    "ann_rq_rerank" -> ((s, dir) => {
      import graft.index.Rq
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val (rq, enc2raw) = Rq.fitRefine(encoded, model,
        numDivisions2 = 16, numCodes2 = 16, trainPointsPerCentroid = 0)
      val enc2 = enc2raw.localCheckpoint()
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
    }),

    // batch refined queries: one ADC nomination pass + one streamed
    // codes pass scoring two-level reconstructions must equal the
    // per-query refined path id-for-id and distance-for-distance
    "ann_rq_batch" -> ((s, dir) => {
      import graft.index.Rq
      val (model, encoded) = fittedIndex(s, dir)
      val (rq, enc2raw) = Rq.fitRefine(encoded, model,
        numDivisions2 = 16, numCodes2 = 16, trainPointsPerCentroid = 0)
      val enc2 = enc2raw.localCheckpoint()
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
      batch.join(singles, Seq("qid", "id"), "full_outer").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(col("b_dist").isNull || col("s_dist").isNull,
          1L).otherwise(0L)), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(when(abs(col("b_dist") - col("s_dist")) > 1e-12,
          1L).otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
    }),

    // stored refined index: save/load the two-layer store (level-1
    // layout + refine/ subtree, SHA-256-verified manifests) and require
    // the loaded store's refined top-k to MATCH the in-memory one
    // id-for-id and distance-for-distance — the ann_ivfpq_stored
    // discipline applied to the newest store family
    "ann_rq_stored" -> ((s, dir) => {
      import graft.index.Rq
      val (model, encoded) = fittedIndex(s, dir)
      val (rq, enc2raw) = Rq.fitRefine(encoded, model,
        numDivisions2 = 16, numCodes2 = 16, trainPointsPerCentroid = 0)
      val enc2 = enc2raw.localCheckpoint()
      val out = newStoreDir("graft_rq")
      Rq.save(rq, enc2, out)
      val (rqL, enc2L) = Rq.load(s, out)
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val mem = Rq.topKRefined(enc2, rq, q, k = 10, nprobe = 8)
        .select(col("id"), col("sq_dist").as("mem_dist"))
      val st = Rq.topKRefined(enc2L, rqL, q, k = 10, nprobe = 8)
        .select(col("id"), col("sq_dist").as("st_dist"))
      st.join(mem, Seq("id"), "full_outer").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(when(col("st_dist").isNull || col("mem_dist").isNull,
          1L).otherwise(0L)), lit(0L)).as("n_id_mismatch"),
        coalesce(sum(when(abs(col("st_dist") - col("mem_dist")) > 1e-12,
          1L).otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
    }),

    // RQ store lifecycle (round 12 — both layers): tombstone the
    // query's 3 nearest in a refined store, pre-compact answer stashed,
    // then compact BOTH tables (level-1 cell rewrite + refine/codes2
    // flat rewrite) — bit-identical refined answers, tombstones gone,
    // no deleted id, and the codes2 table's LIVE row count preserved
    "ann_rq_compact" -> ((s, dir) => {
      import graft.index.Rq
      val (model, encoded) = fittedIndex(s, dir)
      val q = queryVec(s, dir, 0L).map(_.toDouble)
      val (out, preHits, preC2Rows) = rqCompactMemo.getOrElseUpdate(dir, {
        val (rq, enc2raw) = Rq.fitRefine(encoded, model,
          numDivisions2 = 16, numCodes2 = 16, trainPointsPerCentroid = 0)
        val enc2 = enc2raw.localCheckpoint()
        val p = newStoreDir("graft_rq_compact")
        Rq.save(rq, enc2, p)
        val victims = Rq.topKRefined(enc2, rq, q, k = 3, nprobe = 8)
          .select("id")
        Rq.deleteFromStore(p, victims, "id")
        val (m0, live0) = Rq.load(s, p)
        val pre = Rq.topKRefined(live0, m0, q, k = 10, nprobe = 8)
          .select("id", "sq_dist").collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
        val liveC2 = live0.count()
        Rq.compactStore(s, p)
        (p, pre, liveC2)
      })
      val (loaded, enc2L) = Rq.load(s, out)
      val post = Rq.topKRefined(enc2L, loaded, q, k = 10, nprobe = 8)
        .select(col("id"), col("sq_dist").as("post_dist"))
      import s.implicits._
      val pre = preHits.toSeq.toDF("id", "pre_dist")
      val tombstonesLeft =
        if (new java.io.File(s"$out/tombstones").exists) 1L else 0L
      val c2Rows = s.read.parquet(s"$out/refine/codes2").count()
      post.join(pre, Seq("id"), "full_outer").agg(
          count(lit(1)).cast("long").as("n_rows"),
          coalesce(sum(when(col("post_dist").isNull || col("pre_dist").isNull,
            1L).otherwise(0L)), lit(0L)).as("n_id_mismatch"),
          coalesce(sum(when(abs(col("post_dist") - col("pre_dist")) > 1e-12,
            1L).otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(tombstonesLeft).as("n_tombstone_dirs"),
          lit(if (c2Rows == preC2Rows) 1L else 0L).as("codes2_live_exact"))
    }),

    // refine path: ADC nominates k'=4k candidates, exact re-rank over
    // just those rows picks the final k (FAISS IndexRefineFlat pattern).
    // Invariants: k rows; every reported distance EQUALS an independent
    // exact recompute through the higher-order-function path (the result
    // is exact by construction, unlike raw ADC); recall vs the
    // oracle-verified exact top-k at least 50%; and the structural
    // guarantee that refining never loses recall vs the plain ADC top-k
    // over the same probed cells (a true top-k member in the candidate
    // set can be displaced only by globally-nearer vectors)
    "ann_rerank" -> ((s, dir) => {
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
    }),

    // recall CALIBRATION (the production nprobe knob): one-pass
    // probe-rank curve over a deterministic query sample; the
    // recommended setting must DELIVER its promised recall end-to-end
    // through the IVF-flat query path (exact distances in probed cells
    // — where measured recall provably equals the curve's value).
    // Invariants: full 1..P curve, monotone, exactly 1.0 at P, and the
    // delivered-promise check
    "ann_calibrate" -> ((s, dir) => {
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
      val nTruth = truth.agg(count(lit(1)).cast("long").as("n_truth"))
      val nRec = truth.select("qid", "id")
        .join(got.select("qid", "id"), Seq("qid", "id"))
        .agg(count(lit(1)).cast("long").as("n_rec"))
      curveInv.crossJoin(nTruth).crossJoin(nRec).select(
        col("n_curve_rows"), col("n_mono_viol"), col("recall_p_exact"),
        when(col("n_rec") * 10 >= col("n_truth") * 9, 1L).otherwise(0L)
          .as("promise_delivered"))
    }),

    // nprobe calibration for the OTHER IVF families (round 14: SQ8/OPQ/
    // RQ/Hamming users previously tuned blind — VERDICT r13 #4). The
    // probe-rank identity is about candidate GENERATION, a pure function
    // of the coarse centroids — so IVF+SQ8 calibrates with ITS coarse
    // quantizer and the delivered-promise check runs exact-in-probed-
    // cells over the same cells (batchTopKCellsFlat)
    "ann_calibrate_ivfsq8" -> ((s, dir) => {
      val (model, enc) = fittedIvfSq8(s, dir)
      nprobeCalibrationGate(s, Tables.embeddings(s, dir),
        enc.select(col("id"), col("partition")), model.partitionCentroids)
    }),

    // OPQ nprobe calibration: cells are assigned in ORIGINAL space (the
    // rotation touches only the residual code space — Opq.scala), so the
    // curve uses model.ivf.partitionCentroids unchanged and the promise
    // check scans original vectors in the probed cells
    "ann_calibrate_opq" -> ((s, dir) => {
      val (model, enc) = fittedOpq(s, dir)
      nprobeCalibrationGate(s, Tables.embeddings(s, dir),
        enc.select(col("id"), col("partition")),
        model.ivf.partitionCentroids)
    }),

    // cosine-metric calibration: the unit-sphere reduction (ann_cosine)
    // makes L2 machinery exact for cosine ordering, so the SAME curve +
    // delivery over the normalized corpus and the cosine model's cells
    // calibrates cosine recall — nothing metric-specific to add
    "ann_calibrate_cosine" -> ((s, dir) => {
      val (model, enc) = cosFittedIndex(s, dir)
      val unit = graft.pipeline.Embeddings.l2Normalized(
        Tables.embeddings(s, dir), "embedding")
      nprobeCalibrationGate(s, unit,
        enc.select(col("id"), col("partition")), model.partitionCentroids)
    }),

    // kFactor calibration, flat-SQ8 family: the nominate-by-SQ8-distance
    // + exact-rerank composition's cut knob. One count-smaller pass
    // builds the whole curve (Calibrate.kFactorRecallCurve); invariants:
    // monotone, complete axis to ceil((N-1)/k), exactly 1.0 at the end
    // (whole-corpus candidates), and the recommended kFactor DELIVERS
    // its promise through the nominate + exact-rerank path
    "ann_calibrate_sq8" -> ((s, dir) =>
      kFactorCalibrationGate(s, dir, (emb, queries) => {
        val (model, enc) = fittedSq8(s, dir)
        graft.query.Calibrate.sq8Candidates(enc, model, queries)
      })),

    // kFactor calibration, RQ family: the level-1 ADC nomination cut
    // that feeds Rq.topKRefined — candidates are the ADC-scored rows of
    // the probed cells (full probe here, so the curve's tail is exact),
    // delivery is nominate-by-ADC + exact rerank (calibration runs
    // offline against the corpus originals; the production refine sits
    // at or below this ceiling by construction, gated by ann_rq)
    "ann_calibrate_rq" -> ((s, dir) =>
      kFactorCalibrationGate(s, dir, (emb, queries) => {
        val (model, encoded) = fittedIndex(s, dir)
        graft.query.Calibrate.adcCandidates(
          encoded.select(col("id"), col("partition"), col("codes")),
          model, queries, nprobe = model.config.numPartitions)
      })),

    // kFactor calibration, Hamming family: the nominate-by-Hamming +
    // exact-rerank composition (BinaryQuant.rankedIdsRerank) — 1-bit/dim
    // signatures rank coarsely, so this is the family whose users most
    // need the curve (f_recommended is large; the gate proves the curve
    // prices that honestly and the promise still delivers)
    "ann_calibrate_hamming" -> ((s, dir) =>
      kFactorCalibrationGate(s, dir, (emb, queries) => {
        val thr = graft.index.BinaryQuant.fitThresholds(emb, "embedding")
        graft.query.Calibrate.hammingCandidates(emb, "embedding", "vec_id",
          thr, queries)
      })),

    // Q6 semantics: attribute fetch for the top-k hits — resolved from
    // the per-vector attribute store bound to the stored index (B13),
    // semi-joined down to the hit ids before the LWW replay — the
    // analogue of loading only hit partitions' attribute logs
    // (reference db/stored.rs:625-638)
    "knn_attr_fetch" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val hits = ExactKnn.rankedIds(emb, "embedding", "vec_id",
        queryVec(s, dir, 0L), 10)
      val attrs = VectorAttributes.getAttributeFor(s, storedIndexPath(s, dir),
        hits, "vec_id", "label")
      hits.join(attrs, col("vec_id") === col("vector_id"))
        .select(col("rank"), col("vec_id"), col("value_str").as("label"))
        .orderBy("rank")
    }),

    // B12/B13 whole-store get: LWW over two upsert batches (every 7th
    // vector's views was overwritten by batch 1 — see storedIndexPath)
    "attrs_vector_get" -> ((s, dir) => {
      VectorAttributes.getAttribute(s, storedIndexPath(s, dir), "views")
        .select(col("vector_id"), col("value_u64").as("views"))
        .orderBy("vector_id")
    }),

    // Q8 semantics: residual + centroid reconstructs the original vector
    // (reference partitions.rs:38-93); emitted as an integer invariant —
    // n_bad = elements off by > 1e-6 — so the oracle is exact
    "vec_reconstruct" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val centroidLit = typedlit(model.partitionCentroids.map(_.toSeq).toSeq)
      val reconstructed = encoded.select(col("id").as("vec_id"),
        zip_with(col("residual"),
          element_at(centroidLit, col("partition") + 1),
          (r, c) => r + c).as("rec"))
      reconstructed
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .select(col("vec_id"),
          size(filter(zip_with(col("rec"), col("embedding"),
            (r, o) => abs(r - o.cast("double")) > lit(1e-6)),
            x => x)).cast("long").as("n_bad"))
        .orderBy("vec_id")
    }),

    // batch k-NN: many queries in one job via the map-side-combining
    // TopKAggregator — the plan shape where Spark beats query-at-a-time
    "knn_batch" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      ExactKnn.batchTopK(emb, "embedding", "vec_id", qs, "qid", "qvec", 10)
        .select(col("qid"), col("vec_id"), col("rank"))
        .orderBy("qid", "rank")
    }),

    // batch MIPS: many inner-product queries in ONE streamed pass — the
    // dot-product twin of knn_batch (bounded top-k over the negated
    // score, so the shuffle still carries k·|queries| rows)
    "knn_batch_ip" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      ExactKnn.batchTopKIp(emb, "embedding", "vec_id", qs, "qid", "qvec", 10)
        .select(col("qid"), col("vec_id"), col("rank"))
        .orderBy("qid", "rank")
    }),

    // contrastive hard-negative mining: each anchor's 3 nearest
    // NON-same-label neighbors from its exact kNN@10 list — the
    // (anchor, positive, hard-negative) assembly step for embedding
    // training; the oracle recomputes kNN, the label filter, and the
    // re-rank independently
    "contrastive_negatives" -> ((s, dir) => {
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
    }),

    // retrieval evaluation: exact kNN@10 results scored against
    // label-relevance ground truth (a hit = neighbor shares the query's
    // label) — integer per-query counters; the oracle recomputes the
    // same kNN AND the same scoring independently
    "rank_eval" -> ((s, dir) => {
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
    }),

    // exact kNN JOIN (the kNN graph): every vector's 3 nearest others —
    // one map-side-combined bounded top-k pass, never a window over the
    // full pairwise relation. maxRows=MaxValue: the sf fixtures are
    // bounded by construction, so skip the guard's count() job and
    // accept the broadcast (the guard exists for unknown inputs)
    "knn_join" -> ((s, dir) =>
      ExactKnn.knnJoin(Tables.embeddings(s, dir), "embedding", "vec_id", 3,
          maxRows = Long.MaxValue)
        .orderBy("qid", "rank")),

    // k-NN label propagation (weak supervision): every 10th vector is
    // "unlabeled" and takes the majority label of its 5 nearest labeled
    // neighbors; ties to the smallest label — integer-only output
    "knn_classify" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val labeled = emb.where(col("vec_id") % 10 =!= 0)
        .select(col("vec_id"), col("embedding"),
          col("label").cast("long").as("label"))
      val queries = emb.where(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      ExactKnn.knnClassify(labeled, "embedding", "vec_id", "label",
          queries, "qid", "qvec", k = 5)
        .orderBy("qid")
    }),

    // approximate kNN JOIN — the 100 TB kNN-graph path: candidates from
    // shared IVF cells (query side probes nprobe cells, candidate side
    // sits in its home cell), NOTHING broadcast, same bounded top-k
    // aggregate as the exact path. Invariants vs the oracle-verified
    // exact knn_join: every vector present as a query with exactly k
    // rows, and ≥90% of the exact graph's edges recovered (pair
    // distances are exact, so cell misses are the only error mode)
    "knn_join_ann" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, _) = fittedIndex(s, dir)
      val ann = graft.query.AnnJoin.knnJoin(emb, "vec_id", "embedding",
        model, k = 3, nprobe = 3)
      val exact = ExactKnn.knnJoin(emb, "embedding", "vec_id", 3,
        maxRows = Long.MaxValue)
      val nVecs = emb.agg(count(lit(1)).cast("long").as("n_vecs"))
      val perQ = ann.groupBy("qid").agg(count(lit(1)).as("c"))
      val qStats = perQ.agg(
        count(lit(1)).cast("long").as("n_qids"),
        coalesce(sum(when(col("c") =!= 3, 1L).otherwise(0L)), lit(0L))
          .as("n_bad_counts"))
      val recalled = ann.select("qid", "vec_id")
        .join(exact.select("qid", "vec_id"), Seq("qid", "vec_id"))
        .agg(count(lit(1)).cast("long").as("n_recalled"))
      val nExact = exact.agg(count(lit(1)).cast("long").as("n_exact"))
      qStats.crossJoin(nVecs).crossJoin(recalled).crossJoin(nExact)
        .select((col("n_vecs") - col("n_qids")).as("n_missing_qids"),
          col("n_bad_counts"),
          when(col("n_recalled") * 100 >= col("n_exact") * 90, 1L)
            .otherwise(0L).as("recall_ge_90"))
    }),

    // ------------------------------------------------------- dedup family
    "dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir))
        .select("content_hash", "keep_id", "n_docs")
        .orderBy("content_hash")),

    // normalization-aware exact dedup: canonicalize (lowercase, strip
    // punctuation, collapse spaces) BEFORE hashing — catches trivially
    // reformatted duplicates plain exact dedup misses
    "dedup_normalized" -> ((s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir)
          .withColumn("text", TextAnalysis.normalizedText(col("text"))))
        .select("content_hash", "keep_id", "n_docs")
        .orderBy("content_hash")),

    // normalization-aware dedup with the UNICODE-robust key: accents
    // stripped (composed AND decomposed forms of the same injected
    // diacritic suffix fold together) before the lowercase/alnum
    // canonicalization — the multilingual twin of dedup_normalized
    "dedup_normalized_unicode" -> ((s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir)
          .withColumn("text", TextAnalysis.normalizedTextUnicode(
            concat(col("text"),
              when(pmod(col("doc_id"), lit(2)) === 0,
                lit(" Cre\u0300me Bru\u0302le\u0301e!"))
                .otherwise(lit(" Cr\u00e8me Br\u00fbl\u00e9e"))))))
        .select("content_hash", "keep_id", "n_docs")
        .orderBy("content_hash")),

    "dedup_jaccard" -> ((s, dir) =>
      Dedup.jaccardPairs(Tables.documents(s, dir), thresholdPct = 85)
        .orderBy("a_id", "b_id")),

    "dedup_jaccard_ngram" -> ((s, dir) =>
      Dedup.jaccardPairsShingled(Tables.documents(s, dir), thresholdPct = 60, n = 3)
        .orderBy("a_id", "b_id")),

    "dedup_minhash_lsh" -> ((s, dir) =>
      Dedup.minHashLshPairs(Tables.documents(s, dir), thresholdPct = 90)
        .orderBy("a_id", "b_id")),

    "dedup_simhash" -> ((s, dir) =>
      Dedup.simHashDupPairsVerified(Tables.documents(s, dir))
        .orderBy("a_id", "b_id")),

    // the persistable LSH candidate-strategy decision (Dedup
    // .lshStrategyFor + save/load round-trip through the SHA-256
    // sidecar), gated on invariants: the probe's n equals the corpus
    // count (one histogram row per doc), and the loaded record equals
    // the computed one field for field. The probe is the only corpus
    // pass; the decision itself is regime-dependent (the sf fixture is
    // template-dense) and intentionally NOT pinned here — the spec pins
    // both regimes on synthetic corpora
    "dedup_lsh_strategy" -> ((s, dir) => {
      import s.implicits._
      val strat = Dedup.lshStrategyFor(Tables.documents(s, dir))
      val path = newStoreDir("graft_lsh_strategy") + "/strategy.json"
      Dedup.saveLshStrategy(s, strat, path)
      val loaded = Dedup.loadLshStrategy(s, path)
      Seq((strat.nDocs, if (loaded == strat) 1L else 0L,
          if (strat.numHashes == 128 && strat.bands == 32 &&
            strat.oph) 1L else 0L))
        .toDF("n_docs", "roundtrip_ok", "params_ok")
    }),

    "dedup_drop_list" -> ((s, dir) =>
      Dedup.dropList(Tables.documents(s, dir), thresholdPct = 90)
        .orderBy("drop_id")),

    // duplication DEGREE (the soft alternative to dropping): each doc's
    // near-dup partner count, 0 included — feeds duplication-aware
    // sampling weights (keep probability ∝ 1/(1+degree))
    "dedup_degree" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.duplicationDegree(docs.select("doc_id"), lshPairs90(s, dir))
        .orderBy("doc_id")
    }),

    // duplication-aware SAMPLING: survivors of the 1/(1+degree)
    // md5-bucket downsample — a cluster of d+1 near-identical docs keeps
    // ~1 expected member, unique docs pass whole; deterministic, so the
    // oracle reproduces it exactly
    "sample_dedup_aware" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val degrees = Dedup.duplicationDegree(docs.select("doc_id"),
        lshPairs90(s, dir))
      graft.pipeline.TrainingData
        .degreeWeightedSample(docs.select("doc_id"), degrees)
        .orderBy("doc_id")
    }),

    "embed_neardup" -> ((s, dir) =>
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir), thresholdMilli = 400)
        .orderBy("a_id", "b_id")),

    // SemDeDup decision layer: drop all but the min id of every
    // embedding near-dup cluster (connected components over the pair
    // graph — cosine similarity is not transitive, so the closure is
    // what makes the kept set pairwise-clean). Exact pairs here (the
    // oracle-matched baseline); AnnJoin.cosineSelfJoin feeds the same
    // decision layer at corpus scale
    // FULL SemDeDup (arXiv:2303.09540): within-cell near-dup components
    // keep the member FARTHEST from the cell centroid (integer-exact
    // n²·d² argmax — see Dedup.semDeDup), ties to the smaller id. The
    // label column stands in for the paper's k-means cell at gate scale
    // (deterministic for the oracle); production cells come from
    // Clustering.assign and AnnJoin.cosineSelfJoin feeds the pairs
    "embed_semdedup" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val lab = emb.select(col("vec_id"), col("label"))
      val pairs = Dedup.embeddingNearDupPairs(emb, thresholdMilli = 400)
        .join(lab.select(col("vec_id").as("a_id"), col("label").as("__la")),
          "a_id")
        .join(lab.select(col("vec_id").as("b_id"), col("label").as("__lb")),
          "b_id")
        .where(col("__la") === col("__lb"))
        .select("a_id", "b_id")
      Dedup.semDeDup(emb, "vec_id", "embedding", "label", pairs)
        .orderBy("doc_id")
    }),

    "embed_drop_list" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Dedup.embeddingDropList(emb.select(col("vec_id").as("doc_id")),
          Dedup.embeddingNearDupPairs(emb, thresholdMilli = 400))
        .orderBy("drop_id")
    }),

    // prototype pruning (Sorscher et al. 2022): drop the 25% of each
    // k-means cell closest to its centroid. Invariants, all in-plan:
    // per-cluster kept count equals sz − floor(sz·25/100) (exact
    // integer quota), and the lexicographic (d2, id) cut is clean —
    // every dropped row sorts strictly below every kept row of its
    // cluster; the fold-order d2 is bit-deterministic by construction
    "embed_prototype_prune" -> ((s, dir) => {
      import graft.pipeline.Clustering
      val emb = Tables.embeddings(s, dir)
      val model = Clustering.fit(emb, "embedding", k = 8, seed = 5,
        trainPointsPerCentroid = 0)
      val wd = Clustering.assignWithDistance(emb, "embedding", model)
        .select(col("vec_id"), col("cluster"), col("d2"))
        .localCheckpoint()
      val kept = Clustering.prototypePrune(emb, "vec_id", "embedding",
          model, dropPct = 25)
        .select(col("vec_id"), col("cluster"), col("d2"))
      val dropped = wd.join(kept.select("vec_id"), Seq("vec_id"),
        "left_anti")
      val byK = kept.groupBy("cluster")
        .agg(count(lit(1)).as("n_kept"),
          min(struct(col("d2"), col("vec_id"))).as("lo_kept"))
      val byD = dropped.groupBy("cluster")
        .agg(count(lit(1)).as("n_drop"),
          max(struct(col("d2"), col("vec_id"))).as("hi_drop"))
      val bySz = wd.groupBy("cluster").agg(count(lit(1)).as("sz"))
      bySz.join(byK, Seq("cluster"), "left").join(byD, Seq("cluster"), "left")
        .agg(
          sum(col("sz")).cast("long").as("n_total"),
          when(countDistinct(col("cluster")) > 1, 1L).otherwise(0L)
            .as("multi_cluster"),
          coalesce(sum(when(coalesce(col("n_kept"), lit(0L))
              =!= col("sz") - expr("(sz * 25) div 100"), 1L)
            .otherwise(0L)), lit(0L)).cast("long").as("n_quota_viol"),
          coalesce(sum(when(col("hi_drop").isNotNull
              && col("lo_kept").isNotNull
              && !(col("hi_drop") < col("lo_kept")), 1L)
            .otherwise(0L)), lit(0L)).cast("long").as("n_rank_viol"),
          when(coalesce(sum(col("n_drop")), lit(0L)) > 0, 1L)
            .otherwise(0L).as("dropped_nonzero"))
    }),

    // the 100 TB twin of embed_prototype_prune: the per-cluster drop
    // threshold from a quantized-d2 histogram, only the boundary bucket
    // resolved by the exact (d2, id) rank. Gate: the twin's kept set is
    // EXACTLY the window form's (anti-joins both ways empty) at BOTH a
    // fine and a deliberately coarse quantization (coarse pushes more
    // rows through the boundary-bucket resolution path)
    "embed_prototype_prune_hist" -> ((s, dir) => {
      import graft.pipeline.Clustering
      val emb = Tables.embeddings(s, dir)
      val model = Clustering.fit(emb, "embedding", k = 8, seed = 5,
        trainPointsPerCentroid = 0)
      val exact = Clustering.prototypePrune(emb, "vec_id", "embedding",
        model, dropPct = 25).select("vec_id").localCheckpoint()
      def diffs(scale: Double) = {
        val twin = Clustering.prototypePruneHist(emb, "vec_id", "embedding",
          model, dropPct = 25, quantScale = scale).select("vec_id")
        exact.join(twin, Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).cast("long").as("only_exact"))
          .crossJoin(twin.join(exact, Seq("vec_id"), "left_anti")
            .agg(count(lit(1)).cast("long").as("only_twin")))
          .crossJoin(twin.agg(count(lit(1)).cast("long").as("n_twin")))
      }
      val fine = diffs(1e4)
      val coarse = diffs(2.0)
      emb.agg(count(lit(1)).cast("long").as("n_total"))
        .crossJoin(exact.agg(count(lit(1)).cast("long").as("n_exact")))
        .crossJoin(fine.select(col("only_exact").as("fine_only_exact"),
          col("only_twin").as("fine_only_twin"),
          col("n_twin").as("fine_n")))
        .crossJoin(coarse.select(col("only_exact").as("coarse_only_exact"),
          col("only_twin").as("coarse_only_twin"),
          col("n_twin").as("coarse_n")))
        .select(col("n_total"), col("fine_only_exact"),
          col("fine_only_twin"),
          when(col("fine_n") === col("n_exact"), 1L).otherwise(0L)
            .as("fine_count_match"),
          col("coarse_only_exact"), col("coarse_only_twin"),
          when(col("coarse_n") === col("n_exact"), 1L).otherwise(0L)
            .as("coarse_count_match"))
    }),

    // per-label embedding centroids (class prototypes) in the
    // integer-exact formulation — see Embeddings.centroidSumsMilli
    "embed_centroids" -> ((s, dir) =>
      graft.pipeline.Embeddings
        .centroidSumsMilli(Tables.embeddings(s, dir), "label", "embedding")
        .select(col("label").cast("long").as("label"), col("pos"),
          col("sum_milli"), col("cnt"))
        .orderBy("label", "pos")),

    // IVF-bucketed ANN similarity self-join — the 100 TB near-dup path.
    // Invariants vs the oracle-verified exact all-pairs result: the IVF
    // join may only MISS pairs (every emitted pair is exact-verified →
    // n_extra = 0) and must recover ≥ 90% of them at this geometry
    "embed_neardup_ivf" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, _) = fittedIndex(s, dir)
      val ivf = graft.query.AnnJoin.cosineSelfJoin(emb, "vec_id", "embedding",
        model, thresholdMilli = 400, nprobe = 3)
      val exact = Dedup.embeddingNearDupPairs(emb, thresholdMilli = 400)
      val extra = ivf.join(exact, Seq("a_id", "b_id"), "left_anti")
        .agg(count(lit(1)).cast("long").as("n_extra"))
      val counts = ivf.agg(count(lit(1)).cast("long").as("n_ivf")).crossJoin(
        exact.agg(count(lit(1)).cast("long").as("n_exact")))
      extra.crossJoin(counts)
        .select(col("n_extra"),
          when(col("n_ivf") * 100 >= col("n_exact") * 90, 1L).otherwise(0L)
            .as("recall_ge_90"))
    }),

    // BIPARTITE embedding near-dup (the incremental-ingest shape for
    // vectors): a new batch joined against the stored corpus through
    // shared IVF cells, never corpus×corpus. Invariants vs the exact
    // bipartite cross product: every emitted pair is exact-verified
    // (n_extra = 0) and ≥90% of true pairs are recovered
    "embed_neardup_incr" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, _) = fittedIndex(s, dir)
      val newE = emb.where(col("vec_id") % 5 === 0)
      val corpusE = emb.where(col("vec_id") % 5 =!= 0)
      val ivf = graft.query.AnnJoin.cosineBipartiteJoin(newE, corpusE,
        "vec_id", "embedding", model, thresholdMilli = 400, nprobe = 3)
      val exact = newE.select(col("vec_id").as("new_id"),
          col("embedding").as("nv"))
        .crossJoin(corpusE.select(col("vec_id").as("corpus_id"),
          col("embedding").as("cv")))
        .where(graft.functions.FastFunctions.cosineF(col("nv"), col("cv"))
          * 1000 >= 400)
        .select("new_id", "corpus_id")
      val extra = ivf.join(exact, Seq("new_id", "corpus_id"), "left_anti")
        .agg(count(lit(1)).cast("long").as("n_extra"))
      val counts = ivf.agg(count(lit(1)).cast("long").as("n_ivf")).crossJoin(
        exact.agg(count(lit(1)).cast("long").as("n_exact")))
      extra.crossJoin(counts)
        .select(col("n_extra"),
          when(col("n_ivf") * 100 >= col("n_exact") * 90, 1L).otherwise(0L)
            .as("recall_ge_90"))
    }),

    // model-free document embedding by the feature-hashing trick
    // (Weinberger et al. 2009): one narrow kernel projection, no
    // vocabulary table. The hash is engine-local (xxh64), so the gate
    // checks the EXACT invariant instead of values: every doc's bucket
    // counts sum to its token count and the vector is dim-wide
    "embed_hash" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = graft.pipeline.Embeddings.hashEmbed(docs, dim = 64)
      emb.join(docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
          Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          aggregate(col("embedding"), lit(0.0d), (a, x) => a + x)
            .cast("long").as("v_sum"),
          size(col("embedding")).cast("long").as("v_dim"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum(when(col("v_sum") =!= col("n_tokens"), 1L)
            .otherwise(0L)), lit(0L)).as("n_bad_sum"),
          coalesce(sum(when(col("v_dim") =!= 64, 1L).otherwise(0L)), lit(0L))
            .as("n_bad_dim"))
    }),

    // text → ANN bridge with NO pretrained embeddings: hash-embed the
    // corpus, L2-normalize, batch MIPS (= cosine on unit vectors) for
    // every 100th doc. Invariants: k rows per query and the top-1
    // similarity ≈ 1 (each query is its own nearest neighbor up to
    // count-vector ties, which still score 1)
    "embed_hash_knn" -> ((s, dir) => {
      // fan out BEFORE hashEmbed: batchTopKIp fans its streamed side,
      // but the tokenize+hash+normalize projection sits below that
      // exchange and ran map-side as ONE 2.5 s task (round-15 profile)
      val docs = graft.functions.PlanShape.fanOut(Tables.documents(s, dir))
      // norm as its own projection column so the transform lambda reads
      // a scalar — embedding the aggregate inside the lambda would
      // re-evaluate the O(dim) norm per element (O(dim²) per row)
      val emb = graft.pipeline.Embeddings.hashEmbed(docs, dim = 64)
        .withColumn("nrm",
          graft.functions.VectorFunctions.l2Norm(col("embedding")))
        .select(col("doc_id"),
          transform(col("embedding"),
            x => (x.cast("double") / col("nrm")).cast("float"))
            .as("embedding"))
      val qs = emb.where(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"), col("embedding").as("qvec"))
      val knn = ExactKnn.batchTopKIp(emb, "embedding", "doc_id",
        qs, "qid", "qvec", k = 5)
      knn.groupBy("qid")
        .agg(count(lit(1)).as("c"),
          max(when(col("rank") === 1, col("ip"))).as("top1"))
        .agg(count(lit(1)).cast("long").as("n_queries"),
          coalesce(sum(when(col("c") =!= 5, 1L).otherwise(0L)), lit(0L))
            .as("n_bad_counts"),
          coalesce(sum(when(col("top1") < 0.999, 1L).otherwise(0L)), lit(0L))
            .as("n_bad_top1"))
    }),

    // ------------------------------------ multimodal binary-column family
    // multimodal → similarity composition: media float features (bucket
    // sums normalized by byte length, cast to f32) feed the exact k-NN
    // machinery unchanged
    "media_knn" -> ((s, dir) => {
      val emb = Multimodal.floatFeatures(
        Multimodal.fromDocuments(Tables.documents(s, dir)))
      val q = emb.where(col("media_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      ExactKnn.rankedIds(emb, "embedding", "media_id", q, 10)
    }),

    "media_meta" -> ((s, dir) =>
      Multimodal.fromDocuments(Tables.documents(s, dir))
        .select(col("media_id"), col("kind"), col("meta.byte_len").as("byte_len"))
        .orderBy("media_id")),

    // audio leg of the modality set: silence/energy profile over the
    // PCM-shaped payload bytes — frame energy Σ(sample−128)², silent
    // below 33000 (the corpus frame-energy median, so both classes and
    // real runs occur); the oracle rebuilds frames, flags, the longest
    // run (gaps-and-islands) and the trim offsets from the same bytes
    "media_audio_silence" -> ((s, dir) =>
      Multimodal.silenceStats(
          Multimodal.fromDocuments(Tables.documents(s, dir)),
          frameBytes = 16, silentBelow = 33000L)
        .orderBy("media_id")),

    // REAL WAV decode end-to-end: per doc, a deterministic u8 sample
    // stream (frames f with f%4<2 are exactly 128 = silence; loud
    // frames are a step-11 byte progression whose 16-sample energy is
    // provably >= ~40000) is wrapped in a HAND-ROLLED RIFF/WAVE
    // container, decoded back through javax.sound.sampled behind the
    // batched seam (Multimodal.wavDecodePcmU8), and profiled by the
    // unchanged silenceStats; the oracle computes frames/runs/trim
    // from the SAME sample formula, never seeing the container — any
    // header, sample, or ordering corruption in encode or decode
    // flips a row
    "media_audio_wav" -> ((s, dir) =>
      Multimodal.silenceStats(wavRoundTripMedia(s, dir),
          frameBytes = 16, silentBelow = 20000L)
        .orderBy("media_id")),

    // per-segment audio descriptors (energy envelope + strict zero
    // crossings) over the SAME WAV-round-tripped corpus — the feature
    // pass after silence trimming, one audioSegmentStats kernel pass;
    // the oracle recomputes both stats per quarter-clip segment from
    // the sample formula (lead() pairs, in-segment only, flat-128
    // never crosses)
    "media_audio_features" -> ((s, dir) =>
      Multimodal.audioFeatures(wavRoundTripMedia(s, dir), nSegments = 4)
        .orderBy("media_id", "seg")),

    // feature vector exploded to scalar rows for the oracle compare
    "media_features" -> ((s, dir) =>
      Multimodal.features(Multimodal.fromDocuments(Tables.documents(s, dir)))
        .select(col("media_id"), posexplode(col("feature")).as(Seq("j", "fsum")))
        .select(col("media_id"), col("j").cast("long").as("j"), col("fsum"))
        .orderBy("media_id", "j")),

    "media_frame_sums" -> ((s, dir) =>
      Multimodal.sampledFrames(
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        frameBytes = 16, stride = 4)
        .orderBy("media_id", "frame_no")),

    // keyframe selection: per-media top-3 frames by absolute change
    // vs the previous sampled frame (the shot-boundary heuristic on
    // the frame-sum signal); windows bounded by one media's frames
    "media_keyframes" -> ((s, dir) =>
      Multimodal.keyFrames(
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        frameBytes = 16, stride = 4, k = 3)
        .orderBy("media_id", "rank")),

    // REAL animated-GIF decode end-to-end: per doc, a multi-frame GIF
    // (full-canvas base + formula-positioned solid sub-rects) is
    // encoded through the JDK GIF writer, decoded back with per-frame
    // disposal/offset COMPOSITION (Multimodal.gifFrameMedia), and the
    // composed frames' luma bytes feed the unchanged keyFrames
    // machinery; the oracle replays the composition formula per pixel
    // (last covering rect <= f wins) and never sees the container
    "media_gif_frames" -> ((s, dir) =>
      Multimodal.keyFrames(gifRoundTripMedia(s, dir),
          frameBytes = 256, stride = 1, k = 2)
        .orderBy("media_id", "rank")),

    // shot segmentation (Multimodal.shotSummary): frames partition
    // into contiguous shots at frame-sum jumps > 150 (gaps-and-islands
    // on the sampled-frame signal) — per media the frame count, shot
    // count and longest shot; the video-curation structural pass
    "media_shots" -> ((s, dir) =>
      Multimodal.shotSummary(
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        frameBytes = 16, stride = 4, minJump = 150L)
        .orderBy("media_id")),

    // pad-free batch assembly (Multimodal.lengthBatches): media bucket
    // into 100-byte length bands, deterministic 16-item batches cut
    // inside each band (last batch partial) — per-batch occupancy
    // proves the assignment is a pure function of (byte_len, media_id)
    "media_batch_buckets" -> ((s, dir) =>
      Multimodal.lengthBatches(
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        bandWidth = 100L, batchSize = 16)
        .groupBy("band", "batch_no")
        .agg(count(lit(1)).as("n_items"),
          sum(col("media_id")).as("sum_ids"))
        .orderBy("band", "batch_no")),

    // matryoshka truncation curve (Kusupati et al. 2022): exact top-10
    // recall of prefix-sliced embeddings (d = 8/16/32/64) vs the
    // full-dim ranking — the operating curve for serving at a cheap
    // prefix dim; one batchTopK pass per dim over a narrower slice
    "embed_matryoshka" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.pipeline.Embeddings.matryoshkaRecall(emb, "vec_id",
        "embedding", qs, "qid", "qvec", dims = Seq(8, 16, 32, 64), k = 10)
        .orderBy("dim")
    }),

    // ------------------------------------------------------ text analysis
    "text_tokens" -> ((s, dir) =>
      TextAnalysis.tokenStats(Tables.documents(s, dir)).orderBy("doc_id")),

    "text_quality" -> ((s, dir) =>
      TextAnalysis.qualitySignals(Tables.documents(s, dir)).orderBy("doc_id")),

    // language mix per source: the langId projection aggregated into
    // the per-source distribution a multilingual curation run reports
    "text_lang_by_source" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.TextAnalysis.langId(docs)
        .join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "pred_lang")
    }),

    "text_langid" -> ((s, dir) =>
      TextAnalysis.langId(Tables.documents(s, dir)).orderBy("doc_id")),

    // script-mix detection (TextAnalysis.scriptSignals): Unicode
    // script-class counts + fixed-precedence dominant verdict over a
    // fixture with Greek/Cyrillic passages injected on %13/%17 keys —
    // the routing signal BEFORE any per-script language model
    "text_scripts" -> ((s, dir) =>
      graft.pipeline.TextAnalysis.scriptSignals(
        Tables.documents(s, dir).withColumn("text", concat(col("text"),
          when(pmod(col("doc_id"), lit(13)) === 0,
            repeat(lit(" αβγδε εζηθι κλμνξ"), 40)).otherwise(lit("")),
          when(pmod(col("doc_id"), lit(17)) === 0,
            repeat(lit(" пример текста"), 80)).otherwise(lit("")))))
        .orderBy("doc_id")),

    "text_subwords" -> ((s, dir) =>
      TextAnalysis.subwordStats(Tables.documents(s, dir)).orderBy("doc_id")),

    // literal-blocklist filter pass (TextAnalysis.blocklistHits): the
    // blocklist is compiled INTO a single codegen projection via the
    // replace-length identity — zero joins, zero regex; per-doc total
    // hits + the blocked verdict
    "text_blocklist" -> ((s, dir) => {
      val pats = Seq("slow fast", "hash join", "scan")
      val hits = graft.pipeline.TextAnalysis
        .blocklistHits(col("text"), pats)
      Tables.documents(s, dir).select(col("doc_id"),
        hits.as("n_hits"),
        (hits > 0L).cast("int").as("blocked"))
        .orderBy("doc_id")
    }),

    // Flesch reading-ease readability (TextAnalysis.readability) over
    // a sentence-injected variant of the corpus ('table' ends a
    // sentence) — clamped whitespace words / [.!?]+ sentences /
    // vowel-group syllables, score floor-scaled x1000 with a fixed
    // double association order; pure regex projection
    "text_readability" -> ((s, dir) =>
      graft.pipeline.TextAnalysis.readability(
        Tables.documents(s, dir).withColumn("text",
          call_function("replace", col("text"), lit("table "),
            lit("table. "))))
        .orderBy("doc_id")),

    // trainable BPE vocabulary (the REAL subword tokenizer, not the
    // regex proxy): corpus-fit merges table, hash-compared against a
    // DuckDB replica that unrolls the identical merge loop
    "text_bpe" -> ((s, dir) =>
      fittedBpe(s, dir).mergesDf(s).orderBy("rank")),

    // BPE encoding as one narrow projection: per-doc REAL subword count
    // plus the full segmentation string — both hash-compared against
    // the oracle's identical replace-chain encode
    "text_bpe_encode" -> ((s, dir) =>
      graft.pipeline.Bpe.encode(Tables.documents(s, dir), "text", "doc_id",
        fittedBpe(s, dir)).orderBy("doc_id")),

    // cross-document novelty: fraction of a doc's bigrams that are
    // corpus-unique (df = 1) — the statistical quality signal the
    // per-doc-local signals can't compute
    "text_novelty" -> ((s, dir) =>
      TextAnalysis.noveltySignals(Tables.documents(s, dir), n = 2, rareDf = 1)
        .orderBy("doc_id")),

    // bigram-LM fit score (CCNet-style quality signal): each doc scored
    // against an add-one-smoothed bigram model trained on the corpus;
    // integer floor(1e6·p) terms so the oracle never hashes a float
    "text_lm_fit" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.bigramLmScores(docs, docs).orderBy("doc_id")
    }),

    // CCNet's decision layer on top of text_lm_fit: per-language
    // head/middle/tail terciles of the integer LM fit score, rank
    // order (score desc, doc_id) so bucket boundaries are tie-stable
    "quality_ccnet_buckets" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.qualityBuckets(docs, docs, "lang", nBuckets = 3)
        .orderBy("doc_id")
    }),

    // the scale path of quality_ccnet_buckets: per-language histogram
    // boundaries (no per-language ntile sort — the head language of a
    // crawl IS the corpus); tie classes stay whole at boundaries
    "quality_ccnet_buckets_approx" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      TextAnalysis.qualityBucketsApprox(docs, docs, "lang", nBuckets = 3)
        .orderBy("doc_id")
    }),

    // multinomial Naive Bayes language classifier (the fastText-shaped
    // count model): train on even doc_ids labeled by lang, predict the
    // odd ones — integer-arithmetic fit scores so the argmax cannot
    // flake on a float ulp (log-space variant is API-only, spec-covered)
    "text_nb_classify" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.NaiveBayes.classify(
          docs.where(col("doc_id") % 2 === 0).select(col("text"), col("lang")),
          docs.where(col("doc_id") % 2 === 1).select(col("doc_id"), col("text")),
          labelCol = "lang")
        .orderBy("doc_id")
    }),

    // batch twin of the streaming key-dedup (dropDuplicatesWithin-
    // Watermark semantics): the FIRST event per (user_id, event_type)
    // in (ts, event_id) order survives
    "events_dedup_first" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // µs-truncated order so ns-resolution ties break on event_id in
      // BOTH engines (DuckDB reads the ns parquet at µs)
      val w = Window.partitionBy("user_id", "event_type")
        .orderBy(expr("ts div 1000"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id"))
        .orderBy("user_id", "event_type")
    }),

    // Gopher-style repetition signal: one shuffle-free kernel call per
    // row; the oracle must explode + groupBy to express the same thing
    "text_repetition" -> ((s, dir) =>
      TextAnalysis.repetitionSignals(Tables.documents(s, dir), n = 3)
        .orderBy("doc_id")),

    // SimHash near-dup at Hamming ≤ 3 via 16-bit band pigeonhole.
    // Hamming is over our own hash, so the oracle checks invariants:
    // every pair within bound and ordered, and every verified equal-set
    // duplicate (the oracle-gated dedup_simhash relation) is found —
    // equal sets ⇒ equal SimHash ⇒ Hamming 0
    "dedup_simhash_near" -> ((s, dir) => {
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
    }),

    "doc_fingerprint" -> ((s, dir) =>
      TextAnalysis.fingerprint(Tables.documents(s, dir)).orderBy("doc_id")),

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
    "stats_hll_merge" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .select(expr("ts div 86400000000000").as("day"), col("user_id"))
      val sk = graft.pipeline.Sketches.hllByGroup(e, "day", "user_id")
      val perDay = graft.pipeline.Sketches.hllEstimates(sk, "day")
      val total = graft.pipeline.Sketches.hllUnionEstimate(sk)
        .select(lit(-1L).as("day"), col("n_distinct"))
      perDay.unionByName(total).orderBy("day")
    }),

    "stats_approx_distinct" -> ((s, dir) => {
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
    }),

    // count-min frequency sketch audited in-job against exact token
    // counts: undercounts are IMPOSSIBLE (checked row by row) and every
    // estimate stays within the εN = (e/width)·N one-sided bound (the
    // sketch is deterministic for fixed data + hashes, so the audited
    // result is a constant)
    "stats_count_min" -> ((s, dir) => {
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
    }),

    // AMS second-frequency-moment sketch (Sketches.f2SketchState):
    // 16 ±1 sign-hash running sums over l_partkey (ONE scan, one 1-row
    // fold — the mergeable streaming alternative to the domain
    // histogram), each sum's square an unbiased F2 estimate; output
    // pins every per-sketch sum, the floor-mean estimate and the exact
    // F2 = Σc² in decimal(20,0)
    "stats_f2_sketch" -> ((s, dir) => {
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
    }),

    // exact Pearson correlation components (Profile.corrExact):
    // integer moment sums + decimal(38,0) cross products (bit-exact on
    // any partitioning), r² as one fixed-association double chain —
    // quantity vs price-in-hundreds over lineitem; components cast to
    // BIGINT at the gate (they fit at this sf; the operator keeps
    // decimals for the 100 TB bound)
    "stats_corr_exact" -> ((s, dir) =>
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
          col("r2_x1e6"))),

    // exact join-size prediction from mergeable key histograms
    // (Sketches.joinSizeFromHistograms): |A join B| = sum c_A(k)*c_B(k)
    // over persisted stats — the planner primitive; the gate proves
    // prediction == the actually-executed join's count
    "stats_join_size" -> ((s, dir) => {
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
    }),

    // discrete mutual information (Profile.mutualInfoCells): per-cell
    // (c_xy/N)·ln(c_xy·N/(c_x·c_y)) ×1e6 floor over the
    // returnflag × linestatus joint domain — the general-dependence
    // statistic beside the linear r²; joint counts + window marginals,
    // one corpus scan
    "stats_mutual_info" -> ((s, dir) =>
      graft.operators.Profile.mutualInfoCells(
        Tables.lineitem(s, dir), "l_returnflag", "l_linestatus")
        .orderBy("l_returnflag", "l_linestatus")),

    // 2-D Pareto frontier (operators/Skyline.frontier2D): the parts no
    // other part beats on BOTH size and price — per-x max + one
    // domain-sized running max + an equality join back; the
    // multi-objective pick a single-score top-k can't express
    "rel_skyline" -> ((s, dir) =>
      graft.operators.Skyline.frontier2D(
        Tables.load(s, dir, "part").select(col("p_partkey"),
          col("p_size").cast("long").as("p_size"),
          floor(col("p_retailprice") * 100).cast("long").as("cents")),
        "p_size", "cents")
        .orderBy("p_partkey")),

    // 3-D Pareto frontier (Skyline.frontierND): grid-partitioned
    // dominance pruning (per-dim histogram buckets, metadata-sized
    // cell pruning) then the exact check only inside interacting cell
    // pairs; the oracle is brute-force NOT EXISTS dominance
    "rel_skyline_3d" -> ((s, dir) =>
      graft.operators.Skyline.frontierND(
        Tables.load(s, dir, "part").select(col("p_partkey"),
          col("p_size").cast("long").as("p_size"),
          floor(col("p_retailprice") * 100).cast("long").as("cents"),
          length(col("p_name")).cast("long").as("name_len")),
        Seq("p_size", "cents", "name_len"))
        .select("p_partkey", "p_size", "cents", "name_len")
        .orderBy("p_partkey")),

    // corpus vocabulary by document frequency, top-100 by (df desc, tok)
    "text_vocab" -> ((s, dir) =>
      TextAnalysis.topVocabulary(Tables.documents(s, dir), k = 100, minDf = 2)
        .orderBy("rank")),

    // corpus n-gram diversity per source: total/distinct/repeated
    // 4-gram mass + the exact Simpson collision-pair count — the
    // corpus-level memorization-risk statistic (text_repetition is
    // per-document). All integers; md5 gram fingerprints replayed
    // verbatim by the oracle
    "text_ngram_diversity" -> ((s, dir) =>
      TextAnalysis.ngramDiversity(Tables.documents(s, dir),
          "source", "text", n = 4)
        .orderBy("source")),

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
    "text_ngram_diversity_incr" -> ((s, dir) => {
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
    }),

    // SKETCH diversity state (constant bytes per group — the form that
    // persists when even the exact (group, gram) counts outgrow a
    // table): per source an exact additive window count + a
    // DataSketches HLL of the gram fingerprints. Gated in-job against
    // the exact report: totals equal exactly, and BOTH the merged-state
    // and the one-shot estimates stay within 5% of the exact distinct
    // count (deterministic for fixed data; the union is accuracy-
    // lossless but not register-identical — mode transitions differ —
    // so estimate equality is not the right claim)
    "text_ngram_diversity_sketch" -> ((s, dir) => {
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
    }),

    // end-to-end corpus cleaning: quality filter → exact dedup →
    // near-dup drop list, each stage over the previous stage's
    // survivors; output = every dropped doc with its (unique) reason
    "corpus_clean" -> ((s, dir) =>
      graft.pipeline.CorpusClean.dropDecisions(Tables.documents(s, dir),
          minTokens = 16, maxStopPct = 12, dedupThresholdPct = 90)
        .orderBy("doc_id")),

    // ------------------------------------------- dataset assembly
    // deterministic id-hash train/val/test split — membership is a pure
    // function of doc_id (stable under reruns and appends, no shuffle)
    "train_split" -> ((s, dir) =>
      graft.pipeline.TrainingData
        .hashSplit(Tables.documents(s, dir), "doc_id")
        .select("doc_id", "split")
        .orderBy("doc_id")),

    // LEAKAGE-FREE split: every doc follows its near-dup component
    // representative through the md5 split rule, so a near-dup cluster
    // can never straddle train and test (held-out eval would otherwise
    // score memorized text); singletons reduce to plain hashSplit
    "train_split_safe" -> ((s, dir) =>
      graft.pipeline.TrainingData
        .groupAwareSplit(Tables.documents(s, dir).select("doc_id"),
          lshPairs90(s, dir))
        .select("doc_id", "rep", "split")
        .orderBy("doc_id")),

    // LEAKAGE-FREE k-folds: the kFolds md5 rule applied to each doc's
    // near-dup component representative — no cluster straddles folds,
    // so no cross-validation fold evaluates on text another fold
    // trained on; singletons reduce to plain kFolds
    "train_folds_safe" -> ((s, dir) =>
      graft.pipeline.TrainingData
        .groupAwareFolds(Tables.documents(s, dir).select("doc_id"),
          lshPairs90(s, dir), "doc_id", folds = 5, seed = 3)
        .select("doc_id", "rep", "fold")
        .orderBy("doc_id")),

    // deterministic k-fold assignment (cross-validation): fold is a pure
    // function of (seed, id) — stable under reruns/appends, re-drawable
    // by seed, one narrow projection
    "train_folds" -> ((s, dir) =>
      graft.pipeline.TrainingData
        .kFolds(Tables.documents(s, dir), "doc_id", folds = 5, seed = 3)
        .select("doc_id", "fold")
        .orderBy("doc_id")),

    // deterministic exact-n sampling: 100 docs by md5 race key — exact
    // output size (fraction sampling can't promise it) via a bounded
    // TakeOrderedAndProject, stable under reruns and repartitioning
    "sample_exact_n" -> ((s, dir) =>
      graft.pipeline.TrainingData
        .exactSample(Tables.documents(s, dir), "doc_id", n = 100, seed = 5)
        .select("doc_id")
        .orderBy("doc_id")),

    // unsupervised corpus clustering + cluster-balanced sampling
    // (pipeline/Clustering): k-means cells over the embeddings table
    // (capped driver fit + one distributed nearestCentroidL2 projection)
    // composed with exact per-cluster quotas and the stratified md5
    // race. The assignment itself is float/driver-seeded (not
    // SQL-reproducible), so the gate is the invariant report: coverage,
    // range, an INDEPENDENT zip_with-HOF argmin cross-check against the
    // codegen kernel, exact balanced/proportional quota arithmetic, and
    // sampled-count == min(quota, size) per cluster
    "cluster_balanced" -> ((s, dir) => {
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
    }),

    // embedding-space drift: cluster-share PSI over a FIXED cell model
    // between two corpus versions (Drift.embeddingPsi ∘ Clustering
    // .assign) — the re-training trigger for semantic shift that no
    // scalar column sees. Invariants: a snapshot against itself is
    // EXACTLY zero PSI (equal smoothed shares per cell → every floored
    // contribution is 0, geometry-independent); an injected shift (half
    // the corpus moved +2.0 in 8 of 64 dims — ~2× the corpus's entire
    // value range) reads above the 0.25 investigate threshold at any sf
    // (probed ~1.0 at sf0.01 and sf0.1); totals are corpus counts
    "embed_drift_psi" -> ((s, dir) => {
      import graft.pipeline.{Clustering, Drift}
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      val model = Clustering.fit(emb, "embedding", k = 8, seed = 42L,
        trainPointsPerCentroid = 0)
      val cur = emb.withColumn("embedding",
        when(col("vec_id") % 2 === 0,
          transform(col("embedding"),
            (x, i) => when(i < 8, x + lit(2.0f)).otherwise(x)))
          .otherwise(col("embedding")))
      val self = Drift.embeddingPsi(emb, emb, "embedding", model)
        .select(col("psi_x1e6").as("psi_self"))
      Drift.embeddingPsi(emb, cur, "embedding", model)
        .select(col("n_old"), col("n_new"),
          (col("psi_x1e6") >= 250000L).cast("long").as("shift_is_loud"))
        .crossJoin(broadcast(self))
    }),

    // distribution-level expectations: exact-percentile bounds as
    // publish-gate rules — p99 of value cents under a passing bound and
    // p50 under a deliberately failing one (0 and 1 violations)
    "quality_expectations_quantile" -> ((s, dir) => {
      import graft.operators.Expectations
      val ev = Tables.events(s, dir)
        .select(floor(col("value") * 100).cast("long").as("cents"))
      Expectations.violations(ev, Seq(
        Expectations.QuantileAtMost("cents", qX100 = 99, bound = 25000L),
        Expectations.QuantileAtMost("cents", qX100 = 50, bound = 1000L)))
        .orderBy("rule")
    }),

    // per-source rank normalization: each doc's length score replaced
    // by its within-source percentile rank in basis points — the
    // cross-domain score calibration step before global thresholds
    "sample_rank_normalize" -> ((s, dir) =>
      graft.pipeline.TrainingData.rankNormalize(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "n_chars")
        .select("doc_id", "source", "n_chars", "rank_bp")
        .orderBy("doc_id")),

    // the 100 TB twin of sample_rank_normalize: the rank comes from a
    // per-(source, score) histogram (cum − cnt + 1 IS SQL rank()'s
    // min-tie), the cumulative window runs over distinct scores only —
    // exactly equal output, no corpus-sized group sort anywhere
    "sample_rank_normalize_hist" -> ((s, dir) =>
      graft.pipeline.TrainingData.rankNormalizeHist(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "n_chars")
        .select("doc_id", "source", "n_chars", "rank_bp")
        .orderBy("doc_id")),

    // cross-source contamination matrix: distinct shared word-4-gram
    // fingerprints per source PAIR — the corpus-health diagnostic run
    // before mixing sources; two injected cross-source phrases (on the
    // %3 and %5 doc residues) make every cell's arithmetic non-trivial
    "corpus_overlap_matrix" -> ((s, dir) => {
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
    }),

    // exact per-group stratified sampling: each source contributes
    // exactly its quota (derived here from the source number) by the
    // per-group md5 race — the row-level materialization of a
    // mixture-budget plan
    "sample_stratified" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val quotas = docs.select("source").distinct()
        .withColumn("n", expr("cast(substring(source, 4) as int) % 7 + 3"))
      graft.pipeline.TrainingData
        .stratifiedSample(docs, "source", "doc_id", quotas, seed = 9)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    }),

    // the 100 TB twin of sample_stratified: the same per-group md5 race
    // as a bounded top-k aggregate at k = max quota, quota applied to
    // winner ranks — no group ever sorts in one task; quotas broadcast
    "sample_stratified_topk" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val quotas = docs.select("source").distinct()
        .withColumn("n", expr("cast(substring(source, 4) as int) % 7 + 3"))
      graft.pipeline.TrainingData
        .stratifiedSampleTopK(docs, "source", "doc_id", quotas, seed = 9)
        .select("source", "doc_id")
        .orderBy("source", "doc_id")
    }),

    // repeat-factor materialization (the upsampling half of a mixture
    // plan): sources at 50/125/200 centi-epochs emit ~half / all+~quarter
    // / exactly-double rows, copy-indexed, by the md5 256-bucket race
    "sample_repeat" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val epochs = docs.select("source").distinct()
        .withColumn("epochs_x100",
          expr("(cast(substring(source, 4) as int) % 3) * 75 + 50"))
      graft.pipeline.TrainingData
        .repeatSample(docs, "source", "doc_id", epochs, seed = 3)
        .select(col("source"), col("doc_id"),
          col("copy").cast("long").as("copy"))
        .orderBy("source", "doc_id", "copy")
    }),

    // token-budget mixture planning (water-filling under per-source
    // epoch caps): quotas for a 10k-token budget over the 20 sources,
    // weighted by source number. The plan itself is driver-computed
    // over the metadata-sized per-source table; the gate cross-checks
    // the conservation law total_quota = min(budget, total_capacity)
    // and the per-source cap/epoch bounds
    "mixture_budget" -> ((s, dir) => {
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
    }),

    // DSIR data selection (Xie et al. 2023): candidates from the
    // src4..src19 pool ranked by how target-like (src0..src3) their
    // unigram distribution is — integer probability-difference scores,
    // deterministic top-100 by (score, doc_id)
    "dsir_select" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val tgt = docs.where(
        col("source").isin("src0", "src1", "src2", "src3"))
      val cand = docs.where(
        !col("source").isin("src0", "src1", "src2", "src3"))
      graft.pipeline.TrainingData.dsirSelect(tgt, cand, n = 100)
        .orderBy("rank")
    }),

    // bounded top-k per group: the 3 longest docs per source via the
    // map-side-combinable top-k aggregate — shuffle carries ≤ k·|groups|
    // rows where the window formulation ships and sorts every row
    "rel_top_per_group" -> ((s, dir) =>
      graft.operators.GroupedTopK
        .topPerGroup(Tables.documents(s, dir), "source", "n_chars",
          "doc_id", k = 3)
        .select(col("source"), col("rank"), col("doc_id"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("source", "rank")),

    // deterministic epoch shuffle + sharding: shard AND within-shard
    // order are pure functions of (seed, id), so the training order is
    // reproducible, epoch-reseedable, and needs no global sort — the
    // output position is checked, not just membership
    "train_shard" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("shard")).orderBy(col("sort_key"), col("doc_id"))
      graft.pipeline.TrainingData
        .shuffleShards(Tables.documents(s, dir), "doc_id", seed = 7,
          numShards = 8)
        .select(col("doc_id"), col("shard"),
          row_number().over(w).cast("long").as("shard_pos"))
        .orderBy("doc_id")
    }),

    // per-source cap subsampling: at most 150 docs per source, selected
    // by deterministic md5 order — corpus balancing
    "sample_per_source" -> ((s, dir) =>
      graft.pipeline.TrainingData
        .perGroupCap(Tables.documents(s, dir), "source", "doc_id", cap = 150)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // the AUTO-routed form (round 12): samplerStrategyFor probes the
    // corpus (one groupBy-count + leaf task count), persists the
    // decision record through the JSON+SHA artifact round-trip, and
    // perGroupCapAuto routes on the RELOADED record — at gate scale
    // cap × mapTasks is far under the concentration ceiling, so this
    // exercises probe → persist → load → window route, against the
    // exact window oracle
    "sample_per_source_auto" -> ((s, dir) => {
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
    }),

    // the 100 TB twin of sample_per_source: the same md5-order cut as a
    // bounded top-k AGGREGATE (shuffle ≤ cap·|sources| rows, no
    // giant-group window sort) + an id semi-join back; race keys are
    // the 52-bit md5 prefix, ties by id (the documented divergence —
    // prefix collisions are ~n²/2⁵³ per group)
    "sample_per_source_topk" -> ((s, dir) =>
      graft.pipeline.TrainingData
        .perGroupCapTopK(Tables.documents(s, dir), "source", "doc_id",
          cap = 150)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // GPT-style concat-then-chunk sequence packing: 8 shards, 1024-token
    // budget; a doc's sequence id is its start offset / budget
    "pack_sequences" -> ((s, dir) =>
      graft.pipeline.TrainingData
        .packSequences(Tables.documents(s, dir), "doc_id",
          size(graft.pipeline.TextAnalysis.tokens(col("text"))),
          budget = 1024, shards = 8)
        .orderBy("doc_id")),

    // overlapping token-window chunking (retrieval/embedding prep):
    // 32-token windows every 16 tokens; chunk text exposed as its md5
    "doc_chunks" -> ((s, dir) =>
      graft.pipeline.TrainingData
        .chunk(Tables.documents(s, dir), "doc_id", "text",
          windowTokens = 32, stride = 16)
        .select(col("doc_id"), col("chunk_id"),
          md5(col("chunk_text")).as("chunk_md5"), col("n_chunk_tokens"))
        .orderBy("doc_id", "chunk_id")),

    // deterministic weighted source mixture: keep w/256 of each listed
    // source by md5 bucket of the id (pure function of the row — stable
    // under reruns and appends); unlisted sources pass whole
    "mixture_sample" -> ((s, dir) =>
      graft.pipeline.TrainingData
        .mixtureSample(Tables.documents(s, dir), "source", "doc_id",
          Map("src0" -> 64, "src1" -> 128, "src2" -> 0, "src3" -> 255))
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // ------------------------------------------------- keyword retrieval
    // ranked conjunctive search, index-free scan path: per-term tf via
    // codegen array filters, rank by (total tf desc, id) — integer
    // scoring so the oracle is exact (see TextSearch scaladoc)
    "search_rank" -> ((s, dir) =>
      graft.query.TextSearch.rankedSearch(Tables.documents(s, dir),
        "doc_id", "text", Seq("spark", "vector"), k = 20)),

    // same semantics through the inverted-index path: postings build
    // (explode + map-side-combined count) + IN-filtered doc-keyed agg
    "search_conj" -> ((s, dir) =>
      graft.query.TextSearch.searchPostings(
        graft.query.TextSearch.postings(Tables.documents(s, dir),
          "doc_id", "text"),
        "doc_id", Seq("spark", "vector"))
        .orderBy("doc_id")),

    // typo-tolerant search (TextSearch.fuzzySearch): query terms
    // expand to every vocabulary token within Levenshtein 1 (length-
    // band prefiltered, vocabulary-sized scan), then one posting
    // semi-join scores docs by original-term coverage; top-50 under a
    // total (coverage, tf, id) order
    "search_fuzzy" -> ((s, dir) => {
      val post = graft.query.TextSearch.postings(
        Tables.documents(s, dir), "doc_id", "text").localCheckpoint()
      graft.query.TextSearch.fuzzySearch(post,
          post.select("tok").distinct(), "doc_id",
          Seq("tabl", "filtr"), maxDist = 1)
        .limit(50)
    }),

    // transposition-tolerant fuzzy search: the same vocab expansion
    // under Damerau-Levenshtein — the planted typos "tabel"/"fitler"
    // are adjacent transpositions of real vocab tokens (plain
    // levenshtein scores them 2, outside maxDist=1; DL charges 1),
    // so this gate finds documents the plain metric provably cannot
    "search_fuzzy_dl" -> ((s, dir) => {
      val post = graft.query.TextSearch.postings(
        Tables.documents(s, dir), "doc_id", "text").localCheckpoint()
      graft.query.TextSearch.fuzzySearch(post,
          post.select("tok").distinct(), "doc_id",
          Seq("tabel", "fitler"), maxDist = 1, metric = "damerau")
        .limit(50)
    }),

    // prefix search (TextSearch.prefixSearch): 'fil' expands over the
    // vocabulary (a range scan on a sorted vocab; the corpus never
    // sees the predicate) then one posting semi-join — the
    // autocomplete shape; top-50 under a total order
    "search_prefix" -> ((s, dir) => {
      val post = graft.query.TextSearch.postings(
        Tables.documents(s, dir), "doc_id", "text").localCheckpoint()
      graft.query.TextSearch.prefixSearch(post,
          post.select("tok").distinct(), "doc_id", "fil")
        .limit(50)
    }),

    // MMR diversity rerank (query/Mmr): three queries' top-8 tf
    // candidates, pairwise similarity = shared distinct tokens
    // (all-integer), greedy λ=0.7 walk picks 5 per query inside
    // bounded flatMapGroups state — the oracle unrolls the same five
    // rounds as CTEs with correlated max-over-selected penalties
    "search_mmr" -> ((s, dir) => {
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
    }),

    // benchmark decontamination: train docs (id % 23 ≠ 0) sharing any
    // word 3-gram with the benchmark subset (id % 23 = 0); n_hits =
    // distinct shared 3-grams per contaminated doc
    "decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.TrainingData.decontaminate(
        docs.where(col("doc_id") % 23 =!= 0),
        docs.where(col("doc_id") % 23 === 0),
        "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),

    // BLOOM-prefiltered decontamination: the broadcast-bytes scale
    // lever — a ~16-bit-per-gram bit array probes in the scan
    // projection (no false negatives), flagged grams exact-verify
    // against the true set, so the output is IDENTICAL to
    // `decontaminate` and shares its full SQL oracle verbatim
    "decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.TrainingData.decontaminateBloom(
        docs.where(col("doc_id") % 23 =!= 0),
        docs.where(col("doc_id") % 23 === 0),
        "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),

    // span-level decontamination REPORT: benchmark-covered token
    // positions merged into maximal contiguous spans (gaps-and-islands)
    // — WHERE the leak sits, not just that it does; the oracle rebuilds
    // windows, matches, covered positions and islands from the same
    // md5 keys
    "decontaminate_spans" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.TrainingData.decontaminateSpans(
        docs.where(col("doc_id") % 23 =!= 0),
        docs.where(col("doc_id") % 23 === 0),
        "doc_id", "text", n = 3)
        .orderBy("doc_id", "span_start")
    }),

    // span-level decontamination REMOVAL: covered tokens cut, document
    // reassembled from survivors (untouched docs verbatim) — the oracle
    // strips with an anti-join over the same covered set and re-joins
    // tokens position-ordered
    "decontaminate_remove" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.pipeline.TrainingData.removeContaminatedSpans(
        docs.where(col("doc_id") % 23 =!= 0),
        docs.where(col("doc_id") % 23 === 0),
        "doc_id", "text", n = 3)
        .orderBy("doc_id")
    }),

    // bucketed interval join (no equi-key): every click paired with ALL
    // purchases of the next five minutes — equi-join on derived time
    // buckets, never a cross join (see RangeJoin scaladoc). µs domain on
    // both sides so the oracle engine agrees on the boundary.
    "events_range_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).withColumn("tus", expr("ts div 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("tus").as("click_us"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("tus").as("purchase_us"))
      graft.operators.RangeJoin.bucketed(clicks, purchases,
          "click_us", "purchase_us", lo = 1L, hi = 300000000L)
        .select("click_id", "purchase_id")
        .orderBy("click_id", "purchase_id")
    }),

    // FIRST-touch attribution: each purchase credits exactly ONE click —
    // the EARLIEST same-user click inside the preceding hour (ties on
    // click id) — a bounded per-purchase top-1 over the pair relation
    "events_attribution_first" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      val pairs = graft.streaming.EventPipeline.attributionPairs(clicks,
        purchases, "click_ts", "purchase_ts", "1 hour")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("purchase_id")
        .orderBy(col("click_ts"), col("click_id"))
      pairs.withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select("purchase_id", "click_id")
        .orderBy("purchase_id")
    }),

    // stream-stream attribution join (batch-path correctness like the
    // other streaming entries; EventPipelineSpec runs the same code on
    // two MemoryStreams with watermarks): purchases × same-user clicks
    // of the preceding hour
    "events_attribution" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      graft.streaming.EventPipeline.attributionPairs(clicks, purchases,
          "click_ts", "purchase_ts", "1 hour")
        .select("purchase_id", "click_id")
        .orderBy("purchase_id", "click_id")
    }),

    // linear-time-decay MULTI-touch attribution (EventPipeline
    // .attributionLinearDecay): the hour's clicks split each
    // purchase's credit by integer weight windowNs − gap, shares
    // floor-scaled ppm — engine-exact beside the last/first-touch
    // single-touch reports
    "events_attribution_decay" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.where(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts").as("click_ts"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("ts").as("purchase_ts"))
      graft.streaming.EventPipeline.attributionLinearDecay(
          clicks, purchases, "click_ts", "purchase_ts",
          windowNs = 3600000000000L)
        .orderBy("purchase_id", "click_id")
    }),

    // outer join with null-side aggregation: every customer with the
    // count and rounded sum of their 400k+ orders, zero/null for
    // customers with none — the left-outer + group shape
    "rel_outer_join" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_big"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2)
            .as("sum_big"))
        .orderBy("c_custkey")),

    // anti join — the NOT EXISTS shape (customers with no 400k+ order)
    "rel_anti_join" -> ((s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")),

    // TPC-H Q18 shape: join back through a HAVING aggregate (orders
    // whose lineitems sum past a quantity threshold, with their
    // customer) — aggregate-then-join, both joins key-local
    "rel_q18_big_orders" -> ((s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 2).as("total_qty"))
        .where(col("total_qty") > 250)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
    }),

    // moving-window aggregate: per-type daily counts with a 3-day RANGE
    // frame (time-based moving sum — integer-only so the oracle is exact)
    "events_moving_sum" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), expr("ts div 86400000000000").as("day"))
        .agg(count(lit(1)).as("day_cnt"))
      val w = Window.partitionBy("event_type").orderBy("day")
        .rangeBetween(-2, 0)
      daily.withColumn("mov3_cnt", sum(col("day_cnt")).over(w))
        .select(col("event_type"), col("day"), col("day_cnt"), col("mov3_cnt"))
        .orderBy("event_type", "day")
    }),

    // ingest-volume spike monitor (streaming/EventPipeline
    // .dailyAnomalies): per-(type, day) counts against the trailing
    // 7-day baseline, the |x−μ| > 3σ test cross-multiplied into pure
    // integer arithmetic ((n·x−S)² > 9·(n·SS−S²)) so the flag decision
    // is bit-identical across engines
    "events_anomaly" -> ((s, dir) =>
      graft.streaming.EventPipeline.dailyAnomalies(
          Tables.events(s, dir), "ts", "event_type")
        .orderBy("event_type", "day")),

    // pivot: day-of-week × event-type count matrix (explicit value list
    // so the output schema is static — the scale-safe pivot form; a
    // discovery pivot would need an extra distinct pass)
    "rel_pivot" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("dow", expr("(ts div 86400000000000) % 7"))
        .groupBy("dow")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select(col("dow"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("error"), lit(0L)).as("n_error"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("view"), lit(0L)).as("n_view"))
        .orderBy("dow")),

    // unpivot (melt): wide per-doc token stats to long (doc_id, metric,
    // value) — the inverse reshaping, one narrow expand, no shuffle
    "rel_unpivot" -> ((s, dir) =>
      TextAnalysis.tokenStats(Tables.documents(s, dir))
        .unpivot(Array(col("doc_id")),
          Array(col("n_tokens"), col("n_distinct")), "metric", "value")
        .orderBy("doc_id", "metric")),

    // Bloom-filter semi-join reduction (invariant-gated): filter built
    // over the selective order keys in one pass, probe side pre-filtered
    // by a codegen membership test. Invariants: NO true match is dropped
    // (Bloom guarantees no false negatives — audited row by row), the
    // false-positive overhead stays under 2% of the probe, and the exact
    // match count equals the oracle's semi-join count.
    "bloom_semi_join" -> ((s, dir) => {
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
    }),

    // PCA over the embedding corpus (invariant-gated like the ANN
    // entries — eigenvectors are sign/geometry-dependent, their contracts
    // are not): one distributed moments pass + driver Jacobi eigensolve +
    // distributed codegen projection. Invariants: eigenvalues descending;
    // top-k components orthonormal; Σ all eigenvalues = tr(C); the
    // distributed projection's per-component POPULATION variance equals
    // its eigenvalue; distributed projections match a driver recompute
    // on sample vectors.
    "embed_pca" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.pipeline.Embeddings.pcaFit(emb, "embedding", k = 8)
      val ev = model.eigenvalues
      val orderViol = (1 until ev.length)
        .count(i => ev(i) > ev(i - 1) + 1e-9).toLong
      val orthoBad = (for {
        i <- model.components.indices
        j <- i until model.components.length
      } yield {
        val dot = (0 until model.dim)
          .map(t => model.components(i)(t) * model.components(j)(t)).sum
        val target = if (i == j) 1.0 else 0.0
        if (math.abs(dot - target) > 1e-8) 1L else 0L
      }).sum
      val traceOk =
        if (math.abs(ev.sum - model.trace) <=
          1e-6 * math.max(model.trace, 1e-12)) 1L else 0L
      val proj = graft.pipeline.Embeddings
        .pcaProject(emb, "vec_id", "embedding", model)
      // driver recompute of the sample projections (same arithmetic,
      // independent code path from the kernel)
      val sample = emb.where(col("vec_id") <= 4)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      val got = proj.where(col("vec_id") <= 4)
        .select("vec_id", "proj").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val projBad = sample.map { case (id, vec) =>
        val want = model.components.map { row =>
          var s = 0.0
          var i = 0
          while (i < model.dim) { s += row(i) * vec(i); i += 1 }
          s - (0 until model.dim).map(t => row(t) * model.mean(t)).sum
        }
        val g = got(id)
        if (want.indices.exists(i => math.abs(want(i) - g(i)) > 1e-9)) 1L
        else 0L
      }.sum
      val evLit = graft.functions.FastFunctions.litDoubles(ev.take(8))
      proj.select(posexplode(col("proj")).as(Seq("ci", "p")))
        .groupBy("ci")
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"),
          sum(col("p") * col("p")).as("spp"))
        .select(
          (col("spp") / col("n") -
            (col("sp") / col("n")) * (col("sp") / col("n"))).as("v"),
          element_at(evLit, col("ci") + 1).as("lam"))
        .agg(coalesce(sum(when(
          abs(col("v") - col("lam")) >
            lit(1e-6) * greatest(col("lam"), lit(1e-9)), 1L)
          .otherwise(0L)), lit(0L)).as("n_var_bad"))
        .select(lit(8L).as("n_comp"), lit(orderViol).as("n_order_viol"),
          lit(orthoBad).as("n_ortho_bad"), lit(traceOk).as("trace_ok"),
          col("n_var_bad"), lit(projBad).as("n_proj_bad"))
    }),

    // PCA whitening (invariant-gated): the whitened corpus must have
    // identity population covariance on the projected subspace — unit
    // variance per component, zero cross-covariance, audited by one
    // distributed pass over the upper-triangle second moments
    "embed_whiten" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.pipeline.Embeddings.pcaFit(emb, "embedding", k = 4)
      val wh = graft.pipeline.Embeddings
        .pcaWhiten(emb, "vec_id", "embedding", model)
      val pairsIdx = for { i <- 0 until 4; j <- i until 4 } yield (i, j)
      wh.select(explode(array(pairsIdx.map { case (i, j) =>
          struct(lit(i * 4 + j).as("pid"),
            (element_at(col("proj"), i + 1) *
              element_at(col("proj"), j + 1)).as("v"))
        }: _*)).as("e"))
        .groupBy(col("e.pid").as("pid"))
        .agg(avg(col("e.v")).as("m"))
        // upper-tri pids for k=4: diagonal iff pid % 5 == 0
        .agg(count(lit(1)).cast("long").as("n_cells"),
          coalesce(sum(when(col("pid") % 5 === 0 &&
            abs(col("m") - 1.0) > 1e-6, 1L).otherwise(0L)), lit(0L))
            .as("n_var_bad"),
          coalesce(sum(when(col("pid") % 5 =!= 0 &&
            abs(col("m")) > 1e-6, 1L).otherwise(0L)), lit(0L))
            .as("n_cov_bad"))
    }),

    // sketch family: percentile_approx (KLL-style quantile summary)
    // audited in-job against the exact p50 rank — rank_ok = 1 iff the
    // count of values ≤ the approximate median sits within ±4% of n/2
    // (the sketch's rank-error contract at accuracy 10000 is n/10000;
    // the slack keeps the invariant robust, the audit keeps it honest)
    // EXACT discrete quantiles via the mergeable value histogram
    // (pipeline/Sketches): domain-sized state, all-integer rank
    // arithmetic ceil(q·n/100) — the hash-exact complement of the
    // rank-invariant-gated approx entry below
    "stats_exact_quantiles" -> ((s, dir) =>
      graft.pipeline.Sketches.exactQuantiles(
        Tables.events(s, dir)
          .select(floor(col("value") * 100).cast("long").as("cents")),
        "cents", Seq(1, 5, 25, 50, 75, 95, 99))
        .orderBy("q_x100")),

    // per-source exact heavy hitters (tokens with > n_source/50 = 2%
    // frequency inside their source): the Misra-Gries two-pass run per
    // group — bounded candidate state, exact recount, no (group, item)
    // distinct materialization
    "stats_heavy_hitters_by_group" -> ((s, dir) =>
      graft.pipeline.Sketches.heavyHittersByGroup(
        Tables.documents(s, dir).select(col("source"),
          explode(graft.pipeline.TextAnalysis.tokens(col("text")))
            .as("tok")),
        "source", "tok", k = 50)
        .orderBy("source", "item")),

    // inter-event gap quantiles per event type: the per-user lag window
    // (one exchange) feeding the per-group exact quantile machinery —
    // "how bursty is each event stream", in exact milliseconds
    "events_gap_quantiles" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val gaps = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"))
        .withColumn("prev", lag(col("ts"), 1).over(w))
        .where(col("prev").isNotNull)
        .select(col("event_type"),
          expr("(ts - prev) div 1000000").as("gap_ms"))
      graft.pipeline.Sketches.exactQuantilesByGroup(gaps, "event_type",
        "gap_ms", Seq(50, 90, 99))
        .orderBy("event_type", "q_x100")
    }),

    // per-group exact quantiles: same integer rank rule, cumulative
    // window bounded by each group's value domain
    "stats_exact_quantiles_by_group" -> ((s, dir) =>
      graft.pipeline.Sketches.exactQuantilesByGroup(
        Tables.events(s, dir).select(col("event_type"),
          floor(col("value") * 100).cast("long").as("cents")),
        "event_type", "cents", Seq(25, 50, 75, 95))
        .orderBy("event_type", "q_x100")),

    "stats_approx_quantiles" -> ((s, dir) => {
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
    }),

    // day-partitioned event layout (sources.PartitionedTables): events
    // written partitionBy(day) once per sf dir, re-read with a day
    // filter that prunes to 3 of ~30 directories (PartitionFilters on
    // the scan — asserted in PartitionedTablesSpec; the DPP variant is
    // spec-gated too), aggregated per day
    // Z-ordered (Morton-curve) layout: events rewritten clustered on the
    // interleaved bits of (user_id, floor(value)) so parquet row-group
    // min/max stats prune box predicates on EITHER column; the entry
    // round-trips the layout (no rows lost) and gates the Morton code
    // bit-for-bit (ZOrderSpec measures the actual pruning win)
    "layout_zorder" -> ((s, dir) => {
      val p = zorderDir.getOrElseUpdate(dir, {
        val out = newStoreDir("graft_zorder")
        graft.sources.ZOrder.writeZOrdered(
          Tables.events(s, dir).withColumn("vb", floor(col("value"))),
          out, "user_id", "vb", numFiles = 8)
        out
      })
      s.read.parquet(p)
        .select(col("event_id"),
          graft.sources.ZOrder.zValue2(col("user_id"), col("vb"), 16)
            .as("zv"))
        .orderBy("event_id")
    }),

    "events_day_partitioned" -> ((s, dir) => {
      val p = dayPartDir.getOrElseUpdate(dir, {
        val out = newStoreDir("graft_daypart")
        graft.sources.PartitionedTables
          .writeEventsByDay(Tables.events(s, dir), out)
        out
      })
      graft.sources.PartitionedTables.read(s, p)
        .where(col("day").isin(19725, 19726, 19727))
        .groupBy(col("day").cast("long").as("day"))
        .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_value"))
        .orderBy("day")
    }),

    // incremental-ingest dedup: the doc_id%5==0 batch deduplicated
    // against the rest of the corpus via the BIPARTITE LSH band join —
    // the corpus never pairs with itself. Oracle = exact bipartite
    // Jaccard at 0.9 (band-geometry miss probability < 2e-15/pair,
    // same contract as dedup_minhash_lsh)
    "dedup_incremental" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.minHashLshPairsBipartite(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0), thresholdPct = 90)
        .orderBy("new_id", "corpus_id")
    }),

    // set difference (EXCEPT DISTINCT): users with a HIGH-VALUE click
    // but no high-value purchase — the set-operator shape (planner
    // rewrites to an aggregate + anti semantics). The value predicate
    // matters: every user has every event type in this corpus, so the
    // unfiltered difference is empty at every sf and the gate would be
    // vacuous (any implementation returning 0 rows would pass); >200
    // measured non-empty at sf0.01 (22 rows) and sf0.1 (249 rows)
    "rel_except" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.where(col("event_type") === "click" && col("value") > 200.0)
        .select("user_id")
        .except(ev.where(col("event_type") === "purchase" &&
          col("value") > 200.0).select("user_id"))
        .orderBy("user_id")
    }),

    // set-intersection sibling of rel_except (Catalyst plans both as
    // distinct + join)
    "rel_intersect" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      ev.where(col("event_type") === "click" && col("value") > 200.0)
        .select("user_id")
        .intersect(ev.where(col("event_type") === "purchase" &&
          col("value") > 200.0).select("user_id"))
        .orderBy("user_id")
    }),

    // explicit GROUPING SETS with grouping_id — the mixed-granularity
    // aggregate cube/rollup can't express (two 1-dim slices + the
    // grand total, but NOT the 2-dim cross); l_quantity is
    // integer-valued so the sums are exact in both engines
    "rel_grouping_sets" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy("gid", "l_returnflag", "l_linestatus")),

    // fixed-width value histogram per event type: integer bucket ids
    // (floor((value - lo) / w)), clamped into [0, 19] — exact integer
    // bucketing, no float in any group key
    "stats_histogram" -> ((s, dir) =>
      Tables.events(s, dir)
        .withColumn("bucket",
          greatest(lit(0L), least(lit(19L),
            floor((col("value") - lit(0.0)) / lit(50.0)).cast("long"))))
        .groupBy("event_type", "bucket")
        .agg(count(lit(1)).as("cnt"))
        .orderBy("event_type", "bucket")),

    // ordered event funnel (signup → later click → later purchase):
    // stage N is an aggregate join on the stage-(N−1) users, so each
    // stage shrinks the relation — the classic product-analytics
    // cascade; µs timestamps so strict ordering agrees with the oracle
    "events_funnel" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("ts div 1000").as("tus"))
      val s1 = ev.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min(col("tus")).as("t1"))
      val s2 = ev.where(col("event_type") === "click")
        .join(s1, "user_id").where(col("tus") > col("t1"))
        .groupBy("user_id").agg(min(col("tus")).as("t2"))
      val s3 = ev.where(col("event_type") === "purchase")
        .join(s2, "user_id").where(col("tus") > col("t2"))
        .select("user_id").distinct()
      s1.agg(count(lit(1)).as("n_signup"))
        .crossJoin(s2.agg(count(lit(1)).as("n_click_after")))
        .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after")))
    }),

    // corpus audit profile: per-source volume, token mass, vocabulary
    // width, length extremes — the inspection step every ingest pipeline
    // runs before training; one pass, map-side-combined
    // JSONL corpus ingestion (the LLM-corpus wire format): documents
    // round-trip through jsonl shards plus one injected corrupt line;
    // the gate proves content identity (count + two content moments)
    // and that the bad line lands in quarantine, not in the corpus
    "source_jsonl" -> ((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      val tmp = java.nio.file.Files.createTempDirectory("graft_jsonl").toString
      val docs = Tables.documents(s, dir).select("doc_id", "text")
      docs.write.mode("overwrite").json(s"$tmp/shards")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/shards/zz_corrupt.json"),
        "{this line is not json\n")
      val schema = new StructType()
        .add("doc_id", LongType).add("text", StringType)
      val (clean, quarantine) =
        graft.sources.JsonlCorpus.read(s, s"$tmp/shards", schema)
      clean.agg(
          count(lit(1)).cast("long").as("n_docs"),
          sum(length(col("text"))).cast("long").as("sum_chars"),
          sum(col("doc_id") * length(col("text"))).cast("long")
            .as("sum_id_chars"))
        .crossJoin(quarantine
          .agg(count(lit(1)).cast("long").as("n_corrupt")))
    }),

    // CSV ingestion with the same explicit-schema + quarantine
    // contracts as source_jsonl: one header line dropped per shard, a
    // planted malformed line lands in the quarantine, the clean-side
    // checksums match the oracle over the parquet original
    "source_csv" -> ((s, dir) => {
      import org.apache.spark.sql.types.{LongType, StringType, StructType}
      val tmp = java.nio.file.Files.createTempDirectory("graft_csv").toString
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      docs.write.mode("overwrite").option("header", "true")
        .csv(s"$tmp/shards")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/shards/zz_corrupt.csv"),
        "doc_id,source,n_chars\nnot-a-number,srcX,oops\n")
      val schema = new StructType()
        .add("doc_id", LongType).add("source", StringType)
        .add("n_chars", LongType)
      val (clean, quarantine) = graft.sources.CsvCorpus.read(
        s, s"$tmp/shards", schema,
        header = Some("doc_id,source,n_chars"))
      clean.agg(
          count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"),
          coalesce(sum(col("doc_id") * col("n_chars")), lit(0L))
            .as("sum_id_chars"))
        .crossJoin(quarantine
          .agg(count(lit(1)).cast("long").as("n_corrupt")))
    }),

    // binary-blob ingestion (sources/MediaFiles over the built-in
    // binaryFile source): one file per asset written as <doc_id>.bin,
    // a .tmp sidecar excluded by the pushed-down glob, a bad-name .bin
    // and an oversized .bin quarantined with reasons — payload
    // checksums prove the round trip against the parquet original
    "source_binary_files" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_blobs").toString
      val it = Tables.documents(s, dir).select("doc_id", "text")
        .toLocalIterator()
      while (it.hasNext) {
        val r = it.next()
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$tmp/${r.getLong(0)}.bin"),
          r.getString(1).getBytes("UTF-8"))
      }
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/manifest.tmp"), "junk")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/not-an-id.bin"), "junk")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$tmp/999999999.bin"),
        Array.fill(3000000)('x'.toByte))
      val (clean, quarantine) = graft.sources.MediaFiles.read(
        s, tmp, glob = "*.bin", maxBytes = 2000000L)
      clean
        .agg(count(lit(1)).cast("long").as("n_files"),
          sum(col("byte_len")).as("sum_bytes"),
          sum(col("media_id") * length(col("payload")).cast("long"))
            .as("sum_id_bytes"))
        .crossJoin(broadcast(quarantine
          .agg(count(lit(1)).cast("long").as("n_quarantined"),
            coalesce(sum(when(col("reason") === "oversized", 1L)
              .otherwise(0L)), lit(0L)).as("n_oversized"))))
    }),

    // fixed-width ingestion (sources/FixedWidthCorpus): render the
    // documents metadata as 28-char records, add a truncated line and
    // a right-length line with letters in the numeric id field, read
    // back through the substring/trim layout — clean checksums match
    // the parquet original, both planted offenders land in quarantine
    "source_fixed_width" -> ((s, dir) => {
      import graft.sources.FixedWidthCorpus
      val tmp = java.nio.file.Files.createTempDirectory("graft_fw").toString
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      val layout = Seq(
        FixedWidthCorpus.Field("doc_id", 1, 10, numeric = true),
        FixedWidthCorpus.Field("source", 11, 8, numeric = false),
        FixedWidthCorpus.Field("n_chars", 19, 10, numeric = true))
      FixedWidthCorpus.render(docs, layout)
        .write.mode("overwrite").text(s"$tmp/shards")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$tmp/shards/zz_corrupt.txt"),
        "too short\n00000000xxsrcX    0000000042\n")
      val (clean, quarantine) = FixedWidthCorpus.read(
        s, s"$tmp/shards", layout)
      clean.agg(
          count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum(col("n_chars")), lit(0L)).as("sum_chars"),
          coalesce(sum(col("doc_id") * col("n_chars")), lit(0L))
            .as("sum_id_chars"))
        .crossJoin(quarantine
          .agg(count(lit(1)).cast("long").as("n_corrupt")))
    }),

    // schema evolution (sources/PartitionedTables.readEvolved): an old
    // shard (doc_id, n_chars) and a new shard that ADDED lang merge
    // under mergeSchema — the old shard's missing column reads as NULL,
    // and the per-column presence counts prove exactly which rows
    // carry it while the value checksums survive the merge
    "source_schema_evolve" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_evolve").toString
      val docs = Tables.documents(s, dir)
      docs.where(col("doc_id") % 2 === 0)
        .select(col("doc_id"), col("n_chars"))
        .write.mode("overwrite").parquet(s"$tmp/v1")
      docs.where(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("n_chars"), col("lang"))
        .write.mode("overwrite").parquet(s"$tmp/v2")
      graft.sources.PartitionedTables
        .readEvolved(s, s"$tmp/v1", s"$tmp/v2")
        .agg(count(lit(1)).as("n_rows"),
          count(col("n_chars")).as("n_chars_present"),
          count(col("lang")).as("n_lang_present"),
          sum(col("n_chars")).as("sum_chars"),
          countDistinct(col("lang")).as("n_langs"))
    }),

    // ORC round trip (sources/OrcTables): write documents hive-
    // partitioned by source as ORC, read back through partition pruning
    // (3 of 20 directories opened) + stripe-stat pushdown, and prove
    // the per-source checksums against the parquet original — the
    // second columnar interchange format beside parquet
    "source_orc" -> ((s, dir) => {
      val tmp = java.nio.file.Files.createTempDirectory("graft_orc").toString
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
      graft.sources.OrcTables.writePartitioned(docs, s"$tmp/docs", "source")
      graft.sources.OrcTables.read(s, s"$tmp/docs")
        .where(col("source").isin("src1", "src2", "src3"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("doc_id") * col("n_chars")).as("sum_id_chars"))
        .orderBy("source")
    }),

    // WARC ingestion: render every document as a WARC response record,
    // write real text shards, re-ingest through the multi-byte-lineSep
    // splitter, and prove the round trip — record count, zero
    // type/payload mismatches against the source table (full join, so
    // missing OR phantom records surface), exact payload mass, empty
    // quarantine
    "source_warc" -> ((s, dir) => {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_warc_gate").toString
      val docs = Tables.documents(s, dir)
      docs.select(graft.sources.WarcCorpus.render(
          concat(lit("https://corpus.test/doc-"), col("doc_id")),
          concat(lit("urn:graft:"), col("doc_id")), col("text"))
          .as("value"))
        .write.mode("overwrite").text(s"$tmp/warc")
      val (recs, quarantine) = graft.sources.WarcCorpus.read(s, s"$tmp/warc")
      recs
        .select(regexp_extract(col("target_uri"), "doc-([0-9]+)$", 1)
            .cast("long").as("doc_id"),
          col("warc_type"), col("payload"))
        .join(docs.select(col("doc_id"), col("text")), Seq("doc_id"), "full")
        .agg(count(lit(1)).cast("long").as("n_records"),
          coalesce(sum(when(col("warc_type").isNull
              || col("warc_type") =!= "response"
              || col("payload").isNull || col("text").isNull
              || col("payload") =!= col("text"), 1L).otherwise(0L)),
            lit(0L)).cast("long").as("n_mismatch"),
          coalesce(sum(length(col("payload"))), lit(0L)).cast("long")
            .as("sum_payload_chars"))
        .crossJoin(quarantine
          .agg(count(lit(1)).cast("long").as("n_quarantined")))
    }),

    // ANALYZE-style per-column profile in ONE aggregate pass (nulls,
    // exact distincts, min/max) — the schema-drift companion to the
    // expectations gate. The double-typed `value` column stays out of
    // the GATE selection only because float→string rendering is
    // engine-specific; the operator itself profiles any column type
    "rel_profile" -> ((s, dir) =>
      graft.operators.Profile.profile(
        Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type"))),

    // declarative data-quality expectations (the dbt-test shape): six
    // rules over events in one scan + two key aggregates + one
    // anti-join; the mixed zero/nonzero violation counts are computed
    // independently by the oracle, so the gate checks real counting,
    // not just "clean data passes"
    "quality_expectations" -> ((s, dir) => {
      import graft.operators.Expectations._
      violations(Tables.events(s, dir), Seq(
        NotNull("user_id"),
        Unique(Seq("event_id")),
        Unique(Seq("user_id", "event_type")),
        InRange("value", 0.0, 100.0),
        Accepted("event_type", Seq("view", "click", "purchase", "signup")),
        RefersTo("user_id",
          Tables.customer(s, dir).select("c_custkey"), "c_custkey")))
    }),

    // order-level expectations (Expectations.NonDecreasing): event
    // time must not run backwards along the event-id sequence per user
    // — planted 24h regressions on event_id % 1000 = 7 are counted as
    // adjacent inversions; the random `value` column gives a loud
    // natural-inversion control on the same one-pass-per-rule window
    "quality_expectations_monotone" -> ((s, dir) => {
      import graft.operators.Expectations._
      val ev = Tables.events(s, dir)
        .withColumn("ts",
          when(pmod(col("event_id"), lit(1000L)) === 7L,
            col("ts") - lit(86400L * 1000000000L))
            .otherwise(col("ts")))
      violations(ev, Seq(
        NonDecreasing("ts", "event_id", Seq("user_id")),
        NonDecreasing("value", "event_id", Seq("user_id"))))
    }),

    "corpus_profile" -> ((s, dir) => {
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
    }),

    // quartile bucketing (NTILE): each event's value quartile within its
    // type — the feature-binning window shape
    "rel_ntile" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .groupBy("event_type", "quartile")
        .agg(count(lit(1)).as("cnt"), round(max("value"), 2).as("q_max"))
        .orderBy("event_type", "quartile")
    }),

    // the ingest DECISION on top of dedup_incremental: which new docs
    // to drop given the protected corpus — components over bipartite ∪
    // new-new pairs, keeper = min corpus member else component minimum
    "dedup_incremental_drop" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.incrementalDropList(
        docs.where(col("doc_id") % 5 === 0),
        docs.where(col("doc_id") % 5 =!= 0), thresholdPct = 90)
        .orderBy("drop_id")
    }),

    // span-level exact-substring dedup (Lee et al. 2022 n-gram-window
    // formulation): per-doc duplicated 8-token windows, merged into
    // maximal spans — all-integer output, exact DuckDB oracle grouping
    // the same window STRINGS (hash ≡ string mod 64-bit collisions)
    "dedup_spans" -> ((s, dir) =>
      Dedup.duplicateSpans(Tables.documents(s, dir), n = 8)
        .orderBy("doc_id")),

    // winnowed-fingerprint verbatim-overlap pairs (MOSS winnowing,
    // SIGMOD'03): only the ~2/(w+1) winnowing-selected gram hashes are
    // exploded and self-joined — the sampled scale path dedup_spans'
    // every-window relation grows out of — with the guarantee that any
    // pair sharing an (n+w−1)-token substring yields a candidate; the
    // output is the VERIFIED, hash-order-independent measure (distinct
    // shared 8-token windows), so the oracle joins window STRINGS
    "dedup_winnow" -> ((s, dir) =>
      Dedup.winnowedPairs(Tables.documents(s, dir), n = 4, w = 5)
        .orderBy("a_id", "b_id")),

    // ingest-time winnowing: verbatim-overlap pairs between a NEW batch
    // (doc_id % 5 = 0, the dedup_incremental split) and the standing
    // corpus — new×corpus only, the corpus fingerprint relation is a
    // reusable projection; same verified shared-window measure
    "dedup_winnow_incr" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      Dedup.winnowedPairsBipartite(
          docs.where(col("doc_id") % 5 === 0),
          docs.where(col("doc_id") % 5 =!= 0), n = 4, w = 5)
        .orderBy("new_id", "corpus_id")
    }),

    // span REMOVAL on top of dedup_spans' measure (Lee et al. 2022
    // ExactSubstr semantics, symmetric): every token covered by a
    // cross-doc duplicated 8-token window is cut from every copy; the
    // oracle reassembles the surviving tokens from the same window
    // STRINGS, so the gate proves the cut positions AND the rebuild
    "dedup_span_remove" -> ((s, dir) =>
      Dedup.removeDuplicateSpans(Tables.documents(s, dir), n = 8)
        .orderBy("doc_id")),

    // ------------------------------------------------- web/URL curation
    // URL canonicalization over synthesized messy URLs (every rule
    // exercised by a doc_id residue class): normalized form + host +
    // registered domain per doc — the oracle replicates both the
    // synthesis and the regex pipeline step for step
    "web_url_normalize" -> ((s, dir) => {
      val docs = Tables.documents(s, dir).withColumn("url", webMessyUrl)
      val u = Web.normalizeUrl(col("url"))
      docs.select(col("doc_id"), u.as("url_norm"), Web.host(u).as("host"),
          Web.registeredDomain(Web.host(u)).as("domain"))
        .orderBy("doc_id")
    }),

    // per-registered-domain corpus accounting (docs, distinct hosts,
    // char mass) — subdomains collapse, two-level suffixes (.co.uk)
    // keep three labels
    "web_host_stats" -> ((s, dir) =>
      Web.hostStats(
          Tables.documents(s, dir).withColumn("url", webSimpleUrl),
          "url", Seq(sum(col("n_chars")).as("sum_chars")))
        .orderBy("domain")),

    // domain blocklist as a broadcast anti-join (the blocklist is
    // domain-sized, never corpus-sized), surviving docs per source
    "web_blocklist" -> ((s, dir) => {
      import s.implicits._
      val docs = Tables.documents(s, dir).withColumn("url", webSimpleUrl)
      val blocked = Seq("src0.io", "src3.com", "src7.co.uk", "src12.org")
        .toDF("domain")
      Web.blocklistFilter(docs, "url", blocked)
        .groupBy("source").agg(count(lit(1)).as("n_kept"))
        .orderBy("source")
    }),

    // URL-level dedup: triples of docs whose raw URLs differ by scheme
    // case / www / default ports / tracking params / fragments collapse
    // to one canonical key; keep the minimum doc_id — the oracle
    // constructs the expected canonical key INDEPENDENTLY, so the gate
    // proves the whole normalize+key pipeline
    "web_url_dedup" -> ((s, dir) =>
      Web.dedupByUrl(
          Tables.documents(s, dir).withColumn("url", webGroupUrl), "url")
        .orderBy("keep_id")),

    // HTML → text extraction over synthesized pages (every rule
    // exercised by a doc_id residue class: head/title with entities,
    // script content holding a bare '<', style, comments wrapping
    // tags, 0/1/2 links): title, visible text, outlinks, and the
    // integer text-density signal — the oracle replicates the page
    // synthesis AND the whole rule chain step for step
    "web_html_extract" -> ((s, dir) =>
      graft.pipeline.Html.extract(
          Tables.documents(s, dir).withColumn("html", webHtmlDoc), "html")
        .orderBy("doc_id")),

    // anchor-text aggregation per target host over the synthesized
    // pages: every doc_id%3==0 page links "Link A" -> site{d%50}.com
    // and "B" -> ref.org, %3==1 pages carry only a RELATIVE href
    // (hostless — must drop); the oracle rebuilds the expectation from
    // the synthesis residues
    "web_anchor_text" -> ((s, dir) =>
      Web.anchorTexts(
          Tables.documents(s, dir).withColumn("url", webSimpleUrl)
            .withColumn("html", webHtmlDoc), "url", "html")
        .orderBy("dst", "anchor")),

    // incremental anchor-text state: (dst, anchor, src)-keyed link
    // counts over PAGE-DISJOINT batches merge additively while the
    // DISTINCT-host count stays exact (the src key is what makes the
    // rollup mergeable) — gated: report from the merged state == the
    // one-shot report row for row, and the split is NON-vacuous in the
    // interesting way: some (dst, anchor, src) triple links from BOTH
    // batches (doc_id%8<4 puts doc_id≡0 and ≡4 (mod 8) pages — same
    // src-host tld class — on opposite sides), so a naive per-(dst,
    // anchor) host-count merge would have double-counted
    "web_anchor_text_incr" -> ((s, dir) => {
      val pages = Tables.documents(s, dir).withColumn("url", webSimpleUrl)
        .withColumn("html", webHtmlDoc)
      val pa = pages.where(pmod(col("doc_id"), lit(8)) < 4)
      val pb = pages.where(pmod(col("doc_id"), lit(8)) >= 4)
      val sa = Web.anchorTextState(pa, "url", "html")
      val sb = Web.anchorTextState(pb, "url", "html")
      val merged = Web.mergeAnchorState(sa, sb)
      val rep = Web.anchorTextsFromState(merged)
      val one = Web.anchorTexts(pages, "url", "html")
        .select(col("dst"), col("anchor"), col("n_hosts").as("h2"),
          col("n_links").as("l2"))
      val repDiff = rep.join(one, Seq("dst", "anchor"), "full_outer")
        .agg(coalesce(sum(when(col("n_hosts") <=> col("h2") &&
          col("n_links") <=> col("l2"), 0L).otherwise(1L)), lit(0L))
          .as("n_report_diff"))
      val nonvac = sa.select("dst", "anchor", "src")
        .join(sb.select("dst", "anchor", "src"), Seq("dst", "anchor", "src"))
        .agg(when(count(lit(1)) > 0, 1L).otherwise(0L)
          .as("merge_nonvacuous"))
      repDiff.crossJoin(nonvac)
    }),

    // SKETCH anchor state ((dst, anchor)-sized regardless of host
    // fan-in — the src key the exact state carries becomes constant
    // HLL bytes): gated in-job against the exact report — link totals
    // equal exactly, the distinct-host ESTIMATES (one-shot AND the
    // two-batch union) stay within 5% of exact, deterministic
    "web_anchor_text_sketch" -> ((s, dir) => {
      val pages = Tables.documents(s, dir).withColumn("url", webSimpleUrl)
        .withColumn("html", webHtmlDoc)
      val pa = pages.where(pmod(col("doc_id"), lit(8)) < 4)
      val pb = pages.where(pmod(col("doc_id"), lit(8)) >= 4)
      val merged = Web.mergeAnchorSketches(
        Web.anchorTextSketchState(pa, "url", "html"),
        Web.anchorTextSketchState(pb, "url", "html"))
      val rep = Web.anchorTextsFromSketch(merged)
        .select(col("dst"), col("anchor"), col("n_hosts_est").as("hm"),
          col("n_links").as("lm"))
      val oneShot = Web.anchorTextsFromSketch(
        Web.anchorTextSketchState(pages, "url", "html"))
        .select(col("dst"), col("anchor"), col("n_hosts_est").as("h1"),
          col("n_links").as("l1"))
      val exact = Web.anchorTexts(pages, "url", "html")
        .select(col("dst"), col("anchor"), col("n_hosts").as("he"),
          col("n_links").as("le"))
      rep.join(oneShot, Seq("dst", "anchor")).join(exact, Seq("dst", "anchor"))
        .agg(when(count(lit(1)) > 0, 1L).otherwise(0L).as("has_pairs"),
          coalesce(sum(when(col("lm") === col("le") &&
            col("l1") === col("le"), 0L).otherwise(1L)), lit(0L))
            .as("n_total_diff"),
          coalesce(sum(when(abs(col("h1") - col("he")) * 20 <= col("he"),
            0L).otherwise(1L)), lit(0L)).as("n_oneshot_out_of_bound"),
          coalesce(sum(when(abs(col("hm") - col("he")) * 20 <= col("he"),
            0L).otherwise(1L)), lit(0L)).as("n_merged_out_of_bound"))
    }),

    // the WHOLE web-curation chain composed end to end: render pages
    // as WARC shards → re-ingest (multi-byte-lineSep split) → URL-level
    // dedup on the parsed target URIs (group-stable messy URLs, one
    // survivor per canonical key) → HTML → text extraction on the KEPT
    // pages only (the cheap dedup runs before the expensive parse —
    // the 100 TB ordering) → per-survivor token/link accounting. The
    // oracle rebuilds every stage from the synthesis residues
    "pipeline_web_end_to_end" -> ((s, dir) => {
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
    }),

    // host-centrality quality prior: page host → outlink host edges
    // (relative and self links dropped) from the synthesized pages,
    // ranked by 3 rounds of the integer PageRank over STRING node keys
    // — the oracle rebuilds the edge list from the synthesis residues
    // and chains the same fixed-point CTEs as graph_pagerank
    "web_link_rank" -> ((s, dir) => {
      val pages = Tables.documents(s, dir)
        .withColumn("url", webSimpleUrl).withColumn("html", webHtmlDoc)
      graft.operators.PageRank
        .rankKeyed(Web.hostLinkEdges(pages, "url", "html"), iters = 3)
        .select(col("v").as("host"), col("s"))
        .orderBy("host")
    }),

    // directed containment (partial-copy) pairs over 3-gram shingle
    // sets at |A∩B| ≥ 0.8·|A| — the asymmetric measure Jaccard dilutes
    // when |B| ≫ |A|; shingles (not bags of tokens) because copied
    // passages are consecutive text
    "dedup_containment" -> ((s, dir) =>
      Dedup.containmentPairsShingled(Tables.documents(s, dir),
          thresholdPct = 80, n = 3)
        .orderBy("a_id", "b_id")),

    // BM25 relevance scoring (disjunctive hit set): idf/df/avglen from
    // ONE corpus pass (integer counts in doubles — exact), scoring a
    // narrow shuffle-free projection. The oracle replicates the exact
    // arithmetic (same parenthesization, same ln argument); the score is
    // rounded to 4 decimals on both sides.
    "search_bm25" -> ((s, dir) =>
      graft.query.TextSearch.bm25Scores(Tables.documents(s, dir),
        "doc_id", "text", Seq("spark", "vector"))
        .orderBy("doc_id")),

    // exact-phrase search via the positional inverted index: every
    // phrase-term posting votes for the occurrence start it implies
    // (pos − slot), a start collecting all slots is an occurrence —
    // one candidate-sized shuffle, text never moves; the index-free
    // scan twin is spec-pinned equal (TextSearchSpec)
    "search_phrase" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.query.TextSearch.phraseSearch(
          graft.query.TextSearch.positionalPostings(docs, "doc_id", "text"),
          "doc_id", Seq("batch", "data"))
        .orderBy("doc_id")
    }),

    // NEAR-3 proximity over the same positional index: qualifying
    // ('batch','data') position pairs within 3 tokens either order —
    // the two terms' postings join on the doc with a residual distance
    // predicate, candidate-sized
    "search_proximity" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      graft.query.TextSearch.proximitySearch(
          graft.query.TextSearch.positionalPostings(docs, "doc_id", "text"),
          "doc_id", "batch", "data", k = 3)
        .orderBy("doc_id")
    }),

    // keyword-in-context snippets for the same phrase: first-occurrence
    // position + the hit with 2 tokens of context either side, clamped
    // at doc boundaries — one codegen projection, no shuffle
    "search_snippets" -> ((s, dir) =>
      graft.query.TextSearch.phraseSnippets(Tables.documents(s, dir),
          "doc_id", "text", Seq("batch", "data"), ctx = 2)
        .orderBy("doc_id")),

    // hybrid retrieval: RRF fusion (SIGIR'09) of the keyword ranking
    // (search_rank's scan path, top-50) and the vector ranking
    // (knn_exact's brute-force cosine-free L2 path, top-50) — integer
    // scoring end to end, so the fused ranking has an exact SQL oracle
    "search_hybrid" -> ((s, dir) => {
      val text = graft.query.TextSearch.rankedSearch(Tables.documents(s, dir),
        "doc_id", "text", Seq("spark", "vector"), k = 50)
        .select(col("doc_id"), col("rank"))
      val vec = ExactKnn.rankedIds(Tables.embeddings(s, dir), "embedding",
        "vec_id", queryVec(s, dir, 0L), 50)
        .select(col("vec_id").as("doc_id"), col("rank"))
      graft.query.HybridSearch.rrfFuse(Seq(text, vec), "doc_id", k = 20)
    }),

    // ColBERT-style late-interaction retrieval (query/MaxSim): every
    // query token takes its best dot product against the candidate
    // doc's token vectors, per-token maxima sum per pair. Token
    // vectors = the 8×8-dim slices of each embedding, quantized
    // round(1000·x) so every dot/max/sum is EXACT integer arithmetic
    // in both engines; candidates are an explicit bounded relation,
    // the first-stage-retriever contract at scale
    "search_maxsim" -> ((s, dir) => {
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
    }),

    // multimodal near-dup: perceptual aHash (stub decode → 8×8 pool →
    // bits above mean) + the banded Hamming join. Invariants: the banded
    // result EQUALS brute-force all-pairs Hamming ≤ 3 (pigeonhole makes
    // the bucketing lossless — audited both directions), pairs are
    // ordered, and every exact-payload duplicate is found (equal bytes ⇒
    // equal hash ⇒ Hamming 0; the corpus has such dups ⇒ has_pairs = 1)
    "media_phash_near" -> ((s, dir) => {
      val media = Multimodal.fromDocuments(Tables.documents(s, dir))
      // no cache: two narrow recomputes are cheaper than holding executor
      // storage for the rest of the suite
      val sigs = Multimodal.aHash64(media)
      val banded = Dedup.hammingNearPairs(sigs, "media_id", "ahash", 3)
      val brute = sigs.as("x").join(sigs.as("y"),
          col("x.media_id") < col("y.media_id") &&
          bit_count(col("x.ahash").bitwiseXOR(col("y.ahash"))) <= 3)
        .select(col("x.media_id").as("a_id"), col("y.media_id").as("b_id"))
      val missed = brute.join(banded.select("a_id", "b_id"),
          Seq("a_id", "b_id"), "left_anti")
        .agg(count(lit(1)).cast("long").as("n_missed"))
      val extra = banded.select("a_id", "b_id").join(brute,
          Seq("a_id", "b_id"), "left_anti")
        .agg(count(lit(1)).cast("long").as("n_extra"))
      val inv = banded.agg(
        coalesce(sum(when(col("hamming") > 3, 1L).otherwise(0L)), lit(0L))
          .as("n_hamming_viol"),
        coalesce(sum(when(col("a_id") >= col("b_id"), 1L).otherwise(0L)),
          lit(0L)).as("n_order_viol"),
        when(count(lit(1)) > 0, 1L).otherwise(0L).as("has_pairs"))
      inv.crossJoin(missed).crossJoin(extra)
    }),

    // the dHash sibling of media_phash_near: gradient bits (pixel vs
    // right neighbor over the 9×8 thumbnail) through the SAME banded
    // Hamming machinery, audited against brute force both directions;
    // exact-payload duplicates guarantee has_pairs = 1
    "media_dhash_near" -> ((s, dir) => {
      val media = Multimodal.fromDocuments(Tables.documents(s, dir))
      val sigs = Multimodal.dHash64(media)
      val banded = Dedup.hammingNearPairs(sigs, "media_id", "dhash", 3)
      val brute = sigs.as("x").join(sigs.as("y"),
          col("x.media_id") < col("y.media_id") &&
          bit_count(col("x.dhash").bitwiseXOR(col("y.dhash"))) <= 3)
        .select(col("x.media_id").as("a_id"), col("y.media_id").as("b_id"))
      val missed = brute.join(banded.select("a_id", "b_id"),
          Seq("a_id", "b_id"), "left_anti")
        .agg(count(lit(1)).cast("long").as("n_missed"))
      val extra = banded.select("a_id", "b_id").join(brute,
          Seq("a_id", "b_id"), "left_anti")
        .agg(count(lit(1)).cast("long").as("n_extra"))
      val inv = banded.agg(
        coalesce(sum(when(col("hamming") > 3, 1L).otherwise(0L)), lit(0L))
          .as("n_hamming_viol"),
        coalesce(sum(when(col("a_id") >= col("b_id"), 1L).otherwise(0L)),
          lit(0L)).as("n_order_viol"),
        when(count(lit(1)) > 0, 1L).otherwise(0L).as("has_pairs"))
      inv.crossJoin(missed).crossJoin(extra)
    }),

    // ------------------------------------------ round-6 pipeline additions

    // CDC snapshot diff: two deterministic variants of orders (drops,
    // price updates) through one full-outer co-partitioned join; output
    // is |changes|, not |table| (operators/SnapshotDiff.scala)
    "snapshot_diff" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val v1 = o.where(expr("o_orderkey % 11 != 0"))
      val v2 = o.where(expr("o_orderkey % 7 != 0"))
        .withColumn("o_totalprice",
          when(expr("o_orderkey % 5 = 0"), col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      graft.operators.SnapshotDiff.diff(v1, v2, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // per-session SUMMARIES (start/end/count/duration) over the
    // gap-and-island labeling — the exact-ns complement of
    // events_sessions' session_window stats; 12h gap exercises longer
    // sessions than the 30-min entries; µs-truncated ts as above
    "events_session_summary" -> ((s, dir) =>
      graft.streaming.EventPipeline.sessionized(
          Tables.events(s, dir).select("user_id", "ts", "event_id")
            .withColumn("ts", col("ts") - col("ts") % 1000),
          gapNanos = 43200000000000L)
        .groupBy(col("user_id"), col("session_seq"))
        .agg(min(col("ts")).as("start_ts"), max(col("ts")).as("end_ts"),
          count(lit(1)).as("n_events"))
        .withColumn("duration", col("end_ts") - col("start_ts"))
        .orderBy("user_id", "session_seq")),

    // SCD type-2 history: the events change log collapsed to per-user
    // state validity intervals (gaps-and-islands, one shuffle by user)
    "scd2_history" -> ((s, dir) =>
      graft.operators.Scd2.history(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", "event_type")
        .orderBy("user_id", "valid_from")),

    // deterministic weighted sampling without replacement (Efraimidis-
    // Spirakis exponential race on an md5-derived uniform): 100 docs
    // biased by length; bounded top-k, never a global sort
    "sample_weighted" -> ((s, dir) =>
      graft.pipeline.TrainingData.weightedSample(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "doc_id", "n_chars", k = 100)
        .orderBy("doc_id")),

    // PII scrub: e-mail/phone/IPv4 redaction + match counts over text
    // with deterministically injected PII (the corpus itself is clean);
    // pure narrow regex projections (pipeline/Redact.scala)
    // k-anonymity audit (pipeline/Privacy.kAnonymityGroups): quasi-
    // identifier group sizes over (nation, segment) — groups below
    // k=12 are re-identification risks; one domain-sized groupBy, the
    // structured complement of the free-text PII scrub below
    "privacy_k_anon" -> ((s, dir) =>
      graft.pipeline.Privacy.kAnonymityGroups(
          Tables.customer(s, dir), Seq("c_nationkey", "c_mktsegment"),
          k = 12)
        .orderBy("c_nationkey", "c_mktsegment")),

    // suppression release (Privacy.kAnonymize after a generalization
    // step): band acctbal to width-2000 dollars (integer-exact
    // c − pmod(c, w), no double round trip), keep only rows whose
    // (segment, band) group reaches k=30, checksum the released set
    "privacy_k_anon_release" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .withColumn("bal_band", graft.pipeline.Privacy.generalized(
          floor(col("c_acctbal")).cast("long"), width = 2000))
      graft.pipeline.Privacy.kAnonymize(
          c, Seq("c_mktsegment", "bal_band"), k = 30)
        .agg(count(lit(1)).as("n_released"),
          sum(col("c_custkey")).as("sum_keys"))
    }),

    // per-group weighted sampling (TrainingData.weightedSamplePerGroup)
    // — 10 length-weighted winners per source via the same
    // exponential-race key as sample_weighted, bounded by a
    // group-partitioned row_number instead of a global top-k
    "sample_weighted_by_group" -> ((s, dir) =>
      graft.pipeline.TrainingData.weightedSamplePerGroup(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", kPerGroup = 10)
        .orderBy("source", "doc_id")),

    // the 100 TB twin of sample_weighted_by_group: the identical
    // exponential-race doubles through the bounded top-k aggregate
    // (ties toward the smaller id = the window's ORDER BY race, id) —
    // bit-identical winners, no giant-group window
    "sample_weighted_by_group_topk" -> ((s, dir) =>
      graft.pipeline.TrainingData.weightedSamplePerGroupTopK(
        Tables.documents(s, dir).select("doc_id", "source", "n_chars"),
        "source", "doc_id", "n_chars", kPerGroup = 10)
        .orderBy("source", "doc_id")),

    // salted pseudonymization (Privacy.pseudonym): consistent opaque
    // 64-bit tokens (joins on released data still work; the mapping
    // needs the salt to replay) — one codegen projection, md5 parity
    // with the oracle
    "privacy_pseudonymize" -> ((s, dir) =>
      Tables.customer(s, dir).select(col("c_custkey"),
        graft.pipeline.Privacy.pseudonym(col("c_custkey"), "salt7")
          .as("token"))
        .orderBy("c_custkey")),

    // t-closeness audit (Privacy.tClosenessGroups): exact integer
    // cross-multiplied EMD between each nation's balance-band
    // distribution and the global one — the leak l-diversity misses
    // (all bands present but one dominating); t = 0.035 splits the 25
    // nations into close/far at sf0.01
    "privacy_t_closeness" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .withColumn("bal_band", graft.pipeline.Privacy.generalized(
          floor(col("c_acctbal")).cast("long"), width = 2000))
      graft.pipeline.Privacy.tClosenessGroups(
          c, Seq("c_nationkey"), "bal_band", tX1e6 = 35000L)
        .orderBy("c_nationkey")
    }),

    // bucketed-EMD t-closeness (Privacy.tClosenessBuckets): the
    // scale-safe numeric variant — the RAW account balance folds into
    // width-1000 buckets inside the operator, so the groups×categories
    // grid is bounded by the bucket count, never the distinct values;
    // same exact-integer cross-multiplied EMD as privacy_t_closeness
    "privacy_t_closeness_bucketed" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .withColumn("bal", floor(col("c_acctbal")).cast("long"))
      graft.pipeline.Privacy.tClosenessBuckets(
          c, Seq("c_nationkey"), "bal", tX1e6 = 35000L, bucketWidth = 1000L)
        .orderBy("c_nationkey")
    }),

    // l-diversity audit (Privacy.lDiversityGroups): a k-anonymous
    // group is still unsafe when it is HOMOGENEOUS in the sensitive
    // attribute — here the width-2000 account-balance band must take
    // >= 5 distinct values inside every (nation, segment) group; one
    // domain-sized groupBy with a distinct aggregate
    "privacy_l_diversity" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
        .withColumn("bal_band", graft.pipeline.Privacy.generalized(
          floor(col("c_acctbal")).cast("long"), width = 2000))
      graft.pipeline.Privacy.lDiversityGroups(
          c, Seq("c_nationkey", "c_mktsegment"), "bal_band", l = 5)
        .orderBy("c_nationkey", "c_mktsegment")
    }),

    "text_pii_redact" -> ((s, dir) => {
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
    }),

    // exact heavy hitters via mergeable Misra-Gries + exact second pass:
    // tokens with freq > n/32; the shuffle carries <= k-1 counters per
    // task, never the full domain (Sketches.heavyHitters)
    "stats_heavy_hitters" -> ((s, dir) => {
      val toks = Tables.documents(s, dir)
        .select(explode(graft.pipeline.TextAnalysis.tokens(col("text")))
          .as("tok"))
      graft.pipeline.Sketches.heavyHitters(toks, "tok", k = 32)
        .orderBy("item")
    }),

    // corpus drift (PSI) between two snapshot variants: fixed-width
    // price buckets, Laplace-smoothed shares, per-bucket contributions
    // floor-scaled ×1e6 — the ingest regression check (pipeline/Drift)
    "drift_psi" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      val v1 = o.where(expr("o_orderkey % 11 != 0"))
      val v2 = o.where(expr("o_orderkey % 7 != 0"))
        .withColumn("o_totalprice",
          when(expr("o_orderkey % 2 = 0"), col("o_totalprice") * lit(1.2))
            .otherwise(col("o_totalprice")))
      graft.pipeline.Drift.psiBuckets(v1, v2, "o_totalprice",
          width = 50000.0, numBuckets = 10)
        .orderBy("bucket")
    }),

    // exact two-sample KS drift test (Drift.ksStatistic) on the same
    // shifted-snapshot fixture as drift_psi, in integer cents — the
    // ECDF-gap statistic |cumA·n_b − cumB·n_a| that catches shifts
    // smaller than a PSI bucket; one row, engine-exact
    "drift_ks" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val v1 = o.where(expr("o_orderkey % 11 != 0"))
      val v2 = o.where(expr("o_orderkey % 7 != 0"))
        .withColumn("cents",
          when(expr("o_orderkey % 2 = 0"), expr("(cents * 12) div 10"))
            .otherwise(col("cents")))
      graft.pipeline.Drift.ksStatistic(v1, v2, "cents")
    }),

    // Pearson chi-square homogeneity drift (Drift.chiSquareBuckets) on
    // the same shifted-snapshot fixture as drift_psi — the nominal-
    // domain drift test with a null distribution; exact integer inner
    // difference, one fixed-association double chain, floor ×1e6
    "drift_chi2" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      val v1 = o.where(expr("o_orderkey % 11 != 0"))
      val v2 = o.where(expr("o_orderkey % 7 != 0"))
        .withColumn("o_totalprice",
          when(expr("o_orderkey % 2 = 0"), col("o_totalprice") * lit(1.2))
            .otherwise(col("o_totalprice")))
      graft.pipeline.Drift.chiSquareBuckets(v1, v2, "o_totalprice",
          width = 50000.0, numBuckets = 10)
        .orderBy("bucket")
    }),

    // best-of-cluster dedup: keep the LONGEST member of each near-dup
    // component (not the min id) — what a pipeline wants when
    // duplicates differ in truncation; shares the memoized LSH pair
    // fixture with dedup_degree / sample_dedup_aware
    "dedup_keep_best" -> ((s, dir) =>
      graft.pipeline.Dedup.keepBest(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "n_chars", lshPairs90(s, dir))
        .orderBy("doc_id")),

    // PMI collocation mining: adjacent pairs co-occurring beyond their
    // marginals — one bigram aggregate feeds marginals + total, global
    // bounded top-k (TextAnalysis.collocations)
    "text_collocations" -> ((s, dir) =>
      graft.pipeline.TextAnalysis
        .collocations(Tables.documents(s, dir), k = 20, minCount = 5L)
        .orderBy("rank")),

    // CDC round trip: extract the change set between two snapshot
    // variants, MERGE it back onto v1, and return the result — the
    // oracle derives v2 INDEPENDENTLY, so the gate proves
    // apply(v1, diffRows(v1, v2)) == v2 row-for-row
    "snapshot_apply" -> ((s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      val v1 = o.where(expr("o_orderkey % 11 != 0"))
      val v2 = o.where(expr("o_orderkey % 7 != 0"))
        .withColumn("o_totalprice",
          when(expr("o_orderkey % 5 = 0"), col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      val changes = graft.operators.SnapshotDiff
        .diffRows(v1, v2, Seq("o_orderkey"))
      graft.operators.SnapshotDiff
        .applyChanges(v1, changes, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    }),

    // first-order Markov transition matrix over each user's event
    // timeline: one lag window by user + a |types|^2-bounded count
    "events_transitions" -> ((s, dir) =>
      graft.streaming.EventPipeline
        .transitionCounts(Tables.events(s, dir))
        .orderBy("from_type", "to_type")),

    // corpus version diff (SnapshotDiff.diffRows over content
    // fingerprints + a per-source rollup): which sources churned
    // between two corpus versions and HOW — adds (%11 slice enters),
    // deletes (%7 slice leaves), updates (%5 texts rewritten) — the
    // release report a recurring crawl publishes next to drift_psi
    "corpus_version_diff" -> ((s, dir) => {
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
    }),

    // within-session funnel (EventPipeline.sessionFunnel): signup →
    // click → purchase completed inside ONE 30-minute-gap session,
    // stages chained by strictly-later first-completion times — the
    // visit-scoped variant of events_funnel's lifetime conversion
    "events_funnel_session" -> ((s, dir) =>
      graft.streaming.EventPipeline.sessionFunnel(
        Tables.events(s, dir), gapNanos = 1800000000000L,
        steps = Seq("signup", "click", "purchase"))),

    // CUSUM sustained-shift detection (EventPipeline.cusumShifts):
    // the recurrence S_t = max(0, S_{t-1} + x - drift) unrolled to two
    // cumulative windows (cumsum minus its 0-floored cummin) over the
    // mergeable daily-count state; a planted +40/day click surge from
    // day 19740 trips the threshold within days while the z-test
    // fixture stays quiet
    "events_cusum" -> ((s, dir) => {
      val daily = graft.streaming.EventPipeline
        .dailyCounts(Tables.events(s, dir), "ts", "event_type")
        .withColumn("day_cnt",
          when(col("event_type") === "click" && col("day") >= 19740L,
            col("day_cnt") + 40L).otherwise(col("day_cnt")))
      graft.streaming.EventPipeline
        .cusumShifts(daily, drift = 70L, threshold = 100L)
        .orderBy("event_type", "day")
    }),

    // discovered top-25 length-3 user journeys (EventPipeline
    // .pathCounts): two leads on one (ts, event_id)-ordered user
    // window, a <=|types|^3 groupBy and a bounded deterministic top-k
    // — the funnel you discover instead of declare
    "events_paths" -> ((s, dir) =>
      graft.streaming.EventPipeline.pathCounts(Tables.events(s, dir),
          k = 25)
        .orderBy(col("cnt").desc, col("step1"), col("step2"),
          col("step3"))),

    // per-doc characteristic keywords: smoothed TF-IDF top-3 with a
    // deterministic (score desc, term) rank; corpus stats are one
    // vocabulary-sized aggregate broadcast back (TextAnalysis)
    "text_keywords" -> ((s, dir) =>
      graft.pipeline.TextAnalysis
        .tfidfKeywords(Tables.documents(s, dir), k = 3)
        .orderBy("doc_id", "rank")),

    // temperature-balanced mixture (τ=2): keep ~half the length-filtered
    // corpus with per-source rates ∝ 1/√n_s so small sources are
    // up-weighted; thresholds derived IN-PLAN from source stats (√ is
    // correctly rounded everywhere — exact cross-engine thresholds)
    "mixture_temperature" -> ((s, dir) =>
      graft.pipeline.TrainingData.temperatureMixture(
        Tables.documents(s, dir).where(col("n_chars") >= 220),
        "source", "doc_id", targetFrac = 0.5)
        .select("doc_id", "source")
        .orderBy("doc_id")),

    // robust outlier flags: |x − median| > 3·MAD per event type, both
    // statistics exact lower-median order statistics (deterministic,
    // engine-portable; immune to the outliers they hunt)
    "outlier_mad" -> ((s, dir) =>
      graft.pipeline.Outliers.madOutliers(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        "event_type", "value", "event_id", k = 3.0)
        .select("event_id", "event_type", "is_outlier")
        .orderBy("event_id")),

    // the 100 TB twin of outlier_mad: both medians from (group, value)
    // histograms — domain-sized cumulative windows, identical flags
    // (the id tie-break can never change a median VALUE)
    "outlier_mad_hist" -> ((s, dir) =>
      graft.pipeline.Outliers.madOutliersHist(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        "event_type", "value", k = 3.0)
        .select("event_id", "event_type", "is_outlier")
        .orderBy("event_id")),

    // per-group winsorization at exact [p05, p95] rank statistics:
    // every event keeps its identity, value clamped into its type's
    // bounds, clip side flagged (pipeline/Outliers.scala)
    "outlier_winsorize" -> ((s, dir) =>
      graft.pipeline.Outliers.winsorize(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        "event_type", "value", "event_id")
        .select("event_id", "event_type", "value", "clipped")
        .orderBy("event_id")),

    // the 100 TB twin of outlier_winsorize: [p05, p95] bounds from the
    // (group, value) histogram — the value at rank r is the smallest
    // value whose cumulative count reaches r, identical clamps
    "outlier_winsorize_hist" -> ((s, dir) =>
      graft.pipeline.Outliers.winsorizeHist(
        Tables.events(s, dir).select("event_id", "event_type", "value"),
        "event_type", "value")
        .select("event_id", "event_type", "value", "clipped")
        .orderBy("event_id")),

    // record-linkage fuzzy join: every customer-name pair within edit
    // distance 1 (digit typos) — sound positional rare-gram signature
    // candidates + exact levenshtein verify (Dedup.editDistancePairs);
    // the oracle brute-forces all pairs. The %3 slice bounds the
    // fixture's pair DENSITY, not the operator: sequentially numbered
    // synthetic names give every row dozens of true edit-1 partners,
    // a density real name data doesn't have
    "link_fuzzy_names" -> ((s, dir) =>
      graft.pipeline.Dedup.editDistancePairs(
        Tables.customer(s, dir).select("c_custkey", "c_name")
          .where(pmod(col("c_custkey"), lit(3)) === 0),
        "c_custkey", "c_name", maxDist = 1, q = 3)
        .orderBy("a_id", "b_id")),

    // Jaro–Winkler scoring over an explicit candidate relation (the
    // linkage SCORER next to the Levenshtein verifier; DuckDB's
    // jaro_winkler_similarity is the oracle, semantics pinned incl.
    // the 0.7 boost threshold and integer transposition halving) —
    // bounded pair set, scores rounded to 4 decimals on both sides
    "link_jaro_winkler" -> ((s, dir) => {
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
    }),

    // TRUE Damerau–Levenshtein scoring over the same candidate
    // relation (Kernels.damerauLevenshtein, Lowrance–Wagner — a
    // transposition later edits may cross, unlike the restricted/OSA
    // variant; DuckDB's damerau_levenshtein is the oracle)
    "link_damerau" -> ((s, dir) => {
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
    }),

    // golden-record survivorship (Dedup.goldenRecords): synthetic
    // 3-customer entity clusters collapse to one row with PER-FIELD
    // latest-non-null-wins (a newer record missing a field must not
    // erase the older value) — planted nulls on %5/%7 keys; one
    // entity-keyed exchange, per-field in-partition sorts
    "link_golden_record" -> ((s, dir) => {
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
    }),

    // sorted-neighborhood linkage (Dedup.sortedNeighborPairs): block
    // on the name's first 6 digits, rank by the name inside each
    // block, compare only rows within 2 sort positions, verify exact
    // levenshtein <= 1 — the candidate generator for data that SORTS
    // near its duplicates (serials, padded codes) where gram rarity
    // is uninformative; the %3 slice bounds fixture pair density as
    // in link_fuzzy_names
    "link_sorted_block" -> ((s, dir) =>
      graft.pipeline.Dedup.sortedNeighborPairs(
        Tables.customer(s, dir)
          .where(pmod(col("c_custkey"), lit(3)) === 0)
          .withColumn("blk", substring(col("c_name"), 10, 6)),
        "c_custkey", "c_name", "blk", window = 2, maxDist = 1)
        .orderBy("a_id", "b_id")),

    // incremental record linkage: a new batch of names links against
    // the master slice, never master x master — new-side signatures
    // ranked by MASTER gram frequencies probe the persistable master
    // gram relation (Dedup.editDistancePairsBipartite)
    "link_fuzzy_incr" -> ((s, dir) =>
      graft.pipeline.Dedup.editDistancePairsBipartite(
        Tables.customer(s, dir).select("c_custkey", "c_name")
          .where(pmod(col("c_custkey"), lit(21)) === 1),
        Tables.customer(s, dir).select("c_custkey", "c_name")
          .where(pmod(col("c_custkey"), lit(3)) === 0),
        "c_custkey", "c_name", maxDist = 1, q = 3)
        .orderBy("new_id", "master_id")),

    // LSH band planning: the S-curve p = 1-(1-t^r)^b over every
    // factorization of 128 hashes at the t=0.85 dedup threshold — the
    // knob-picker for minHashLshPairs' bands/rows split (the Jaccard
    // twin of ann_calibrate); metadata-sized, computed in-plan
    "dedup_lsh_plan" -> ((s, dir) =>
      graft.pipeline.Dedup.lshPlan(s, numHashes = 128, thresholdPct = 85)
        .orderBy("bands")),

    // relation-version drift report (operators/Profile.compare):
    // schema evolution + per-column stat-change flags between two
    // event variants — event_type dropped, extra added, event_id
    // thinned (range + distinct change), user_id partially nulled
    // (null-fraction change via the exact cross-multiplied identity)
    "rel_profile_diff" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val v1 = e.select("event_id", "user_id", "event_type")
      val v2 = e.where(col("event_id") % 3 =!= 0)
        .select(col("event_id"),
          when(col("event_id") % 5 === 0, lit(null))
            .otherwise(col("user_id")).as("user_id"),
          (col("user_id") % 7).as("extra"))
      graft.operators.Profile.compare(v1, v2).orderBy("column")
    }),

    // curriculum sampling: rank docs into 4 equal-population length
    // buckets (ties to doc_id), keep w/256 of each by the md5 rule —
    // more of the long tail, a thin slice of the short head
    // (TrainingData.curriculumSample)
    "sample_curriculum" -> ((s, dir) =>
      graft.pipeline.TrainingData.curriculumSample(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "n_chars", "doc_id", bucketWeights = Seq(32, 64, 128, 255))
        .select("doc_id", "n_chars", "bucket")
        .orderBy("doc_id")),

    // the 100 TB-shaped twin of sample_curriculum: bucket boundaries
    // from an integer score histogram (mergeable agg + domain-sized
    // cumulative window + broadcast boundary array) instead of a
    // global ntile sort; same md5 keep rule — the oracle replays the
    // identical integer boundary arithmetic (k·cum >= i·n)
    "sample_curriculum_approx" -> ((s, dir) =>
      graft.pipeline.TrainingData.curriculumSampleApprox(
        Tables.documents(s, dir).select("doc_id", "n_chars"),
        "n_chars", "doc_id", bucketWeights = Seq(32, 64, 128, 255))
        .select("doc_id", "n_chars", "bucket")
        .orderBy("doc_id")),

    // whole-document next-fit bin packing (TrainingData.binPack): each
    // doc lands WHOLE in a <= 512-token bin, docs in id order per
    // shard — the no-truncation counterpart of pack_sequences; the
    // sequential (bin, used) state is per-partition imperative logic
    // the oracle replays as a recursive CTE
    "pack_bins" -> ((s, dir) =>
      graft.pipeline.TrainingData.binPack(
        Tables.documents(s, dir).withColumn("n_toks",
          size(graft.pipeline.TextAnalysis.tokens(col("text")))),
        "doc_id", col("n_toks"), budget = 512, shards = 4)
        .orderBy("doc_id")),

    // contiguous dense ids 0..n-1 without a global single-node sort:
    // range exchange + per-partition sort + counts-only offsets
    // (TrainingData.denseIds) — the sample-index primitive; sort key =
    // md5 of the doc id so the assignment is a genuine permutation,
    // not the identity
    "train_dense_ids" -> ((s, dir) => {
      val keyed = Tables.documents(s, dir).select(col("doc_id"),
        md5(col("doc_id").cast("string").cast("binary")).as("sort_key"))
      graft.pipeline.TrainingData.denseIds(keyed, "sort_key")
        .select("doc_id", "dense_id")
        .orderBy("doc_id")
    }),

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
    "pipeline_end_to_end" -> ((s, dir) => pipelineEndToEnd(s, dir)),

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
    "pipeline_stream_end_to_end" -> ((s, dir) => {
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
    }),

    // incremental boilerplate state: line-doc counts over DOC-DISJOINT
    // batches merge additively (the persistable-state ingest shape, as
    // with the LSH band relation) — gated: merged two-batch counts ==
    // one-shot counts line-for-line, and stripping against the merged
    // state reproduces the batch removeBoilerplate output exactly
    "dedup_lines_incr" -> ((s, dir) => {
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
    }),

    // the one-row corpus card: the dataset-datasheet summary a curation
    // run publishes — sizes, vocabulary, source count, exact-dup rate
    // in basis points, mean length — all integer-exact
    "corpus_card" -> ((s, dir) => {
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
    }),

    // corpus-wide top-k frequent 3-gram phrases (boilerplate phrase
    // mining — what feeds removeBoilerplate's minDocs threshold): the
    // shingle relation counted map-side, bounded top-20 by (count desc,
    // phrase hash) via TakeOrderedAndProject, never a global sort of
    // the phrase domain. Phrases ride as md5 fingerprints so ordering
    // is engine-agnostic
    "text_ngram_topk" -> ((s, dir) => {
      // fan out before the md5 3-gram explode (the gramRelation
      // discipline): the explode + partial top-k ran as ONE 2.2 s task
      // on the single-split source (round-15 profile)
      val docs = graft.functions.PlanShape.fanOut(Tables.documents(s, dir))
      docs.select(explode(graft.pipeline.TrainingData
          .ngramFingerprints(col("text"), 3)).as("g"))
        .groupBy("g").agg(count(lit(1)).as("n_docs"))
        .orderBy(col("n_docs").desc, col("g"))
        .limit(20)
    }),

    // vocabulary growth curve (Heaps'-law diagnostic): running distinct
    // tokens vs running token count in doc order, exactly, via per-token
    // first-seen + one cumulative sum over per-doc rows — saturation
    // says new data adds volume, not vocabulary
    "text_vocab_growth" -> ((s, dir) =>
      graft.pipeline.TextAnalysis.vocabGrowth(
        Tables.documents(s, dir), "doc_id", every = 50)
        .orderBy("ord")),

    // the 100 TB twin: the cumulative window runs over BUCKET sums
    // (curve-sized — one row per report point) instead of one row per
    // document; exactly equal to text_vocab_growth on the dense
    // doc_id domain (the documented contract)
    "text_vocab_growth_bucketed" -> ((s, dir) =>
      graft.pipeline.TextAnalysis.vocabGrowthBucketed(
        Tables.documents(s, dir), "doc_id", every = 50)
        .orderBy("ord")),

    // Gopher-style rule-based quality DECISION: four 25-point binary
    // rules (length band, stopword floor, token-length band, repetition
    // cap) composed from the individual signals in one projection;
    // thresholds chosen to split the fixture non-vacuously
    "text_gopher_rules" -> ((s, dir) =>
      graft.pipeline.TextAnalysis.gopherRules(Tables.documents(s, dir),
        minTokens = 30, maxTokens = 90, minStopPct = 3,
        minTokLenX10 = 30, maxTokLenX10 = 100, maxRepPct = 20,
        cutoff = 75)
        .orderBy("doc_id")),

    // compression-ratio quality signal (deflate kernel): byte counts are
    // zlib-dependent, so the gate asserts INVARIANTS — every doc's 8×
    // self-repetition compresses to a strictly lower ratio than the doc
    // itself, and every ratio stays in (0, 150]
    "text_compress_ratio" -> ((s, dir) => {
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
    }),

    // accent stripping (codegen NFD+mark-drop kernel vs DuckDB's
    // strip_accents): the same decomposed/precomposed injections as the
    // NFC entry must BOTH fold to the bare-ASCII suffix
    "text_strip_accents" -> ((s, dir) => {
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
    }),

    // Unicode NFC normalization (codegen kernel vs DuckDB's
    // nfc_normalize): decomposed combining sequences (e+U+0301,
    // i+U+0308, A+U+030A) injected on even docs, their precomposed
    // twins on odd docs — after NFC both suffixes hash identically,
    // and the md5 gate compares the full normalized text per doc
    "text_unicode_nfc" -> ((s, dir) => {
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
    }),

    // C4-style rule-based line filtering: >= 3 words, terminal
    // punctuation, no banned phrase — line-LOCAL rules, so the whole
    // pass is one codegen projection with NO shuffle (vs dedup_lines'
    // cross-doc counting); injected short / banned / unpunctuated
    // lines exercise every rule and the first-failing-rule precedence
    "text_c4_filters" -> ((s, dir) => {
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
    }),

    // CCNet/RefinedWeb-style boilerplate removal: lines recurring in
    // >= 5 DISTINCT docs drop (deterministically injected header /
    // per-residue middle / footer lines, plus any naturally duplicated
    // bodies); survivors keep their order, fully-boilerplate docs keep
    // an empty clean_text (pipeline/Dedup.removeBoilerplate)
    "dedup_lines" -> ((s, dir) => {
      val lined = Tables.documents(s, dir).select(col("doc_id"), concat(
        lit("shared header boilerplate\n"),
        col("text"), lit("\n"),
        lit("shared middle "), pmod(col("doc_id"), lit(5)).cast("string"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("\npromo footer line"))
          .otherwise(lit(""))).as("text"))
      graft.pipeline.Dedup.removeBoilerplate(lined, "\n", minDocs = 5)
        .orderBy("doc_id")
    }),
  )

  def oracleSql: Map[String, String] = Map(
    "rel_q1_agg" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "rel_q3_top_revenue" ->
      """SELECT o_orderkey,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin,

    "rel_q5_region_revenue" ->
      """SELECT n_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS cnt
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey
        |   AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    "rel_q7_volume" ->
      """SELECT supp_nation, cust_nation, l_year,
        | CAST(sum(volume) AS BIGINT) AS revenue_x10000
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |    AS BIGINT) AS volume
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        | WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "rel_q10_returns" ->
      """SELECT c_custkey, c_name, n_name,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |   AS BIGINT)) AS BIGINT) AS revenue_x10000,
        | CAST(round(max(c_acctbal) * 100) AS BIGINT) AS acctbal_cents
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
        | AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_x10000 DESC, c_custkey LIMIT 20""".stripMargin,

    "rel_q6_forecast" ->
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
        |   AS BIGINT)) AS BIGINT) AS revenue_x10000,
        | count(*) AS n_lines FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        | AND l_discount BETWEEN 0.05 AND 0.07
        | AND l_quantity < 24""".stripMargin,

    "rel_q14_promo" ->
      """WITH j AS (SELECT p_type,
        |  CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |    AS BIGINT) AS v
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01')
        |SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END)
        |   AS BIGINT) AS promo_x10000,
        | CAST(sum(v) AS BIGINT) AS total_x10000,
        | CAST(sum(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END) * 10000
        |   // sum(v) AS BIGINT) AS promo_bp
        |FROM j""".stripMargin,

    "rel_q19_disjunct" ->
      """SELECT CAST(sum(CAST(round(
        |   l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT))
        |   AS BIGINT) AS revenue_x10000,
        | count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    "rel_q8_market_share" ->
      """WITH v AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |    AS BIGINT) AS vol,
        |  ns.n_name AS supp_nation
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  JOIN part ON l_partkey = p_partkey
        | WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY')
        |SELECT o_year,
        | CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol ELSE 0 END)
        |   AS BIGINT) AS nation_x10000,
        | CAST(sum(vol) AS BIGINT) AS total_x10000,
        | CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol ELSE 0 END)
        |   * 10000 // sum(vol) AS BIGINT) AS share_bp
        |FROM v GROUP BY o_year ORDER BY o_year""".stripMargin,

    "rel_q13_custdist" ->
      """WITH c_orders AS (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        | GROUP BY c_custkey)
        |SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
        |FROM c_orders GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "rel_q15_top_supplier" ->
      """WITH revenue AS (SELECT l_suppkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
        |    * 10000) AS BIGINT)) AS BIGINT) AS total_x10000
        | FROM lineitem
        | WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        | GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_x10000
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_x10000 = (SELECT max(total_x10000) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin,

    "rel_q17_small_qty" ->
      """WITH pq AS (SELECT l_partkey AS pk,
        |  CAST(sum(l_quantity) AS BIGINT) AS sq, count(*) AS n
        | FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT))
        |   AS BIGINT) AS sum_price_x10000,
        | CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) // 7
        |   AS BIGINT) AS avg_yearly_x10000,
        | count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | JOIN pq ON l_partkey = pk
        |WHERE p_brand = 'Brand#12'
        | AND CAST(l_quantity AS BIGINT) * 5 * n < sq""".stripMargin,

    "rel_q22_dormant" ->
      """WITH bal AS (SELECT
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s,
        |  count(*) AS n
        | FROM customer WHERE c_acctbal > 0)
        |SELECT count(*) AS numcust,
        | CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |   AS totacctbal_cents
        |FROM customer, bal
        |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n > s
        | AND NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey
        |    AND o_orderdate >= '1999-01-01')""".stripMargin,

    "rel_part_brand" ->
      """SELECT p_brand, count(*) AS cnt,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "rel_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        | coalesce(l_linestatus, 'ALL') AS lstatus,
        | count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,

    "rel_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        | coalesce(l_linestatus, 'ALL') AS lstatus,
        | count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin,

    "events_retention" ->
      """WITH ev AS (SELECT user_id,
        |  epoch_ns(ts) // 604800000000000 AS week, event_type
        | FROM events),
        |c AS (SELECT user_id, min(week) AS cohort_week FROM ev
        | WHERE event_type = 'signup' GROUP BY user_id)
        |SELECT cohort_week,
        | CAST(week - cohort_week AS BIGINT) AS weeks_since,
        | count(DISTINCT ev.user_id) AS n_active
        |FROM ev JOIN c USING (user_id) WHERE week >= cohort_week
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "graph_pagerank" ->
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |  CAST(l_partkey + 100000 AS BIGINT) AS dst FROM lineitem),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
        | FROM e GROUP BY src),
        |nodes AS (SELECT src AS v FROM e UNION SELECT dst AS v FROM e),
        |s0 AS (SELECT v, CAST(1000000000 AS BIGINT) AS s FROM nodes),
        |c1 AS (SELECT e.dst AS v, CAST(sum(s0.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s0 ON s0.v = e.src
        | GROUP BY e.dst),
        |s1 AS (SELECT n.v, 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c1 c ON n.v = c.v),
        |c2 AS (SELECT e.dst AS v, CAST(sum(s1.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s1 ON s1.v = e.src
        | GROUP BY e.dst),
        |s2 AS (SELECT n.v, 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c2 c ON n.v = c.v),
        |c3 AS (SELECT e.dst AS v, CAST(sum(s2.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s2 ON s2.v = e.src
        | GROUP BY e.dst),
        |s3 AS (SELECT n.v, 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c3 c ON n.v = c.v)
        |SELECT v, CAST(s AS BIGINT) AS s FROM s3 ORDER BY v""".stripMargin,

    "graph_triangles" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_linenumber <= 3),
        |und AS (SELECT DISTINCT least(i.l_partkey, j.l_partkey) AS a,
        |  greatest(i.l_partkey, j.l_partkey) AS b
        | FROM li i JOIN li j ON i.l_orderkey = j.l_orderkey
        |  AND i.l_partkey <> j.l_partkey),
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM
        |  (SELECT a AS v FROM und UNION ALL SELECT b FROM und)
        | GROUP BY v),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        | FROM und e1 JOIN und e2 ON e1.b = e2.a
        | JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |per AS (SELECT v, CAST(count(*) AS BIGINT) AS tri FROM
        |  (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
        |   UNION ALL SELECT z FROM tri) GROUP BY v)
        |SELECT d.v, d.deg, COALESCE(p.tri, 0) AS tri,
        | CAST(CASE WHEN d.deg >= 2 THEN
        |   (2000000 * COALESCE(p.tri, 0)) // (d.deg * (d.deg - 1))
        |  ELSE 0 END AS BIGINT) AS coef_ppm
        |FROM deg d LEFT JOIN per p ON d.v = p.v ORDER BY d.v""".stripMargin,

    "graph_pagerank_seeded" ->
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |  CAST(l_partkey + 100000 AS BIGINT) AS dst FROM lineitem),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
        | FROM e GROUP BY src),
        |seed AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS v
        | FROM lineitem WHERE l_suppkey <= 10),
        |nodes AS (SELECT v, CAST(max(is_seed) AS BIGINT) AS is_seed
        | FROM (SELECT src AS v, 0 AS is_seed FROM e
        |  UNION ALL SELECT dst AS v, 0 FROM e
        |  UNION ALL SELECT v, 1 FROM seed) GROUP BY v),
        |s0 AS (SELECT v, is_seed * CAST(1000000000 AS BIGINT) AS s
        | FROM nodes),
        |c1 AS (SELECT e.dst AS v, CAST(sum(s0.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s0 ON s0.v = e.src
        | GROUP BY e.dst),
        |s1 AS (SELECT n.v, n.is_seed * 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c1 c ON n.v = c.v),
        |c2 AS (SELECT e.dst AS v, CAST(sum(s1.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s1 ON s1.v = e.src
        | GROUP BY e.dst),
        |s2 AS (SELECT n.v, n.is_seed * 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c2 c ON n.v = c.v)
        |SELECT v, CAST(s AS BIGINT) AS s FROM s2 ORDER BY v""".stripMargin,

    "graph_label_prop" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_linenumber <= 3),
        |und AS (SELECT DISTINCT least(i.l_partkey, j.l_partkey) AS a,
        |  greatest(i.l_partkey, j.l_partkey) AS b
        | FROM li i JOIN li j ON i.l_orderkey = j.l_orderkey
        |  AND i.l_partkey <> j.l_partkey),
        |sym AS (SELECT a AS u, b AS w FROM und
        | UNION ALL SELECT b AS u, a AS w FROM und),
        |seed AS (SELECT DISTINCT l_partkey AS v,
        |  CAST(l_partkey % 3 AS BIGINT) AS lbl
        | FROM lineitem WHERE l_partkey <= 30),
        |c1 AS (SELECT s.w AS v, l.lbl, count(*) AS cnt
        | FROM sym s JOIN seed l ON l.v = s.u GROUP BY 1, 2),
        |p1 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER (
        |  PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rnk FROM c1)
        | WHERE rnk = 1),
        |lab1 AS (SELECT v, lbl FROM seed UNION ALL
        | SELECT v, lbl FROM p1 WHERE v NOT IN (SELECT v FROM seed)),
        |c2 AS (SELECT s.w AS v, l.lbl, count(*) AS cnt
        | FROM sym s JOIN lab1 l ON l.v = s.u GROUP BY 1, 2),
        |p2 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER (
        |  PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rnk FROM c2)
        | WHERE rnk = 1),
        |lab2 AS (SELECT v, lbl FROM seed UNION ALL
        | SELECT v, lbl FROM p2 WHERE v NOT IN (SELECT v FROM seed))
        |SELECT v, lbl FROM lab2 ORDER BY v""".stripMargin,

    "graph_kcore" ->
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_linenumber <= 3),
        |und AS (SELECT DISTINCT least(i.l_partkey, j.l_partkey) AS a,
        |  greatest(i.l_partkey, j.l_partkey) AS b
        | FROM li i JOIN li j ON i.l_orderkey = j.l_orderkey
        |  AND i.l_partkey <> j.l_partkey),
        |d0 AS (SELECT v, count(*) AS deg FROM (SELECT a AS v FROM und
        |  UNION ALL SELECT b AS v FROM und) GROUP BY v),
        |k0 AS (SELECT v FROM d0 WHERE deg >= 18),
        |e1 AS (SELECT a, b FROM und WHERE a IN (SELECT v FROM k0)
        |  AND b IN (SELECT v FROM k0)),
        |d1 AS (SELECT v, count(*) AS deg FROM (SELECT a AS v FROM e1
        |  UNION ALL SELECT b AS v FROM e1) GROUP BY v),
        |k1 AS (SELECT v FROM d1 WHERE deg >= 18),
        |e2 AS (SELECT a, b FROM e1 WHERE a IN (SELECT v FROM k1)
        |  AND b IN (SELECT v FROM k1)),
        |d2 AS (SELECT v, count(*) AS deg FROM (SELECT a AS v FROM e2
        |  UNION ALL SELECT b AS v FROM e2) GROUP BY v),
        |k2 AS (SELECT v FROM d2 WHERE deg >= 18),
        |e3 AS (SELECT a, b FROM e2 WHERE a IN (SELECT v FROM k2)
        |  AND b IN (SELECT v FROM k2))
        |SELECT v, CAST(count(*) AS BIGINT) AS deg
        |FROM (SELECT a AS v FROM e3 UNION ALL SELECT b AS v FROM e3)
        |GROUP BY v ORDER BY v""".stripMargin,

    "graph_cooccur" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
        |  l_partkey AS item FROM lineitem),
        |small AS (SELECT basket FROM bi
        | GROUP BY basket HAVING count(*) <= 8),
        |kept AS (SELECT bi.basket, bi.item FROM bi
        | JOIN small USING (basket))
        |SELECT a.item AS item_a, b.item AS item_b,
        | CAST(count(*) AS BIGINT) AS n_baskets
        |FROM kept a JOIN kept b
        | ON a.basket = b.basket AND a.item < b.item
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY item_a, item_b""".stripMargin,

    "graph_assoc_rules" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
        |  l_partkey AS item FROM lineitem),
        |small AS (SELECT basket FROM bi
        | GROUP BY basket HAVING count(*) <= 8),
        |kept AS (SELECT bi.basket, bi.item FROM bi
        | JOIN small USING (basket)),
        |pairs AS (SELECT a.item AS item_a, b.item AS item_b,
        |  CAST(count(*) AS BIGINT) AS n_ab
        | FROM kept a JOIN kept b
        |  ON a.basket = b.basket AND a.item < b.item
        | GROUP BY 1, 2 HAVING count(*) >= 3),
        |supp AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
        | FROM kept GROUP BY item),
        |tot AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_total
        | FROM kept),
        |dir2 AS (SELECT item_a AS antecedent, item_b AS consequent, n_ab
        |  FROM pairs
        | UNION ALL SELECT item_b, item_a, n_ab FROM pairs)
        |SELECT antecedent, consequent, n_ab,
        | sa.n_item AS n_ant, sc.n_item AS n_cons,
        | CAST((n_ab * 1000000) // sa.n_item AS BIGINT) AS conf_x1e6,
        | CAST((n_ab * n_total * 1000000) // (sa.n_item * sc.n_item)
        |   AS BIGINT) AS lift_x1e6
        |FROM dir2
        |JOIN supp sa ON sa.item = dir2.antecedent
        |JOIN supp sc ON sc.item = dir2.consequent, tot
        |ORDER BY antecedent, consequent""".stripMargin,

    "graph_hits" ->
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |  CAST(l_partkey AS BIGINT) AS dst FROM lineitem),
        |h0 AS (SELECT DISTINCT src AS v,
        |  CAST(1000000000 AS BIGINT) AS h FROM e),
        |a1r AS (SELECT e.dst AS v, CAST(sum(h0.h) AS BIGINT) AS raw
        | FROM e JOIN h0 ON h0.v = e.src GROUP BY e.dst),
        |a1 AS (SELECT v, CAST(CAST(raw AS HUGEINT) * 1000000000
        |  // (SELECT max(raw) FROM a1r) AS BIGINT) AS a FROM a1r),
        |h1r AS (SELECT e.src AS v, CAST(sum(a1.a) AS BIGINT) AS raw
        | FROM e JOIN a1 ON a1.v = e.dst GROUP BY e.src),
        |h1 AS (SELECT v, CAST(CAST(raw AS HUGEINT) * 1000000000
        |  // (SELECT max(raw) FROM h1r) AS BIGINT) AS h FROM h1r),
        |a2r AS (SELECT e.dst AS v, CAST(sum(h1.h) AS BIGINT) AS raw
        | FROM e JOIN h1 ON h1.v = e.src GROUP BY e.dst),
        |a2 AS (SELECT v, CAST(CAST(raw AS HUGEINT) * 1000000000
        |  // (SELECT max(raw) FROM a2r) AS BIGINT) AS a FROM a2r),
        |h2r AS (SELECT e.src AS v, CAST(sum(a2.a) AS BIGINT) AS raw
        | FROM e JOIN a2 ON a2.v = e.dst GROUP BY e.src),
        |h2 AS (SELECT v, CAST(CAST(raw AS HUGEINT) * 1000000000
        |  // (SELECT max(raw) FROM h2r) AS BIGINT) AS h FROM h2r)
        |SELECT v, 'hub' AS kind, h AS score FROM h2
        |UNION ALL SELECT v, 'auth' AS kind, a AS score FROM a2
        |ORDER BY kind, v""".stripMargin,

    "search_doc_topk" ->
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
        |WHERE doc_rank <= 5 ORDER BY qid, doc_rank""".stripMargin,

    "rel_above_cust_avg" ->
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders),
        |a AS (SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(count(*) AS BIGINT) AS n_orders
        | FROM o GROUP BY o_custkey)
        |SELECT o.o_orderkey, o.o_custkey, o.cents
        |FROM o JOIN a USING (o_custkey)
        |WHERE o.cents * a.n_orders * 10 > a.sum_cents * 11
        |ORDER BY o_orderkey""".stripMargin,

    "rel_skew_plan" ->
      """WITH h AS (SELECT l_orderkey, count(*) AS cnt
        |  FROM lineitem GROUP BY l_orderkey),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(max(cnt) AS BIGINT) AS max_cnt FROM h)
        |SELECT n_keys, n_rows, max_cnt,
        | (max_cnt * n_keys * 100 + n_rows - 1) // n_rows AS skew_x100,
        | least(64, greatest(1,
        |   (max_cnt * n_keys + n_rows - 1) // n_rows)) AS salt
        |FROM a""".stripMargin,

    "rel_salted_join" ->
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT)
        |   AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "rel_semi_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        | WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin,

    "rel_window_topn" ->
      """SELECT o_custkey, o_orderkey, rnk FROM (
        | SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        | FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,

    "attrs_last_write_wins" ->
      """SELECT user_id, event_type, value, event_id AS last_event_id FROM (
        | SELECT user_id, event_type, value, event_id,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "stream_window_hourly" ->
      """SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
        |   AS win_start,
        | event_type, count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "stream_window_topk" ->
      """WITH ws AS (
        | SELECT CAST(epoch(time_bucket(INTERVAL '1 hour', ts)) AS BIGINT)
        |    AS win_start,
        |  event_type, count(*) AS cnt
        | FROM events GROUP BY 1, 2)
        |SELECT win_start, rnk, event_type, cnt FROM (
        | SELECT win_start, event_type, cnt,
        |  CAST(row_number() OVER (PARTITION BY win_start
        |    ORDER BY cnt DESC, event_type) AS BIGINT) AS rnk
        | FROM ws) t
        |WHERE rnk <= 3 ORDER BY win_start, rnk""".stripMargin,

    "events_props_json" ->
      """SELECT event_id,
        | CAST(json_extract_string(props, '$.k') AS BIGINT) AS prop_k
        |FROM events ORDER BY event_id""".stripMargin,

    // replicates the union + carry-forward-window formulation of
    // AsofJoin.backward on µs timestamps (DuckDB reads the ns parquet
    // column at µs; the Spark entry truncates to match)
    "events_rolling_active" ->
      """WITH du AS (SELECT DISTINCT
        |  (CAST(epoch_us(ts) AS BIGINT) * 1000) // 86400000000000 AS d,
        |  user_id FROM events),
        |days AS (SELECT DISTINCT d AS day FROM du)
        |SELECT day, CAST(count(DISTINCT du.user_id) AS BIGINT) AS n_active
        |FROM days JOIN du ON du.d BETWEEN day - 6 AND day
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // ns times reconstructed as epoch_us·1000; the guard caps the
    // per-key tick count the generate_series can cover
    "events_resample" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |  CAST(epoch_us(ts) AS BIGINT) * 1000 AS tns FROM events),
        |sp AS (SELECT user_id,
        |  ((min(tns) + 86399999999999) // 86400000000000)
        |    * 86400000000000 AS s,
        |  (max(tns) // 86400000000000) * 86400000000000 AS t
        | FROM e GROUP BY 1),
        |guard AS (SELECT CASE WHEN max((t - s) // 86400000000000) > 1000
        |  THEN CAST(error('span exceeds the 1001-tick oracle cap')
        |    AS BIGINT) ELSE 1 END AS ok FROM sp WHERE s <= t),
        |g AS (SELECT user_id, s + 86400000000000 * x.i AS grid_ts
        | FROM sp, generate_series(0, 1000) AS x(i)
        | WHERE s <= t AND s + 86400000000000 * x.i <= t),
        |f AS (SELECT g.user_id, g.grid_ts,
        |  (SELECT e.value FROM e WHERE e.user_id = g.user_id
        |    AND e.tns <= g.grid_ts
        |   ORDER BY e.tns DESC, e.event_id DESC LIMIT 1) AS value,
        |  (SELECT e.tns FROM e WHERE e.user_id = g.user_id
        |    AND e.tns <= g.grid_ts
        |   ORDER BY e.tns DESC, e.event_id DESC LIMIT 1) AS src_ts
        | FROM g)
        |SELECT f.user_id, f.grid_ts, f.value,
        | CAST(f.src_ts AS BIGINT) AS src_ts
        |FROM f CROSS JOIN guard WHERE guard.ok = 1
        |ORDER BY user_id, grid_ts""".stripMargin,

    // prev = latest-at-or-before (ties: largest event_id), next =
    // earliest-at-or-after (ties: smallest event_id) — the two as-of
    // contracts; the lerp tree matches the Spark expression exactly
    "events_resample_interp" ->
      """WITH e AS (SELECT user_id, event_id, value,
        |  CAST(epoch_us(ts) AS BIGINT) * 1000 AS tns FROM events),
        |sp AS (SELECT user_id,
        |  ((min(tns) + 86399999999999) // 86400000000000)
        |    * 86400000000000 AS s,
        |  (max(tns) // 86400000000000) * 86400000000000 AS t
        | FROM e GROUP BY 1),
        |guard AS (SELECT CASE WHEN max((t - s) // 86400000000000) > 1000
        |  THEN CAST(error('span exceeds the 1001-tick oracle cap')
        |    AS BIGINT) ELSE 1 END AS ok FROM sp WHERE s <= t),
        |g AS (SELECT user_id, s + 86400000000000 * x.i AS grid_ts
        | FROM sp, generate_series(0, 1000) AS x(i)
        | WHERE s <= t AND s + 86400000000000 * x.i <= t),
        |f AS (SELECT g.user_id, g.grid_ts,
        |  (SELECT e.value FROM e WHERE e.user_id = g.user_id
        |    AND e.tns <= g.grid_ts
        |   ORDER BY e.tns DESC, e.event_id DESC LIMIT 1) AS v0,
        |  (SELECT e.tns FROM e WHERE e.user_id = g.user_id
        |    AND e.tns <= g.grid_ts
        |   ORDER BY e.tns DESC, e.event_id DESC LIMIT 1) AS t0,
        |  (SELECT e.value FROM e WHERE e.user_id = g.user_id
        |    AND e.tns >= g.grid_ts
        |   ORDER BY e.tns ASC, e.event_id ASC LIMIT 1) AS v1,
        |  (SELECT e.tns FROM e WHERE e.user_id = g.user_id
        |    AND e.tns >= g.grid_ts
        |   ORDER BY e.tns ASC, e.event_id ASC LIMIT 1) AS t1
        | FROM g)
        |SELECT user_id, grid_ts,
        | CASE WHEN t1 IS NULL OR t1 = t0 THEN v0
        |  ELSE v0 + (v1 - v0) * (CAST(grid_ts - t0 AS DOUBLE)
        |    / CAST(t1 - t0 AS DOUBLE)) END AS value,
        | CAST(t0 AS BIGINT) AS t0, CAST(t1 AS BIGINT) AS t1
        |FROM f CROSS JOIN guard WHERE guard.ok = 1
        |ORDER BY user_id, grid_ts""".stripMargin,

    "events_asof" ->
      """WITH ev AS (SELECT event_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS tus, event_type, value
        | FROM events),
        |u AS (
        | SELECT user_id, tus, 1 AS side, event_id AS seq, event_id,
        |  CAST(NULL AS BIGINT) AS p_eid, CAST(NULL AS DOUBLE) AS p_val
        | FROM ev WHERE event_type = 'click'
        | UNION ALL
        | SELECT user_id, tus, 0, event_id, NULL, event_id, value
        | FROM ev WHERE event_type = 'purchase'),
        |w AS (SELECT user_id, side, event_id,
        |  last_value(p_eid IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tus, side, seq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS purchase_event_id,
        |  last_value(p_val IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tus, side, seq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS purchase_value
        | FROM u)
        |SELECT event_id, user_id, purchase_event_id, purchase_value
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,

    "events_asof_static" ->
      """WITH ev AS (SELECT event_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS tus, event_type, value
        | FROM events),
        |u AS (
        | SELECT user_id, tus, 1 AS side, event_id AS seq, event_id,
        |  CAST(NULL AS BIGINT) AS p_t, CAST(NULL AS DOUBLE) AS p_v
        | FROM ev WHERE event_type = 'click'
        | UNION ALL
        | SELECT user_id, tus, 0, event_id, NULL, tus, value
        | FROM ev WHERE event_type = 'signup'),
        |w AS (SELECT user_id, side, event_id,
        |  last_value(p_t IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tus, side, seq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_us,
        |  last_value(p_v IGNORE NULLS) OVER (PARTITION BY user_id
        |    ORDER BY tus, side, seq
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |    AS signup_value
        | FROM u)
        |SELECT event_id, user_id, asof_us, signup_value
        |FROM w WHERE side = 1 ORDER BY event_id""".stripMargin,

    "events_sessionize" ->
      """WITH e AS (SELECT event_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS tus FROM events),
        |m AS (SELECT event_id, user_id, tus,
        |  CASE WHEN lag(tus) OVER w IS NULL
        |        OR tus - lag(tus) OVER w >= 1800000000 THEN 1 ELSE 0 END
        |    AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |s AS (SELECT event_id, user_id,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1 AS sseq
        | FROM m)
        |SELECT event_id, user_id, CAST(sseq AS BIGINT) AS session_seq
        |FROM s ORDER BY event_id""".stripMargin,

    "events_sessions" ->
      """WITH e AS (SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS tus,
        |  value FROM events),
        |m AS (SELECT user_id, tus, value,
        |  CASE WHEN lag(tus) OVER w IS NULL
        |        OR tus - lag(tus) OVER w >= 1800000000 THEN 1 ELSE 0 END
        |    AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tus)),
        |s AS (SELECT user_id, tus, value,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY tus
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        | FROM m)
        |SELECT user_id, min(tus) AS win_start,
        | count(*) AS n_events, round(sum(value), 2) AS sum_value
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, win_start""".stripMargin,

    "vec_shape" ->
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS vec_len, label
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    "vec_divide" ->
      """SELECT vec_id, CAST(t.i - 1 AS BIGINT) AS pos,
        | CASE WHEN t.i <= 16 THEN embedding[t.i]
        |      ELSE embedding[t.i + 32] END AS val
        |FROM embeddings, generate_series(1, 32) AS t(i)
        |ORDER BY vec_id, pos""".stripMargin,

    "knn_exact" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))) AS sq
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id)
        |SELECT CAST(row_number() OVER (ORDER BY sq, vec_id) AS BIGINT) AS rank,
        | vec_id
        |FROM d ORDER BY sq, vec_id LIMIT 10""".stripMargin,

    "knn_exact_cosine" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS dp,
        |  sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(e.embedding[t.i] AS DOUBLE)) AS na,
        |  sum(CAST(q.qv[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS nb
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id)
        |SELECT CAST(row_number() OVER
        |  (ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, vec_id) AS BIGINT) AS rank,
        | vec_id
        |FROM d ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 10""".stripMargin,

    "knn_exact_ip" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS dp
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id)
        |SELECT CAST(row_number() OVER (ORDER BY dp DESC, vec_id) AS BIGINT)
        |  AS rank, vec_id
        |FROM d ORDER BY dp DESC, vec_id LIMIT 10""".stripMargin,

    "knn_hamming" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum(CASE WHEN (CAST(e.embedding[t.i] AS DOUBLE) > 0.0)
        |         != (CAST(q.qv[t.i] AS DOUBLE) > 0.0) THEN 1 ELSE 0 END) AS ham
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id)
        |SELECT CAST(row_number() OVER (ORDER BY ham, vec_id) AS BIGINT) AS rank,
        | vec_id, CAST(ham AS BIGINT) AS hamming
        |FROM d ORDER BY ham, vec_id LIMIT 10""".stripMargin,

    "knn_hamming_rerank" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |h AS (SELECT e.vec_id AS vec_id,
        |  sum(CASE WHEN (CAST(e.embedding[t.i] AS DOUBLE) > 0.0)
        |         != (CAST(q.qv[t.i] AS DOUBLE) > 0.0) THEN 1 ELSE 0 END) AS ham
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id),
        |cand AS (SELECT vec_id FROM h ORDER BY ham, vec_id LIMIT 40),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))) AS sq
        | FROM embeddings e, cand c, q, generate_series(1, 64) AS t(i)
        | WHERE e.vec_id = c.vec_id
        | GROUP BY e.vec_id)
        |SELECT CAST(row_number() OVER (ORDER BY sq, vec_id) AS BIGINT) AS rank,
        | vec_id
        |FROM d ORDER BY sq, vec_id LIMIT 10""".stripMargin,

    "knn_hamming_batch" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id <= 4),
        |d AS (SELECT q.qid AS qid, e.vec_id AS vec_id,
        |  sum(CASE WHEN (CAST(e.embedding[t.i] AS DOUBLE) > 0.0)
        |         != (CAST(q.qv[t.i] AS DOUBLE) > 0.0) THEN 1 ELSE 0 END) AS ham
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2)
        |SELECT qid, vec_id, CAST(ham AS BIGINT) AS hamming, rank FROM (
        | SELECT qid, vec_id, ham, CAST(row_number() OVER (PARTITION BY qid
        |   ORDER BY ham, vec_id) AS BIGINT) AS rank
        | FROM d) t
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "knn_filtered" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))) AS sq
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | WHERE e.label = 3
        | GROUP BY e.vec_id)
        |SELECT CAST(row_number() OVER (ORDER BY sq, vec_id) AS BIGINT) AS rank,
        | vec_id
        |FROM d ORDER BY sq, vec_id LIMIT 10""".stripMargin,

    "knn_join" ->
      """WITH d AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
        |  sum((CAST(a.embedding[t.i] AS DOUBLE) - CAST(b.embedding[t.i] AS DOUBLE))
        |    * (CAST(a.embedding[t.i] AS DOUBLE) - CAST(b.embedding[t.i] AS DOUBLE)))
        |    AS sq
        | FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id,
        |  generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2),
        |r AS (SELECT qid, vid, CAST(row_number() OVER (PARTITION BY qid
        |   ORDER BY sq, vid) AS BIGINT) AS rank FROM d)
        |SELECT qid, rank, vid AS vec_id FROM r
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin,

    "knn_join_ann" ->
      """SELECT CAST(0 AS BIGINT) AS n_missing_qids,
        | CAST(0 AS BIGINT) AS n_bad_counts,
        | CAST(1 AS BIGINT) AS recall_ge_90""".stripMargin,

    "knn_classify" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id % 10 = 0),
        |l AS (SELECT vec_id, embedding, CAST(label AS BIGINT) AS label
        |  FROM embeddings WHERE vec_id % 10 != 0),
        |d AS (SELECT q.qid AS qid, l.vec_id AS vid, l.label AS label,
        |  sum((CAST(l.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(l.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE)))
        |    AS sq
        | FROM l, q, generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2, 3),
        |r AS (SELECT qid, label, row_number() OVER (PARTITION BY qid
        |   ORDER BY sq, vid) AS rk FROM d),
        |v AS (SELECT qid, label AS pred_label, count(*) AS votes FROM r
        | WHERE rk <= 5 GROUP BY 1, 2)
        |SELECT qid, pred_label, CAST(votes AS BIGINT) AS votes FROM (
        | SELECT qid, pred_label, votes, row_number() OVER (PARTITION BY qid
        |   ORDER BY votes DESC, pred_label) AS rr FROM v) t
        |WHERE rr = 1 ORDER BY qid""".stripMargin,

    "rel_quantiles" ->
      """WITH r AS (SELECT event_type, value,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS BIGINT) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS cnt
        | FROM events)
        |SELECT event_type,
        | max(CASE WHEN rn = (cnt + 1) // 2 THEN value END) AS p50,
        | max(CASE WHEN rn = (cnt * 9 + 9) // 10 THEN value END) AS p90,
        | max(cnt) AS cnt
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin,

    "knn_attr_fetch" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))) AS sq
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id),
        |h AS (SELECT CAST(row_number() OVER (ORDER BY sq, vec_id) AS BIGINT)
        |   AS rank, vec_id
        | FROM d ORDER BY sq, vec_id LIMIT 10)
        |SELECT h.rank, h.vec_id, e.label
        |FROM h JOIN embeddings e ON e.vec_id = h.vec_id
        |ORDER BY h.rank""".stripMargin,

    "vec_reconstruct" ->
      """SELECT vec_id, CAST(0 AS BIGINT) AS n_bad
        |FROM embeddings ORDER BY vec_id""".stripMargin,

    // ANN invariants (constant oracles — see the queries' scaladoc)
    "ann_ivfpq" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_outside_probed,
        | CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(1 AS BIGINT) AS recall_ge_30""".stripMargin,

    "ann_ivfpq_stored" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    "ann_local_serve" ->
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    "ann_local_serve_lazy" ->
      """SELECT CAST(40 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(1 AS BIGINT) AS one_load_per_cell,
        | CAST(1 AS BIGINT) AS warm_repeat_no_reload""".stripMargin,

    // 3 queries x k=10, two-shard router bit-identical to the cluster
    // query on the same store
    "ann_serve_sharded" ->
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(1 AS BIGINT) AS two_shards""".stripMargin,

    // 3 queries x k=10, one shard behind a REAL second JVM (ShardWire
    // transport) — bit-identical to the cluster query on the same store
    "ann_serve_remote" ->
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(1 AS BIGINT) AS remote_holds_odd_cells""".stripMargin,

    // same discipline, the shard JVM opened LAZILY (--lazy): empty at
    // open, warmed by one OpPrefetch to exactly its assigned cells,
    // then bit-identical to the cluster query
    "ann_serve_remote_lazy" ->
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(1 AS BIGINT) AS prefetch_warmed_assigned""".stripMargin,

    // 3 queries x k=10, two-shard SQ8 router bit-identical to the
    // cluster IvfSq8.topK
    "ann_sq8_serve_sharded" ->
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    // 3 queries x k=10, two-shard RQ router (two-phase nominee merge)
    // bit-identical to the cluster Rq.topKRefined
    "ann_rq_serve_sharded" ->
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    // 3 queries x (10 raw + 10 reranked), id-sharded Hamming fleet
    // bit-identical to BinaryQuant's cluster scans
    "knn_hamming_serve_sharded" ->
      """SELECT CAST(60 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_ham_mismatch,
        | CAST(0 AS BIGINT) AS n_rerank_mismatch""".stripMargin,

    // 3 queries x k=10, filtered fleet bit-identical to the
    // pre-filtered cluster composition
    "ann_filtered_serve_sharded" ->
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    // (3 cold + 1 warm repeat) queries x k=10, lazy filtered serving
    // bit-identical to the pre-filtered cluster composition
    "ann_filtered_local_serve_lazy" ->
      """SELECT CAST(40 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(1 AS BIGINT) AS one_load_per_cell,
        | CAST(1 AS BIGINT) AS warm_repeat_no_reload""".stripMargin,

    // (3 cold + 1 warm repeat) queries x k=10, lazy two-level RQ
    // serving bit-identical to Rq.topKRefined
    "ann_rq_local_serve_lazy" ->
      """SELECT CAST(40 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(1 AS BIGINT) AS one_load_per_cell,
        | CAST(1 AS BIGINT) AS warm_repeat_no_reload""".stripMargin,

    // 3 queries x k=10, filtered warm path bit-identical to the
    // pre-filtered cluster ADC query
    "ann_filtered_local_serve" ->
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    // 3 queries x (10 raw + 10 reranked), Hamming warm path
    // bit-identical to BinaryQuant's cluster scans
    "knn_hamming_local_serve" ->
      """SELECT CAST(60 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_ham_mismatch,
        | CAST(0 AS BIGINT) AS n_rerank_mismatch""".stripMargin,

    "ann_opq" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_outside_probed,
        | CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(1 AS BIGINT) AS recall_ge_30,
        | CAST(1 AS BIGINT) AS rotation_orthonormal,
        | CAST(1 AS BIGINT) AS opq_not_worse_than_pq""".stripMargin,

    "ann_opq_stored" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    "ann_opq_local_serve" ->
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    "ann_sq8_local_serve" ->
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    "ann_rq_local_serve" ->
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    "ann_opq_rerank" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(1 AS BIGINT) AS recall_ge_50,
        | CAST(1 AS BIGINT) AS rerank_not_worse""".stripMargin,

    "ann_delete" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(0 AS BIGINT) AS n_deleted_in_hits""".stripMargin,

    "ann_compact" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(0 AS BIGINT) AS n_tombstone_dirs,
        | CAST(1 AS BIGINT) AS files_reduced""".stripMargin,

    "ann_opq_delete" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(0 AS BIGINT) AS n_deleted_in_hits""".stripMargin,

    "ann_opq_compact" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(0 AS BIGINT) AS n_tombstone_dirs,
        | CAST(1 AS BIGINT) AS files_reduced""".stripMargin,

    "ann_opq_rebalance" ->
      """SELECT CAST(0 AS BIGINT) AS n_total_diff,
        | CAST(1 AS BIGINT) AS flattened,
        | CAST(10 AS BIGINT) AS n_hits""".stripMargin,

    "ann_sq8_delete" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(0 AS BIGINT) AS n_deleted_in_hits""".stripMargin,

    "ann_sq8_compact" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(0 AS BIGINT) AS n_tombstone_dirs,
        | CAST(1 AS BIGINT) AS files_reduced""".stripMargin,

    "ann_ivfsq8_stored" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    "ann_ivfsq8_compact" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(0 AS BIGINT) AS n_tombstone_dirs,
        | CAST(1 AS BIGINT) AS files_reduced""".stripMargin,

    // REAL recount oracle for the binary store lifecycle: DuckDB
    // re-derives the 3 tombstoned ids by the same (hamming, id) rule,
    // then re-ranks the SURVIVING corpus — integer distances compare
    // exactly, so the store's save+append+delete+load chain is hash-
    // gated end to end, not constant-gated
    "knn_hamming_stored" ->
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum(CASE WHEN (CAST(e.embedding[t.i] AS DOUBLE) > 0.0)
        |         != (CAST(q.qv[t.i] AS DOUBLE) > 0.0) THEN 1 ELSE 0 END) AS ham
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id),
        |dead AS (SELECT vec_id FROM d ORDER BY ham, vec_id LIMIT 3),
        |live AS (SELECT * FROM d
        |  WHERE vec_id NOT IN (SELECT vec_id FROM dead))
        |SELECT CAST(row_number() OVER (ORDER BY ham, vec_id) AS BIGINT)
        |  AS rank, vec_id, CAST(ham AS BIGINT) AS hamming
        |FROM live ORDER BY ham, vec_id LIMIT 10""".stripMargin,

    "knn_hamming_compact" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(0 AS BIGINT) AS n_tombstone_dirs,
        | CAST(1 AS BIGINT) AS files_reduced""".stripMargin,

    "ann_rq_compact" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(0 AS BIGINT) AS n_tombstone_dirs,
        | CAST(1 AS BIGINT) AS codes2_live_exact""".stripMargin,

    "ann_filtered" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_outside_probed,
        | CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(0 AS BIGINT) AS n_label_bad,
        | CAST(1 AS BIGINT) AS recall_ge_30,
        | CAST(1 AS BIGINT) AS rerank_recall_ge_80""".stripMargin,

    "ann_sq8" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(0 AS BIGINT) AS n_recon_bad,
        | CAST(1 AS BIGINT) AS recall_ge_70""".stripMargin,

    "ann_ivfsq8" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_outside_probed,
        | CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(1 AS BIGINT) AS recall_ge_30""".stripMargin,

    "ann_sq8_stored" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    "ann_append" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(0 AS BIGINT) AS n_total_diff""".stripMargin,

    "ann_batch" ->
      """SELECT CAST(5 AS BIGINT) AS n_qids, CAST(0 AS BIGINT) AS n_bad_k,
        | CAST(0 AS BIGINT) AS n_order_viol,
        | CAST(0 AS BIGINT) AS n_low_recall""".stripMargin,

    "ann_batch_direct" ->
      """SELECT CAST(50 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_far, CAST(5 AS BIGINT) AS n_qids,
        | CAST(0 AS BIGINT) AS n_low_recall""".stripMargin,

    "ann_batch_adc" ->
      """SELECT CAST(50 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_far, CAST(5 AS BIGINT) AS n_qids,
        | CAST(0 AS BIGINT) AS n_low_recall""".stripMargin,

    "ann_mips" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_outside_probed,
        | CAST(0 AS BIGINT) AS n_ident_bad,
        | CAST(1 AS BIGINT) AS recall_ge_30""".stripMargin,

    "ann_cosine" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_outside_probed,
        | CAST(0 AS BIGINT) AS n_ident_bad,
        | CAST(1 AS BIGINT) AS recall_ge_30""".stripMargin,

    "ann_rebalance" ->
      """SELECT CAST(0 AS BIGINT) AS n_total_diff,
        | CAST(1 AS BIGINT) AS flattened,
        | CAST(10 AS BIGINT) AS n_hits""".stripMargin,

    "ann_rebalance_partial" ->
      """SELECT CAST(0 AS BIGINT) AS n_total_diff,
        | CAST(1 AS BIGINT) AS flattened,
        | CAST(1 AS BIGINT) AS untouched_ok,
        | CAST(10 AS BIGINT) AS n_hits""".stripMargin,

    "pipeline_vector_end_to_end" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_badlen,
        | CAST(1 AS BIGINT) AS top1_self,
        | CAST(1 AS BIGINT) AS recall_ge_30""".stripMargin,

    "ann_rq_batch" ->
      """SELECT CAST(30 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    "ann_rq_stored" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch""".stripMargin,

    "ann_rq_rerank" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(1 AS BIGINT) AS err_improved,
        | CAST(1 AS BIGINT) AS recall_ge_30,
        | CAST(1 AS BIGINT) AS rq_not_worse""".stripMargin,
    "ann_rerank" ->
      """SELECT CAST(10 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_dist_bad,
        | CAST(1 AS BIGINT) AS recall_ge_50,
        | CAST(1 AS BIGINT) AS rerank_not_worse""".stripMargin,

    // curve invariants are exact by construction (probe ranks ≤ P ⇒
    // recall@P = 1; cumulative ⇒ monotone) and the promise check runs
    // the IVF-flat path where measured recall equals the curve value
    "ann_calibrate" ->
      """SELECT CAST(8 AS BIGINT) AS n_curve_rows,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_p_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin,

    // same probe-rank identity, the other coarse quantizers: both fits
    // use P=8 cells, the curve is exact at full probe by construction,
    // and the delivered check runs exact-in-probed-cells
    "ann_calibrate_ivfsq8" ->
      """SELECT CAST(8 AS BIGINT) AS n_curve_rows,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_p_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin,
    "ann_calibrate_opq" ->
      """SELECT CAST(8 AS BIGINT) AS n_curve_rows,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_p_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin,
    "ann_calibrate_cosine" ->
      """SELECT CAST(8 AS BIGINT) AS n_curve_rows,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_p_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin,

    // kFactor curves: complete axis to ceil((N-1)/k), cumulative ⇒
    // monotone, whole-corpus candidate coverage ⇒ exactly 1.0 at the
    // end, and nominate(k·f+1) + exact rerank delivers ≥ the curve's
    // value at the recommended f (nomination-superset argument)
    "ann_calibrate_sq8" ->
      """SELECT CAST(1 AS BIGINT) AS curve_complete,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_full_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin,
    "ann_calibrate_rq" ->
      """SELECT CAST(1 AS BIGINT) AS curve_complete,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_full_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin,
    "ann_calibrate_hamming" ->
      """SELECT CAST(1 AS BIGINT) AS curve_complete,
        | CAST(0 AS BIGINT) AS n_mono_viol,
        | CAST(1 AS BIGINT) AS recall_full_exact,
        | CAST(1 AS BIGINT) AS promise_delivered""".stripMargin,

    "dedup_simhash_near" ->
      """SELECT CAST(0 AS BIGINT) AS n_hamming_viol,
        | CAST(0 AS BIGINT) AS n_order_viol,
        | CAST(0 AS BIGINT) AS n_dup_missed""".stripMargin,

    "embed_neardup_ivf" ->
      """SELECT CAST(0 AS BIGINT) AS n_extra,
        | CAST(1 AS BIGINT) AS recall_ge_90""".stripMargin,

    "embed_neardup_incr" ->
      """SELECT CAST(0 AS BIGINT) AS n_extra,
        | CAST(1 AS BIGINT) AS recall_ge_90""".stripMargin,

    "embed_hash" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(0 AS BIGINT) AS n_bad_sum,
        | CAST(0 AS BIGINT) AS n_bad_dim
        |FROM documents""".stripMargin,

    "embed_hash_knn" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        | CAST(0 AS BIGINT) AS n_bad_counts,
        | CAST(0 AS BIGINT) AS n_bad_top1
        |FROM documents WHERE doc_id % 100 = 0""".stripMargin,

    "attrs_vector_get" ->
      """SELECT vec_id AS vector_id,
        | CAST(vec_id * 10 + CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END
        |   AS BIGINT) AS views
        |FROM embeddings ORDER BY vector_id""".stripMargin,

    "knn_batch" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id <= 4),
        |d AS (SELECT q.qid AS qid, e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))) AS sq
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2)
        |SELECT qid, vec_id, rank FROM (
        | SELECT qid, vec_id, CAST(row_number() OVER (PARTITION BY qid
        |   ORDER BY sq, vec_id) AS BIGINT) AS rank
        | FROM d) t
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "contrastive_negatives" ->
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
        |WHERE rk <= 3 ORDER BY qid, rank""".stripMargin,

    "rank_eval" ->
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
        |GROUP BY m.qid, tc.n_relevant ORDER BY m.qid""".stripMargin,

    "knn_batch_ip" ->
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id <= 4),
        |d AS (SELECT q.qid AS qid, e.vec_id AS vec_id,
        |  sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS dp
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2)
        |SELECT qid, vec_id, rank FROM (
        | SELECT qid, vec_id, CAST(row_number() OVER (PARTITION BY qid
        |   ORDER BY dp DESC, vec_id) AS BIGINT) AS rank
        | FROM d) t
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_docs
        |FROM documents GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    "dedup_normalized_unicode" ->
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
        |FROM n GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    "dedup_normalized" ->
      """WITH n AS (SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(lower(text),
        |    '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS text
        | FROM documents)
        |SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
        | count(*) AS n_docs
        |FROM n GROUP BY md5(text) ORDER BY content_hash""".stripMargin,

    "media_knn" ->
      """WITH b AS (SELECT doc_id, (t.i - 1) % 8 AS j,
        |  sum(ascii(substring(text, t.i, 1))) AS s
        | FROM documents, generate_series(1, 8192) AS t(i)
        | WHERE t.i <= length(text)
        | GROUP BY 1, 2),
        |f AS (SELECT d.doc_id AS media_id, g.j AS j,
        |  CAST(CAST(coalesce(b.s, 0) AS DOUBLE) /
        |    greatest(octet_length(encode(d.text)), 1) AS REAL) AS v
        | FROM documents d CROSS JOIN generate_series(0, 7) AS g(j)
        | LEFT JOIN b ON b.doc_id = d.doc_id AND b.j = g.j),
        |q AS (SELECT j, v FROM f WHERE media_id = 0),
        |dd AS (SELECT f.media_id,
        |  sum((CAST(f.v AS DOUBLE) - CAST(q.v AS DOUBLE))
        |    * (CAST(f.v AS DOUBLE) - CAST(q.v AS DOUBLE))) AS sq
        | FROM f JOIN q ON f.j = q.j GROUP BY 1)
        |SELECT CAST(row_number() OVER (ORDER BY sq, media_id) AS BIGINT)
        |   AS rank,
        | media_id
        |FROM dd ORDER BY sq, media_id LIMIT 10""".stripMargin,

    "dedup_jaccard" -> jaccardOracle(85),

    "dedup_jaccard_ngram" ->
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
        |ORDER BY a_id, b_id""".stripMargin,
    "dedup_minhash_lsh" -> jaccardOracle(90),

    "dedup_lsh_strategy" ->
      """SELECT count(*) AS n_docs, CAST(1 AS BIGINT) AS roundtrip_ok,
        | CAST(1 AS BIGINT) AS params_ok FROM documents""".stripMargin,

    "dedup_degree" ->
      s"""WITH pairs AS (${jaccardOracle(90)}),
         |e AS (SELECT a_id AS doc_id FROM pairs
         | UNION ALL SELECT b_id FROM pairs),
         |d AS (SELECT doc_id, count(*) AS n FROM e GROUP BY doc_id)
         |SELECT doc.doc_id, CAST(coalesce(d.n, 0) AS BIGINT) AS n_dups
         |FROM documents doc LEFT JOIN d USING (doc_id)
         |ORDER BY doc.doc_id""".stripMargin,

    // `//` (floor division) mirrors the Spark side's double-divide +
    // int cast exactly for positive operands; a rounding CAST would
    // disagree at exact .5 fractions
    "sample_dedup_aware" ->
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
         |ORDER BY doc_id""".stripMargin,

    "dedup_simhash" ->
      """WITH k AS (SELECT doc_id,
        |  list_sort(list_distinct(string_split(text, ' '))) AS key
        | FROM documents)
        |SELECT a.doc_id AS a_id, b.doc_id AS b_id
        |FROM k a JOIN k b ON a.key = b.key AND a.doc_id < b.doc_id
        |ORDER BY a_id, b_id""".stripMargin,

    "dedup_drop_list" ->
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
         |WHERE id != comp ORDER BY drop_id""".stripMargin,

    "embed_centroids" ->
      """SELECT CAST(label AS BIGINT) AS label, CAST(t.i - 1 AS BIGINT) AS pos,
        | CAST(sum(CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000)
        |   AS BIGINT)) AS BIGINT) AS sum_milli,
        | count(*) AS cnt
        |FROM embeddings, generate_series(1, 64) AS t(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "embed_neardup" ->
      """WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS dp,
        |  sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(a.embedding[t.i] AS DOUBLE)) AS na,
        |  sum(CAST(b.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS nb
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id,
        |  generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2)
        |SELECT a_id, b_id FROM p
        |WHERE dp / (sqrt(na) * sqrt(nb)) * 1000 >= 400
        |ORDER BY a_id, b_id""".stripMargin,

    // same pair predicate as embed_neardup scoped to equal labels,
    // same recursive-CTE closure, then the SemDeDup keep rule: max
    // integer-exact farness (HUGEINT Σ(n·xm − S)²) per component,
    // ties to the smaller id
    "embed_semdedup" ->
      """WITH p0 AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS dp,
        |  sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(a.embedding[t.i] AS DOUBLE)) AS na,
        |  sum(CAST(b.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS nb
        | FROM embeddings a JOIN embeddings b
        |   ON a.vec_id < b.vec_id AND a.label = b.label,
        |  generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM p0
        | WHERE dp / (sqrt(na) * sqrt(nb)) * 1000 >= 400),
        |ed AS (SELECT a_id AS s, b_id AS d FROM pairs
        | UNION ALL SELECT b_id, a_id FROM pairs),
        |r AS (
        | WITH RECURSIVE reach(id, root) AS (
        |   SELECT vec_id, vec_id FROM embeddings
        |   UNION
        |   SELECT ed.d, reach.root FROM reach JOIN ed ON ed.s = reach.id)
        | SELECT id, min(root) AS comp FROM reach GROUP BY id),
        |xm AS (SELECT vec_id AS id, label, t.i AS pos,
        |  CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT)
        |    AS xm
        | FROM embeddings, generate_series(1, 64) AS t(i)),
        |sums AS (SELECT label, pos, sum(xm) AS s, count(*) AS n
        | FROM xm GROUP BY 1, 2),
        |sc AS (SELECT xm.id,
        |  sum(CAST(sums.n * xm.xm - sums.s AS HUGEINT)
        |    * CAST(sums.n * xm.xm - sums.s AS HUGEINT)) AS far
        | FROM xm JOIN sums ON xm.label = sums.label AND xm.pos = sums.pos
        | GROUP BY 1),
        |k AS (SELECT r.id, r.comp, sc.far,
        |  row_number() OVER (PARTITION BY r.comp
        |    ORDER BY sc.far DESC, r.id) AS rn
        | FROM r JOIN sc ON sc.id = r.id)
        |SELECT id AS doc_id, comp,
        | CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM k ORDER BY doc_id""".stripMargin,

    // same pair predicate as embed_neardup, closed into components by
    // the same recursive-CTE shape as dedup_drop_list
    "embed_drop_list" ->
      """WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS dp,
        |  sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(a.embedding[t.i] AS DOUBLE)) AS na,
        |  sum(CAST(b.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS nb
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id,
        |  generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM p
        | WHERE dp / (sqrt(na) * sqrt(nb)) * 1000 >= 400),
        |ed AS (SELECT a_id AS s, b_id AS d FROM pairs
        | UNION ALL SELECT b_id, a_id FROM pairs),
        |r AS (
        | WITH RECURSIVE reach(id, root) AS (
        |   SELECT vec_id, vec_id FROM embeddings
        |   UNION
        |   SELECT ed.d, reach.root FROM reach JOIN ed ON ed.s = reach.id)
        | SELECT id, min(root) AS comp FROM reach GROUP BY id)
        |SELECT id AS drop_id, comp AS keep_id FROM r
        |WHERE id != comp ORDER BY drop_id""".stripMargin,

    "media_meta" ->
      """SELECT doc_id AS media_id, 'text' AS kind,
        | CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |FROM documents ORDER BY media_id""".stripMargin,

    "media_audio_silence" ->
      """WITH f AS (SELECT doc_id, CAST((t.i - 1) // 16 AS BIGINT) AS fr,
        |  sum((ascii(substring(text, t.i, 1)) - 128) *
        |      (ascii(substring(text, t.i, 1)) - 128)) AS e,
        |  count(*) AS nb
        | FROM documents, generate_series(1, 8192) AS t(i)
        | WHERE t.i <= length(text) GROUP BY 1, 2),
        |fc AS (SELECT doc_id, fr, e < 33000 AS silent FROM f WHERE nb = 16),
        |n AS (SELECT d.doc_id,
        |  CAST(coalesce(count(fc.fr), 0) AS BIGINT) AS n_frames,
        |  CAST(coalesce(sum(CASE WHEN fc.silent THEN 1 ELSE 0 END), 0)
        |    AS BIGINT) AS n_silent
        | FROM documents d LEFT JOIN fc ON d.doc_id = fc.doc_id GROUP BY 1),
        |runs AS (SELECT doc_id,
        |  fr - row_number() OVER (PARTITION BY doc_id ORDER BY fr) AS isl
        | FROM fc WHERE silent),
        |lr AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS longest
        | FROM (SELECT doc_id, isl, count(*) AS c FROM runs GROUP BY 1, 2)
        | GROUP BY 1),
        |loud AS (SELECT doc_id, min(fr) AS fl, max(fr) AS ll FROM fc
        | WHERE NOT silent GROUP BY 1)
        |SELECT n.doc_id AS media_id, n.n_frames, n.n_silent,
        | coalesce(lr.longest, 0) AS longest_silent_run,
        | CAST(coalesce(loud.fl, n.n_frames) AS BIGINT) AS lead_silent,
        | CAST(CASE WHEN loud.ll IS NULL THEN n.n_frames
        |      ELSE n.n_frames - 1 - loud.ll END AS BIGINT) AS trail_silent
        |FROM n LEFT JOIN lr ON n.doc_id = lr.doc_id
        | LEFT JOIN loud ON n.doc_id = loud.doc_id
        |ORDER BY media_id""".stripMargin,

    // replays the per-doc SAMPLE FORMULA (never the WAV container):
    // frame energies from the synthesized u8 values, then the same
    // gaps-and-islands runs/trim shape as media_audio_silence
    "media_audio_wav" ->
      """WITH d AS (SELECT doc_id, 128 + (doc_id % 8) * 16 AS n
        |  FROM documents),
        |s AS (SELECT doc_id, t.i AS i,
        |  CASE WHEN ((t.i // 16) % 4) < 2 THEN 128
        |       ELSE (doc_id * 37 + t.i * 11) % 256 END AS v
        | FROM d, generate_series(0, 239) AS t(i) WHERE t.i < n),
        |f AS (SELECT doc_id, i // 16 AS fr,
        |  sum((v - 128) * (v - 128)) AS e
        | FROM s GROUP BY 1, 2),
        |fc AS (SELECT doc_id, fr, e < 20000 AS silent FROM f),
        |n2 AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_frames,
        |  CAST(sum(CASE WHEN silent THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_silent
        | FROM fc GROUP BY 1),
        |runs AS (SELECT doc_id,
        |  fr - row_number() OVER (PARTITION BY doc_id ORDER BY fr) AS isl
        | FROM fc WHERE silent),
        |lr AS (SELECT doc_id, CAST(max(c) AS BIGINT) AS longest
        | FROM (SELECT doc_id, isl, count(*) AS c FROM runs GROUP BY 1, 2)
        | GROUP BY 1),
        |loud AS (SELECT doc_id, min(fr) AS fl, max(fr) AS ll FROM fc
        | WHERE NOT silent GROUP BY 1)
        |SELECT n2.doc_id AS media_id, n2.n_frames, n2.n_silent,
        | coalesce(lr.longest, 0) AS longest_silent_run,
        | CAST(coalesce(loud.fl, n2.n_frames) AS BIGINT) AS lead_silent,
        | CAST(CASE WHEN loud.ll IS NULL THEN n2.n_frames
        |      ELSE n2.n_frames - 1 - loud.ll END AS BIGINT) AS trail_silent
        |FROM n2 LEFT JOIN lr ON n2.doc_id = lr.doc_id
        | LEFT JOIN loud ON n2.doc_id = loud.doc_id
        |ORDER BY media_id""".stripMargin,

    // replays the GIF synthesis + composition formula: per (doc, pixel,
    // target frame) the LAST covering rect <= f supplies the value
    // (arg_max over covering frames — frame 0 covers everything, so no
    // pixel is ever bare), frame sums feed the keyFrames window rule
    "media_gif_frames" ->
      """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS nf FROM documents),
        |fr AS (SELECT doc_id, f.f AS f,
        |  CASE WHEN f.f = 0 THEN 0 ELSE (doc_id + 3*f.f) % 8 END AS lft,
        |  CASE WHEN f.f = 0 THEN 0 ELSE (doc_id*5 + f.f) % 8 END AS top,
        |  CASE WHEN f.f = 0 THEN 16 ELSE 4 + (f.f % 4) END AS fw,
        |  CASE WHEN f.f = 0 THEN 16 ELSE 4 + ((doc_id + f.f) % 4) END
        |    AS fh,
        |  CASE WHEN f.f = 0 THEN (doc_id*29) % 256
        |       ELSE (doc_id*37 + f.f*61) % 256 END AS v
        | FROM d, generate_series(0, 4) AS f(f) WHERE f.f < nf),
        |cov AS (SELECT fr.doc_id, x.x AS x, y.y AS y, fr.f, fr.v
        | FROM fr, generate_series(0, 15) AS x(x),
        |  generate_series(0, 15) AS y(y)
        | WHERE x.x >= fr.lft AND x.x < fr.lft + fr.fw
        |   AND y.y >= fr.top AND y.y < fr.top + fr.fh),
        |val AS (SELECT t.doc_id, t.f AS tf, c.x, c.y,
        |  arg_max(c.v, c.f) AS v
        | FROM fr t JOIN cov c ON c.doc_id = t.doc_id AND c.f <= t.f
        | GROUP BY t.doc_id, t.f, c.x, c.y),
        |sums AS (SELECT doc_id, tf AS frame_no,
        |  CAST(sum(v) AS BIGINT) AS fsum
        | FROM val GROUP BY 1, 2),
        |sc AS (SELECT doc_id, frame_no,
        |  abs(fsum - coalesce(lag(fsum) OVER (PARTITION BY doc_id
        |    ORDER BY frame_no), 0)) AS score
        | FROM sums),
        |r AS (SELECT doc_id AS media_id, frame_no, score,
        |  CAST(row_number() OVER (PARTITION BY doc_id
        |    ORDER BY score DESC, frame_no) AS BIGINT) AS rank
        | FROM sc)
        |SELECT media_id, CAST(frame_no AS BIGINT) AS frame_no,
        | CAST(score AS BIGINT) AS score, rank
        |FROM r WHERE rank <= 2 ORDER BY media_id, rank""".stripMargin,

    // same sample formula; quarter-clip segments (n = 128 + 16k is
    // always divisible by 4, so no remainder tail); crossings pair
    // (i, i+1) in-segment via lead(), strict centered product < 0
    "media_audio_features" ->
      """WITH d AS (SELECT doc_id, 128 + (doc_id % 8) * 16 AS n
        |  FROM documents),
        |s AS (SELECT doc_id, n // 4 AS sl, t.i AS i,
        |  (CASE WHEN ((t.i // 16) % 4) < 2 THEN 128
        |        ELSE (doc_id * 37 + t.i * 11) % 256 END) - 128 AS c
        | FROM d, generate_series(0, 239) AS t(i) WHERE t.i < n),
        |w AS (SELECT doc_id, sl, i, c,
        |  lead(c) OVER (PARTITION BY doc_id ORDER BY i) AS nc
        | FROM s),
        |g AS (SELECT doc_id, i // sl AS seg, c,
        |  CASE WHEN (i + 1) % sl != 0 AND nc IS NOT NULL AND c * nc < 0
        |       THEN 1 ELSE 0 END AS crs
        | FROM w WHERE i // sl < 4)
        |SELECT doc_id AS media_id, CAST(seg AS BIGINT) AS seg,
        | CAST(sum(c * c) AS BIGINT) AS energy,
        | CAST(sum(crs) AS BIGINT) AS crossings
        |FROM g GROUP BY 1, 2 ORDER BY media_id, seg""".stripMargin,

    "media_features" ->
      """WITH b AS (SELECT doc_id, (t.i - 1) % 8 AS j,
        |  sum(ascii(substring(text, t.i, 1))) AS s
        | FROM documents, generate_series(1, 8192) AS t(i)
        | WHERE t.i <= length(text)
        | GROUP BY 1, 2)
        |SELECT d.doc_id AS media_id, CAST(g.j AS BIGINT) AS j,
        | CAST(coalesce(b.s, 0) AS BIGINT) AS fsum
        |FROM documents d CROSS JOIN generate_series(0, 7) AS g(j)
        |LEFT JOIN b ON b.doc_id = d.doc_id AND b.j = g.j
        |ORDER BY media_id, j""".stripMargin,

    "media_frame_sums" ->
      """WITH fr AS (SELECT doc_id, text, t.f AS frame_no
        | FROM documents, generate_series(0, 511) AS t(f)
        | WHERE t.f <= CAST(length(text) AS BIGINT) // 16 - 1
        |   AND t.f % 4 = 0)
        |SELECT doc_id AS media_id, CAST(frame_no AS BIGINT) AS frame_no,
        | CAST(sum(ascii(substring(text,
        |   CAST(frame_no * 16 + i.i AS INT), 1))) AS BIGINT) AS frame_sum
        |FROM fr, generate_series(1, 16) AS i(i)
        |GROUP BY doc_id, frame_no ORDER BY media_id, frame_no""".stripMargin,

    "media_shots" ->
      """WITH fr AS (SELECT doc_id, text, t.f AS frame_no
        | FROM documents, generate_series(0, 511) AS t(f)
        | WHERE t.f <= CAST(length(text) AS BIGINT) // 16 - 1
        |   AND t.f % 4 = 0),
        |fs AS (SELECT doc_id AS media_id, CAST(frame_no AS BIGINT)
        |   AS frame_no,
        | CAST(sum(ascii(substring(text,
        |   CAST(frame_no * 16 + i.i AS INT), 1))) AS BIGINT) AS frame_sum
        | FROM fr, generate_series(1, 16) AS i(i)
        | GROUP BY doc_id, frame_no),
        |sc AS (SELECT media_id, frame_no, frame_sum,
        |  lag(frame_sum) OVER (PARTITION BY media_id ORDER BY frame_no)
        |    AS prev FROM fs),
        |b AS (SELECT media_id, frame_no,
        |  CASE WHEN prev IS NULL THEN 0
        |   WHEN abs(frame_sum - prev) > 150 THEN 1 ELSE 0 END AS boundary
        | FROM sc),
        |sh AS (SELECT media_id, frame_no,
        |  sum(boundary) OVER (PARTITION BY media_id ORDER BY frame_no
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS shot_no
        | FROM b),
        |per AS (SELECT media_id, shot_no, count(*) AS len
        | FROM sh GROUP BY media_id, shot_no)
        |SELECT media_id, CAST(sum(len) AS BIGINT) AS n_frames,
        | CAST(count(*) AS BIGINT) AS n_shots,
        | CAST(max(len) AS BIGINT) AS longest_shot
        |FROM per GROUP BY media_id ORDER BY media_id""".stripMargin,

    "media_batch_buckets" ->
      """WITH b AS (SELECT doc_id AS media_id,
        |  CAST(length(text) AS BIGINT)
        |   - (CAST(length(text) AS BIGINT) % 100) AS band
        | FROM documents),
        |r AS (SELECT media_id, band,
        |  (row_number() OVER (PARTITION BY band ORDER BY media_id) - 1)
        |    // 16 AS batch_no
        | FROM b)
        |SELECT band, CAST(batch_no AS BIGINT) AS batch_no,
        | CAST(count(*) AS BIGINT) AS n_items,
        | CAST(sum(media_id) AS BIGINT) AS sum_ids
        |FROM r GROUP BY band, batch_no
        |ORDER BY band, batch_no""".stripMargin,

    "media_keyframes" ->
      """WITH fr AS (SELECT doc_id, text, t.f AS frame_no
        | FROM documents, generate_series(0, 511) AS t(f)
        | WHERE t.f <= CAST(length(text) AS BIGINT) // 16 - 1
        |   AND t.f % 4 = 0),
        |fs AS (SELECT doc_id AS media_id, CAST(frame_no AS BIGINT)
        |   AS frame_no,
        | CAST(sum(ascii(substring(text,
        |   CAST(frame_no * 16 + i.i AS INT), 1))) AS BIGINT) AS frame_sum
        | FROM fr, generate_series(1, 16) AS i(i)
        | GROUP BY doc_id, frame_no),
        |sc AS (SELECT media_id, frame_no,
        |  abs(frame_sum - coalesce(lag(frame_sum) OVER
        |    (PARTITION BY media_id ORDER BY frame_no), 0)) AS score
        | FROM fs),
        |r AS (SELECT media_id, frame_no, score,
        |  CAST(row_number() OVER (PARTITION BY media_id
        |    ORDER BY score DESC, frame_no) AS BIGINT) AS rank FROM sc)
        |SELECT media_id, frame_no, CAST(score AS BIGINT) AS score, rank
        |FROM r WHERE rank <= 3 ORDER BY media_id, rank""".stripMargin,

    "embed_matryoshka" ->
      """WITH dims(d) AS (VALUES (8), (16), (32), (64)),
        |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        | WHERE vec_id % 100 = 0),
        |dist AS (SELECT dims.d, q.qid, e.vec_id,
        |  sum(CASE WHEN t.i <= dims.d THEN
        |   (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |   * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |   ELSE 0 END) AS sq
        | FROM embeddings e, q, dims, generate_series(1, 64) AS t(i)
        | GROUP BY dims.d, q.qid, e.vec_id),
        |topk AS (SELECT d, qid, vec_id,
        |  row_number() OVER (PARTITION BY d, qid ORDER BY sq, vec_id)
        |    AS rn FROM dist),
        |sel AS (SELECT d, qid, vec_id FROM topk WHERE rn <= 10),
        |f64 AS (SELECT qid, vec_id FROM sel WHERE d = 64),
        |h AS (SELECT s.d, count(DISTINCT s.qid) AS nq,
        |  count(f.vec_id) AS nh
        | FROM sel s LEFT JOIN f64 f
        |   ON s.qid = f.qid AND s.vec_id = f.vec_id
        | GROUP BY s.d)
        |SELECT CAST(d AS BIGINT) AS dim, CAST(nq AS BIGINT) AS n_queries,
        | CAST(nh AS BIGINT) AS n_hits,
        | CAST(nh * 10000 // (nq * 10) AS BIGINT) AS recall_bp
        |FROM h ORDER BY dim""".stripMargin,

    "text_tokens" ->
      """SELECT doc_id,
        | CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        | CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_distinct,
        | CAST(length(text) AS BIGINT) AS n_chars_computed
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_quality" ->
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
        |ORDER BY doc_id""".stripMargin,

    // generated from TextAnalysis.langProfiles so oracle and operator
    // can never drift: score = # profile trigrams contained, argmax with
    // lexicographic (smallest-lang) tie-break — same as the struct-max
    "text_lang_by_source" -> {
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
    },

    "text_langid" -> {
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
    },

    "text_scripts" ->
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
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_subwords" ->
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]'))
        |   AS BIGINT) AS n_subwords,
        | CAST(len(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
        |   AS n_number_runs
        |FROM documents ORDER BY doc_id""".stripMargin,

    "text_blocklist" ->
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
        |FROM h ORDER BY doc_id""".stripMargin,

    "text_readability" ->
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
        |FROM c ORDER BY doc_id""".stripMargin,

    "text_bpe" -> bpeTrainSql,

    "text_bpe_encode" -> bpeEncodeSql,

    "text_repetition" ->
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
        |ORDER BY d.doc_id""".stripMargin,

    "text_novelty" ->
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
        |ORDER BY d.doc_id""".stripMargin,

    "text_lm_fit" ->
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
        |ORDER BY d.doc_id""".stripMargin,

    // the text_lm_fit score pipeline + one ntile window per language
    "quality_ccnet_buckets" ->
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
        |ORDER BY doc_id""".stripMargin,

    // same scoring chain as quality_ccnet_buckets, then per-language
    // integer histogram boundaries (descending rank: b_i = max score
    // whose descending cumulative count reaches i*n_lang/3) instead
    // of ntile; bucket = 1 + #(boundaries strictly above the score)
    "quality_ccnet_buckets_approx" ->
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
        |ORDER BY doc_id""".stripMargin,

    "text_nb_classify" ->
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
        |FROM r WHERE rn = 1 ORDER BY doc_id""".stripMargin,

    "events_dedup_first" ->
      """SELECT user_id, event_type, event_id FROM (
        | SELECT user_id, event_type, event_id,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts, event_id) AS rn
        | FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "doc_fingerprint" ->
      """SELECT doc_id, md5(text) AS fp_md5,
        | substring(md5(text), 1, 15) AS fp_prefix
        |FROM documents ORDER BY doc_id""".stripMargin,

    "stats_hll_merge" ->
      """WITH e AS (SELECT
        |  CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day, user_id
        | FROM events)
        |SELECT day, CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct
        |FROM e GROUP BY day
        |UNION ALL
        |SELECT CAST(-1 AS BIGINT) AS day,
        | CAST(count(DISTINCT user_id) AS BIGINT) AS n_distinct FROM e
        |ORDER BY day""".stripMargin,

    "stats_approx_distinct" ->
      """SELECT source,
        | count(DISTINCT tok) AS exact_distinct,
        | CAST(1 AS BIGINT) AS within_bound
        |FROM (SELECT source, unnest(string_split(text, ' ')) AS tok
        | FROM documents) t
        |GROUP BY source ORDER BY source""".stripMargin,

    "stats_count_min" ->
      """SELECT count(DISTINCT tok) AS n_items,
        | CAST(0 AS BIGINT) AS n_under, CAST(0 AS BIGINT) AS n_over_bound
        |FROM (SELECT unnest(string_split(text, ' ')) AS tok
        | FROM documents) t""".stripMargin,

    "stats_join_size" ->
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
        |SELECT join_rows, n_keys_joint, actual_rows FROM p, a""".stripMargin,

    "stats_mutual_info" ->
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
        |FROM m ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "rel_skyline_3d" ->
      """WITH b AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |  CAST(floor(p_retailprice * 100) AS BIGINT) AS cents,
        |  CAST(length(p_name) AS BIGINT) AS name_len
        | FROM part)
        |SELECT p_partkey, p_size, cents, name_len FROM b q
        |WHERE NOT EXISTS (SELECT 1 FROM b p
        | WHERE p.p_size >= q.p_size AND p.cents >= q.cents
        |  AND p.name_len >= q.name_len
        |  AND (p.p_size > q.p_size OR p.cents > q.cents
        |   OR p.name_len > q.name_len))
        |ORDER BY p_partkey""".stripMargin,

    "rel_skyline" ->
      """WITH b AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |  CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
        | FROM part),
        |px AS (SELECT p_size, max(cents) AS ymax FROM b GROUP BY p_size),
        |st AS (SELECT p_size, ymax,
        |  max(ymax) OVER (ORDER BY p_size DESC ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND 1 PRECEDING) AS best FROM px),
        |fx AS (SELECT p_size, ymax FROM st
        | WHERE best IS NULL OR ymax > best)
        |SELECT b.p_size, p_partkey, cents
        |FROM b JOIN fx ON b.p_size = fx.p_size AND b.cents = fx.ymax
        |ORDER BY p_partkey""".stripMargin,

    "stats_f2_sketch" -> {
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
    },

    "stats_corr_exact" ->
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
        |FROM c""".stripMargin,

    "text_vocab" ->
      """WITH t AS (SELECT DISTINCT doc_id,
        |  unnest(string_split(text, ' ')) AS tok FROM documents),
        |v AS (SELECT tok, count(*) AS df FROM t
        | GROUP BY tok HAVING count(*) >= 2)
        |SELECT CAST(row_number() OVER (ORDER BY df DESC, tok) AS BIGINT)
        |   AS rank,
        | tok, df
        |FROM v ORDER BY df DESC, tok LIMIT 100""".stripMargin,

    "text_ngram_diversity" ->
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
        |GROUP BY source ORDER BY source""".stripMargin,

    "text_ngram_diversity_incr" ->
      """SELECT CAST(0 AS BIGINT) AS n_state_diff,
        | CAST(0 AS BIGINT) AS n_report_diff,
        | CAST(1 AS BIGINT) AS merge_nonvacuous""".stripMargin,

    "text_ngram_diversity_sketch" ->
      """SELECT CAST(20 AS BIGINT) AS n_sources,
        | CAST(0 AS BIGINT) AS n_total_diff,
        | CAST(0 AS BIGINT) AS n_oneshot_out_of_bound,
        | CAST(0 AS BIGINT) AS n_merged_out_of_bound""".stripMargin,

    // replicates CorpusClean.dropDecisions stage by stage: quality
    // thresholds (same integer arithmetic as text_quality), exact dedup
    // over quality survivors, recursive-CTE connected components over
    // exact Jaccard pairs of the remaining docs (≡ the LSH+verify+CC
    // result — see jaccardOracle note)
    "corpus_clean" ->
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
         |ORDER BY doc_id""".stripMargin,

    "train_split" ->
      """SELECT doc_id,
        | CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
        |     THEN 'train'
        |   WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
        |   ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // components over the exact J>=90 pair relation (dedup_drop_list's
    // recursive-CTE shape), then train_split's md5 rule on the component
    // minimum instead of the doc's own id
    "train_split_safe" ->
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
         |FROM r ORDER BY doc_id""".stripMargin,

    "train_folds_safe" ->
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
         |FROM r ORDER BY doc_id""".stripMargin,

    "train_folds" ->
      """SELECT doc_id,
        | ('0x' || substr(md5('fold:3:' || CAST(doc_id AS VARCHAR)), 1, 6))
        |   ::BIGINT % 5 AS fold
        |FROM documents ORDER BY doc_id""".stripMargin,

    "sample_exact_n" ->
      """SELECT doc_id FROM (
        | SELECT doc_id FROM documents
        | ORDER BY md5('es:5:' || CAST(doc_id AS VARCHAR)), doc_id
        | LIMIT 100)
        |ORDER BY doc_id""".stripMargin,

    "sample_repeat" ->
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
        |ORDER BY source, doc_id, copy""".stripMargin,

    // invariant oracle: the clustering gate's checks all resolve to
    // constants (500 vectors covered, in-range clusters, zero argmin
    // mismatches against the independent HOF recompute, exact quota
    // sums, per-cluster sample counts correct)
    "embed_prototype_prune" ->
      """SELECT CAST(500 AS BIGINT) AS n_total,
        | CAST(1 AS BIGINT) AS multi_cluster,
        | CAST(0 AS BIGINT) AS n_quota_viol,
        | CAST(0 AS BIGINT) AS n_rank_viol,
        | CAST(1 AS BIGINT) AS dropped_nonzero""".stripMargin,

    // invariant oracle: the histogram twin's kept set is EXACTLY the
    // window form's at both quantizations (anti-joins empty, counts
    // equal); n_total recomputed from the table
    "embed_prototype_prune_hist" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
        | CAST(0 AS BIGINT) AS fine_only_exact,
        | CAST(0 AS BIGINT) AS fine_only_twin,
        | CAST(1 AS BIGINT) AS fine_count_match,
        | CAST(0 AS BIGINT) AS coarse_only_exact,
        | CAST(0 AS BIGINT) AS coarse_only_twin,
        | CAST(1 AS BIGINT) AS coarse_count_match
        |FROM embeddings""".stripMargin,

    "cluster_balanced" ->
      """SELECT CAST(500 AS BIGINT) AS n_assigned,
        | CAST(0 AS BIGINT) AS n_out_of_range,
        | CAST(1 AS BIGINT) AS multi_cluster,
        | CAST(0 AS BIGINT) AS n_argmin_mismatch,
        | CAST(160 AS BIGINT) AS quota_sum,
        | CAST(1 AS BIGINT) AS balanced_spread_ok,
        | CAST(77 AS BIGINT) AS prop_sum,
        | CAST(0 AS BIGINT) AS n_sample_bad""".stripMargin,

    // both sides are full-corpus counts; self-PSI is identically zero
    // and the injected 8-dim shift is loud at any sf (see the entry)
    "embed_drift_psi" ->
      """SELECT count(*) AS n_old, count(*) AS n_new,
        | CAST(1 AS BIGINT) AS shift_is_loud,
        | CAST(0 AS BIGINT) AS psi_self
        |FROM embeddings""".stripMargin,

    "quality_expectations_quantile" ->
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
        |FROM q ORDER BY rule""".stripMargin,

    "sample_rank_normalize" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  rank() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
        |  count(*) OVER (PARTITION BY source) AS n
        | FROM documents)
        |SELECT doc_id, source, n_chars,
        | CASE WHEN n = 1 THEN 5000
        |   ELSE (10000 * (rk - 1)) // (n - 1) END AS rank_bp
        |FROM r ORDER BY doc_id""".stripMargin,

    // the histogram twin is exactly equal to rank() — same oracle
    "sample_rank_normalize_hist" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  rank() OVER (PARTITION BY source ORDER BY n_chars) AS rk,
        |  count(*) OVER (PARTITION BY source) AS n
        | FROM documents)
        |SELECT doc_id, source, n_chars,
        | CASE WHEN n = 1 THEN 5000
        |   ELSE (10000 * (rk - 1)) // (n - 1) END AS rank_bp
        |FROM r ORDER BY doc_id""".stripMargin,

    "corpus_overlap_matrix" ->
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
        |GROUP BY a.src, b.src ORDER BY src_a, src_b""".stripMargin,

    "sample_stratified" ->
      """WITH q AS (SELECT source,
        |  CAST(substr(source, 4) AS INTEGER) % 7 + 3 AS n
        | FROM (SELECT DISTINCT source FROM documents)),
        |r AS (SELECT d.source, d.doc_id,
        |  row_number() OVER (PARTITION BY d.source
        |    ORDER BY md5('ss:9:' || CAST(d.doc_id AS VARCHAR)), d.doc_id)
        |    AS rn, q.n
        | FROM documents d JOIN q USING (source))
        |SELECT source, doc_id FROM r WHERE rn <= n
        |ORDER BY source, doc_id""".stripMargin,

    // the twin's contract: the same race keyed on the 52-bit md5 prefix
    "sample_stratified_topk" ->
      """WITH q AS (SELECT source,
        |  CAST(substr(source, 4) AS INTEGER) % 7 + 3 AS n
        | FROM (SELECT DISTINCT source FROM documents)),
        |r AS (SELECT d.source, d.doc_id,
        |  row_number() OVER (PARTITION BY d.source
        |    ORDER BY substr(md5('ss:9:' || CAST(d.doc_id AS VARCHAR)),
        |      1, 13), d.doc_id) AS rn, q.n
        | FROM documents d JOIN q USING (source))
        |SELECT source, doc_id FROM r WHERE rn <= n
        |ORDER BY source, doc_id""".stripMargin,

    "mixture_budget" ->
      """WITH t AS (SELECT source,
        |  sum(len(string_split(text, ' '))) AS n_tokens
        | FROM documents GROUP BY source)
        |SELECT CAST(count(*) AS BIGINT) AS n_sources,
        | CAST(least(10000, sum((n_tokens * 150) // 100)) AS BIGINT)
        |   AS total_quota,
        | CAST(0 AS BIGINT) AS n_over_epochs,
        | CAST(0 AS BIGINT) AS n_over_cap
        |FROM t""".stripMargin,

    "dsir_select" ->
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
        |FROM r WHERE rank <= 100 ORDER BY rank""".stripMargin,

    "rel_top_per_group" ->
      """SELECT source, CAST(rnk AS BIGINT) AS rank, doc_id,
        | CAST(n_chars AS BIGINT) AS n_chars
        |FROM (SELECT source, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS rnk
        | FROM documents)
        |WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin,

    "train_shard" ->
      """WITH s AS (SELECT doc_id,
        |  md5('shuffle:7:' || CAST(doc_id AS VARCHAR)) AS sort_key,
        |  ('0x' || substr(md5('shuffle:7:' || CAST(doc_id AS VARCHAR)), 1, 6))
        |    ::BIGINT % 8 AS shard
        | FROM documents)
        |SELECT doc_id, shard,
        | CAST(row_number() OVER (PARTITION BY shard
        |   ORDER BY sort_key, doc_id) AS BIGINT) AS shard_pos
        |FROM s ORDER BY doc_id""".stripMargin,

    "sample_per_source" ->
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        | FROM documents) t
        |WHERE rnk <= 150 ORDER BY doc_id""".stripMargin,

    // the auto router resolves to the window form at gate scale, so
    // the oracle is the exact window rule verbatim
    "sample_per_source_auto" ->
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        | FROM documents) t
        |WHERE rnk <= 150 ORDER BY doc_id""".stripMargin,

    // the twin's own contract: rank on the 52-bit md5 prefix (13 hex
    // chars order identically as string and number), ties by id
    "sample_per_source_topk" ->
      """SELECT doc_id, source FROM (
        | SELECT doc_id, source, row_number() OVER (PARTITION BY source
        |   ORDER BY substr(md5(CAST(doc_id AS VARCHAR)), 1, 13), doc_id)
        |   AS rnk
        | FROM documents) t
        |WHERE rnk <= 150 ORDER BY doc_id""".stripMargin,

    "doc_chunks" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS nt FROM documents),
        |c AS (SELECT doc_id, CAST(g.i AS BIGINT) AS chunk_id,
        |  toks[g.i * 16 + 1 : g.i * 16 + 32] AS chunk
        | FROM t, generate_series(0, 4095) AS g(i)
        | WHERE g.i * 16 < nt)
        |SELECT doc_id, chunk_id,
        | md5(array_to_string(chunk, ' ')) AS chunk_md5,
        | CAST(len(chunk) AS BIGINT) AS n_chunk_tokens
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "mixture_sample" ->
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
        |ORDER BY doc_id""".stripMargin,

    "pack_sequences" ->
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
        |ORDER BY doc_id""".stripMargin,

    "search_rank" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |p AS (SELECT tok, doc_id, count(*) AS tf FROM toks
        | WHERE tok IN ('spark', 'vector') GROUP BY 1, 2),
        |h AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total
        | FROM p GROUP BY doc_id HAVING count(*) = 2)
        |SELECT CAST(row_number() OVER (ORDER BY tf_total DESC, doc_id)
        |   AS BIGINT) AS rank,
        | doc_id, tf_total
        |FROM h ORDER BY tf_total DESC, doc_id LIMIT 20""".stripMargin,

    "search_prefix" ->
      """WITH post AS (SELECT tok, doc_id, count(*) AS tf FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |   FROM documents) GROUP BY tok, doc_id),
        |e AS (SELECT DISTINCT tok FROM post WHERE tok LIKE 'fil%')
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
        | CAST(sum(tf) AS BIGINT) AS tf_total
        |FROM post JOIN e USING (tok)
        |GROUP BY doc_id
        |ORDER BY tf_total DESC, doc_id ASC LIMIT 50""".stripMargin,

    "search_mmr" ->
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
        |ORDER BY qid, rank""".stripMargin,

    "search_fuzzy" ->
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
        |LIMIT 50""".stripMargin,

    // DuckDB's damerau_levenshtein is the TRUE (unrestricted) DL, the
    // same contract as the Spark kernel (link_damerau pins parity);
    // a planted guard row proves the expansion is non-vacuous
    "search_fuzzy_dl" ->
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
        |LIMIT 50""".stripMargin,

    "search_conj" ->
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |p AS (SELECT tok, doc_id, count(*) AS tf FROM toks
        | WHERE tok IN ('spark', 'vector') GROUP BY 1, 2)
        |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS tf_total
        |FROM p GROUP BY doc_id HAVING count(*) = 2
        |ORDER BY doc_id""".stripMargin,

    "decontaminate" ->
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
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "decontaminate_bloom" ->
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
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // covered = every token index under a bench-matching window
    // (0-based like Spark's posexplode); islands merge them to spans
    "decontaminate_spans" ->
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
        |GROUP BY doc_id, grp ORDER BY doc_id, span_start""".stripMargin,

    "decontaminate_remove" ->
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
        |ORDER BY d.doc_id""".stripMargin,

    "events_range_join" ->
      """WITH c AS (SELECT event_id AS click_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS ct
        | FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS pt
        | FROM events WHERE event_type = 'purchase')
        |SELECT click_id, purchase_id FROM c JOIN p
        | ON pt >= ct + 1 AND pt <= ct + 300000000
        |ORDER BY click_id, purchase_id""".stripMargin,

    "events_attribution_first" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS ct
        | FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS pt
        | FROM events WHERE event_type = 'purchase'),
        |j AS (SELECT purchase_id, click_id, ct FROM c JOIN p
        |  USING (user_id)
        | WHERE ct < pt AND ct >= pt - 3600000000)
        |SELECT purchase_id, click_id FROM (
        | SELECT purchase_id, click_id, row_number() OVER (
        |   PARTITION BY purchase_id ORDER BY ct, click_id) AS rn FROM j) t
        |WHERE rn = 1 ORDER BY purchase_id""".stripMargin,

    "events_attribution" ->
      """WITH c AS (SELECT event_id AS click_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS ct
        | FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |  CAST(epoch_us(ts) AS BIGINT) AS pt
        | FROM events WHERE event_type = 'purchase')
        |SELECT purchase_id, click_id FROM c JOIN p USING (user_id)
        |WHERE ct < pt AND ct >= pt - 3600000000
        |ORDER BY purchase_id, click_id""".stripMargin,

    "rel_outer_join" ->
      """SELECT c_custkey, count(o_orderkey) AS n_big,
        | round(coalesce(sum(o_totalprice), 0), 2) AS sum_big
        |FROM customer LEFT JOIN orders
        | ON c_custkey = o_custkey AND o_totalprice > 400000
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin,

    "rel_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        | WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin,

    "rel_q18_big_orders" ->
      """WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2)
        |   AS total_qty
        | FROM lineitem GROUP BY l_orderkey
        | HAVING round(sum(l_quantity), 2) > 250)
        |SELECT c_custkey, o_orderkey, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin,

    "stats_approx_quantiles" ->
      """SELECT event_type, count(*) AS cnt, CAST(1 AS BIGINT) AS rank_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "stats_heavy_hitters_by_group" ->
      """WITH t AS (SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |c AS (SELECT source, tok AS item, CAST(count(*) AS BIGINT) AS cnt
        | FROM t GROUP BY source, tok),
        |n AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_group
        | FROM c GROUP BY source)
        |SELECT c.source, c.item, c.cnt, n.n_group
        |FROM c JOIN n USING (source)
        |WHERE c.cnt * 50 > n.n_group
        |ORDER BY source, item""".stripMargin,

    "events_gap_quantiles" ->
      """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts,
        |  event_id, event_type FROM events),
        |g AS (SELECT event_type,
        |  (ts - lag(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id)) // 1000000 AS gap_ms
        | FROM e),
        |h AS (SELECT event_type, gap_ms AS v, count(*) AS cnt
        | FROM g WHERE gap_ms IS NOT NULL GROUP BY event_type, gap_ms),
        |c AS (SELECT event_type, v,
        |  sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
        |  CAST(sum(cnt) OVER (PARTITION BY event_type) AS BIGINT)
        |    AS n_total
        | FROM h),
        |q AS (SELECT CAST(unnest([50, 90, 99]) AS BIGINT) AS q_x100)
        |SELECT c.event_type, q.q_x100, min(c.v) AS value,
        | (q.q_x100 * c.n_total + 99) // 100 AS rank, c.n_total
        |FROM q, c
        |WHERE c.cum >= (q.q_x100 * c.n_total + 99) // 100
        |GROUP BY c.event_type, q.q_x100, c.n_total
        |ORDER BY event_type, q_x100""".stripMargin,

    "stats_exact_quantiles_by_group" ->
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
        |ORDER BY event_type, q_x100""".stripMargin,

    "stats_exact_quantiles" ->
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
        |GROUP BY q.q_x100, n.n_total ORDER BY q_x100""".stripMargin,

    "events_moving_sum" ->
      """WITH d AS (SELECT event_type,
        |  CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day,
        |  count(*) AS day_cnt
        | FROM events GROUP BY 1, 2)
        |SELECT event_type, day, day_cnt,
        | CAST(sum(day_cnt) OVER (PARTITION BY event_type ORDER BY day
        |   RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT)
        |   AS mov3_cnt
        |FROM d ORDER BY event_type, day""".stripMargin,

    "events_anomaly" ->
      """WITH d AS (SELECT event_type,
        |  CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) AS day,
        |  CAST(count(*) AS BIGINT) AS day_cnt
        | FROM events GROUP BY 1, 2),
        |w AS (SELECT event_type, day, day_cnt,
        |  CAST(count(*) OVER fr AS BIGINT) AS n_base,
        |  CAST(COALESCE(sum(day_cnt) OVER fr, 0) AS BIGINT) AS s_base,
        |  CAST(COALESCE(sum(day_cnt * day_cnt) OVER fr, 0) AS BIGINT)
        |    AS ss_base
        | FROM d WINDOW fr AS (PARTITION BY event_type ORDER BY day
        |   ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, day, day_cnt, n_base,
        | CAST(CASE WHEN n_base >= 5 AND
        |   (n_base * day_cnt - s_base) * (n_base * day_cnt - s_base) >
        |   9 * (n_base * ss_base - s_base * s_base)
        |  THEN 1 ELSE 0 END AS INTEGER) AS is_anom
        |FROM w ORDER BY event_type, day""".stripMargin,

    "rel_pivot" ->
      """SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) % 7 AS dow,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_click,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_error,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_signup,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_view
        |FROM events GROUP BY 1 ORDER BY dow""".stripMargin,

    "rel_unpivot" ->
      """WITH s AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |    AS n_distinct
        | FROM documents)
        |SELECT doc_id, 'n_tokens' AS metric, n_tokens AS value FROM s
        |UNION ALL
        |SELECT doc_id, 'n_distinct', n_distinct FROM s
        |ORDER BY doc_id, metric""".stripMargin,

    "bloom_semi_join" ->
      """SELECT CAST(0 AS BIGINT) AS n_missed, CAST(1 AS BIGINT) AS fp_ok,
        | (SELECT count(*) FROM lineitem WHERE EXISTS (SELECT 1 FROM orders
        |   WHERE o_orderkey = l_orderkey AND o_totalprice > 400000))
        |   AS n_true""".stripMargin,

    "embed_whiten" ->
      """SELECT CAST(10 AS BIGINT) AS n_cells,
        | CAST(0 AS BIGINT) AS n_var_bad,
        | CAST(0 AS BIGINT) AS n_cov_bad""".stripMargin,

    "embed_pca" ->
      """SELECT CAST(8 AS BIGINT) AS n_comp,
        | CAST(0 AS BIGINT) AS n_order_viol,
        | CAST(0 AS BIGINT) AS n_ortho_bad,
        | CAST(1 AS BIGINT) AS trace_ok,
        | CAST(0 AS BIGINT) AS n_var_bad,
        | CAST(0 AS BIGINT) AS n_proj_bad""".stripMargin,

    "layout_zorder" ->
      s"""SELECT event_id,
         | CAST(${graft.sources.ZOrder.zValue2Sql("user_id", "floor(value)", 16)}
         |   AS BIGINT) AS zv
         |FROM events ORDER BY event_id""".stripMargin,

    "events_day_partitioned" ->
      """SELECT epoch_ns(ts) // 86400000000000 AS day,
        | count(*) AS cnt, round(sum(value), 2) AS sum_value
        |FROM events
        |WHERE epoch_ns(ts) // 86400000000000 IN (19725, 19726, 19727)
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // window STRINGS group exactly as the Spark side's window hashes
    // (same space-joined construction; 64-bit collisions are the only
    // divergence and are ~V²/2⁶⁴-improbable). The `guard` CTE makes the
    // fixed series bound FAIL LOUDLY if the corpus ever outgrows it —
    // without it a >4.1k-token document would silently drop windows on
    // the oracle side only and the gate failure would blame the engine
    "dedup_spans" ->
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
        |ORDER BY t.doc_id""".stripMargin,

    // same window-STRING construction and 4096-series guard as the
    // dedup_spans oracle; count(*) over the per-doc DISTINCT window
    // relation ≡ the Spark side's sorted-distinct L-gram-hash
    // intersection size (mod 64-bit collisions)
    "dedup_winnow" ->
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
        |WHERE guard.ok = 1 ORDER BY a_id, b_id""".stripMargin,

    // the dedup_winnow oracle restricted to new(doc_id%5=0) x corpus —
    // the winnowing guarantee makes the fingerprint candidate pass
    // complete for the >=1-shared-L-window measure, so the string-join
    // relation IS the expected output
    "dedup_winnow_incr" ->
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
        |WHERE guard.ok = 1 ORDER BY new_id, corpus_id""".stripMargin,

    // same dup-window detection as the dedup_spans oracle, then the
    // REBUILD: covered = union of [pos, pos+7] over duplicated windows,
    // surviving tokens re-joined in position order (split/join on a
    // single space is an identity, so untouched docs compare verbatim);
    // an all-covered doc rebuilds to the empty string on both sides
    "dedup_span_remove" ->
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
        |ORDER BY t.doc_id""".stripMargin,

    // replicates the messy-URL synthesis, then the normalization regex
    // pipeline step for step (DuckDB regexp_replace needs the explicit
    // 'g' flag on the tracking-param rule; every other rule is anchored
    // single-match)
    "web_url_normalize" ->
      """WITH b AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 2 = 0 THEN 'https' ELSE 'http' END) || '://' ||
        |  (CASE WHEN doc_id % 5 = 0 THEN 'www.' WHEN doc_id % 5 = 2 THEN 'cdn.'
        |        WHEN doc_id % 5 = 3 THEN 'm.' ELSE '' END) || source ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1 THEN '.co.uk'
        |        WHEN doc_id % 4 = 2 THEN '.org' ELSE '.io' END) ||
        |  (CASE WHEN doc_id % 6 = 0 THEN ':443' WHEN doc_id % 6 = 3 THEN ':80'
        |        ELSE '' END) AS head,
        |  '/' || lang || '/doc-' || doc_id ||
        |  (CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&id=' || doc_id
        |        WHEN doc_id % 3 = 1 THEN '?id=' || doc_id || '&utm_campaign=x&fbclid=abc'
        |        ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '#section-2' ELSE '' END) AS tail
        | FROM documents),
        |raw AS (SELECT doc_id,
        |  (CASE WHEN doc_id % 7 = 0 THEN upper(head) ELSE head END) || tail AS url
        | FROM b),
        |n1 AS (SELECT doc_id, regexp_replace(url, '#.*', '') AS u FROM raw),
        |n2 AS (SELECT doc_id,
        |  lower(regexp_extract(u, '^([^:/?#]+://[^/?#]*)', 1)) ||
        |  regexp_replace(u, '^[^:/?#]+://[^/?#]*', '') AS u FROM n1),
        |n3 AS (SELECT doc_id, regexp_replace(regexp_replace(u,
        |  '^(http://[^/:?#]+):80([/?#]|$)', '\1\2'),
        |  '^(https://[^/:?#]+):443([/?#]|$)', '\1\2') AS u FROM n2),
        |n4 AS (SELECT doc_id, regexp_replace(u,
        |  '[?&](utm_[a-z0-9_]+|fbclid|gclid|msclkid)=[^&#]*', '', 'g') AS u
        | FROM n3),
        |n5 AS (SELECT doc_id, regexp_replace(regexp_replace(
        |  regexp_replace(u, '^([^?]*)&', '\1?'), '[?&]+$', ''),
        |  '^(https?://[^/?#]+)/$', '\1') AS u FROM n4),
        |h AS (SELECT doc_id, u,
        |  lower(regexp_extract(u, '^[^:/?#]+://([^/:?#]+)', 1)) AS host FROM n5),
        |hp AS (SELECT doc_id, u, host, string_split(host, '.') AS pa,
        |  len(string_split(host, '.')) AS np FROM h)
        |SELECT doc_id, u AS url_norm, host,
        | CASE WHEN np >= 3 AND (pa[np-1] || '.' || pa[np]) IN ('co.uk','org.uk',
        |   'ac.uk','gov.uk','com.au','net.au','org.au','co.jp','or.jp','ne.jp',
        |   'co.in','co.kr','com.br','com.cn','com.mx','com.tr','com.ar','co.za',
        |   'com.sg','co.nz')
        |  THEN pa[np-2] || '.' || pa[np-1] || '.' || pa[np]
        |  WHEN np >= 2 THEN pa[np-1] || '.' || pa[np]
        |  ELSE host END AS domain
        |FROM hp ORDER BY doc_id""".stripMargin,

    // host/domain constructed directly from the synthesis parts (the
    // suffix rule keeps source.co.uk intact, strips subdomains
    // otherwise — so domain = source || tld for every class here)
    "web_host_stats" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  (CASE WHEN doc_id % 3 = 0 THEN 'www.' WHEN doc_id % 3 = 1 THEN 'm.'
        |        ELSE '' END) || source ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1 THEN '.co.uk'
        |        WHEN doc_id % 4 = 2 THEN '.org' ELSE '.io' END) AS host,
        |  source ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1 THEN '.co.uk'
        |        WHEN doc_id % 4 = 2 THEN '.org' ELSE '.io' END) AS domain
        | FROM documents)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(count(DISTINCT host) AS BIGINT) AS n_hosts,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "web_blocklist" ->
      """WITH r AS (SELECT source, doc_id, source ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1 THEN '.co.uk'
        |        WHEN doc_id % 4 = 2 THEN '.org' ELSE '.io' END) AS domain
        | FROM documents)
        |SELECT source, CAST(count(*) AS BIGINT) AS n_kept FROM r
        |WHERE domain NOT IN ('src0.io','src3.com','src7.co.uk','src12.org')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // constructs the EXPECTED canonical key independently of the regex
    // pipeline — scheme, www, default ports, tracking params, and
    // fragments must all have been removed for the two sides to agree
    "web_url_dedup" ->
      """WITH k AS (SELECT doc_id, doc_id // 3 AS g FROM documents),
        |r AS (SELECT doc_id,
        |  'site' || (g % 50) ||
        |  (CASE WHEN g % 4 = 0 THEN '.com' WHEN g % 4 = 1 THEN '.co.uk'
        |        WHEN g % 4 = 2 THEN '.org' ELSE '.io' END) ||
        |  '/p/' || g || '?v=' || (g % 7) AS url_key
        | FROM k)
        |SELECT url_key, CAST(min(doc_id) AS BIGINT) AS keep_id,
        | CAST(count(*) AS BIGINT) AS n_dups
        |FROM r GROUP BY 1 ORDER BY keep_id""".stripMargin,

    // replicates the page synthesis, then the Html rule chain step for
    // step (comments, script, style, head, tag strip, entity decode
    // with &amp; LAST, whitespace collapse; DuckDB regexp_replace needs
    // the explicit 'g' flag on every rule)
    "web_anchor_text" ->
      """WITH src AS (SELECT doc_id,
        | 'www.' || source ||
        | (CASE doc_id % 4 WHEN 0 THEN '.com' WHEN 1 THEN '.co.uk'
        |   WHEN 2 THEN '.org' ELSE '.io' END) AS src_host
        | FROM documents WHERE doc_id % 3 = 0),
        |a AS (
        | SELECT src_host,
        |  'site' || CAST(doc_id % 50 AS VARCHAR) || '.com' AS dst,
        |  'Link A' AS anchor
        | FROM src
        | UNION ALL
        | SELECT src_host, 'ref.org' AS dst, 'B' AS anchor FROM src)
        |SELECT dst, anchor,
        | CAST(count(DISTINCT src_host) AS BIGINT) AS n_hosts,
        | CAST(count(*) AS BIGINT) AS n_links
        |FROM a GROUP BY dst, anchor ORDER BY dst, anchor""".stripMargin,

    "web_anchor_text_incr" ->
      """SELECT CAST(0 AS BIGINT) AS n_report_diff,
        | CAST(1 AS BIGINT) AS merge_nonvacuous""".stripMargin,

    "web_anchor_text_sketch" ->
      """SELECT CAST(1 AS BIGINT) AS has_pairs,
        | CAST(0 AS BIGINT) AS n_total_diff,
        | CAST(0 AS BIGINT) AS n_oneshot_out_of_bound,
        | CAST(0 AS BIGINT) AS n_merged_out_of_bound""".stripMargin,

    "web_html_extract" ->
      """WITH b AS (SELECT doc_id,
        |  '<html><head><title>Doc ' || doc_id || ' &amp; source ' || source
        |   || '</title>' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN '<style>p { margin: 0; }</style>'
        |        ELSE '' END) || '</head><body>' ||
        |  (CASE WHEN doc_id % 2 = 0 THEN
        |    '<script type="text/javascript">var x = 1 < 2;</script>'
        |        ELSE '' END) ||
        |  (CASE WHEN doc_id % 4 = 1 THEN '<!-- footer <b>boiler</b> -->'
        |        ELSE '' END) ||
        |  '<h1>Doc ' || doc_id || '</h1><p>' || text || '</p>' ||
        |  (CASE WHEN doc_id % 3 = 0 THEN
        |    '<a href="https://site' || (doc_id % 50) || '.com/p/' || doc_id
        |     || '">Link A</a> <a href="https://ref.org/' || doc_id || '">B</a>'
        |        WHEN doc_id % 3 = 1 THEN
        |    '<a href="/rel/' || doc_id || '">only</a>'
        |        ELSE '' END) || '</body></html>' AS html
        | FROM documents),
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
        |e7 AS (SELECT doc_id, html,
        |  trim(regexp_replace(t, '\s+', ' ', 'g')) AS clean_text FROM e6),
        |ti AS (SELECT doc_id, trim(regexp_replace(replace(replace(replace(
        |  replace(replace(replace(
        |    regexp_extract(html, '(?is)<title[^>]*>(.*?)</title>', 1),
        |  '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''),
        |  '&nbsp;', ' '), '&amp;', '&'), '\s+', ' ', 'g')) AS title
        | FROM b),
        |lk AS (SELECT doc_id, regexp_extract_all(html,
        |  '(?is)<a\b[^>]*href\s*=\s*"([^"]*)"', 1) AS ls FROM b)
        |SELECT e7.doc_id, ti.title, e7.clean_text,
        | CAST(coalesce(len(lk.ls), 0) AS BIGINT) AS n_links,
        | coalesce(array_to_string(lk.ls, ' '), '') AS links,
        | CAST(floor(1000.0 * len(e7.clean_text) / len(e7.html)) AS BIGINT)
        |   AS density_milli
        |FROM e7 JOIN ti USING (doc_id) JOIN lk USING (doc_id)
        |ORDER BY e7.doc_id""".stripMargin,

    // every stage rebuilt from the residues: canonical keys + group
    // min-survivors (web_url_dedup's construction), then the
    // web_html_extract rule chain on the survivors only
    "pipeline_web_end_to_end" ->
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
        |ORDER BY kept.doc_id""".stripMargin,

    // edge list straight from the synthesis residues (only d%3=0 pages
    // carry absolute links, and their subdomain residue is 'www.'),
    // then the graph_pagerank fixed-point CTE chain on string keys
    "web_link_rank" ->
      """WITH p AS (SELECT doc_id, 'www.' || source ||
        |  (CASE WHEN doc_id % 4 = 0 THEN '.com' WHEN doc_id % 4 = 1
        |   THEN '.co.uk' WHEN doc_id % 4 = 2 THEN '.org' ELSE '.io' END)
        |   AS src
        | FROM documents WHERE doc_id % 3 = 0),
        |e AS (SELECT DISTINCT src, 'site' || (doc_id % 50) || '.com' AS dst
        |   FROM p
        | UNION
        | SELECT DISTINCT src, 'ref.org' AS dst FROM p),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
        | FROM e GROUP BY src),
        |nodes AS (SELECT src AS v FROM e UNION SELECT dst AS v FROM e),
        |s0 AS (SELECT v, CAST(1000000000 AS BIGINT) AS s FROM nodes),
        |c1 AS (SELECT e.dst AS v, CAST(sum(s0.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s0 ON s0.v = e.src
        | GROUP BY e.dst),
        |s1 AS (SELECT n.v, 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c1 c ON n.v = c.v),
        |c2 AS (SELECT e.dst AS v, CAST(sum(s1.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s1 ON s1.v = e.src
        | GROUP BY e.dst),
        |s2 AS (SELECT n.v, 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c2 c ON n.v = c.v),
        |c3 AS (SELECT e.dst AS v, CAST(sum(s2.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s2 ON s2.v = e.src
        | GROUP BY e.dst),
        |s3 AS (SELECT n.v, 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c3 c ON n.v = c.v)
        |SELECT v AS host, CAST(s AS BIGINT) AS s FROM s3
        |ORDER BY host""".stripMargin,

    "rel_except" ->
      """SELECT DISTINCT user_id FROM events
        |WHERE event_type = 'click' AND value > 200.0
        |EXCEPT
        |SELECT user_id FROM events
        |WHERE event_type = 'purchase' AND value > 200.0
        |ORDER BY user_id""".stripMargin,

    "rel_intersect" ->
      """SELECT DISTINCT user_id FROM events
        |WHERE event_type = 'click' AND value > 200.0
        |INTERSECT
        |SELECT user_id FROM events
        |WHERE event_type = 'purchase' AND value > 200.0
        |ORDER BY user_id""".stripMargin,

    // GROUPING() bit order follows the listed columns in both engines
    "rel_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin,

    "stats_histogram" ->
      """SELECT event_type,
        | greatest(0, least(19,
        |   CAST(floor((value - 0.0) / 50.0) AS BIGINT))) AS bucket,
        | count(*) AS cnt
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_funnel" ->
      """WITH e AS (SELECT user_id, event_type,
        |  CAST(epoch_us(ts) AS BIGINT) AS tus FROM events),
        |s1 AS (SELECT user_id, min(tus) AS t1 FROM e
        | WHERE event_type = 'signup' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(tus) AS t2 FROM e JOIN s1 USING (user_id)
        | WHERE event_type = 'click' AND tus > t1 GROUP BY 1),
        |s3 AS (SELECT DISTINCT e.user_id FROM e JOIN s2 USING (user_id)
        | WHERE event_type = 'purchase' AND tus > t2)
        |SELECT (SELECT count(*) FROM s1) AS n_signup,
        | (SELECT count(*) FROM s2) AS n_click_after,
        | (SELECT count(*) FROM s3) AS n_purchase_after""".stripMargin,

    "source_csv" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(sum(doc_id * n_chars) AS BIGINT) AS sum_id_chars,
        | CAST(1 AS BIGINT) AS n_corrupt
        |FROM documents""".stripMargin,

    "source_binary_files" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_files,
        | CAST(sum(length(text)) AS BIGINT) AS sum_bytes,
        | CAST(sum(doc_id * length(text)) AS BIGINT) AS sum_id_bytes,
        | CAST(2 AS BIGINT) AS n_quarantined,
        | CAST(1 AS BIGINT) AS n_oversized
        |FROM documents""".stripMargin,

    "source_fixed_width" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(sum(doc_id * n_chars) AS BIGINT) AS sum_id_chars,
        | CAST(2 AS BIGINT) AS n_corrupt
        |FROM documents""".stripMargin,

    // the evolved-shard merge is reconstructed by CASE on the shard
    // assignment rule (even docs went to the lang-less v1 shard)
    "source_schema_evolve" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(count(n_chars) AS BIGINT) AS n_chars_present,
        | CAST(sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_lang_present,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(count(DISTINCT CASE WHEN doc_id % 2 = 1 THEN lang END)
        |   AS BIGINT) AS n_langs
        |FROM documents""".stripMargin,

    // the ORC round trip preserves every value, so the checksums come
    // straight off the parquet original
    "source_orc" ->
      """SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        | CAST(sum(doc_id * n_chars) AS BIGINT) AS sum_id_chars
        |FROM documents WHERE source IN ('src1', 'src2', 'src3')
        |GROUP BY source ORDER BY source""".stripMargin,

    // the WARC round trip inverts the synthesis exactly, so every
    // aggregate derives from the source table
    "source_warc" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_records,
        | CAST(0 AS BIGINT) AS n_mismatch,
        | CAST(sum(len(text)) AS BIGINT) AS sum_payload_chars,
        | CAST(0 AS BIGINT) AS n_quarantined
        |FROM documents""".stripMargin,

    "source_jsonl" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(sum(length(text)) AS BIGINT) AS sum_chars,
        | CAST(sum(doc_id * length(text)) AS BIGINT) AS sum_id_chars,
        | CAST(1 AS BIGINT) AS n_corrupt
        |FROM documents""".stripMargin,

    "rel_profile" ->
      """WITH e AS (SELECT event_id, CAST(epoch_ns(ts) AS BIGINT) AS ts,
        |  user_id, event_type FROM events)
        |SELECT 'event_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_nulls,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        | CAST(min(event_id) AS VARCHAR) AS min_str,
        | CAST(max(event_id) AS VARCHAR) AS max_str FROM e
        |UNION ALL
        |SELECT 'ts', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(DISTINCT ts) AS BIGINT),
        | CAST(min(ts) AS VARCHAR), CAST(max(ts) AS VARCHAR) FROM e
        |UNION ALL
        |SELECT 'user_id', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(DISTINCT user_id) AS BIGINT),
        | CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
        |FROM e
        |UNION ALL
        |SELECT 'event_type', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        | CAST(count(DISTINCT event_type) AS BIGINT),
        | min(event_type), max(event_type) FROM e""".stripMargin,

    "quality_expectations" ->
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
        |) ORDER BY rule""".stripMargin,

    "quality_expectations_monotone" ->
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
        |) ORDER BY rule""".stripMargin,

    "corpus_profile" ->
      """WITH t AS (SELECT source, doc_id, string_split(text, ' ') AS toks
        |  FROM documents),
        |e AS (SELECT source, doc_id, len(toks) AS n_toks, unnest(toks) AS tok
        | FROM t)
        |SELECT source, count(DISTINCT doc_id) AS n_docs,
        | count(*) AS n_tokens, count(DISTINCT tok) AS n_vocab,
        | CAST(min(n_toks) AS BIGINT) AS min_len,
        | CAST(max(n_toks) AS BIGINT) AS max_len
        |FROM e GROUP BY source ORDER BY source""".stripMargin,

    "rel_ntile" ->
      """WITH r AS (SELECT event_type, value,
        |  CAST(ntile(4) OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS BIGINT) AS quartile
        | FROM events)
        |SELECT event_type, quartile, count(*) AS cnt,
        | round(max(value), 2) AS q_max
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "dedup_incremental" ->
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
        |ORDER BY new_id, corpus_id""".stripMargin,

    "dedup_incremental_drop" ->
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
         |ORDER BY drop_id""".stripMargin,

    // guard CTE: loud failure if a document outgrows the series cap —
    // see the dedup_spans note
    "dedup_containment" ->
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
        |ORDER BY a_id, b_id""".stripMargin,

    // (1.2 + 1) instead of the literal 2.2: k1+1 is COMPUTED in the
    // Spark side's Scala, and the double sum 1.2+1 sits a hair from the
    // double nearest to literal 2.2 — both engines must do the same op
    "search_bm25" ->
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
        |ORDER BY doc_id""".stripMargin,

    // sliding 2-window scan for the phrase 'batch data' — overlapping
    // occurrences count separately, same guard pattern as the
    // window-dedup oracles
    "search_phrase" ->
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
        |WHERE guard.ok = 1 ORDER BY doc_id""".stripMargin,

    // 1-based oracle positions cancel in the |pa − pb| distance
    "search_proximity" ->
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
        |WHERE guard.ok = 1 ORDER BY doc_id""".stripMargin,

    // first_pos is 0-based (min 1-based start − 1); the slice window is
    // [first_pos−2, first_pos+3] 0-based, clamped at both ends
    "search_snippets" ->
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
        |WHERE guard.ok = 1 ORDER BY o.doc_id""".stripMargin,

    "search_maxsim" ->
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
        |ORDER BY qid, rank""".stripMargin,

    "search_hybrid" ->
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
        |FROM f ORDER BY rank""".stripMargin,

    // banded ≡ brute-force equivalence is audited in-job (pigeonhole
    // makes the 4-band bucketing lossless) — the oracle is the constant
    // all-invariants-hold row; has_pairs = 1 because the corpus contains
    // exact duplicates (equal payload ⇒ Hamming 0)
    "media_phash_near" ->
      """SELECT CAST(0 AS BIGINT) AS n_hamming_viol,
        | CAST(0 AS BIGINT) AS n_order_viol,
        | CAST(1 AS BIGINT) AS has_pairs,
        | CAST(0 AS BIGINT) AS n_missed,
        | CAST(0 AS BIGINT) AS n_extra""".stripMargin,

    "media_dhash_near" ->
      """SELECT CAST(0 AS BIGINT) AS n_hamming_viol,
        | CAST(0 AS BIGINT) AS n_order_viol,
        | CAST(1 AS BIGINT) AS has_pairs,
        | CAST(0 AS BIGINT) AS n_missed,
        | CAST(0 AS BIGINT) AS n_extra""".stripMargin,

    // ------------------------------------------ round-6 pipeline additions

    "snapshot_diff" ->
      """WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 11 <> 0),
        |v2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        | FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT o_orderkey, change FROM (
        | SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |  CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
        |       WHEN v2.o_orderkey IS NULL THEN 'delete'
        |       WHEN (v1.o_custkey IS DISTINCT FROM v2.o_custkey)
        |         OR (v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus)
        |         OR (v1.o_totalprice IS DISTINCT FROM v2.o_totalprice)
        |         OR (v1.o_orderdate IS DISTINCT FROM v2.o_orderdate)
        |         OR (v1.o_orderpriority IS DISTINCT FROM v2.o_orderpriority)
        |       THEN 'update' END AS change
        | FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey) t
        |WHERE change IS NOT NULL ORDER BY o_orderkey""".stripMargin,

    "events_session_summary" ->
      """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts,
        |  event_id FROM events),
        |m AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts - lag(ts) OVER w >= 43200000000000 THEN 1 ELSE 0 END
        |    AS is_start
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(is_start) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND
        |  CURRENT ROW) - 1 AS session_seq FROM m)
        |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
        | min(ts) AS start_ts, max(ts) AS end_ts,
        | CAST(count(*) AS BIGINT) AS n_events,
        | max(ts) - min(ts) AS duration
        |FROM s GROUP BY user_id, session_seq
        |ORDER BY user_id, session_seq""".stripMargin,

    "scd2_history" ->
      """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts,
        |  event_id, event_type FROM events),
        |m AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
        |    AS is_start
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(is_start) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id) AS seg FROM m),
        |g AS (SELECT user_id, seg, min(event_type) AS state,
        |  min(ts) AS valid_from, min(event_id) AS min_eid,
        |  count(*) AS n_events
        | FROM s GROUP BY user_id, seg)
        |SELECT user_id, state, valid_from,
        | COALESCE(lead(valid_from) OVER w2, -1) AS valid_to,
        | CAST(n_events AS BIGINT) AS n_events,
        | CAST(CASE WHEN lead(valid_from) OVER w2 IS NULL
        |   THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM g WINDOW w2 AS (PARTITION BY user_id
        |  ORDER BY valid_from, min_eid)
        |ORDER BY user_id, valid_from, min_eid""".stripMargin,

    "sample_weighted" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |  -ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
        |      1, 6))::BIGINT + 1.0) / 16777216.0)
        |    / CAST(n_chars AS DOUBLE) AS race_key
        | FROM documents)
        |SELECT doc_id, n_chars FROM (
        | SELECT doc_id, n_chars FROM r ORDER BY race_key, doc_id LIMIT 100)
        |ORDER BY doc_id""".stripMargin,

    "privacy_k_anon" ->
      """SELECT c_nationkey, c_mktsegment,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(CASE WHEN count(*) >= 12 THEN 1 ELSE 0 END AS INTEGER)
        |   AS is_k_anon
        |FROM customer GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "privacy_k_anon_release" ->
      """WITH b AS (SELECT c_custkey, c_mktsegment,
        |  CAST(floor(c_acctbal) AS BIGINT)
        |   - ((CAST(floor(c_acctbal) AS BIGINT) % 2000 + 2000) % 2000)
        |   AS bal_band
        | FROM customer),
        |ok AS (SELECT c_mktsegment, bal_band FROM b
        | GROUP BY 1, 2 HAVING count(*) >= 30)
        |SELECT CAST(count(*) AS BIGINT) AS n_released,
        | CAST(sum(c_custkey) AS BIGINT) AS sum_keys
        |FROM b JOIN ok USING (c_mktsegment, bal_band)""".stripMargin,

    "sample_weighted_by_group" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  -ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
        |      1, 6))::BIGINT + 1.0) / 16777216.0)
        |    / CAST(n_chars AS DOUBLE) AS race_key
        | FROM documents),
        |k AS (SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY race_key, doc_id) AS rn FROM r)
        |SELECT doc_id, source, n_chars FROM k WHERE rn <= 10
        |ORDER BY source, doc_id""".stripMargin,

    // the twin is bit-identical to the window form (the race key is a
    // double either way; aggregator ties break by id like the window)
    "sample_weighted_by_group_topk" ->
      """WITH r AS (SELECT doc_id, source, n_chars,
        |  -ln((('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)),
        |      1, 6))::BIGINT + 1.0) / 16777216.0)
        |    / CAST(n_chars AS DOUBLE) AS race_key
        | FROM documents),
        |k AS (SELECT doc_id, source, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY race_key, doc_id) AS rn FROM r)
        |SELECT doc_id, source, n_chars FROM k WHERE rn <= 10
        |ORDER BY source, doc_id""".stripMargin,

    "privacy_pseudonymize" ->
      """SELECT c_custkey,
        | substr(md5('salt7:' || CAST(c_custkey AS VARCHAR)), 1, 16)
        |   AS token
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "privacy_t_closeness" ->
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
        |FROM e ORDER BY c_nationkey""".stripMargin,

    // identical EMD chain to privacy_t_closeness, with v pre-folded
    // into width-1000 buckets by the same floor-mod rule
    "privacy_t_closeness_bucketed" ->
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
        |FROM e ORDER BY c_nationkey""".stripMargin,

    "privacy_l_diversity" ->
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
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin,

    "text_pii_redact" ->
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
        |FROM p ORDER BY doc_id""".stripMargin,

    "stats_heavy_hitters" ->
      """WITH t AS (SELECT unnest(string_split(text, ' ')) AS tok
        | FROM documents)
        |SELECT tok AS item, CAST(count(*) AS BIGINT) AS cnt
        |FROM t GROUP BY tok
        |HAVING count(*) * 32 > (SELECT count(*) FROM t)
        |ORDER BY item""".stripMargin,

    "drift_ks" ->
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
        |FROM c, t ORDER BY d_num DESC, at_value ASC LIMIT 1""".stripMargin,

    "drift_chi2" ->
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
        |FROM j, t ORDER BY bucket""".stripMargin,

    "drift_psi" ->
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
        |FROM j ORDER BY bucket""".stripMargin,

    "dedup_keep_best" ->
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
         |ORDER BY doc_id""".stripMargin,

    "text_collocations" ->
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
        |ORDER BY pmi DESC, w1, w2 LIMIT 20""".stripMargin,

    // the INDEPENDENT v2 derivation — the Spark side reaches the same
    // relation only through diffRows + applyChanges
    "snapshot_apply" ->
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |      ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 7 <> 0
        |ORDER BY o_orderkey""".stripMargin,

    "events_attribution_decay" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  CAST(epoch_ns(ts) AS BIGINT) AS ts FROM events),
        |c AS (SELECT event_id AS click_id, user_id, ts AS click_ts
        | FROM e WHERE event_type = 'click'),
        |p AS (SELECT event_id AS purchase_id, user_id,
        |  ts AS purchase_ts FROM e WHERE event_type = 'purchase'),
        |j AS (SELECT purchase_id, click_id,
        |  3600000000000 - (purchase_ts - click_ts) AS weight_ns
        | FROM p JOIN c ON p.user_id = c.user_id
        |  AND c.click_ts < p.purchase_ts
        |  AND c.click_ts > p.purchase_ts - 3600000000000),
        |t AS (SELECT purchase_id, click_id, weight_ns,
        |  CAST(sum(weight_ns) OVER (PARTITION BY purchase_id)
        |    AS BIGINT) AS tot FROM j)
        |SELECT purchase_id, click_id,
        | CAST(weight_ns AS BIGINT) AS weight_ns,
        | CAST((weight_ns * 1000000) // tot AS BIGINT) AS share_ppm
        |FROM t ORDER BY purchase_id, click_id""".stripMargin,

    "corpus_version_diff" ->
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
        |GROUP BY source, change ORDER BY source, change""".stripMargin,

    "events_funnel_session" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
        |  CAST(epoch_ns(ts) AS BIGINT) AS ts FROM events),
        |m AS (SELECT *, CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts - lag(ts) OVER w >= 1800000000000 THEN 1 ELSE 0 END
        |   AS brk
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT user_id, event_type, ts,
        |  sum(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - 1
        |   AS sseq FROM m),
        |s1 AS (SELECT user_id, sseq, min(ts) AS t FROM s
        | WHERE event_type = 'signup' GROUP BY 1, 2),
        |s2 AS (SELECT s.user_id, s.sseq, min(s.ts) AS t FROM s
        | JOIN s1 ON s.user_id = s1.user_id AND s.sseq = s1.sseq
        | WHERE s.event_type = 'click' AND s.ts > s1.t GROUP BY 1, 2),
        |s3 AS (SELECT s.user_id, s.sseq, min(s.ts) AS t FROM s
        | JOIN s2 ON s.user_id = s2.user_id AND s.sseq = s2.sseq
        | WHERE s.event_type = 'purchase' AND s.ts > s2.t GROUP BY 1, 2)
        |SELECT CAST(stage AS INTEGER) AS stage, step,
        | CAST(n AS BIGINT) AS n_sessions FROM (
        | SELECT 1 AS stage, 'signup' AS step, count(*) AS n FROM s1
        | UNION ALL SELECT 2, 'click', count(*) FROM s2
        | UNION ALL SELECT 3, 'purchase', count(*) FROM s3)
        |ORDER BY stage""".stripMargin,

    "events_cusum" ->
      """WITH d0 AS (SELECT event_type,
        |  CAST(epoch_ns(ts) AS BIGINT) // 86400000000000 AS day,
        |  CAST(count(*) AS BIGINT) AS day_cnt
        | FROM events GROUP BY 1, 2),
        |d AS (SELECT event_type, day,
        |  CASE WHEN event_type = 'click' AND day >= 19740
        |   THEN day_cnt + 40 ELSE day_cnt END AS day_cnt FROM d0),
        |c AS (SELECT event_type, day, day_cnt,
        |  CAST(sum(day_cnt - 70) OVER (PARTITION BY event_type
        |   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |   CURRENT ROW) AS BIGINT) AS cc
        | FROM d),
        |s AS (SELECT event_type, day, day_cnt,
        |  cc - least(CAST(min(cc) OVER (PARTITION BY event_type
        |   ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND
        |   CURRENT ROW) AS BIGINT), 0) AS cusum
        | FROM c)
        |SELECT event_type, day, day_cnt, CAST(cusum AS BIGINT) AS cusum,
        | CAST(CASE WHEN cusum > 100 THEN 1 ELSE 0 END AS INTEGER)
        |   AS is_shift
        |FROM s ORDER BY event_type, day""".stripMargin,

    "events_paths" ->
      """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts,
        |  event_id, event_type FROM events),
        |p AS (SELECT event_type AS step1,
        |  lead(event_type, 1) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS step2,
        |  lead(event_type, 2) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS step3
        | FROM e)
        |SELECT step1, step2, step3, CAST(count(*) AS BIGINT) AS cnt
        |FROM p WHERE step2 IS NOT NULL AND step3 IS NOT NULL
        |GROUP BY 1, 2, 3
        |ORDER BY cnt DESC, step1, step2, step3 LIMIT 25""".stripMargin,

    "events_transitions" ->
      """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts,
        |  event_id, event_type FROM events),
        |p AS (SELECT event_type AS to_type,
        |  lag(event_type) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS from_type FROM e)
        |SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS cnt
        |FROM p WHERE from_type IS NOT NULL
        |GROUP BY from_type, to_type
        |ORDER BY from_type, to_type""".stripMargin,

    "text_keywords" ->
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
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,

    "mixture_temperature" ->
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
        |ORDER BY doc_id""".stripMargin,

    "outlier_mad" ->
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
        |FROM d JOIN mad USING (event_type) ORDER BY event_id""".stripMargin,

    // the histogram twin reproduces the exact lower medians — same
    // oracle as outlier_mad
    "outlier_mad_hist" ->
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
        |FROM d JOIN mad USING (event_type) ORDER BY event_id""".stripMargin,

    "outlier_winsorize" ->
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
        |FROM e JOIN b USING (event_type) ORDER BY event_id""".stripMargin,

    // the histogram twin reproduces the exact rank bounds — same oracle
    "outlier_winsorize_hist" ->
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
        |FROM e JOIN b USING (event_type) ORDER BY event_id""".stripMargin,

    "link_jaro_winkler" ->
      """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        | round(jaro_winkler_similarity(a.c_name, b.c_name), 4) AS jw_r4
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |WHERE a.c_custkey <= 30 AND b.c_custkey <= 30
        |ORDER BY a_id, b_id""".stripMargin,

    "link_damerau" ->
      """SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        | CAST(damerau_levenshtein(a.c_name, b.c_name) AS BIGINT)
        |   AS dl_dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |WHERE a.c_custkey <= 30 AND b.c_custkey <= 30
        |ORDER BY a_id, b_id""".stripMargin,

    "link_fuzzy_names" ->
      """WITH c AS (SELECT c_custkey, c_name FROM customer
        | WHERE c_custkey % 3 = 0)
        |SELECT a.c_custkey AS a_id, b.c_custkey AS b_id,
        | CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM c a, c b
        |WHERE a.c_custkey < b.c_custkey
        | AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY a_id, b_id""".stripMargin,

    "link_golden_record" ->
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
        |FROM f1 JOIN f2 USING (entity) ORDER BY entity""".stripMargin,

    "link_sorted_block" ->
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
        |ORDER BY a_id, b_id""".stripMargin,

    "link_fuzzy_incr" ->
      """WITH n AS (SELECT c_custkey, c_name FROM customer
        | WHERE c_custkey % 21 = 1),
        |m AS (SELECT c_custkey, c_name FROM customer
        | WHERE c_custkey % 3 = 0)
        |SELECT n.c_custkey AS new_id, m.c_custkey AS master_id,
        | CAST(levenshtein(n.c_name, m.c_name) AS BIGINT) AS dist
        |FROM n, m
        |WHERE levenshtein(n.c_name, m.c_name) <= 1
        |ORDER BY new_id, master_id""".stripMargin,

    // same scale-1e9 fixed-point fold as Dedup.lshPlan: integer ops are
    // bit-identical across engines, unlike double power()
    "dedup_lsh_plan" ->
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
        |FROM ob WHERE i = bands ORDER BY bands""".stripMargin,

    "rel_profile_diff" ->
      """WITH v1 AS (SELECT event_id, user_id, event_type FROM events),
        |v2 AS (SELECT event_id,
        |  CASE WHEN event_id % 5 = 0 THEN NULL ELSE user_id END
        |    AS user_id,
        |  user_id % 7 AS extra
        | FROM events WHERE event_id % 3 <> 0),
        |pa AS (
        | SELECT 'event_id' AS col, count(*) AS nr,
        |  sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS nn,
        |  count(DISTINCT event_id) AS nd,
        |  CAST(min(event_id) AS VARCHAR) AS mn,
        |  CAST(max(event_id) AS VARCHAR) AS mx FROM v1
        | UNION ALL SELECT 'user_id', count(*),
        |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
        |  count(DISTINCT user_id), CAST(min(user_id) AS VARCHAR),
        |  CAST(max(user_id) AS VARCHAR) FROM v1
        | UNION ALL SELECT 'event_type', count(*),
        |  sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END),
        |  count(DISTINCT event_type), min(event_type), max(event_type)
        |  FROM v1),
        |pb AS (
        | SELECT 'event_id' AS col, count(*) AS nr,
        |  sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS nn,
        |  count(DISTINCT event_id) AS nd,
        |  CAST(min(event_id) AS VARCHAR) AS mn,
        |  CAST(max(event_id) AS VARCHAR) AS mx FROM v2
        | UNION ALL SELECT 'user_id', count(*),
        |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
        |  count(DISTINCT user_id), CAST(min(user_id) AS VARCHAR),
        |  CAST(max(user_id) AS VARCHAR) FROM v2
        | UNION ALL SELECT 'extra', count(*),
        |  sum(CASE WHEN extra IS NULL THEN 1 ELSE 0 END),
        |  count(DISTINCT extra), CAST(min(extra) AS VARCHAR),
        |  CAST(max(extra) AS VARCHAR) FROM v2),
        |j AS (SELECT coalesce(pa.col, pb.col) AS c,
        |  pa.nr AS nra, pa.nn AS nna, pa.nd AS nda,
        |  pa.mn AS mna, pa.mx AS mxa,
        |  pb.nr AS nrb, pb.nn AS nnb, pb.nd AS ndb,
        |  pb.mn AS mnb, pb.mx AS mxb
        | FROM pa FULL OUTER JOIN pb ON pa.col = pb.col)
        |SELECT c AS "column",
        | CASE WHEN nra IS NULL THEN 'added'
        |   WHEN nrb IS NULL THEN 'dropped'
        |   ELSE 'kept' END AS presence,
        | CAST(coalesce(nra, -1) AS BIGINT) AS n_rows_a,
        | CAST(coalesce(nrb, -1) AS BIGINT) AS n_rows_b,
        | CAST(coalesce(nna, -1) AS BIGINT) AS n_nulls_a,
        | CAST(coalesce(nnb, -1) AS BIGINT) AS n_nulls_b,
        | CAST(coalesce(nda, -1) AS BIGINT) AS n_distinct_a,
        | CAST(coalesce(ndb, -1) AS BIGINT) AS n_distinct_b,
        | CAST(CASE WHEN nra IS NOT NULL AND nrb IS NOT NULL
        |   AND (mna IS DISTINCT FROM mnb OR mxa IS DISTINCT FROM mxb)
        |   THEN 1 ELSE 0 END AS BIGINT) AS range_changed,
        | CAST(CASE WHEN nra IS NOT NULL AND nrb IS NOT NULL
        |   AND nda <> ndb THEN 1 ELSE 0 END AS BIGINT)
        |   AS distinct_changed,
        | CAST(CASE WHEN nra IS NOT NULL AND nrb IS NOT NULL
        |   AND nna * nrb <> nnb * nra THEN 1 ELSE 0 END AS BIGINT)
        |   AS null_frac_changed
        |FROM j ORDER BY "column"""".stripMargin,

    "sample_curriculum" ->
      """WITH t AS (SELECT doc_id, n_chars,
        |  CAST(ntile(4) OVER (ORDER BY n_chars, doc_id) AS BIGINT)
        |    AS bucket
        | FROM documents)
        |SELECT doc_id, n_chars, bucket FROM t
        |WHERE substr(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE bucket WHEN 1 THEN '20' WHEN 2 THEN '40'
        |    WHEN 3 THEN '80' ELSE 'ff' END
        |ORDER BY doc_id""".stripMargin,

    // integer histogram boundaries: b_i = min score whose cumulative
    // count reaches i*n/4 (exact integer cross-multiply), bucket =
    // 1 + #(boundaries strictly below the score)
    "sample_curriculum_approx" ->
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
        |ORDER BY doc_id""".stripMargin,

    "pack_bins" ->
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
        |FROM pack ORDER BY doc_id""".stripMargin,

    "train_dense_ids" ->
      """SELECT doc_id,
        | CAST(row_number() OVER (ORDER BY md5(CAST(doc_id AS VARCHAR)))
        |   - 1 AS BIGINT) AS dense_id
        |FROM documents ORDER BY doc_id""".stripMargin,

    // replays the whole streamed chain batching-free: quality signals,
    // global min-id keeper, the 8-gram hit set vs the %97 bench slice,
    // the recursive full pair closure, the md5 split buckets
    "pipeline_stream_end_to_end" ->
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
         |ORDER BY doc_id""".stripMargin,

    "pipeline_end_to_end" ->
      """SELECT CAST(1 AS BIGINT) AS monotone_ok,
        | CAST(1 AS BIGINT) AS cover_ok,
        | CAST(0 AS BIGINT) AS n_leak_pairs,
        | CAST(1 AS BIGINT) AS leak_nonvacuous,
        | CAST(1 AS BIGINT) AS shards_ok,
        | CAST(1 AS BIGINT) AS pack_ok,
        | CAST(1 AS BIGINT) AS nonempty""".stripMargin,

    "dedup_lines_incr" ->
      """SELECT CAST(0 AS BIGINT) AS n_count_diff,
        | CAST(0 AS BIGINT) AS n_out_diff,
        | CAST(1 AS BIGINT) AS boiler_nonempty""".stripMargin,

    "corpus_card" ->
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
        |FROM da, ta""".stripMargin,

    "text_ngram_topk" ->
      """WITH t AS (SELECT doc_id, string_split(text, ' ') AS ts
        |  FROM documents),
        |g AS (SELECT DISTINCT doc_id,
        |  md5(array_to_string(ts[i.i : i.i + 2], ' ')) AS g
        | FROM t, generate_series(1, 4096) AS i(i)
        | WHERE i.i + 2 <= len(ts))
        |SELECT g, CAST(count(*) AS BIGINT) AS n_docs
        |FROM g GROUP BY g ORDER BY n_docs DESC, g LIMIT 20""".stripMargin,

    "text_vocab_growth" ->
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
        |FROM c WHERE ord % 50 = 0 ORDER BY ord""".stripMargin,

    "text_vocab_growth_bucketed" ->
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
        |FROM c, mx WHERE b * 50 <= m ORDER BY ord""".stripMargin,

    "text_gopher_rules" ->
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
        |FROM f ORDER BY doc_id""".stripMargin,

    // invariant oracle: repetition always compresses strictly better
    // and every ratio is in bounds, for all 500 docs
    "text_compress_ratio" ->
      """SELECT CAST(500 AS BIGINT) AS n_docs,
        | CAST(500 AS BIGINT) AS n_rep_better,
        | CAST(500 AS BIGINT) AS n_in_bounds""".stripMargin,

    "text_strip_accents" ->
      """WITH d AS (SELECT doc_id, text || ' ' ||
        |  CASE WHEN doc_id % 2 = 0
        |    THEN 'cafe' || chr(769) || ' nai' || chr(776) || 've A'
        |      || chr(778)
        |    ELSE 'caf' || chr(233) || ' na' || chr(239) || 've '
        |      || chr(197) END AS t
        | FROM documents)
        |SELECT doc_id, md5(strip_accents(t)) AS stripped_md5,
        | CAST(length(strip_accents(t)) AS BIGINT) AS n_chars
        |FROM d ORDER BY doc_id""".stripMargin,

    "text_unicode_nfc" ->
      """WITH d AS (SELECT doc_id, text || ' ' ||
        |  CASE WHEN doc_id % 2 = 0
        |    THEN 'cafe' || chr(769) || ' nai' || chr(776) || 've A'
        |      || chr(778)
        |    ELSE 'caf' || chr(233) || ' na' || chr(239) || 've '
        |      || chr(197) END AS t
        | FROM documents)
        |SELECT doc_id, md5(nfc_normalize(t)) AS norm_md5,
        | CAST(length(nfc_normalize(t)) AS BIGINT) AS n_chars
        |FROM d ORDER BY doc_id""".stripMargin,

    "text_c4_filters" ->
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
        |FROM c GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_lines" ->
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
        |FROM l GROUP BY doc_id ORDER BY doc_id""".stripMargin,
  )

  /** Shared oracle for exact token-set Jaccard at a given integer
    * threshold — also the oracle for MinHash+LSH, whose verified output
    * equals the exact result with probability 1 − 2e-15 per pair at the
    * configured band geometry (see Dedup.minHashLshPairs). `docsRel`
    * names the (possibly filtered) relation to pair up. */
  private def jaccardOracle(thresholdPct: Int,
                            docsRel: String = "documents"): String =
    s"""WITH toks AS (SELECT DISTINCT doc_id,
       |  unnest(string_split(text, ' ')) AS tok FROM $docsRel),
       |sz AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
       |ip AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
       | FROM toks a JOIN toks b ON a.tok = b.tok AND a.doc_id < b.doc_id
       | GROUP BY 1, 2)
       |SELECT a_id, b_id, inter, (sa.n + sb.n - inter) AS union_sz
       |FROM ip JOIN sz sa ON sa.doc_id = a_id JOIN sz sb ON sb.doc_id = b_id
       |WHERE inter * 100 >= (sa.n + sb.n - inter) * $thresholdPct
       |ORDER BY a_id, b_id""".stripMargin
}
