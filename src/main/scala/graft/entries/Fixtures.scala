package graft
package entries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.attrs.VectorAttributes
import graft.index.{IvfPqBuilder, IvfPqConfig, OpqBuilder, Rq}
import graft.pipeline.Dedup

/** Fixtures and gate blocks shared by several entry families. Each memo
  * is a single instance: a fit, a saved store or a pair relation is
  * built once per sf dir, whichever family asks first. */
private[graft] object Fixtures {

  /** Fetch one embedding as the probe query vector (deterministic). */
  def queryVec(s: SparkSession, dir: String, vecId: Long): Array[Float] =
    Tables.embeddings(s, dir).where(col("vec_id") === vecId)
      .select("embedding").head().getSeq[Float](0).toArray

  /** Deterministic HTML-page synthesis for the web_html gate: wraps each
    * document's text in a page whose head/script/style/comment/link
    * structure varies by doc_id residue, so every
    * [[graft.pipeline.Html]] extraction rule is exercised (entities in
    * the title, a `<` inside script content, tags inside a comment,
    * 0/1/2 links). The DuckDB oracle replicates this construction AND
    * the rule chain verbatim. */
  def webHtmlDoc: Column = {
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

  /** Group-stable messy URLs: every triple g = doc_id div 3 canonicalizes
    * to ONE url key while the raw strings differ per doc (www, case,
    * default ports, tracking params, fragments) — the url-dedup gate. */
  def webGroupUrl: Column = {
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
  private val fitIdx = scala.collection.concurrent.TrieMap
    .empty[String, (graft.index.IvfPqModel, DataFrame)]
  def fittedIndex(s: SparkSession, dir: String)
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
  def cosFittedIndex(s: SparkSession, dir: String)
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
  def mipsFittedIndex(s: SparkSession, dir: String)
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

  def storedIndexPath(s: SparkSession, dir: String): String =
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
  def newStoreDir(prefix: String): String =
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
  def lshPairs90(s: SparkSession, dir: String): DataFrame = {
    val path = lshPairsMemo.getOrElseUpdate(dir, {
      val out = newStoreDir("graft_lsh_pairs")
      Dedup.minHashLshPairs(Tables.documents(s, dir), thresholdPct = 90)
        .write.mode("overwrite").parquet(out)
      out
    })
    s.read.parquet(path)
  }

  /** A two-level RQ refine layer fit afresh over the memoized IVF+PQ fit,
    * at the 16 x 16 refine shape every RQ entry gates: the refine model
    * (its `base` is the level-1 model) and the checkpointed level-2
    * codes. */
  def refinedIndex(s: SparkSession, dir: String): (Rq.RqModel, DataFrame) = {
    val (model, encoded) = fittedIndex(s, dir)
    val (rq, enc2raw) = Rq.fitRefine(encoded, model,
      numDivisions2 = 16, numCodes2 = 16, trainPointsPerCentroid = 0)
    (rq, enc2raw.localCheckpoint())
  }

  /** Fit the IVF+OPQ index once per sf dir — same discipline (and same
    * P/D/C shape) as [[fittedIndex]]; the rotation alternation is part of
    * the build stage, never a query timing. */
  private val fitOpq = scala.collection.concurrent.TrieMap
    .empty[String, (graft.index.OpqModel, DataFrame)]
  def fittedOpq(s: SparkSession, dir: String)
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
  def fittedSq8(s: SparkSession, dir: String)
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
  def fittedIvfSq8(s: SparkSession, dir: String)
      : (graft.index.IvfSq8Model, DataFrame) =
    fitIvfSq8Memo.getOrElseUpdate(dir, {
      val (model, enc0) = graft.index.IvfSq8.fit(
        Tables.embeddings(s, dir), "vec_id", "embedding", 64,
        numPartitions = 8)
      val enc = enc0.cache()
      enc.count()
      (model, enc)
    })

  private val storedOpqDir = scala.collection.concurrent.TrieMap.empty[String, String]
  def storedOpqPath(s: SparkSession, dir: String): String =
    storedOpqDir.getOrElseUpdate(dir, {
      val (model, encoded) = fittedOpq(s, dir)
      val out = newStoreDir("graft_opq")
      OpqBuilder.save(model, encoded, out)
      out
    })

  /** Shared oracle for exact token-set Jaccard at a given integer
    * threshold — also the oracle for MinHash+LSH, whose verified output
    * equals the exact result with probability 1 − 2e-15 per pair at the
    * configured band geometry (see Dedup.minHashLshPairs). `docsRel`
    * names the (possibly filtered) relation to pair up. */
  def jaccardOracle(thresholdPct: Int,
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

  /** The id-keyed parity aggregate of the store, batch and serve gates:
    * full outer join of two answers on `keys`, then n_rows,
    * n_id_mismatch (a row missing on one side) and n_dist_mismatch
    * (`differ` on the two distance columns, by default more than 1e-12
    * apart). */
  def idParity(l: DataFrame, r: DataFrame, lDist: String, rDist: String,
      keys: Seq[String] = Seq("id"),
      differ: (Column, Column) => Column = (a, b) => abs(a - b) > 1e-12)
      : DataFrame =
    l.join(r, keys, "full_outer").agg(
      count(lit(1)).cast("long").as("n_rows"),
      coalesce(sum(when(col(lDist).isNull || col(rDist).isNull, 1L)
        .otherwise(0L)), lit(0L)).as("n_id_mismatch"),
      coalesce(sum(when(differ(col(lDist), col(rDist)), 1L)
        .otherwise(0L)), lit(0L)).as("n_dist_mismatch"))
}
