package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.FastFunctions.{litDoubles, pqEncodeF, pqReconstructF,
  squaredL2F}

/** Two-level residual (refinement) quantization on top of [[IvfPqBuilder]]
  * — the store-light rerank path. A FAISS `IndexRefineFlat`-style refine
  * step needs the ORIGINAL vectors (6 TB for 1B×1536 f32); this keeps
  * only a SECOND code layer (D₂ bytes/vector) trained on the level-1
  * reconstruction ERROR e = residual − books₁[codes₁], so candidate
  * rerank happens against centroid + books₁[codes₁] + books₂[codes₂] —
  * a strictly better reconstruction than level 1 alone at a few bytes
  * per vector, no originals required (the residual-quantization idea of
  * Chen et al. 2010; FAISS's `IndexIVFPQR`).
  *
  * Same build discipline as every fit here: level-2 codebooks train
  * driver-local over a capped error sample; the corpus-scaled encode is
  * ONE projection (error → D₂ kernel codes) with both codebook tables
  * riding as primitive literals. */
object Rq {

  /** Level-2 refinement model over a fitted level-1 [[IvfPqModel]]. */
  final case class RqModel(base: IvfPqModel,
                           refineBooks: Array[Array[Array[Double]]],
                           numDivisions2: Int, numCodes2: Int) {
    def subDim2: Int = base.dim / numDivisions2
  }

  /** The level-1 reconstruction error column e = residual −
    * books₁[codes₁] (f32): reconstruct with a ZERO centroid to get the
    * codebook contribution alone, subtract element-wise. */
  private def errorCol(model: IvfPqModel) = {
    val zeroCent = litDoubles(new Array[Double](model.dim))
    val books1 = litDoubles(model.codebooks.flatten.flatten)
    zip_with(col("residual"),
      pqReconstructF(zeroCent, col("codes"), books1, model.config.numCodes),
      (a, b) => (a - b).cast("float"))
  }

  /** Train level-2 codebooks on the error of `encoded` (the
    * (id, partition, residual, codes) relation a level-1 fit returns)
    * and encode every row: returns the model and `encoded` + `codes2`.
    * The error sample is driver-capped at numCodes2·cap rows. */
  def fitRefine(encoded: DataFrame, model: IvfPqModel, numDivisions2: Int,
                numCodes2: Int, maxIter: Int = 20, tol: Double = 1e-6,
                seed: Long = 42L,
                trainPointsPerCentroid: Int = 256): (RqModel, DataFrame) = {
    require(model.dim % numDivisions2 == 0,
      s"dim ${model.dim} must divide into $numDivisions2 refine divisions")
    val m2 = model.dim / numDivisions2
    val errs = encoded.select(errorCol(model).as("e"))
    val cap = numCodes2.toLong * trainPointsPerCentroid
    val nRows = if (trainPointsPerCentroid > 0) errs.count() else 0L
    val src =
      if (trainPointsPerCentroid > 0 && cap < nRows)
        errs.sample(withReplacement = false, cap.toDouble / nRows, seed)
      else errs
    val train = graft.functions.VecCollect.collectVecs(src)
    require(train.length >= numCodes2,
      s"RQ refine: error sample has ${train.length} vectors < " +
        s"numCodes2 C2=$numCodes2 — lower C2 or ingest more vectors " +
        "(k-means needs n >= k)")
    // overlapped like the level-1 fits (LocalKMeans.overlapIndexed):
    // independent per division, bit-identical to the sequential loop
    val books2 = LocalKMeans.overlapIndexed(numDivisions2) { dI =>
      val sliceData = train.map(r =>
        java.util.Arrays.copyOfRange(r, dI * m2, (dI + 1) * m2))
      LocalKMeans.fit(sliceData, numCodes2, maxIter, tol, seed + dI,
        init = "random").centroids
    }.toArray
    val rq = RqModel(model, books2, numDivisions2, numCodes2)
    val books2Lit = litDoubles(books2.flatten.flatten)
    val out = encoded.withColumn("codes2",
      pqEncodeF(errorCol(model), books2Lit, numDivisions2, numCodes2))
    (rq, out)
  }

  /** Two-level reconstruction centroid + books₁[codes₁] + books₂[codes₂]
    * of a (partition, codes, codes2) row — one projection, both books as
    * literals. */
  def reconstruct2(rq: RqModel): org.apache.spark.sql.Column = {
    val centLit = typedlit(rq.base.partitionCentroids.map(_.toSeq).toSeq)
    val books1 = litDoubles(rq.base.codebooks.flatten.flatten)
    val books2 = litDoubles(rq.refineBooks.flatten.flatten)
    val zeroCent = litDoubles(new Array[Double](rq.base.dim))
    val lvl1 = pqReconstructF(
      element_at(centLit, col("partition").cast("int") + 1),
      col("codes"), books1, rq.base.config.numCodes)
    val lvl2 = pqReconstructF(zeroCent, col("codes2"), books2, rq.numCodes2)
    zip_with(lvl1, lvl2, (a, b) => (a + b).cast("float"))
  }

  /** Persist the refined store: the level-1 store layout
    * ([[IvfPqBuilder.save]] — cell-partitioned codes, centroids,
    * codebooks, SHA-256-sidecar'd manifest) plus a `refine/` subtree:
    * level-2 codebooks, (id, codes2) pairs, and a refine manifest under
    * the same read-verify discipline. */
  def save(rq: RqModel, encoded2: DataFrame, path: String): Unit = {
    val spark = encoded2.sparkSession
    IvfPqBuilder.save(rq.base, encoded2, path)
    IvfPqBuilder.writeCodebooks(spark, s"$path/refine/codebooks",
      rq.refineBooks)
    encoded2.select("id", "codes2")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"$path/refine/codes2")
    val manifest = s"""{"num_divisions2":${rq.numDivisions2},""" +
      s""""num_codes2":${rq.numCodes2}}"""
    IvfPqBuilder.writeString(spark, s"$path/refine/manifest.json", manifest)
    IvfPqBuilder.writeString(spark, s"$path/refine/manifest.json.sha256",
      IvfPqBuilder.sha256Hex(manifest))
  }

  /** Load a refined store: the level-1 load (manifest re-hash + shape
    * checks) plus the refine layer, codes2 joined back onto the codes
    * relation. Returns (model, (id, partition, codes, codes2)). */
  def load(spark: org.apache.spark.sql.SparkSession,
           path: String): (RqModel, DataFrame) = {
    val (base, codes) = IvfPqBuilder.load(spark, path)
    val manifest = IvfPqBuilder.readVerifiedManifest(spark, s"$path/refine")
    val d2 = "\"num_divisions2\":(\\d+)".r.findFirstMatchIn(manifest)
      .map(_.group(1).toInt).getOrElse(
        throw new IllegalStateException(s"refine manifest missing d2: $manifest"))
    val c2 = "\"num_codes2\":(\\d+)".r.findFirstMatchIn(manifest)
      .map(_.group(1).toInt).getOrElse(
        throw new IllegalStateException(s"refine manifest missing c2: $manifest"))
    val m2 = base.dim / d2
    val books2 = {
      val out = IvfPqBuilder.readCodebooks(spark, s"$path/refine/codebooks")
      require(out.length == d2 && out.forall(_.length == c2),
        s"refine codebooks shape ${out.map(_.length).sum} != $d2 x $c2")
      out.foreach(_.foreach(v => require(v.length == m2,
        s"refine code vector length ${v.length} != subdim $m2")))
      out
    }
    val rq = RqModel(base, books2, d2, c2)
    val enc2 = codes.join(
      spark.read.parquet(s"$path/refine/codes2").select("id", "codes2"),
      "id")
    (rq, enc2)
  }

  /** Append-only DELETE for a refined store — the shared tombstone log
    * on the LEVEL-1 table ([[StoreLifecycle.deleteFromStore]]): [[load]]
    * anti-joins the base codes, and the codes2 INNER join then drops the
    * dead rows' refine codes too, so one log covers both layers. */
  def deleteFromStore(storePath: String, ids: DataFrame,
                      idCol: String): Unit =
    StoreLifecycle.deleteFromStore(storePath, ids, idCol)

  /** Maintenance compaction for a refined store — BOTH layers: the
    * refine/codes2 table rewrites to its live rows through the shared
    * flat rewrite and swap ([[StoreLifecycle.rewriteFlat]]), then the
    * level-1 codes fold through [[IvfPqBuilder.compactStore]] (shared
    * cell-partitioned rewrite + stats reset). A level-1-only compaction
    * would leave dead codes2 rows (harmless to reads, the id join drops
    * them, but unbounded as tombstone cycles accumulate). Order matters:
    * codes2's live set is derived from the tombstones, so it rewrites
    * FIRST (level-1 compaction drops the log). Bit-exact by construction
    * on both layers. */
  def compactStore(spark: org.apache.spark.sql.SparkSession,
                   path: String,
                   rowsPerFile: Long = 4L * 1000 * 1000): Unit = {
    StoreLifecycle.rewriteFlat(spark, s"$path/refine/codes2",
      StoreLifecycle.liveView(spark, path,
        spark.read.parquet(s"$path/refine/codes2")).select("id", "codes2"),
      rowsPerFile)
    IvfPqBuilder.compactStore(spark, path)
  }

  /** Refined top-k: level-1 ADC nominates k·kFactor candidates, the
    * exact distance to the TWO-LEVEL reconstruction re-ranks them — the
    * [[graft.query.AnnQuery.topKRerank]] shape with reconstructions in
    * place of originals. Output (id, sq_dist, rank 1..k). */
  def topKRefined(encoded2: DataFrame, rq: RqModel, q: Array[Double],
                  k: Int, nprobe: Int, kFactor: Int = 4): DataFrame = {
    val cand = graft.query.AnnQuery
      .topK(encoded2, rq.base, q, k * kFactor, nprobe)
      .select("id").collect().map(_.getLong(0)).toSeq
    val qf = q.map(_.toFloat).toSeq
    encoded2.where(col("id").isin(cand: _*))
      .select(col("id"),
        squaredL2F(reconstruct2(rq),
          graft.functions.VectorFunctions.vecLit(qf)).as("sq_dist"))
      .orderBy(col("sq_dist"), col("id"))
      .limit(k)
  }

  /** Batch refined queries — the [[graft.query.AnnQuery.batchTopKRerank]]
    * shape against two-level reconstructions instead of stored
    * originals: one batch ADC pass nominates k·kFactor candidates per
    * query, the candidate (qid, id) relation and the query vectors
    * broadcast onto ONE streamed pass over the codes (reconstruction is
    * a per-row kernel projection, no vector table needed), and a
    * map-side-combining bounded top-k keeps k per query. Output
    * (qid, id, sq_dist, rank). */
  def batchTopKRefined(encoded2: DataFrame, rq: RqModel,
                       queries: Seq[(Long, Array[Double])], k: Int,
                       nprobe: Int, kFactor: Int = 4): DataFrame = {
    val spark = encoded2.sparkSession
    import spark.implicits._
    val cand = graft.query.AnnQuery
      .batchTopK(encoded2, rq.base, queries, k * kFactor, nprobe)
      .select(col("qid"), col("id"))
    val qDf = queries.map { case (qid, q) => (qid, q.map(_.toFloat).toSeq) }
      .toDF("qid", "qvec")
    encoded2
      .join(broadcast(cand), "id")
      .join(broadcast(qDf), "qid")
      .select(col("qid"), col("id"),
        squaredL2F(reconstruct2(rq), col("qvec")).as("sq_dist"))
      .groupBy(col("qid"))
      .agg(graft.query.TopKAggregator.topK(k)(col("sq_dist"), col("id"))
        .as("hits"))
      .select(col("qid"), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col("qid"), col("hit.id").as("id"),
        col("hit.dist").as("sq_dist"),
        (col("pos") + 1).cast("long").as("rank"))
  }
}
