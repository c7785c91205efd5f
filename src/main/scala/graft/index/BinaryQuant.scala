package graft.index

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.FastFunctions.{hammingDistF, litDoubles, litLongs, signBitsF}
import graft.query.ExactKnn

/** Binary quantization: a 1-bit-per-dimension vector sketch and the
  * Hamming-distance search path over it — the cheapest point on the
  * compression/recall curve, below SQ8 (8 bits/dim) and PQ (~bits/dim
  * configurable). Bit i is `v[i] > threshold[i]`; for zero-centered
  * embeddings the thresholds are all zero (sign bits), and for
  * uncentered corpora [[fitThresholds]] learns per-dimension means so
  * each bit splits the corpus roughly in half (maximum entropy per bit).
  *
  * Scale shape: signatures pack 64 dimensions per 8-byte long
  * (`Kernels.signBits`), so 100 TB of f32 embeddings becomes ~3 TB of
  * signatures; the scan ranks by `popcount(xor)` per word
  * (`Kernels.hammingDist`, codegen) reading the signature column only,
  * and `orderBy(hamming).limit(k)` compiles to `TakeOrderedAndProject`
  * (per-partition bounded top-k + driver merge — no global sort). The
  * standard production composition nominates by Hamming and re-ranks the
  * nominees exactly ([[rankedIdsRerank]]), the same refine pattern as
  * `AnnQuery.topKRerank`; signatures also feed the banded Hamming
  * near-dup join (`Dedup.hammingNearPairs`) unchanged via [[signature64]].
  *
  * Reference scope note: the reference ships PQ only (flechasdb
  * README.md:33-44); binary quantization is a beyond-reference member of
  * the same family, kept API-parallel with [[Sq8]].
  */
object BinaryQuant {

  /** Driver-side twin of `Kernels.signBits` — packs a query vector with
    * the exact comparison rule the executor kernel applies. */
  private[graft] def pack(q: Seq[Float], thr: Array[Double]): Array[Long] = {
    require(q.nonEmpty, "signBits needs a non-empty vector")
    require(q.length == thr.length,
      s"vector dimension mismatch: ${q.length} vs ${thr.length}")
    val words = new Array[Long]((q.length + 63) >>> 6)
    var i = 0
    while (i < q.length) {
      if (q(i).toDouble > thr(i)) words(i >>> 6) |= (1L << (i & 63))
      i += 1
    }
    words
  }

  /** Per-dimension corpus means (in double) — thresholds that give each
    * bit ~50% occupancy on uncentered embeddings. One map-side-combined
    * aggregate over (pos, value) pairs; the result is dim-sized. */
  def fitThresholds(df: DataFrame, vecCol: String): Array[Double] = {
    val rows = df
      .select(posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("pos").agg(avg(col("v").cast("double")).as("mu"))
      .collect()
    require(rows.nonEmpty, "fitThresholds over an empty corpus")
    val out = new Array[Double](rows.length)
    rows.foreach(r => out(r.getInt(0)) = r.getDouble(1))
    out
  }

  private def thresholdsOrZeros(thr: Array[Double], dim: Int): Array[Double] =
    if (thr != null) thr else new Array[Double](dim)

  /** The packed signature column: array<long>, ⌈dim/64⌉ words. */
  def signature(vecCol: Column, thresholds: Array[Double]): Column =
    signBitsF(vecCol, litDoubles(thresholds))

  /** Single-word (≤64-dim) signature as a plain long — the shape
    * `Dedup.hammingNearPairs` banding consumes for all-pairs near-dup. */
  def signature64(vecCol: Column, thresholds: Array[Double]): Column = {
    require(thresholds.length <= 64,
      s"signature64 packs ≤64 dims, got ${thresholds.length}")
    element_at(signature(vecCol, thresholds), 1)
  }

  /** Top-k by Hamming distance to `q`; ties broken by id. `thresholds`
    * null means sign bits (all-zero thresholds). */
  def topK(df: DataFrame, vecCol: String, idCol: String, q: Seq[Float],
           k: Int, thresholds: Array[Double] = null): DataFrame = {
    val thr = thresholdsOrZeros(thresholds, q.length)
    df.withColumn("hamming",
        hammingDistF(signBitsF(col(vecCol), litDoubles(thr)),
          litLongs(pack(q, thr))))
      .orderBy(col("hamming"), col(idCol))
      .limit(k)
  }

  /** (rank, id, hamming) integer-only projection of [[topK]] — Hamming
    * distances are integers, so unlike the float-distance paths the
    * distance itself is oracle-comparable. */
  def rankedIds(df: DataFrame, vecCol: String, idCol: String, q: Seq[Float],
                k: Int, thresholds: Array[Double] = null): DataFrame = {
    val w = Window.orderBy(col("hamming"), col(idCol))
    topK(df, vecCol, idCol, q, k, thresholds)
      .select(row_number().over(w).cast("long").as("rank"), col(idCol),
        col("hamming").cast("long"))
  }

  /** Batch Hamming top-k: many queries in one streamed pass — the
    * `ExactKnn.batchTopK` shape over signatures. Both sides binarize
    * through the same kernel (the broadcast query side once, the corpus
    * inside the streamed scan), the joined pair relation compares 8-byte
    * words instead of float vectors, and the bounded top-k aggregate
    * keeps ≤ k candidates per query per task, so the shuffle carries
    * k·|queries| rows at any corpus size. `dim` sizes the zero-threshold
    * default when `thresholds` is null. Output (qid, id, hamming, rank),
    * rank 1..k ascending by (hamming, id). */
  def batchTopK(df: DataFrame, vecCol: String, idCol: String,
                queries: DataFrame, qidCol: String, qvecCol: String, k: Int,
                thresholds: Array[Double], dim: Int): DataFrame = {
    val thr = litDoubles(thresholdsOrZeros(thresholds, dim))
    val qsigs = queries.select(col(qidCol),
      signBitsF(col(qvecCol), thr).as("__qsig"))
    val pairs = df
      .withColumn("__sig", signBitsF(col(vecCol), thr))
      .join(broadcast(qsigs))
      .select(col(qidCol), col(idCol).as("id"),
        hammingDistF(col("__sig"), col("__qsig")).cast("double").as("ham"))
    pairs.groupBy(col(qidCol))
      .agg(graft.query.TopKAggregator.topK(k)(col("ham"), col("id"))
        .as("hits"))
      .select(col(qidCol), posexplode(col("hits")).as(Seq("pos", "hit")))
      .select(col(qidCol), col("hit.id").as(idCol),
        col("hit.dist").cast("long").as("hamming"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Persist a binary-signature store: the packed signatures as a flat
    * (id, sig: array<long>) parquet under `codes/` (the shared lifecycle
    * location — [[StoreLifecycle]]), the dim threshold constants as one
    * parquet row, manifest + SHA-256 sidecar under the shared
    * read-verify discipline. Thresholds stay f64 and the signatures are
    * integers ⇒ a loaded store answers BIT-IDENTICALLY (Hamming
    * distances are exact integers — the strongest parity class of any
    * codec family here). */
  def save(thresholds: Array[Double], df: DataFrame, idCol: String,
           vecCol: String, path: String): Unit = {
    val spark = df.sparkSession
    import org.apache.spark.sql.SaveMode
    signatures(df, idCol, vecCol, thresholds)
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codes")
    MetaIO.write(spark.sparkContext.hadoopConfiguration,
      s"$path/thresholds", Seq("thresholds" -> MetaIO.DoublesT),
      Seq(Seq(thresholds)))
    // thresholds fingerprint in the manifest: appends validate against
    // it, so a same-dim wrong-threshold append (which would silently
    // corrupt Hamming rankings — the other families pass the typed
    // frozen model, this API takes a bare array) fails loudly instead
    val manifest = s"""{"vector_size":${thresholds.length},""" +
      s""""thresholds_sha256":"${thresholdsHash(thresholds)}"}"""
    IvfPqBuilder.writeString(spark, s"$path/manifest.json", manifest)
    IvfPqBuilder.writeString(spark, s"$path/manifest.json.sha256",
      IvfPqBuilder.sha256Hex(manifest))
  }

  /** Canonical fingerprint of the frozen thresholds — exact double bits,
    * so any numeric drift (not just shape) changes the hash. */
  private def thresholdsHash(thr: Array[Double]): String =
    IvfPqBuilder.sha256Hex(
      thr.map(java.lang.Double.doubleToLongBits).mkString(","))

  /** Load a binary store: (thresholds, live signatures) — manifest
    * re-hashed, threshold shape validated, tombstones anti-joined out
    * ([[StoreLifecycle.liveView]]). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String)
      : (Array[Double], DataFrame) = {
    val manifestStr = IvfPqBuilder.readVerifiedManifest(spark, path)
    val dim = "\"vector_size\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(manifestStr)
      .getOrElse(sys.error(s"bad BinaryQuant manifest: $manifestStr"))
      .group(1).toInt
    val thr = MetaIO.read(spark.sparkContext.hadoopConfiguration,
      s"$path/thresholds", Seq("thresholds" -> MetaIO.DoublesT))
      .head.head.asInstanceOf[Array[Double]]
    require(thr.length == dim,
      s"threshold shape ${thr.length} != manifest dim $dim")
    (thr, StoreLifecycle.liveView(spark, path,
      spark.read.parquet(s"$path/codes")))
  }

  /** The packed (id, sig) relation for `df` under frozen thresholds —
    * the store's row shape, exposed for build and append alike. */
  def signatures(df: DataFrame, idCol: String, vecCol: String,
                 thresholds: Array[Double]): DataFrame =
    df.select(col(idCol).cast("long").as("id"),
      signBitsF(col(vecCol), litDoubles(thresholds)).as("sig"))

  /** Incremental ingest against FROZEN thresholds (like every frozen
    * codec here: the bit boundaries never move once fit). The
    * caller-supplied thresholds are validated against the store's
    * manifest BEFORE any write: shape (a wrong-dim array would write
    * signatures with a different word count that only surfaces at the
    * next load) and exact value via the persisted fingerprint (a
    * same-dim wrong array would silently corrupt Hamming rankings).
    * Stores saved before the fingerprint existed validate shape only. */
  def appendToStore(thresholds: Array[Double], df: DataFrame,
                    idCol: String, vecCol: String, path: String): Unit = {
    val manifestStr =
      IvfPqBuilder.readVerifiedManifest(df.sparkSession, path)
    val dim = "\"vector_size\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(manifestStr)
      .getOrElse(sys.error(s"bad BinaryQuant manifest: $manifestStr"))
      .group(1).toInt
    require(thresholds.length == dim,
      s"append thresholds have ${thresholds.length} dims, store has $dim")
    "\"thresholds_sha256\"\\s*:\\s*\"([0-9a-f]+)\"".r
      .findFirstMatchIn(manifestStr).foreach { m =>
        require(m.group(1) == thresholdsHash(thresholds),
          "append thresholds differ from the store's frozen thresholds " +
            "(fingerprint mismatch) — a same-dim mismatch would silently " +
            "corrupt Hamming rankings")
      }
    StoreLifecycle.appendBatch(signatures(df, idCol, vecCol, thresholds),
      s"$path/codes")
  }

  /** Append-only DELETE — the shared tombstone log. */
  def deleteFromStore(storePath: String, ids: DataFrame,
                      idCol: String): Unit =
    StoreLifecycle.deleteFromStore(storePath, ids, idCol)

  /** Maintenance compaction — the shared flat-table rewrite + swap. */
  def compactStore(spark: org.apache.spark.sql.SparkSession, path: String,
                   rowsPerFile: Long = 4L * 1000 * 1000): Unit = {
    val (_, live) = load(spark, path)
    StoreLifecycle.compactFlat(spark, path,
      live.select("id", "sig"), rowsPerFile)
  }

  /** Top-k over STORED signatures: (id, hamming) ascending by
    * (hamming, id) — the loaded-store twin of [[topK]], same kernel,
    * same tie rule, integer distances ⇒ bit-identical to packing the
    * floats fresh. */
  def topKSignatures(sigs: DataFrame, q: Seq[Float], k: Int,
                     thresholds: Array[Double]): DataFrame =
    sigs.withColumn("hamming",
        hammingDistF(col("sig"), litLongs(pack(q, thresholds))))
      .orderBy(col("hamming"), col("id"))
      .limit(k)
      .select(col("id"), col("hamming"))

  /** Hamming-nominate + exact re-rank: the signature scan nominates
    * `kFactor·k` candidates, whose float vectors alone are re-scored by
    * exact L2 (the refine pattern, FAISS IndexRefineFlat shape). The
    * candidate ids push down as an IN filter on the re-rank scan, so the
    * expensive float read touches `kFactor·k` rows however large the
    * corpus. Output (rank, id). */
  def rankedIdsRerank(df: DataFrame, vecCol: String, idCol: String,
                      q: Seq[Float], k: Int, kFactor: Int = 4,
                      thresholds: Array[Double] = null): DataFrame = {
    require(kFactor >= 1, s"kFactor must be ≥1, got $kFactor")
    val candidates = topK(df, vecCol, idCol, q, k * kFactor, thresholds)
      .select(col(idCol)).collect().map(_.get(0))
    ExactKnn.rankedIds(
      df.where(col(idCol).isin(candidates.toIndexedSeq: _*)),
      vecCol, idCol, q, k)
  }
}
