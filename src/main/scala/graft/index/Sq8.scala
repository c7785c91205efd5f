package graft.index

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.FastFunctions._

/** 8-bit scalar quantization — the second index codec family beside
  * IVF+PQ (the FAISS ScalarQuantizer QT_8bit shape): a per-dimension
  * affine codec `code_i = rint((x_i − min_i)/Δ_i)` stores one byte per
  * dimension, 4× smaller than f32, with reconstruction error bounded by
  * Δ_i/2 per dimension. No training beyond per-dim min/max; queries run
  * asymmetric (full-precision query vs quantized corpus), so ranking
  * error is half a step per dimension — far finer than PQ at the same
  * byte budget for small dims, with none of PQ's codebook fits.
  *
  * Scale shape: `fit` is one posexplode + map-side-combined groupBy —
  * the shuffle carries dim rows per upstream partition, never the data;
  * `encode` and `topK` are narrow projections with the 2·dim codec
  * constants riding as primitive-backed plan literals.
  */
final case class Sq8Model(dim: Int, mins: Array[Double], scales: Array[Double])

object Sq8 {

  /** Exact per-dimension [min, max] over the corpus → affine codec. */
  def fit(df: DataFrame, vecCol: String, dim: Int): Sq8Model = {
    val mm = df
      .select(posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
      .orderBy("pos").collect()
    require(mm.length == dim, s"expected $dim dims, saw ${mm.length}")
    val mins = mm.map(_.getDouble(1))
    val scales = mm.map(r => (r.getDouble(2) - r.getDouble(1)) / 255.0)
    Sq8Model(dim, mins, scales)
  }

  /** (id, sq8: binary) — one byte per dimension. */
  def encode(model: Sq8Model, df: DataFrame, idCol: String,
             vecCol: String): DataFrame =
    df.select(col(idCol).as("id"),
      sq8Encode(col(vecCol), litDoubles(model.mins),
        litDoubles(model.scales)).as("sq8"))

  /** Decoded corpus (id, decoded: array<double>) — for error audits. */
  def decoded(model: Sq8Model, encoded: DataFrame): DataFrame =
    encoded.select(col("id"),
      sq8Decode(col("sq8"), litDoubles(model.mins),
        litDoubles(model.scales)).as("decoded"))

  /** Top-k by asymmetric distance: (id, sq_dist) ascending, k rows. */
  def topK(encoded: DataFrame, model: Sq8Model, q: Array[Double],
           k: Int): DataFrame =
    encoded
      .select(col("id"),
        sq8Dist(litDoubles(q), col("sq8"), litDoubles(model.mins),
          litDoubles(model.scales)).as("sq_dist"))
      .orderBy(col("sq_dist"), col("id"))
      .limit(k)

  /** Persist the index: byte codes as parquet, the 2·dim f64 codec
    * constants as one parquet row each, a JSON manifest — same store
    * discipline as the IVF+PQ index (everything through the path's
    * Hadoop filesystem, so hdfs://, s3a:// round-trip too). Constants
    * stay f64 ⇒ a loaded index answers BIT-IDENTICALLY to the in-memory
    * one (the ann_sq8_stored invariant). */
  def save(model: Sq8Model, encoded: DataFrame, path: String): Unit = {
    val spark = encoded.sparkSession
    import org.apache.spark.sql.SaveMode
    encoded.select("id", "sq8")
      .write.mode(SaveMode.Overwrite).parquet(s"$path/codes")
    MetaIO.write(spark.sparkContext.hadoopConfiguration, s"$path/codec",
      Seq("mins" -> MetaIO.DoublesT, "scales" -> MetaIO.DoublesT),
      Seq(Seq(model.mins, model.scales)))
    val manifest = s"""{"vector_size":${model.dim}}"""
    IvfPqBuilder.writeString(spark, s"$path/manifest.json", manifest)
    // read-verify discipline shared with the IVF+PQ store (reference
    // io.rs:286-300): SHA-256 sidecar, checked on load
    IvfPqBuilder.writeString(spark, s"$path/manifest.json.sha256",
      IvfPqBuilder.sha256Hex(manifest))
  }

  /** Load an Sq8 store; validates the codec shape against the manifest
    * (same load-time invariant discipline as IvfPqBuilder.load). Returns
    * the LIVE view — tombstoned ids anti-joined out, the shared delete
    * semantics ([[StoreLifecycle.liveView]]). */
  def load(spark: org.apache.spark.sql.SparkSession, path: String)
      : (Sq8Model, DataFrame) = {
    val manifestStr = IvfPqBuilder.readVerifiedManifest(spark, path)
    val dim = "\"vector_size\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(manifestStr)
      .getOrElse(sys.error(s"bad Sq8 manifest: $manifestStr"))
      .group(1).toInt
    val codec = MetaIO.read(spark.sparkContext.hadoopConfiguration,
      s"$path/codec",
      Seq("mins" -> MetaIO.DoublesT, "scales" -> MetaIO.DoublesT)).head
    val mins = codec(0).asInstanceOf[Array[Double]]
    val scales = codec(1).asInstanceOf[Array[Double]]
    require(mins.length == dim && scales.length == dim,
      s"codec shape ${mins.length}/${scales.length} != manifest dim $dim")
    (Sq8Model(dim, mins, scales),
      StoreLifecycle.liveView(spark, path,
        spark.read.parquet(s"$path/codes")))
  }

  /** Incremental ingest: encode `df` against the FROZEN codec (the
    * per-dim min/Δ never move once fit — new out-of-range values clamp
    * through the same `sq8Encode` rint+clamp every build row saw) and
    * append to the flat codes table. The SQ8 member of the shared store
    * lifecycle ([[StoreLifecycle]]); no drift sidecar — the codec has no
    * cell histogram to drift. */
  def appendToStore(model: Sq8Model, df: DataFrame, idCol: String,
                    vecCol: String, path: String): Unit =
    StoreLifecycle.appendBatch(encode(model, df, idCol, vecCol),
      s"$path/codes")

  /** Append-only DELETE — the shared tombstone log; [[load]] anti-joins
    * dead ids out. Idempotent. */
  def deleteFromStore(storePath: String, ids: DataFrame,
                      idCol: String): Unit =
    StoreLifecycle.deleteFromStore(storePath, ids, idCol)

  /** Maintenance compaction: fold append batches and tombstones back to
    * `ceil(live/rowsPerFile)` files via the shared flat-table rewrite +
    * crash-recoverable swap ([[StoreLifecycle.compactFlat]]). Bit-exact
    * — (id, sq8) rows ride unchanged. */
  def compactStore(spark: org.apache.spark.sql.SparkSession, path: String,
                   rowsPerFile: Long = 4L * 1000 * 1000): Unit = {
    val (_, live) = load(spark, path)
    StoreLifecycle.compactFlat(spark, path,
      live.select("id", "sq8"), rowsPerFile)
  }
}
