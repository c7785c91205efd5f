package graft.functions

import org.apache.spark.sql.DataFrame

/** Driver collection of a float-vector training sample without the
  * single-threaded driver-side decode.
  *
  * `Dataset[Array[Float]].collect()` deserializes every element through
  * the encoder ON THE DRIVER — one thread unboxing ~100M floats for a
  * 65k×1536 k-means sample. The round-15 build canary put the cost in
  * plain sight: collect-train-sample ran 30 s WALL at 1M rows against
  * 10.8 task-seconds — two thirds of the stage was the driver decoding
  * rows. Here each partition packs its vectors into ONE byte blob
  * executor-side (parallel, cheap), and the driver reassembles rows by
  * bulk `FloatBuffer.get` — a memcpy per row, not an object graph.
  * Row order is exactly `collect()`'s (partitions in order, rows in
  * partition order), so k-means seeds and strided sub-samples see the
  * identical sequence. */
object VecCollect {

  /** Bytes of one partition's blob: rows·dim f32s, computed in Long so
    * a partition past 2 GB fails loudly here instead of overflowing
    * into a negative or short allocation. */
  private[functions] def blobBytes(rows: Int, dim: Int): Int = {
    val bytes = rows.toLong * dim * 4
    require(bytes <= Int.MaxValue - 8,
      s"collectVecs: a partition of $rows rows x dim $dim is $bytes bytes, " +
        s"past the ${Int.MaxValue - 8}-byte array limit; repartition the " +
        "sample into more partitions")
    bytes.toInt
  }

  /** Collect the single array<float> column of `df` as
    * Array[Array[Float]], preserving collect() row order. */
  def collectVecs(df: DataFrame): Array[Array[Float]] = {
    val spark = df.sparkSession
    import spark.implicits._
    require(df.columns.length == 1,
      s"collectVecs expects a single vector column, got ${df.columns.toSeq}")
    val packed: Array[(Long, Int, Array[Byte])] = df
      .as[Array[Float]]
      .mapPartitions { it =>
        val rows = it.toArray
        val dim = if (rows.isEmpty) 0 else rows(0).length
        var i = 0
        while (i < rows.length) {
          require(rows(i) != null && rows(i).length == dim,
            s"collectVecs: ragged or null vector at partition row $i " +
              s"(${if (rows(i) == null) "null" else rows(i).length.toString}" +
              s" vs dim $dim)")
          i += 1
        }
        val bb = java.nio.ByteBuffer.allocate(blobBytes(rows.length, dim))
        val fb = bb.asFloatBuffer()
        i = 0
        while (i < rows.length) { fb.put(rows(i)); i += 1 }
        Iterator.single((rows.length.toLong, dim, bb.array()))
      }.collect()
    val total = packed.map(_._1).sum
    require(total <= Int.MaxValue, s"collectVecs: $total rows exceed Int range")
    val out = new Array[Array[Float]](total.toInt)
    var o = 0
    packed.foreach { case (n, dim, bytes) =>
      val fb = java.nio.ByteBuffer.wrap(bytes).asFloatBuffer()
      var i = 0L
      while (i < n) {
        val row = new Array[Float](dim)
        fb.get(row)
        out(o) = row
        o += 1
        i += 1
      }
    }
    out
  }
}
