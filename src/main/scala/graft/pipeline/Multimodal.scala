package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.functions.FastFunctions._

/** Multimodal columns for training-data pipelines: media payloads are
  * opaque `binary` columns with typed metadata riding alongside —
  * parquet stores them as byte arrays with full columnar pruning, so a
  * query touching only metadata never reads a payload byte.
  *
  * Media schema: (media_id long, kind string, payload binary,
  * meta struct<byte_len long, width int, height int, frame_bytes int>).
  *
  * Decoding: REAL JDK-only codecs exist for both modalities —
  * [[imageIoDecode]] (javax.imageio: PNG/JPEG/BMP/GIF → gray pixels)
  * and [[wavDecodePcmU8]] (javax.sound.sampled: WAV/PCM → u8 mono
  * samples) — each behind the batched per-partition seam a heavyweight
  * JNI codec would need ([[decodeBatched]] / [[decodeAudioBatched]]).
  * The deterministic stub ([[graft.functions.Kernels.stubDecodeGray]])
  * remains the decoder for the synthetic oracle corpus, whose payloads
  * are not container bytes; a production build swaps one function.
  *
  * Scale notes: every operator here is a narrow projection (no shuffle at
  * any scale); feature extraction emits fixed-width vectors, so the
  * downstream ANN/dedup machinery (graft.index, graft.query, Dedup)
  * applies unchanged to media embeddings.
  */
object Multimodal {

  /** Documents-as-media: UTF-8 payloads with typed metadata — the test
    * stand-in for an ingested media table (same shape, real bytes). */
  def fromDocuments(docs: DataFrame, width: Int = 16): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      lit("text").as("kind"),
      col("text").cast("binary").as("payload"),
      struct(
        length(col("text").cast("binary")).cast("long").as("byte_len"),
        lit(width).as("width"),
        lit(8).as("height"),
        lit(width).as("frame_bytes")).as("meta"))

  /** Deterministic payload features: dim bucketed byte sums per media
    * row. Integer-only, so the result is oracle-comparable. */
  def features(media: DataFrame, dim: Int = 8): DataFrame =
    media.select(col("media_id"),
      byteBucketSums(col("payload"), dim).as("feature"))

  /** Float feature vector (normalized bucket sums) — the embedding-shaped
    * output that feeds ExactKnn / IvfPqBuilder / Dedup directly. */
  def floatFeatures(media: DataFrame, dim: Int = 8): DataFrame =
    media.select(col("media_id"),
      transform(byteBucketSums(col("payload"), dim),
        x => (x.cast("double") / greatest(col("meta.byte_len"), lit(1)))
          .cast("float")).as("embedding"))

  /** Frame sampling over video-shaped payloads: byte-sum of every
    * stride-th complete frame, exploded to (media_id, frame_no, frame_sum). */
  def sampledFrames(media: DataFrame, frameBytes: Int, stride: Int): DataFrame =
    media
      .select(col("media_id"),
        posexplode(sampledFrameSums(col("payload"), frameBytes, stride))
          .as(Seq("pos", "frame_sum")))
      .select(col("media_id"),
        (col("pos") * stride).cast("long").as("frame_no"), col("frame_sum"))

  /** Audio-silence analysis over PCM-shaped payloads (the audio leg of
    * the modality set — silence trimming and dead-air filtering are the
    * first curation pass an audio corpus runs): per clip, frame count,
    * silent-frame count (energy = Σ(sample−128)² below the threshold),
    * the longest silent run, and the lead/trail trim offsets. ONE
    * kernel pass per row, no shuffle; swap the 8-bit stub for a real
    * 16-bit/float PCM reader behind the same column contract. */
  def silenceStats(media: DataFrame, frameBytes: Int,
                   silentBelow: Long): DataFrame = {
    val p = graft.functions.FastFunctions
      .silenceProfile(col("payload"), frameBytes, silentBelow)
    media.select(col("media_id"), p.as("__p"))
      .select(col("media_id"),
        element_at(col("__p"), 1).as("n_frames"),
        element_at(col("__p"), 2).as("n_silent"),
        element_at(col("__p"), 3).as("longest_silent_run"),
        element_at(col("__p"), 4).as("lead_silent"),
        element_at(col("__p"), 5).as("trail_silent"))
  }

  /** Keyframe selection over sampled frames: score each frame by its
    * absolute change vs the previous sampled frame (the first frame
    * scores its own sum — a scene always starts there) and keep the
    * top `k` most-changed frames per media, ties to the earlier frame.
    * The standard shot-boundary heuristic on the cheap frame-sum
    * signal; both windows are bounded by a single media's frame count,
    * never the corpus. Output: (media_id, frame_no, score, rank). */
  def keyFrames(media: DataFrame, frameBytes: Int, stride: Int,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy("media_id").orderBy("frame_no")
    val byScore = Window.partitionBy("media_id")
      .orderBy(col("score").desc, col("frame_no"))
    sampledFrames(media, frameBytes, stride)
      .withColumn("score", abs(col("frame_sum") -
        coalesce(lag(col("frame_sum"), 1).over(byTime), lit(0L))))
      .withColumn("rank", row_number().over(byScore).cast("long"))
      .where(col("rank") <= k)
      .select("media_id", "frame_no", "score", "rank")
  }

  /** Shot SEGMENTATION over sampled frames — [[keyFrames]] finds the
    * top-k change points, this assigns every frame to a contiguous
    * shot: a boundary falls wherever the frame-sum jump vs the
    * previous sampled frame exceeds `minJump` (the first frame opens
    * shot 0), and shot ids are the running boundary count — the
    * gaps-and-islands idiom on the cheap frame-sum signal, the first
    * structural pass a video curation pipeline runs (trim credits,
    * sample per shot, drop single-shot slideshows). Windows bounded by
    * one media's frames; all-integer. Output: sampled-frame rows +
    * (boundary, shot_no). */
  def shotSegments(media: DataFrame, frameBytes: Int, stride: Int,
                   minJump: Long): DataFrame = {
    require(minJump >= 1, s"minJump must be >= 1, got $minJump")
    import org.apache.spark.sql.expressions.Window
    val byTime = Window.partitionBy("media_id").orderBy("frame_no")
    val cum = Window.partitionBy("media_id").orderBy("frame_no")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sampledFrames(media, frameBytes, stride)
      .withColumn("prev", lag(col("frame_sum"), 1).over(byTime))
      .withColumn("boundary",
        when(col("prev").isNull, lit(0L))
          .otherwise((abs(col("frame_sum") - col("prev")) > minJump)
            .cast("long")))
      .withColumn("shot_no", sum(col("boundary")).over(cum))
      .drop("prev")
  }

  /** Per-media shot report from [[shotSegments]]:
    * (media_id, n_frames, n_shots, longest_shot). */
  def shotSummary(media: DataFrame, frameBytes: Int, stride: Int,
                  minJump: Long): DataFrame =
    shotSegments(media, frameBytes, stride, minJump)
      .groupBy("media_id", "shot_no").agg(count(lit(1)).as("len"))
      .groupBy("media_id").agg(
        sum(col("len")).as("n_frames"),
        count(lit(1)).as("n_shots"),
        max(col("len")).as("longest_shot"))

  /** Length-bucketed batch assembly — the pad-free batching trick: a
    * training batch mixing a 100-byte clip with a 10 KB one pads
    * everything to the longest member, so group media into
    * `bandWidth`-wide byte-length bands first and cut deterministic
    * `batchSize`-item batches inside each band (the last batch per
    * band runs partial). Assignment is a pure function of
    * (byte_len, media_id): one band-keyed row_number window, no
    * driver state, rerun-stable. Output: (media_id, band, batch_no). */
  def lengthBatches(media: DataFrame, bandWidth: Long,
                    batchSize: Int): DataFrame = {
    require(bandWidth >= 1, s"bandWidth must be >= 1, got $bandWidth")
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("band").orderBy("media_id")
    media.select(col("media_id"),
        (col("meta.byte_len") -
          pmod(col("meta.byte_len"), lit(bandWidth))).as("band"))
      .withColumn("__rn", row_number().over(w))
      .withColumn("batch_no",
        expr(s"(__rn - 1) div $batchSize").cast("long"))
      .drop("__rn")
  }

  /** 64-bit perceptual hash (aHash) per media row: STUB decode to w×h
    * gray, mean-pool to 8×8, bit i = pixel i above the thumbnail mean —
    * one codegen'd projection, no shuffle. Near-duplicate media then
    * reuses the text machinery unchanged: equal payloads hash equal,
    * perturbed payloads land at small Hamming distance, and
    * [[graft.pipeline.Dedup.hammingNearPairs]] finds all pairs within
    * Hamming 3 exactly (4-band pigeonhole). Requires 8 | w and 8 | h. */
  def aHash64(media: DataFrame, w: Int = 16, h: Int = 8): DataFrame = {
    require(w % 8 == 0 && h % 8 == 0, s"aHash pools ${w}x$h to 8x8")
    media.select(col("media_id"),
      bitsAboveMean(
        meanPool(stubDecodeGray(col("payload"), w, h), w, h, w / 8, h / 8))
        .as("ahash"))
  }

  /** 64-bit DIFFERENCE hash (dHash) per media row: STUB decode to
    * 18×16 gray, mean-pool to 9×8, bit = pixel strictly brighter than
    * its RIGHT NEIGHBOR — the gradient sibling of [[aHash64]]: aHash
    * keys on the global mean, dHash on local structure, so the two fail
    * differently and perceptual near-dup pipelines run both signatures
    * through the same [[graft.pipeline.Dedup.hammingNearPairs]]
    * machinery. One codegen'd projection, no shuffle. */
  def dHash64(media: DataFrame): DataFrame =
    media.select(col("media_id"),
      gradientBits(
        meanPool(stubDecodeGray(col("payload"), 18, 16), 18, 16, 2, 2),
        9, 8).as("dhash"))

  /** dHash over ALREADY-DECODED pixels (from [[decodeBatched]] with any
    * decoder, e.g. [[imageIoDecode]]): mean-pool w×h to 9×8, then the
    * same gradient bits — real-codec media joins the identical Hamming
    * near-dup machinery. Requires 9 | w and 8 | h. */
  def dHash64FromPixels(decoded: DataFrame, w: Int, h: Int): DataFrame = {
    require(w % 9 == 0 && h % 8 == 0, s"dHash pools ${w}x$h to 9x8")
    decoded.select(col("media_id"),
      gradientBits(meanPool(col("pixels"), w, h, w / 9, h / 8), 9, 8)
        .as("dhash"))
  }

  /** STUB decode + resize as one codegen'd projection: payload →
    * w×h gray pixels → mean-pooled (w/fw)×(h/fh) thumbnail. */
  def decodeAndPool(media: DataFrame, w: Int, h: Int,
                    fw: Int, fh: Int): DataFrame =
    media.select(col("media_id"),
      meanPool(stubDecodeGray(col("payload"), w, h), w, h, fw, fh)
        .as("thumb"))

  final case class MediaRow(media_id: Long, payload: Array[Byte])
  final case class DecodedRow(media_id: Long, pixels: Array[Float])

  /** The batched-decoder shape for heavyweight codecs (JNI image/audio
    * libraries that want per-partition init + reuse): one decoder
    * instance per partition, streamed over rows — the Scala analogue of
    * a pandas-batched UDF. The default decoder is the same deterministic
    * stub; a real codec plugs in via `decode`. */
  def decodeBatched(media: Dataset[MediaRow], w: Int, h: Int)(
      decode: (Array[Byte], Int, Int) => Array[Float] = stubDecode)
      : Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder setup would go here (codec contexts, etc.)
      rows.map(r => DecodedRow(r.media_id, decode(r.payload, w, h)))
    }
  }

  /** STUB: deterministic fake pixels (see object scaladoc). */
  def stubDecode(payload: Array[Byte], w: Int, h: Int): Array[Float] = {
    val n = w * h
    val out = new Array[Float](n)
    if (payload.nonEmpty) {
      var i = 0
      while (i < n) { out(i) = (payload(i % payload.length) & 0xFF) / 255.0f; i += 1 }
    }
    out
  }

  /** REAL image decode via `javax.imageio` (JDK-only, no external
    * codecs): decodes PNG/JPEG/BMP/GIF payloads, bilinear-resizes to
    * w×h grayscale, returns pixels in [0,1] row-major — a drop-in
    * `decode` for [[decodeBatched]], proving the batched seam carries a
    * real codec, not just the stub (which remains the decoder for the
    * synthetic oracle corpus, whose payloads are not image bytes).
    * Fails loudly on undecodable payloads: a silent fallback would turn
    * a corrupt shard into garbage hashes downstream.
    *
    * The payload wraps in an EXPLICIT MemoryCacheImageInputStream:
    * `ImageIO.read(InputStream)` defaults to a DISK-backed
    * FileCacheImageInputStream (a temp file per image — the same
    * shared-JDK-plumbing throughput trap as the WAV provider registry;
    * measured 145.8 → 62.0 µs/image single-thread and 35 → 23 µs
    * effective across 32 threads from this one line; the residual
    * parallel gap is the per-call reader-registry scan — a heavier
    * deployment would hold one ImageReader per partition through the
    * [[decodeBatched]] seam). */
  def imageIoDecode(payload: Array[Byte], w: Int, h: Int): Array[Float] = {
    // ImageIO.read(ImageInputStream) closes the stream itself — no
    // explicit close (a second close throws); the memory-backed stream
    // holds no resource beyond the heap either way
    val img = javax.imageio.ImageIO.read(
      new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(payload)))
    require(img != null, "payload is not a decodable image")
    grayResize(img, w, h)
  }

  /** Bilinear-resize a decoded image to w×h gray in [0,1] row-major —
    * shared by the one-shot and reader-reuse decode paths. */
  private def grayResize(img: java.awt.image.BufferedImage, w: Int,
                         h: Int): Array[Float] = {
    import java.awt.RenderingHints
    import java.awt.image.BufferedImage
    val scaled = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val g = scaled.createGraphics()
    try {
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    val raster = scaled.getRaster
    val out = new Array[Float](w * h)
    var y = 0
    var i = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        out(i) = raster.getSample(x, y, 0) / 255.0f
        i += 1
        x += 1
      }
      y += 1
    }
    out
  }

  /** Magic-byte format sniff for the reader cache — empty string means
    * "unknown, use the registry probe". */
  private def sniffImageFormat(p: Array[Byte]): String =
    if (p.length >= 4 && (p(0) & 0xFF) == 0x89 && p(1) == 'P' &&
        p(2) == 'N' && p(3) == 'G') "png"
    else if (p.length >= 2 && (p(0) & 0xFF) == 0xFF && (p(1) & 0xFF) == 0xD8)
      "jpeg"
    else if (p.length >= 3 && p(0) == 'G' && p(1) == 'I' && p(2) == 'F') "gif"
    else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') "bmp"
    else ""

  /** Batched image decode with PER-PARTITION READER REUSE — the
    * "decoder context per partition" [[decodeBatched]]'s seam exists
    * for, made concrete: each task sniffs the container by magic bytes,
    * holds ONE `ImageReader` per format (created through the registry
    * once, disposed at task completion), and feeds it a memory-backed
    * stream per payload. Skips the per-image registry scan that
    * `ImageIO.read` pays — the residual parallel bottleneck after the
    * disk-cache fix (probe numbers in BENCH_NOTES). Unknown containers
    * fall back to [[imageIoDecode]]'s registry probe; results are
    * byte-identical to `decodeBatched(…)(imageIoDecode)` (spec'd). */
  def imageIoDecodeBatched(media: Dataset[MediaRow], w: Int,
                           h: Int): Dataset[DecodedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val readers =
        scala.collection.mutable.Map.empty[String, javax.imageio.ImageReader]
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ =>
          readers.valuesIterator.foreach(_.dispose())))
      rows.map { r =>
        val fmt = sniffImageFormat(r.payload)
        val pixels =
          if (fmt.isEmpty) imageIoDecode(r.payload, w, h)
          else {
            val reader = readers.getOrElseUpdate(fmt, {
              val it = javax.imageio.ImageIO.getImageReadersByFormatName(fmt)
              require(it.hasNext, s"no ImageIO reader for format $fmt")
              it.next()
            })
            val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
              new java.io.ByteArrayInputStream(r.payload))
            val img =
              try {
                reader.setInput(iis, true, true)
                reader.read(0)
              } finally {
                reader.setInput(null)
                iis.close()
              }
            require(img != null, "payload is not a decodable image")
            grayResize(img, w, h)
          }
        DecodedRow(r.media_id, pixels)
      }
    }
  }

  /** aHash over ALREADY-DECODED pixels (from [[decodeBatched]] with any
    * decoder, e.g. [[imageIoDecode]]): mean-pool w×h to 8×8, bit i =
    * pixel i above the thumbnail mean — the same hash [[aHash64]]
    * computes stub-side, so real-codec media joins the identical
    * [[graft.pipeline.Dedup.hammingNearPairs]] near-dup machinery. */
  def aHash64FromPixels(decoded: DataFrame, w: Int, h: Int): DataFrame = {
    require(w % 8 == 0 && h % 8 == 0, s"aHash pools ${w}x$h to 8x8")
    decoded.select(col("media_id"),
      bitsAboveMean(meanPool(col("pixels"), w, h, w / 8, h / 8))
        .as("ahash"))
  }

  // ------------------------------------------------------------- audio

  /** REAL WAV/PCM decode (JDK-only — the audio twin of
    * [[imageIoDecode]]): parses the audio container, then converts any
    * linear-PCM payload — 8/16-bit, signed/unsigned, either endianness,
    * any channel count (channels average to mono in integer
    * arithmetic) — to the 8-bit-unsigned mono byte stream
    * [[silenceStats]] and [[lengthBatches]] consume (sample 128 =
    * silence). Fails loudly on anything undecodable or non-PCM: a
    * silent fallback would turn a corrupt shard into garbage silence
    * profiles downstream.
    *
    * RIFF/WAVE payloads take a HAND-PARSED fast path:
    * `AudioSystem.getAudioInputStream` routes every call through the
    * JDK's SYNCHRONIZED service-provider registry, which serializes an
    * executor's threads (measured: 52 µs/clip single-thread became
    * ~2.9 ms/clip across 32 threads — a 55× collapse; the hand parser
    * restores linear scaling). Non-RIFF containers the JDK understands
    * (AIFF, AU, …) still decode through the `javax.sound.sampled`
    * fallback with identical conversion arithmetic. */
  def wavDecodePcmU8(payload: Array[Byte]): Array[Byte] =
    if (payload.length >= 12 &&
        payload(0) == 'R' && payload(1) == 'I' &&
        payload(2) == 'F' && payload(3) == 'F' &&
        payload(8) == 'W' && payload(9) == 'A' &&
        payload(10) == 'V' && payload(11) == 'E')
      riffPcmU8(payload)
    else javaxSoundPcmU8(payload)

  /** Contention-free RIFF/WAVE parser (canonical container spec): walk
    * the word-aligned chunks for `fmt ` + `data`, linear PCM only.
    * WAV PCM is little-endian; 8-bit is unsigned, 16-bit signed. */
  private[pipeline] def riffPcmU8(p: Array[Byte]): Array[Byte] = {
    def u16(o: Int): Int = (p(o) & 0xFF) | ((p(o + 1) & 0xFF) << 8)
    def u32(o: Int): Long =
      (p(o) & 0xFF).toLong | ((p(o + 1) & 0xFF).toLong << 8) |
      ((p(o + 2) & 0xFF).toLong << 16) | ((p(o + 3) & 0xFF).toLong << 24)
    var off = 12
    var haveFmt = false
    var audioFmt = 0
    var ch = 0
    var bits = 0
    var dataOff = -1
    var dataLen = 0
    while (off + 8 <= p.length && (dataOff < 0 || !haveFmt)) {
      val isFmt = p(off) == 'f' && p(off + 1) == 'm' &&
        p(off + 2) == 't' && p(off + 3) == ' '
      val isData = p(off) == 'd' && p(off + 1) == 'a' &&
        p(off + 2) == 't' && p(off + 3) == 'a'
      val sz = u32(off + 4)
      require(off + 8 + sz <= p.length,
        s"truncated RIFF chunk at offset $off")
      if (isFmt) {
        require(sz >= 16, s"fmt chunk too short: $sz bytes")
        audioFmt = u16(off + 8)
        ch = u16(off + 10)
        bits = u16(off + 22)
        if (audioFmt == 0xFFFE) {
          // WAVE_FORMAT_EXTENSIBLE: common for multi-channel/24-bit-
          // capable encoders even when the payload is plain linear PCM.
          // Accept exactly the KSDATAFORMAT_SUBTYPE_PCM case (the
          // subformat GUID 00000001-0000-0010-8000-00aa00389b71 at
          // fmt+24, little-endian fields) and treat it as format 1;
          // anything else still fails loudly below.
          require(sz >= 40,
            s"extensible fmt chunk too short for a subformat GUID: $sz")
          val pcmGuid = Array[Int](0x01, 0x00, 0x00, 0x00, 0x00, 0x00,
            0x10, 0x00, 0x80, 0x00, 0x00, 0xAA, 0x00, 0x38, 0x9B, 0x71)
          val g = off + 32 // fmt data + 24: 16 base + cbSize(2) + valid(2) + mask(4)
          var i = 0
          var isPcm = true
          while (i < 16 && isPcm) {
            if ((p(g + i) & 0xFF) != pcmGuid(i)) isPcm = false
            i += 1
          }
          if (isPcm) audioFmt = 1
        }
        haveFmt = true
      } else if (isData) {
        dataOff = off + 8
        dataLen = sz.toInt
      }
      off += 8 + sz.toInt + (sz.toInt & 1) // chunks are word-aligned
    }
    require(haveFmt && dataOff >= 0,
      "RIFF/WAVE container missing its fmt /data chunk")
    require(audioFmt == 1,
      s"unsupported WAV audio format $audioFmt — linear PCM only")
    pcmToU8(p, dataOff, dataLen, ch, bits, signed = bits == 16, big = false)
  }

  /** `javax.sound.sampled` fallback for non-RIFF containers. */
  private[pipeline] def javaxSoundPcmU8(payload: Array[Byte]): Array[Byte] = {
    import javax.sound.sampled.{AudioFormat, AudioSystem}
    val in =
      try AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch {
        case e: javax.sound.sampled.UnsupportedAudioFileException =>
          throw new IllegalArgumentException(
            s"payload is not a decodable audio container: ${e.getMessage}", e)
      }
    val fmt = in.getFormat
    val enc = fmt.getEncoding
    val signed = enc == AudioFormat.Encoding.PCM_SIGNED
    require(signed || enc == AudioFormat.Encoding.PCM_UNSIGNED,
      s"unsupported audio encoding $enc — linear PCM only")
    val bytes = in.readAllBytes()
    pcmToU8(bytes, 0, bytes.length, fmt.getChannels,
      fmt.getSampleSizeInBits, signed, fmt.isBigEndian)
  }

  /** Shared PCM → u8-mono conversion (both container paths). */
  private def pcmToU8(bytes: Array[Byte], dataOff: Int, dataLen: Int,
      ch: Int, bits: Int, signed: Boolean, big: Boolean): Array[Byte] = {
    require(bits == 8 || bits == 16,
      s"unsupported PCM sample width $bits — 8 or 16 bits only")
    require(ch >= 1, s"bad channel count $ch")
    val frameSize = ch * (bits / 8)
    require(dataLen % frameSize == 0,
      s"truncated PCM data: $dataLen bytes, frame size $frameSize")
    val n = dataLen / frameSize
    val out = new Array[Byte](n)
    var f = 0
    while (f < n) {
      var acc = 0
      var c = 0
      while (c < ch) {
        val off = dataOff + f * frameSize + c * (bits / 8)
        val u8 =
          if (bits == 8) {
            if (signed) (bytes(off) + 128) & 0xFF else bytes(off) & 0xFF
          } else {
            val b0 = bytes(off) & 0xFF
            val b1 = bytes(off + 1) & 0xFF
            val raw = if (big) (b0 << 8) | b1 else (b1 << 8) | b0
            val centered = if (signed) (raw << 16) >> 16 else raw - 32768
            ((centered >> 8) + 128) & 0xFF
          }
        acc += u8
        c += 1
      }
      out(f) = (acc / ch).toByte // integer mixdown — deterministic
      f += 1
    }
    out
  }

  /** Canonical 44-byte-header RIFF/WAVE PCM container around raw
    * 8-bit-unsigned mono samples — hand-rolled (independent of
    * `javax.sound`'s writer, so the decode gate round-trips through a
    * header the decoder did not produce). Also the shard writer a
    * pipeline exporting audio snippets would use. */
  def wavBytesU8(samples: Array[Byte], sampleRate: Int = 8000): Array[Byte] = {
    require(sampleRate >= 1, s"bad sample rate $sampleRate")
    val n = samples.length
    // RIFF chunks are word-aligned: an odd-length data chunk carries one
    // zero pad byte, EXCLUDED from the data chunk's own size field but
    // INCLUDED in the enclosing RIFF size (the container walk rule
    // riffPcmU8 applies on read)
    val pad = n & 1
    val out = java.nio.ByteBuffer.allocate(44 + n + pad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + n + pad)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)             // audio format: linear PCM
      .putShort(1.toShort)             // channels: mono
      .putInt(sampleRate)
      .putInt(sampleRate)              // byte rate = rate·block align
      .putShort(1.toShort)             // block align: 1 byte/frame
      .putShort(8.toShort)             // bits per sample
      .put("data".getBytes("US-ASCII")).putInt(n)
      .put(samples)
    if (pad == 1) out.put(0.toByte)
    out.array()
  }

  /** One frame of an animated GIF for [[gifBytes]]: `pixels` are
    * row-major 8-bit GRAY values over a w×h sub-rectangle placed at
    * (left, top) on the logical canvas; `disposal` is the GIF89a
    * graphic-control disposal method applied AFTER this frame shows
    * ("none" | "doNotDispose" | "restoreToBackgroundColor" |
    * "restoreToPrevious"). */
  final case class GifFrame(pixels: Array[Byte], w: Int, h: Int,
                            left: Int, top: Int,
                            disposal: String = "doNotDispose")

  /** A decoded animated GIF: the logical canvas size and one COMPOSED
    * frame per image — each is what a viewer shows at that step, as
    * row-major integer-luma bytes ((299r + 587g + 114b + 500)/1000 —
    * hand-rolled integer arithmetic, so achromatic palettes round-trip
    * EXACTLY and no Java color-management transform touches the
    * values; an uncovered/transparent canvas pixel reads 0). */
  final case class GifDecoded(w: Int, h: Int, frames: Array[Array[Byte]])

  /** Hand-assembled ANIMATED GIF writer fixture — the [[wavBytesU8]]
    * counterpart for the video leg: wraps gray frame rectangles in a
    * real GIF89a container via the JDK's ImageIO GIF writer, with
    * explicit per-frame offsets and disposal methods in the image
    * metadata, so [[gifDecodeFrames]] round-trips through container
    * bytes this decoder did not produce. Frames use an EXPLICIT
    * 256-entry achromatic IndexColorModel (palette entry v = (v,v,v)),
    * so sample values survive encode→palette→decode bit-exactly (a
    * TYPE_BYTE_GRAY source would route through Java's gray↔sRGB color
    * management and shift midtones). The first frame should cover the
    * canvas (the logical screen is derived from it), and every frame
    * rect must lie inside it. */
  def gifBytes(frames: Seq[GifFrame]): Array[Byte] = {
    import java.awt.image.{BufferedImage, DataBufferByte, IndexColorModel}
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    require(frames.nonEmpty, "gifBytes: need at least one frame")
    frames.foreach { f =>
      require(f.pixels.length == f.w * f.h,
        s"gifBytes: frame pixel count ${f.pixels.length} != ${f.w}x${f.h}")
    }
    val cmap = Array.tabulate(256)(v => (0xFF << 24) | (v << 16) | (v << 8) | v)
    val icm = new IndexColorModel(8, 256, cmap, 0, false, -1,
      java.awt.image.DataBuffer.TYPE_BYTE)
    val it = ImageIO.getImageWritersByFormatName("gif")
    require(it.hasNext, "no ImageIO GIF writer in this JDK")
    val writer = it.next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { f =>
        val img = new BufferedImage(f.w, f.h,
          BufferedImage.TYPE_BYTE_INDEXED, icm)
        System.arraycopy(f.pixels, 0,
          img.getRaster.getDataBuffer.asInstanceOf[DataBufferByte].getData,
          0, f.pixels.length)
        val meta = writer.getDefaultImageMetadata(
          new ImageTypeSpecifier(img), writer.getDefaultWriteParam)
        val fmt = meta.getNativeMetadataFormatName
        val root = meta.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        def child(name: String): IIOMetadataNode = {
          var n = root.getFirstChild
          while (n != null && n.getNodeName != name) n = n.getNextSibling
          if (n != null) n.asInstanceOf[IIOMetadataNode]
          else {
            val c = new IIOMetadataNode(name)
            root.appendChild(c)
            c
          }
        }
        val gce = child("GraphicControlExtension")
        gce.setAttribute("disposalMethod", f.disposal)
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", "10")
        gce.setAttribute("transparentColorIndex", "0")
        val desc = child("ImageDescriptor")
        desc.setAttribute("imageLeftPosition", f.left.toString)
        desc.setAttribute("imageTopPosition", f.top.toString)
        desc.setAttribute("imageWidth", f.w.toString)
        desc.setAttribute("imageHeight", f.h.toString)
        desc.setAttribute("interlaceFlag", "FALSE")
        meta.setFromTree(fmt, root)
        writer.writeToSequence(new IIOImage(img, null, meta), null)
      }
      writer.endWriteSequence()
      ios.flush()
    } finally {
      writer.dispose()
      ios.close()
    }
    bos.toByteArray
  }

  /** REAL animated-GIF multi-frame decode with per-frame
    * disposal/offset COMPOSITION (GIF89a): each image is drawn at its
    * descriptor offset onto the persistent logical canvas, the
    * composed canvas is emitted as that frame's luma bytes, and the
    * frame's disposal method is then applied (doNotDispose keeps the
    * canvas, restoreToBackgroundColor clears the frame's rect,
    * restoreToPrevious rewinds the canvas to before the frame drew) —
    * what a viewer shows per step, which is what shot/keyframe
    * analysis must see (the raw sub-rectangles alone would score
    * every offset frame as a full scene change). JDK-only
    * (`javax.imageio`'s GIF reader + image metadata); fails loudly on
    * non-GIF payloads or undecodable streams — the decode-path
    * philosophy. The logical canvas size is read from the GIF header
    * itself (bytes 6..9, little-endian — the logical screen
    * descriptor), never guessed from frame extents.
    *
    * The per-call registry lookup mirrors [[imageIoDecode]]; batch
    * callers reuse one reader per task through [[gifFrameMedia]]. */
  def gifDecodeFrames(payload: Array[Byte]): GifDecoded = {
    require(payload.length >= 13 && payload(0) == 'G' &&
      payload(1) == 'I' && payload(2) == 'F',
      "payload is not a GIF container")
    val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
    require(it.hasNext, "no ImageIO GIF reader in this JDK")
    val reader = it.next()
    try gifDecodeWith(reader, payload)
    finally reader.dispose()
  }

  /** Core of [[gifDecodeFrames]] against a caller-owned reader (the
    * per-partition reuse seam). */
  private def gifDecodeWith(reader: javax.imageio.ImageReader,
                            p: Array[Byte]): GifDecoded = {
    import javax.imageio.metadata.IIOMetadataNode
    val w = (p(6) & 0xFF) | ((p(7) & 0xFF) << 8)
    val h = (p(8) & 0xFF) | ((p(9) & 0xFF) << 8)
    require(w > 0 && h > 0, s"degenerate GIF logical screen ${w}x$h")
    val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(p))
    try {
      reader.setInput(iis, false)
      val n = reader.getNumImages(true)
      require(n >= 1, "GIF stream holds no images")
      val canvas = new Array[Int](w * h) // ARGB, 0 = transparent
      val frames = new Array[Array[Byte]](n)
      var i = 0
      while (i < n) {
        val img = reader.read(i)
        val root = reader.getImageMetadata(i)
          .getAsTree("javax_imageio_gif_image_1.0")
          .asInstanceOf[IIOMetadataNode]
        var node = root.getFirstChild
        var left = 0
        var top = 0
        var disposal = "none"
        while (node != null) {
          node.getNodeName match {
            case "ImageDescriptor" =>
              val e = node.asInstanceOf[IIOMetadataNode]
              left = e.getAttribute("imageLeftPosition").toInt
              top = e.getAttribute("imageTopPosition").toInt
            case "GraphicControlExtension" =>
              val e = node.asInstanceOf[IIOMetadataNode]
              val d = e.getAttribute("disposalMethod")
              if (d != null && d.nonEmpty) disposal = d
            case _ =>
          }
          node = node.getNextSibling
        }
        val fw = img.getWidth
        val fh = img.getHeight
        require(left + fw <= w && top + fh <= h,
          s"GIF frame $i rect ${fw}x$fh@($left,$top) overflows the " +
            s"${w}x$h logical screen")
        val snapshot =
          if (disposal == "restoreToPrevious") canvas.clone() else null
        // draw: transparent source pixels leave the canvas untouched
        var y = 0
        while (y < fh) {
          var x = 0
          while (x < fw) {
            val argb = img.getRGB(x, y)
            if ((argb >>> 24) != 0) canvas((top + y) * w + (left + x)) = argb
            x += 1
          }
          y += 1
        }
        // composed frame -> integer luma (exact for achromatic colors)
        val luma = new Array[Byte](w * h)
        var j = 0
        while (j < canvas.length) {
          val c = canvas(j)
          if ((c >>> 24) != 0)
            luma(j) = ((299 * ((c >> 16) & 0xFF) + 587 * ((c >> 8) & 0xFF) +
              114 * (c & 0xFF) + 500) / 1000).toByte
          j += 1
        }
        frames(i) = luma
        disposal match {
          case "restoreToBackgroundColor" =>
            var yy = 0
            while (yy < fh) {
              java.util.Arrays.fill(canvas, (top + yy) * w + left,
                (top + yy) * w + left + fw, 0)
              yy += 1
            }
          case "restoreToPrevious" =>
            System.arraycopy(snapshot, 0, canvas, 0, canvas.length)
          case _ =>
        }
        i += 1
      }
      GifDecoded(w, h, frames)
    } finally iis.close()
  }

  /** Batched GIF decode feeding the existing frame-sum machinery: one
    * GIF reader per task (the [[imageIoDecodeBatched]] reuse
    * discipline — the registry scan happens once per partition, not
    * per payload), each media row becomes
    * (media_id, n_frames, w, h, payload) where `payload` is the
    * composed frames' luma bytes CONCATENATED — exactly the
    * frames-laid-out-consecutively contract [[sampledFrames]] /
    * [[keyFrames]] / [[shotSegments]] consume with
    * frameBytes = w·h and stride = 1, so the whole video analysis
    * family runs unchanged on real decoded GIF content. */
  def gifFrameMedia(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      val it = javax.imageio.ImageIO.getImageReadersByFormatName("gif")
      require(it.hasNext, "no ImageIO GIF reader in this JDK")
      val reader = it.next()
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit](_ => reader.dispose()))
      rows.map { r =>
        require(r.payload.length >= 13 && r.payload(0) == 'G' &&
          r.payload(1) == 'I' && r.payload(2) == 'F',
          s"media ${r.media_id}: payload is not a GIF container")
        val d = gifDecodeWith(reader, r.payload)
        val out = new Array[Byte](d.frames.length * d.w * d.h)
        var i = 0
        while (i < d.frames.length) {
          System.arraycopy(d.frames(i), 0, out, i * d.w * d.h, d.w * d.h)
          i += 1
        }
        (r.media_id, d.frames.length.toLong, d.w, d.h, out)
      }
    }.toDF("media_id", "n_frames", "w", "h", "payload")
  }

  /** The batched per-partition decode seam for audio — the
    * [[decodeBatched]] shape with a bytes→bytes contract (a container
    * payload in, the PCM-u8 sample stream out). One decoder context per
    * partition; the default decoder is the REAL [[wavDecodePcmU8]]. */
  def decodeAudioBatched(media: Dataset[MediaRow])(
      decode: Array[Byte] => Array[Byte] = wavDecodePcmU8)
      : Dataset[MediaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition decoder setup would go here (codec contexts, etc.)
      rows.map(r => MediaRow(r.media_id, decode(r.payload)))
    }
  }

  /** Per-segment audio descriptors over PCM-u8 payloads — the cheap
    * feature pass an audio curation pipeline runs after silence
    * trimming: the clip splits into `nSegments` equal segments and each
    * reports its ENERGY (Σ(sample−128)², the envelope) and strict ZERO
    * CROSSINGS (the classic noisiness/pitch proxy; a flat 128 never
    * crosses). ONE kernel pass per row
    * ([[graft.functions.Kernels.audioSegmentStats]]), no shuffle; all
    * integers, so the result is oracle-comparable. Output:
    * (media_id, seg, energy, crossings), one row per segment. */
  def audioFeatures(media: DataFrame, nSegments: Int): DataFrame = {
    require(nSegments >= 1, s"nSegments must be >= 1, got $nSegments")
    media.select(col("media_id"),
        graft.functions.FastFunctions
          .audioSegmentStats(col("payload"), nSegments).as("__st"))
      .select(col("media_id"),
        explode(sequence(lit(0), lit(nSegments - 1))).as("__s"), col("__st"))
      .select(col("media_id"), col("__s").cast("long").as("seg"),
        element_at(col("__st"), col("__s") * 2 + 1).as("energy"),
        element_at(col("__st"), col("__s") * 2 + 2).as("crossings"))
  }

  /** Re-wrap decoded PCM rows (from [[decodeAudioBatched]]) in the media
    * schema so [[silenceStats]] / [[lengthBatches]] compose UNCHANGED —
    * byte_len is the decoded sample count, width/height are not a
    * property of audio. */
  def pcmMedia(decoded: DataFrame, frameBytes: Int): DataFrame =
    decoded.select(col("media_id"), lit("audio").as("kind"), col("payload"),
      struct(
        length(col("payload")).cast("long").as("byte_len"),
        lit(0).as("width"), lit(0).as("height"),
        lit(frameBytes).as("frame_bytes")).as("meta"))
}
