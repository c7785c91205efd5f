package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.pipeline.Multimodal.MediaRow

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "abcdefgh" * 8),   // 64 ascii bytes
    (2L, "abcdefgh" * 8),   // identical payload
    (3L, "zzzzyyyy" * 4))   // 32 bytes, different content
    .toDF("doc_id", "text")

  private lazy val media = Multimodal.fromDocuments(docs)

  test("fromDocuments: schema and metadata") {
    assert(media.columns.toSeq === Seq("media_id", "kind", "payload", "meta"))
    val r = media.orderBy("media_id").select("meta.byte_len").collect()
      .map(_.getLong(0)).toSeq
    assert(r === Seq(64L, 64L, 32L))
  }

  test("features: deterministic, identical payloads agree, hand-checked sums") {
    val f = Multimodal.features(media, dim = 8).orderBy("media_id")
      .collect().map(_.getSeq[Long](1).toSeq)
    assert(f(0) === f(1))
    // doc 1: bytes cycle "abcdefgh" (97..104), 8 repeats, bucket j gets
    // 8 copies of byte ('a'+j)
    assert(f(0) === (0 until 8).map(j => 8L * (97 + j)))
    // doc 3: "zzzzyyyy" → buckets 0-3 get 4×'z'(122), 4-7 get 4×'y'(121)
    assert(f(2) === Seq(488L, 488L, 488L, 488L, 484L, 484L, 484L, 484L))
  }

  test("floatFeatures feed ExactKnn directly: identical payloads are distance 0") {
    val emb = Multimodal.floatFeatures(media)
    val q = emb.where($"media_id" === 1).select("embedding")
      .head().getSeq[Float](0)
    val r = graft.query.ExactKnn.topK(emb, "embedding", "media_id", q, 2)
      .collect()
    assert(r.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(r.forall(_.getAs[Double]("sq_dist") === 0.0))
  }

  test("sampledFrames: every stride-th complete frame, correct sums") {
    // doc 3: 32 bytes, frame_bytes=8 → frames 0..3; stride 2 → frames 0, 2
    val r = Multimodal.sampledFrames(media.where($"media_id" === 3), 8, 2)
      .orderBy("frame_no").collect()
      .map(x => (x.getLong(1), x.getLong(2))).toSeq
    // every frame of doc 3 is "zzzzyyyy" = 4*122 + 4*121 = 972
    assert(r === Seq((0L, 972L), (2L, 972L)))
  }

  test("decodeAndPool: stub pixels then mean-pool shape and values") {
    val one = Multimodal.fromDocuments(Seq((9L, "aa")).toDF("doc_id", "text"))
    // 4x2 image from cycling "aa" → all pixels 97/255; pool 2x2 → 2x1
    val thumb = Multimodal.decodeAndPool(one, w = 4, h = 2, fw = 2, fh = 2)
      .head().getSeq[Float](1)
    assert(thumb.length === 2)
    assert(thumb.forall(p => math.abs(p - 97f / 255f) < 1e-6))
  }

  test("decodeBatched (mapPartitions shape) equals the column-level stub") {
    val ds = media.select($"media_id", $"payload").as[MediaRow]
    val batched = Multimodal.decodeBatched(ds, w = 8, h = 4)()
      .collect().map(d => d.media_id -> d.pixels.toSeq).toMap
    val columnar = media.select($"media_id",
      graft.functions.FastFunctions.stubDecodeGray($"payload", 8, 4))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(batched === columnar)
  }

  test("imageIoDecode: REAL PNG through the batched seam → aHash → near pairs") {
    import java.awt.image.BufferedImage
    // deterministic synthetic images: A = horizontal gradient with a dark
    // left block; B = A plus a tiny bottom-right blemish (near-dup); C =
    // inverted gradient (far). PNG-encoded via the same public JDK API.
    def png(f: (Int, Int) => Int): Array[Byte] = {
      val img = new BufferedImage(64, 32, BufferedImage.TYPE_BYTE_GRAY)
      for (y <- 0 until 32; x <- 0 until 64)
        img.getRaster.setSample(x, y, 0, f(x, y) & 0xFF)
      val bos = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, "png", bos))
      bos.toByteArray
    }
    val a = png((x, _) => if (x < 16) 20 else x * 4)
    val b = png((x, y) => if (x >= 60 && y >= 30) 255
      else if (x < 16) 20 else x * 4)
    val c = png((x, _) => if (x < 16) 235 else 255 - x * 4)
    // a real PNG payload decodes through the SAME batched seam the stub
    // uses — only the decode function differs
    val ds = Seq(Multimodal.MediaRow(1L, a), Multimodal.MediaRow(2L, b),
      Multimodal.MediaRow(3L, c)).toDS()
    val decoded = Multimodal
      .decodeBatched(ds, w = 16, h = 8)(Multimodal.imageIoDecode)
    val hashes = Multimodal
      .aHash64FromPixels(decoded.toDF("media_id", "pixels"), w = 16, h = 8)
    val pairs = Dedup.hammingNearPairs(hashes, "media_id", "ahash")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "blemished copy is a near-dup of A")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "inverted image is not near any")
    // parity with the stub-side hash pipeline: same kernel, so a decoded
    // row hashes identically whichever entry point computes it
    val direct = hashes.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again = Multimodal
      .aHash64FromPixels(decoded.toDF("media_id", "pixels"), w = 16, h = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(direct === again)
    // undecodable payload fails loudly, never silently hashes garbage
    val bad = Seq(Multimodal.MediaRow(9L, Array[Byte](1, 2, 3))).toDS()
    val ex = intercept[org.apache.spark.SparkException] {
      Multimodal.decodeBatched(bad, 16, 8)(Multimodal.imageIoDecode).collect()
    }
    assert(ex.getMessage.contains("decodable") ||
      Option(ex.getCause).exists(_.getMessage.contains("decodable")))
    // the per-partition reader-reuse path decodes BYTE-IDENTICALLY to
    // the one-shot registry-probe path on the same payloads
    val viaReuse = Multimodal.imageIoDecodeBatched(ds, 16, 8)
      .collect().map(r => r.media_id -> r.pixels.toSeq).toMap
    val viaOneShot = decoded
      .collect().map(r => r.media_id -> r.pixels.toSeq).toMap
    assert(viaReuse === viaOneShot)
  }

  test("keyFrames: change-scored top-k, first frame scores its own sum") {
    // one media, 4 frames of 8 bytes: sums 776 ('a'*8), 776, 976
    // ('z'*8), 776 → scores (vs prev, first = own sum): 776, 0, 200,
    // 200; top-3 by (score desc, frame_no): 0 (776), 2 (200), 3 (200)
    val d = Seq((1L, "aaaaaaaa" + "aaaaaaaa" + "zzzzzzzz" + "aaaaaaaa"))
      .toDF("doc_id", "text")
    val got = Multimodal.keyFrames(Multimodal.fromDocuments(d),
        frameBytes = 8, stride = 1, k = 3)
      .orderBy("rank").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got === Seq((0L, 776L, 1L), (2L, 200L, 2L), (3L, 200L, 3L)))
  }

  test("aHash64: deterministic, equal payloads collide, distinct differ") {
    val d = Seq(
      (1L, "the quick brown fox jumps over it"),
      (2L, "the quick brown fox jumps over it"), // exact dup of 1
      (3L, "a completely different text body here")).toDF("doc_id", "text")
    val h = Multimodal.aHash64(Multimodal.fromDocuments(d))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) === h(2L)) // equal bytes => equal hash
    assert(h(1L) !== h(3L)) // different content separates (this corpus)
    // stable across evaluations
    val h2 = Multimodal.aHash64(Multimodal.fromDocuments(d))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h === h2)
  }

  test("silenceStats: brute-force parity on every field; all-silent " +
      "and all-loud clips hit the trim-offset edges") {
    val fb = 4
    val th = 3000L
    val got = Multimodal.silenceStats(media, fb, th)
      .collect().map(r => (r.getLong(0),
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5)))).toMap
    val texts = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, t) <- texts) {
      val frames = t.getBytes("UTF-8").grouped(fb).filter(_.length == fb)
        .map(_.map(b => { val d = (b & 0xFF) - 128; d.toLong * d }).sum)
        .toSeq
      val silent = frames.map(_ < th)
      val runs = if (silent.isEmpty) Seq.empty
        else silent.foldLeft(List.empty[(Boolean, Int)]) {
          case ((s, c) :: tail, x) if s == x => (s, c + 1) :: tail
          case (acc, x) => (x, 1) :: acc
        }
      val longest = runs.collect { case (true, c) => c.toLong }
        .foldLeft(0L)(math.max)
      val loudIdx = silent.zipWithIndex.collect { case (false, i) => i }
      val lead = if (loudIdx.isEmpty) frames.size.toLong
        else loudIdx.min.toLong
      val trail = if (loudIdx.isEmpty) frames.size.toLong
        else frames.size - 1L - loudIdx.max
      assert(got(id) === ((frames.size.toLong,
        silent.count(identity).toLong, longest, lead, trail)), s"doc $id")
    }
    // synthetic edges: all-silent (flat 128s) and all-loud payloads
    import org.apache.spark.sql.functions.{lit, unhex}
    val flat = spark.range(1).select(lit(7L).as("media_id"),
      unhex(lit("80" * 12)).as("payload"))
    val f = Multimodal.silenceStats(flat, fb, th).head()
    assert((f.getLong(1), f.getLong(2), f.getLong(3), f.getLong(4),
      f.getLong(5)) === ((3L, 3L, 3L, 3L, 3L)))
    val loud = spark.range(1).select(lit(8L).as("media_id"),
      unhex(lit("00" * 12)).as("payload"))
    val l = Multimodal.silenceStats(loud, fb, th).head()
    assert((l.getLong(1), l.getLong(2), l.getLong(3), l.getLong(4),
      l.getLong(5)) === ((3L, 0L, 0L, 0L, 0L)))
  }
  test("shotSegments assigns contiguous shots at frame-sum jumps and " +
      "shotSummary reports the islands") {
    // one media, 16-byte frames, stride 1: payload crafted so frame
    // sums are [flat, flat, JUMP, flat] → 2 shots of lengths 2 and 2
    val flat = Array.fill(16)('a'.toByte)
    val loud = Array.fill(16)('z'.toByte) // jump = 16·25 = 400 > 150
    val payload = flat ++ flat ++ loud ++ loud
    val media = Seq((1L, payload)).toDF("media_id", "payload")
    val segs = Multimodal.shotSegments(media, frameBytes = 16,
        stride = 1, minJump = 150L)
      .collect().map(r => (r.getLong(1), r.getLong(4))).toSeq.sortBy(_._1)
    assert(segs.map(_._2) === Seq(0L, 0L, 1L, 1L))
    val sum = Multimodal.shotSummary(media, 16, 1, 150L).collect()(0)
    assert((sum.getLong(1), sum.getLong(2), sum.getLong(3)) ===
      ((4L, 2L, 2L)))
    // a jump below the threshold does not split
    val one = Multimodal.shotSummary(
      Seq((2L, flat ++ flat ++ flat)).toDF("media_id", "payload"),
      16, 1, 150L).collect()(0)
    assert((one.getLong(2), one.getLong(3)) === ((1L, 3L)))
  }
  test("wavBytesU8 -> wavDecodePcmU8 round-trips u8 mono samples " +
      "bit-exactly through a real RIFF container") {
    val rnd = new scala.util.Random(42)
    val samples = Array.fill(513)(rnd.nextInt(256).toByte)
    val decoded = Multimodal.wavDecodePcmU8(
      Multimodal.wavBytesU8(samples, 8000))
    assert(decoded.toSeq === samples.toSeq)
    // and the hand-rolled container is a container javax.sound accepts
    // at a different rate too
    assert(Multimodal.wavDecodePcmU8(
      Multimodal.wavBytesU8(samples, 44100)).toSeq === samples.toSeq)
  }
  test("wavDecodePcmU8 converts 16-bit signed stereo (JDK-written WAV) " +
      "to the u8 mono contract") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // 16-bit little-endian signed stereo, 6 frames with known samples
    val left = Array[Short](0, 1000, -1000, 32767, -32768, 256)
    val right = Array[Short](0, -1000, 3000, 32767, -32768, -256)
    val pcm = new Array[Byte](left.length * 4)
    for (i <- left.indices) {
      val l = left(i); val r = right(i)
      pcm(i * 4) = (l & 0xFF).toByte
      pcm(i * 4 + 1) = ((l >> 8) & 0xFF).toByte
      pcm(i * 4 + 2) = (r & 0xFF).toByte
      pcm(i * 4 + 3) = ((r >> 8) & 0xFF).toByte
    }
    val fmt = new AudioFormat(8000f, 16, 2, true, false)
    val bos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt,
        left.length.toLong),
      AudioFileFormat.Type.WAVE, bos)
    val got = Multimodal.wavDecodePcmU8(bos.toByteArray)
    val expected = left.indices.map { i =>
      val lu = (left(i) >> 8) + 128
      val ru = (right(i) >> 8) + 128
      ((lu + ru) / 2).toByte
    }
    assert(got.toSeq === expected)
    // the contention-free RIFF fast path and the javax.sound fallback
    // must agree byte for byte on the same JDK-written container
    assert(Multimodal.riffPcmU8(bos.toByteArray).toSeq ===
      Multimodal.javaxSoundPcmU8(bos.toByteArray).toSeq)
    // a non-RIFF container (AIFF: big-endian signed 16) exercises the
    // javax.sound fallback end-to-end through the public entry point
    val pcmBE = new Array[Byte](left.length * 4)
    for (i <- left.indices) {
      val l = left(i); val r = right(i)
      pcmBE(i * 4) = ((l >> 8) & 0xFF).toByte
      pcmBE(i * 4 + 1) = (l & 0xFF).toByte
      pcmBE(i * 4 + 2) = ((r >> 8) & 0xFF).toByte
      pcmBE(i * 4 + 3) = (r & 0xFF).toByte
    }
    val aos = new java.io.ByteArrayOutputStream()
    AudioSystem.write(
      new AudioInputStream(new java.io.ByteArrayInputStream(pcmBE),
        new AudioFormat(8000f, 16, 2, true, true), left.length.toLong),
      AudioFileFormat.Type.AIFF, aos)
    assert(Multimodal.wavDecodePcmU8(aos.toByteArray).toSeq === expected)
  }
  test("wavDecodePcmU8 fails loudly on undecodable payloads") {
    val ex = intercept[IllegalArgumentException] {
      Multimodal.wavDecodePcmU8("this is not audio".getBytes("UTF-8"))
    }
    assert(ex.getMessage.contains("not a decodable audio container"))
  }
  test("real-WAV end-to-end: decodeAudioBatched + pcmMedia compose into " +
      "silenceStats and lengthBatches unchanged") {
    // 3 clips: silent-lead (2 silent frames, 2 loud), all-silent,
    // loud-silent-loud; frames of 8 samples, silence = flat 128
    def frames(fs: Seq[Boolean]): Array[Byte] = fs.flatMap { loud =>
      if (loud) Array.tabulate(8)(i => (i * 30).toByte)
      else Array.fill(8)(128.toByte)
    }.toArray
    val clips = Seq(
      (1L, Seq(false, false, true, true)),
      (2L, Seq(false, false, false)),
      (3L, Seq(true, false, true)))
    val wavs = clips.map { case (id, fs) =>
      Multimodal.MediaRow(id, Multimodal.wavBytesU8(frames(fs), 8000))
    }.toDS()
    val pcm = Multimodal.decodeAudioBatched(wavs)()
    val media = Multimodal.pcmMedia(pcm.toDF, frameBytes = 8)
    val got = Multimodal.silenceStats(media, frameBytes = 8,
        silentBelow = 1000L)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    assert(got(1L) === ((4L, 2L, 2L, 2L, 0L)))
    assert(got(2L) === ((3L, 3L, 3L, 3L, 3L)))
    assert(got(3L) === ((3L, 1L, 1L, 0L, 0L)))
    val batches = Multimodal.lengthBatches(media, bandWidth = 16L,
        batchSize = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(batches === Set((1L, 32L, 0L), (2L, 16L, 0L), (3L, 16L, 0L)))
  }
  test("dHash64: gradient bits match a brute-force recompute; equal " +
      "payloads collide; global brightness shift is invariant") {
    val got = Multimodal.dHash64(media)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val texts = docs.collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    for ((id, t) <- texts.take(20)) {
      val bytes = t.getBytes("UTF-8")
      // stub decode to 18x16 then 2x2 mean-pool to 9x8 (same chain)
      val px = Array.tabulate(16, 18)((y, x) =>
        if (bytes.isEmpty) 0f
        else (bytes((y * 18 + x) % bytes.length) & 0xFF) / 255.0f)
      // double-accumulate then one float cast, the meanPool fold order
      val thumb = Array.tabulate(8, 9)((y, x) =>
        ((px(2 * y)(2 * x).toDouble + px(2 * y)(2 * x + 1) +
          px(2 * y + 1)(2 * x) + px(2 * y + 1)(2 * x + 1)) / 4.0).toFloat)
      var want = 0L
      for (r <- 0 until 8; c <- 0 until 8)
        if (thumb(r)(c) > thumb(r)(c + 1)) want |= (1L << (r * 8 + c))
      assert(got(id) === want, s"doc $id")
    }
    // identical payloads collide (Hamming 0)
    val dup = Seq((1L, "same bytes here"), (2L, "same bytes here"))
      .toDF("doc_id", "text")
    val dupMedia = Multimodal.fromDocuments(dup)
    val hs = Multimodal.dHash64(dupMedia).collect().map(_.getLong(1))
    assert(hs(0) === hs(1))
    // a global +10 brightness shift (no byte wraps) preserves every
    // local gradient, so the dHash is INVARIANT — the structural claim
    val base = Array.tabulate(64)(i => (40 + i * 3).toByte)
    val shifted = base.map(b => (b + 10).toByte)
    val pair = Seq((1L, base), (2L, shifted)).toDF("media_id", "payload")
    val ph = Multimodal.dHash64(pair).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ph(1L) === ph(2L))
  }
  test("audioFeatures: per-segment energy and strict zero crossings " +
      "match a brute-force recompute; flat 128 never crosses") {
    val rnd = new scala.util.Random(7)
    val clips = (1L to 6L).map { id =>
      val n = 40 + rnd.nextInt(40)
      id -> Array.fill(n)(rnd.nextInt(256).toByte)
    }
    val media = clips.toDF("media_id", "payload")
    val got = Multimodal.audioFeatures(media, nSegments = 3)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
      .toMap
    for ((id, p) <- clips) {
      val sl = p.length / 3
      for (seg <- 0 until 3) {
        val cs = p.slice(seg * sl, (seg + 1) * sl)
          .map(b => (b & 0xFF) - 128)
        val energy = cs.map(c => c.toLong * c).sum
        val crossings = cs.sliding(2).count {
          case Array(a, b) => a * b < 0
          case _ => false
        }.toLong
        assert(got((id, seg.toLong)) === ((energy, crossings)),
          s"clip $id seg $seg")
      }
    }
    // a flat-128 clip: zero energy, zero crossings in every segment
    val flat = Seq((9L, Array.fill(30)(128.toByte))).toDF("media_id", "payload")
    Multimodal.audioFeatures(flat, 3).collect().foreach { r =>
      assert((r.getLong(2), r.getLong(3)) === ((0L, 0L)))
    }
  }
  test("lengthBatches bands by byte length and cuts deterministic " +
      "batches inside each band") {
    import org.apache.spark.sql.functions.col
    // lengths 5,7 land in band 0; 105,101,108 in band 100; batch 2
    def media(id: Long, len: Int) = (id, Array.fill(len)('x'.toByte))
    val m = Seq(media(1, 5), media(2, 7), media(3, 105), media(4, 101),
      media(5, 108)).toDF("media_id", "payload")
      .withColumn("meta", org.apache.spark.sql.functions.struct(
        org.apache.spark.sql.functions.length(col("payload"))
          .cast("long").as("byte_len")))
    val got = Multimodal.lengthBatches(m, bandWidth = 100L, batchSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSet
    assert(got === Set(
      (1L, 0L, 0L), (2L, 0L, 0L),
      (3L, 100L, 0L), (4L, 100L, 0L), (5L, 100L, 1L)))
  }
}
