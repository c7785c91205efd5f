package graft
package entries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.pipeline.{Dedup, Multimodal}
import graft.query.ExactKnn

/** media_* entries: the multimodal binary-column family. */
private[graft] object MediaEntries {

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

  def entries: Seq[Entry] = Seq(
    // multimodal → similarity composition: media float features (bucket
    // sums normalized by byte length, cast to f32) feed the exact k-NN
    // machinery unchanged
    Entry("media_knn", (s, dir) => {
      val emb = Multimodal.floatFeatures(
        Multimodal.fromDocuments(Tables.documents(s, dir)))
      val q = emb.where(col("media_id") === 0)
        .select("embedding").head().getSeq[Float](0).toArray
      ExactKnn.rankedIds(emb, "embedding", "media_id", q, 10)
    },
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
        |FROM dd ORDER BY sq, media_id LIMIT 10""".stripMargin),

    Entry("media_meta", (s, dir) =>
      Multimodal.fromDocuments(Tables.documents(s, dir))
        .select(col("media_id"), col("kind"), col("meta.byte_len").as("byte_len"))
        .orderBy("media_id"),
      """SELECT doc_id AS media_id, 'text' AS kind,
        | CAST(octet_length(encode(text)) AS BIGINT) AS byte_len
        |FROM documents ORDER BY media_id""".stripMargin),

    // audio leg of the modality set: silence/energy profile over the
    // PCM-shaped payload bytes — frame energy Σ(sample−128)², silent
    // below 33000 (the corpus frame-energy median, so both classes and
    // real runs occur); the oracle rebuilds frames, flags, the longest
    // run (gaps-and-islands) and the trim offsets from the same bytes
    Entry("media_audio_silence", (s, dir) =>
      Multimodal.silenceStats(
          Multimodal.fromDocuments(Tables.documents(s, dir)),
          frameBytes = 16, silentBelow = 33000L)
        .orderBy("media_id"),
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
        |ORDER BY media_id""".stripMargin),

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
    Entry("media_audio_wav", (s, dir) =>
      Multimodal.silenceStats(wavRoundTripMedia(s, dir),
          frameBytes = 16, silentBelow = 20000L)
        .orderBy("media_id"),
      // replays the per-doc SAMPLE FORMULA (never the WAV container):
      // frame energies from the synthesized u8 values, then the same
      // gaps-and-islands runs/trim shape as media_audio_silence
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
        |ORDER BY media_id""".stripMargin),

    // per-segment audio descriptors (energy envelope + strict zero
    // crossings) over the SAME WAV-round-tripped corpus — the feature
    // pass after silence trimming, one audioSegmentStats kernel pass;
    // the oracle recomputes both stats per quarter-clip segment from
    // the sample formula (lead() pairs, in-segment only, flat-128
    // never crosses)
    Entry("media_audio_features", (s, dir) =>
      Multimodal.audioFeatures(wavRoundTripMedia(s, dir), nSegments = 4)
        .orderBy("media_id", "seg"),
      // same sample formula; quarter-clip segments (n = 128 + 16k is
      // always divisible by 4, so no remainder tail); crossings pair
      // (i, i+1) in-segment via lead(), strict centered product < 0
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
        |FROM g GROUP BY 1, 2 ORDER BY media_id, seg""".stripMargin),

    // feature vector exploded to scalar rows for the oracle compare
    Entry("media_features", (s, dir) =>
      Multimodal.features(Multimodal.fromDocuments(Tables.documents(s, dir)))
        .select(col("media_id"), posexplode(col("feature")).as(Seq("j", "fsum")))
        .select(col("media_id"), col("j").cast("long").as("j"), col("fsum"))
        .orderBy("media_id", "j"),
      """WITH b AS (SELECT doc_id, (t.i - 1) % 8 AS j,
        |  sum(ascii(substring(text, t.i, 1))) AS s
        | FROM documents, generate_series(1, 8192) AS t(i)
        | WHERE t.i <= length(text)
        | GROUP BY 1, 2)
        |SELECT d.doc_id AS media_id, CAST(g.j AS BIGINT) AS j,
        | CAST(coalesce(b.s, 0) AS BIGINT) AS fsum
        |FROM documents d CROSS JOIN generate_series(0, 7) AS g(j)
        |LEFT JOIN b ON b.doc_id = d.doc_id AND b.j = g.j
        |ORDER BY media_id, j""".stripMargin),

    Entry("media_frame_sums", (s, dir) =>
      Multimodal.sampledFrames(
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        frameBytes = 16, stride = 4)
        .orderBy("media_id", "frame_no"),
      """WITH fr AS (SELECT doc_id, text, t.f AS frame_no
        | FROM documents, generate_series(0, 511) AS t(f)
        | WHERE t.f <= CAST(length(text) AS BIGINT) // 16 - 1
        |   AND t.f % 4 = 0)
        |SELECT doc_id AS media_id, CAST(frame_no AS BIGINT) AS frame_no,
        | CAST(sum(ascii(substring(text,
        |   CAST(frame_no * 16 + i.i AS INT), 1))) AS BIGINT) AS frame_sum
        |FROM fr, generate_series(1, 16) AS i(i)
        |GROUP BY doc_id, frame_no ORDER BY media_id, frame_no""".stripMargin),

    // keyframe selection: per-media top-3 frames by absolute change
    // vs the previous sampled frame (the shot-boundary heuristic on
    // the frame-sum signal); windows bounded by one media's frames
    Entry("media_keyframes", (s, dir) =>
      Multimodal.keyFrames(
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        frameBytes = 16, stride = 4, k = 3)
        .orderBy("media_id", "rank"),
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
        |FROM r WHERE rank <= 3 ORDER BY media_id, rank""".stripMargin),

    // REAL animated-GIF decode end-to-end: per doc, a multi-frame GIF
    // (full-canvas base + formula-positioned solid sub-rects) is
    // encoded through the JDK GIF writer, decoded back with per-frame
    // disposal/offset COMPOSITION (Multimodal.gifFrameMedia), and the
    // composed frames' luma bytes feed the unchanged keyFrames
    // machinery; the oracle replays the composition formula per pixel
    // (last covering rect <= f wins) and never sees the container
    Entry("media_gif_frames", (s, dir) =>
      Multimodal.keyFrames(gifRoundTripMedia(s, dir),
          frameBytes = 256, stride = 1, k = 2)
        .orderBy("media_id", "rank"),
      // replays the GIF synthesis + composition formula: per (doc, pixel,
      // target frame) the LAST covering rect <= f supplies the value
      // (arg_max over covering frames — frame 0 covers everything, so no
      // pixel is ever bare), frame sums feed the keyFrames window rule
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
        |FROM r WHERE rank <= 2 ORDER BY media_id, rank""".stripMargin),

    // shot segmentation (Multimodal.shotSummary): frames partition
    // into contiguous shots at frame-sum jumps > 150 (gaps-and-islands
    // on the sampled-frame signal) — per media the frame count, shot
    // count and longest shot; the video-curation structural pass
    Entry("media_shots", (s, dir) =>
      Multimodal.shotSummary(
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        frameBytes = 16, stride = 4, minJump = 150L)
        .orderBy("media_id"),
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
        |FROM per GROUP BY media_id ORDER BY media_id""".stripMargin),

    // pad-free batch assembly (Multimodal.lengthBatches): media bucket
    // into 100-byte length bands, deterministic 16-item batches cut
    // inside each band (last batch partial) — per-batch occupancy
    // proves the assignment is a pure function of (byte_len, media_id)
    Entry("media_batch_buckets", (s, dir) =>
      Multimodal.lengthBatches(
        Multimodal.fromDocuments(Tables.documents(s, dir)),
        bandWidth = 100L, batchSize = 16)
        .groupBy("band", "batch_no")
        .agg(count(lit(1)).as("n_items"),
          sum(col("media_id")).as("sum_ids"))
        .orderBy("band", "batch_no"),
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
        |ORDER BY band, batch_no""".stripMargin),

    // multimodal near-dup: perceptual aHash (stub decode → 8×8 pool →
    // bits above mean) + the banded Hamming join. Invariants: the banded
    // result EQUALS brute-force all-pairs Hamming ≤ 3 (pigeonhole makes
    // the bucketing lossless — audited both directions), pairs are
    // ordered, and every exact-payload duplicate is found (equal bytes ⇒
    // equal hash ⇒ Hamming 0; the corpus has such dups ⇒ has_pairs = 1)
    Entry("media_phash_near", (s, dir) => {
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
    },
      // banded ≡ brute-force equivalence is audited in-job (pigeonhole
      // makes the 4-band bucketing lossless) — the oracle is the constant
      // all-invariants-hold row; has_pairs = 1 because the corpus contains
      // exact duplicates (equal payload ⇒ Hamming 0)
      """SELECT CAST(0 AS BIGINT) AS n_hamming_viol,
        | CAST(0 AS BIGINT) AS n_order_viol,
        | CAST(1 AS BIGINT) AS has_pairs,
        | CAST(0 AS BIGINT) AS n_missed,
        | CAST(0 AS BIGINT) AS n_extra""".stripMargin),

    // the dHash sibling of media_phash_near: gradient bits (pixel vs
    // right neighbor over the 9×8 thumbnail) through the SAME banded
    // Hamming machinery, audited against brute force both directions;
    // exact-payload duplicates guarantee has_pairs = 1
    Entry("media_dhash_near", (s, dir) => {
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
    },
      """SELECT CAST(0 AS BIGINT) AS n_hamming_viol,
        | CAST(0 AS BIGINT) AS n_order_viol,
        | CAST(1 AS BIGINT) AS has_pairs,
        | CAST(0 AS BIGINT) AS n_missed,
        | CAST(0 AS BIGINT) AS n_extra""".stripMargin),
  )
}
