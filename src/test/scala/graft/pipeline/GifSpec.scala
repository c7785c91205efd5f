package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** Real animated-GIF decode: gifBytes (ImageIO writer fixture with
  * explicit palette/offsets/disposal) round-trips through
  * gifDecodeFrames' per-frame disposal/offset composition, bit-exactly
  * for achromatic palettes. Covers all three disposal methods, the
  * loud-failure contract, and the batched gifFrameMedia → keyFrames
  * end-to-end path.
  */
class GifSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  import Multimodal.{GifFrame, gifBytes, gifDecodeFrames}

  private def solid(v: Int, w: Int, h: Int, left: Int, top: Int,
                    disposal: String = "doNotDispose"): GifFrame =
    GifFrame(Array.fill(w * h)(v.toByte), w, h, left, top, disposal)

  /** Hand composition oracle: apply rects in order on a w×h canvas
    * (-1 = uncovered → luma 0). */
  private def compose(w: Int, h: Int,
                      steps: Seq[(GifFrame, Boolean)]): Seq[Array[Byte]] = {
    val canvas = Array.fill(w * h)(-1)
    var snapshots = List.empty[Array[Int]]
    steps.map { case (f, _) =>
      if (f.disposal == "restoreToPrevious") snapshots = canvas.clone() :: snapshots
      for (y <- 0 until f.h; x <- 0 until f.w)
        canvas((f.top + y) * w + (f.left + x)) = f.pixels(y * f.w + x) & 0xFF
      val out = canvas.map(v => if (v < 0) 0.toByte else v.toByte).clone()
      f.disposal match {
        case "restoreToBackgroundColor" =>
          for (y <- 0 until f.h; x <- 0 until f.w)
            canvas((f.top + y) * w + (f.left + x)) = -1
        case "restoreToPrevious" =>
          System.arraycopy(snapshots.head, 0, canvas, 0, canvas.length)
          snapshots = snapshots.tail
        case _ =>
      }
      out
    }
  }

  test("doNotDispose composition: later rects paint over a persistent " +
      "canvas, values bit-exact") {
    val frames = Seq(
      solid(100, 8, 6, 0, 0),
      solid(200, 3, 2, 2, 1),
      solid(50, 2, 2, 5, 3))
    val got = gifDecodeFrames(gifBytes(frames))
    assert((got.w, got.h) === ((8, 6)))
    assert(got.frames.length === 3)
    val want = compose(8, 6, frames.map((_, true)))
    for (i <- frames.indices)
      assert(got.frames(i).toSeq === want(i).toSeq, s"frame $i")
    // spot value exactness: frame 1 has 200 at (2,1) and 100 at (0,0)
    assert((got.frames(1)(1 * 8 + 2) & 0xFF) === 200)
    assert((got.frames(1)(0) & 0xFF) === 100)
  }

  test("restoreToBackgroundColor clears the frame's rect before the " +
      "next frame; restoreToPrevious rewinds the canvas") {
    val frames = Seq(
      solid(80, 8, 8, 0, 0),
      solid(255, 4, 4, 2, 2, "restoreToBackgroundColor"),
      solid(10, 2, 2, 0, 0, "restoreToPrevious"),
      solid(30, 2, 2, 6, 6))
    val got = gifDecodeFrames(gifBytes(frames))
    val want = compose(8, 8, frames.map((_, true)))
    for (i <- frames.indices)
      assert(got.frames(i).toSeq === want(i).toSeq, s"frame $i")
    // frame 2: the 255 rect was disposed to background -> luma 0 there
    assert((got.frames(2)(3 * 8 + 3) & 0xFF) === 0)
    // ... and the 10 rect sits at the origin
    assert((got.frames(2)(0) & 0xFF) === 10)
    // frame 3: frame 2's rect was rewound -> 80 again at the origin,
    // still 0 in the disposed hole, 30 at (6,6)
    assert((got.frames(3)(0) & 0xFF) === 80)
    assert((got.frames(3)(3 * 8 + 3) & 0xFF) === 0)
    assert((got.frames(3)(6 * 8 + 6) & 0xFF) === 30)
  }

  test("non-GIF payloads fail loudly") {
    intercept[IllegalArgumentException] {
      gifDecodeFrames("definitely not a gif".getBytes("UTF-8"))
    }
    intercept[IllegalArgumentException] {
      gifDecodeFrames(Array.empty[Byte])
    }
  }

  test("gifFrameMedia end-to-end: composed frames feed keyFrames; the " +
      "big-jump frame wins") {
    // media 1: base 10, then a tiny 2x2 nudge (delta small), then a
    // full-canvas slam to 250 (delta huge) -> keyframe = frame 2
    val gifs = Seq(
      Multimodal.MediaRow(1L, gifBytes(Seq(
        solid(10, 8, 8, 0, 0),
        solid(12, 2, 2, 1, 1),
        solid(250, 8, 8, 0, 0)))),
      // media 2: two frames, second repaints one 3x3 corner
      Multimodal.MediaRow(2L, gifBytes(Seq(
        solid(100, 8, 8, 0, 0),
        solid(0, 3, 3, 5, 5)))))
      .toDS()
    val media = Multimodal.gifFrameMedia(gifs)
    val meta = media.select("media_id", "n_frames", "w", "h")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getInt(2), r.getInt(3))).toMap
    assert(meta(1L) === ((3L, 8, 8)))
    assert(meta(2L) === ((2L, 8, 8)))
    val top = Multimodal.keyFrames(media, frameBytes = 64, stride = 1, k = 1)
      .select("media_id", "frame_no", "score").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // media 1: frame sums 640, 648, 16000 -> top score at frame 2
    assert(top(1L) === ((2L, 16000L - 648L)))
    // media 2: frame 0 scores its own sum 6400; frame 1 scores 9*100
    assert(top(2L) === ((0L, 6400L)))
  }
}
