package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** MediaFiles: id parse, glob pushdown, oversize guard, quarantine
  * reasons. */
class MediaFilesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("reads <id>.ext blobs, filters by glob at the listing, and " +
      "quarantines bad names and oversized files with reasons") {
    val tmp = Files.createTempDirectory("blobs").toString
    Files.write(Paths.get(s"$tmp/7.bin"), "hello".getBytes)
    Files.write(Paths.get(s"$tmp/42.bin"), "worlds!".getBytes)
    Files.write(Paths.get(s"$tmp/readme.bin"), "junk".getBytes)
    Files.write(Paths.get(s"$tmp/9.bin"), Array.fill(100)('x'.toByte))
    Files.write(Paths.get(s"$tmp/5.tmp"), "sidecar".getBytes)
    val (clean, q) = MediaFiles.read(spark, tmp, "*.bin", maxBytes = 50L)
    val rows = clean.collect()
      .map(r => (r.getLong(0), r.getLong(1),
        new String(r.getAs[Array[Byte]](2)))).toSet
    assert(rows === Set((7L, 5L, "hello"), (42L, 7L, "worlds!")))
    val quarantined = q.collect()
      .map(r => (r.getString(0).split('/').last, r.getString(2))).toSet
    // the .tmp sidecar never appears anywhere — glob pushdown
    assert(quarantined === Set(("readme.bin", "unparseable_name"),
      ("9.bin", "oversized")))
  }
}
