package graft.sources

import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class CsvCorpusSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("clean rows parse, malformed lines quarantine, headers drop") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csvspec")
    java.nio.file.Files.writeString(dir.resolve("a.csv"),
      "id,name\n1,alpha\n2,beta\nnot-a-long,gamma\n3,delta\n")
    java.nio.file.Files.writeString(dir.resolve("b.csv"),
      "id,name\n4,epsilon\n")
    val schema = new StructType().add("id", LongType).add("name", StringType)
    val (clean, quarantine) = CsvCorpus.read(spark, dir.toString, schema,
      header = Some("id,name"))
    val rows = clean.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(rows === Set((1L, "alpha"), (2L, "beta"), (3L, "delta"),
      (4L, "epsilon")))
    val bad = quarantine.collect().map(_.getString(0)).toSet
    assert(bad === Set("not-a-long,gamma"))
  }

  test("truncated and empty-required-field rows quarantine under a strict schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csvspec3")
    // "5" is token-count-short (from_csv flags it corrupt); ",gamma"
    // parses fine but its empty id token converts to null — only the
    // declared-nullability check catches that one
    java.nio.file.Files.writeString(dir.resolve("a.csv"),
      "1,alpha\n5\n2,beta\n,gamma\n")
    val strict = new StructType()
      .add("id", LongType, nullable = false)
      .add("name", StringType, nullable = false)
    val (cleanS, qS) = CsvCorpus.read(spark, dir.toString, strict)
    assert(cleanS.collect().map(r => (r.getLong(0), r.getString(1))).toSet ===
      Set((1L, "alpha"), (2L, "beta")))
    assert(qS.collect().map(_.getString(0)).toSet === Set("5", ",gamma"))
    // with a nullable id the empty-id row passes as a null-padded row
    val lax = new StructType()
      .add("id", LongType)
      .add("name", StringType, nullable = false)
    val (cleanL, qL) = CsvCorpus.read(spark, dir.toString, lax)
    assert(cleanL.count() === 3L)
    assert(qL.collect().map(_.getString(0)).toSet === Set("5"))
  }

  test("custom delimiter") {
    val dir = java.nio.file.Files.createTempDirectory("graft_csvspec2")
    java.nio.file.Files.writeString(dir.resolve("a.psv"), "7|zeta\n")
    val schema = new StructType().add("id", LongType).add("name", StringType)
    val (clean, q) = CsvCorpus.read(spark, dir.toString, schema,
      delimiter = "|")
    assert(clean.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((7L, "zeta")))
    assert(q.count() === 0L)
  }
}
