package graft

import org.scalatest.funsuite.AnyFunSuite

/** Registry hygiene for the driver contract: every query has an oracle
  * and vice versa, and a registry never declares an entry name twice —
  * Scala Map keeps the last duplicate silently, which once shadowed a
  * live gate entry (round 7's events_sessionize collision). */
class EntryRegistrySpec extends AnyFunSuite {

  test("queries and oracleSql cover exactly the same entry names") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o) === Set.empty[String], "queries missing oracles")
    assert((o -- q) === Set.empty[String], "oracles missing queries")
  }

  // a Map would silently keep the last declaration
  test("a registry declaring one name twice fails to build") {
    def e(name: String) =
      graft.entries.Entry(name, (s, _) => s.emptyDataFrame, "SELECT 1")
    val err = intercept[IllegalArgumentException](graft.entries.Entry
      .registry(Seq(e("a_one"), e("a_two")), Seq(e("b_one"), e("a_two"))))
    assert(err.getMessage.contains("a_two"))
    assert(!err.getMessage.contains("a_one"))
    assert(graft.entries.Entry.registry(Seq(e("a_one")), Seq(e("b_one")))
      .map(_.name) === Seq("a_one", "b_one"))
    // the live registry goes through the same concatenation
    assert(SparkEntry.entries.size === SparkEntry.queries.size)
  }

  test("committed REGISTRY.md matches the registry (regenerate with " +
      "runMain graft.tools.RegistryTable after adding entries)") {
    val path = java.nio.file.Paths.get("REGISTRY.md")
    assert(java.nio.file.Files.exists(path),
      "REGISTRY.md missing — run: runMain graft.tools.RegistryTable")
    val committed = java.nio.file.Files.readString(path)
    // full-content parity, not just counts: a renamed entry or a
    // changed oracle kind must also force a regenerate
    assert(committed === graft.tools.RegistryTable.render(),
      "REGISTRY.md is stale — run: runMain graft.tools.RegistryTable")
  }
}
