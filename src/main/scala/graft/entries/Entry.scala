package graft
package entries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One gated driver entry: the Spark query `run(spark, sfDir)` and the
  * DuckDB SQL that checks its output, under the name the driver keys
  * on. */
final case class Entry(name: String,
                       run: (SparkSession, String) => DataFrame,
                       oracleSql: String)

object Entry {

  /** Concatenate family registries in order, failing loudly on a name
    * declared more than once (a `Map` would keep the last silently). */
  def registry(families: Seq[Entry]*): Seq[Entry] = {
    val all = families.flatten
    val dups = all.groupBy(_.name).collect { case (n, es) if es.size > 1 => n }
    require(dups.isEmpty,
      s"entry names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    all
  }
}
