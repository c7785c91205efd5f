package graft.index

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.schema.{MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Driver-local parquet IO for MODEL-SIZED store sidecars (centroids,
  * codebooks, codecs, rotations, stats histograms — O(model) rows, KBs
  * to MBs, already driver-resident as part of every fitted model).
  *
  * Round-14 job-profile finding: every `spark.read.parquet` /
  * `coalesce(1).write.parquet` of these tables costs a full Spark
  * action — scheduler round-trip, AQE stage jobs, commit protocol —
  * 0.1-0.6 s each, and a store save+load round-trip runs 5-8 of them.
  * The data is driver-sized BY CONTRACT (models are held in driver
  * memory), so reading/writing it through the distributed engine buys
  * nothing at any scale. This helper does the same parquet files with
  * parquet-hadoop directly on the driver: zero Spark jobs, same layout
  * (a directory of part-*.parquet, standard 3-level LIST arrays —
  * Spark, DuckDB and the existing store loaders all read it
  * unchanged), same Hadoop-filesystem transparency (hdfs://, s3a://).
  *
  * The corpus-sized tables (codes, codes2, signatures, tombstones)
  * deliberately stay on the distributed writer.
  */
private[graft] object MetaIO {

  sealed trait ColType
  case object IntT extends ColType
  case object LongT extends ColType
  case object DoubleT extends ColType
  /** array<double> (non-null elements), the standard LIST shape. */
  case object DoublesT extends ColType

  private def schemaOf(cols: Seq[(String, ColType)]): MessageType = {
    val b = Types.buildMessage()
    cols.foreach {
      case (n, IntT) => b.addField(
        Types.optional(PrimitiveTypeName.INT32).named(n))
      case (n, LongT) => b.addField(
        Types.optional(PrimitiveTypeName.INT64).named(n))
      case (n, DoubleT) => b.addField(
        Types.optional(PrimitiveTypeName.DOUBLE).named(n))
      case (n, DoublesT) => b.addField(
        Types.optionalList.optionalElement(PrimitiveTypeName.DOUBLE).named(n))
    }
    b.named("spark_schema")
  }

  /** Write `rows` as ONE parquet part file under directory `dir`,
    * replacing the directory (the Overwrite layout Spark's writer
    * leaves: part file + _SUCCESS). Cell values must match the declared
    * column types (Int / Long / Double / Array[Double] | Seq[Double]). */
  def write(conf: Configuration, dir: String,
            cols: Seq[(String, ColType)], rows: Seq[Seq[Any]]): Unit = {
    val dp = new Path(dir)
    val fs = dp.getFileSystem(conf)
    fs.delete(dp, true)
    fs.mkdirs(dp)
    appendFile(conf, dir, cols, rows)
    fs.create(new Path(dp, "_SUCCESS"), true).close()
  }

  /** Add one MORE part file to an existing directory (the Append mode
    * of the stats sidecar — per-batch histogram rows accumulate and
    * readers aggregate over all files). Creates the directory if
    * missing. */
  def append(conf: Configuration, dir: String,
             cols: Seq[(String, ColType)], rows: Seq[Seq[Any]]): Unit = {
    val dp = new Path(dir)
    val fs = dp.getFileSystem(conf)
    if (!fs.exists(dp)) fs.mkdirs(dp)
    appendFile(conf, dir, cols, rows)
  }

  private def appendFile(conf: Configuration, dir: String,
                         cols: Seq[(String, ColType)],
                         rows: Seq[Seq[Any]]): Unit = {
    val schema = schemaOf(cols)
    // Stage under a non-.parquet temp name and rename into place on
    // close: readers filter on the .parquet suffix, so a crash mid-write
    // (or a concurrent reader during an append) can never see a
    // footer-less partial file — the atomicity Spark's commit protocol
    // provided via _temporary before the driver-local writer replaced it.
    val base = s"part-${java.util.UUID.randomUUID().toString.take(12)}-meta"
    val dirPath = new Path(dir)
    val tmp = new Path(dirPath, s".$base.parquet.tmp")
    val dst = new Path(dirPath, s"$base.parquet")
    val writer = ExampleParquetWriter.builder(tmp)
      .withConf(conf).withType(schema).build()
    val factory = new SimpleGroupFactory(schema)
    try rows.foreach { row =>
      val g = factory.newGroup()
      row.zip(cols).foreach { case (v, (name, t)) =>
        t match {
          case IntT => g.add(name, v.asInstanceOf[Int])
          case LongT => g.add(name, v.asInstanceOf[Long])
          case DoubleT => g.add(name, v.asInstanceOf[Double])
          case DoublesT =>
            val lg = g.addGroup(name)
            arr(v).foreach(d => lg.addGroup("list").add("element", d))
        }
      }
      writer.write(g)
    } finally writer.close()
    val fs = dirPath.getFileSystem(conf)
    if (!fs.rename(tmp, dst)) {
      fs.delete(tmp, false)
      sys.error(s"MetaIO: failed to rename $tmp into place as $dst")
    }
  }

  private def arr(v: Any): Array[Double] = v match {
    case a: Array[Double] => a
    case s: Seq[_] => s.asInstanceOf[Seq[Double]].toArray
    case other => sys.error(s"not a double array: ${other.getClass}")
  }

  /** Read every row of every part-*.parquet under `dir` (file-name
    * order; our writes produce one file). Columns are located by NAME
    * in each file's own schema, so files written by Spark's writer and
    * by [[write]] read identically. Returns rows of
    * Int / Long / Double / Array[Double] per the requested types. */
  def read(conf: Configuration, dir: String,
           cols: Seq[(String, ColType)]): Seq[Seq[Any]] = {
    val dp = new Path(dir)
    val fs = dp.getFileSystem(conf)
    require(fs.exists(dp), s"missing store artifact directory: $dir")
    val files = fs.listStatus(dp).map(_.getPath)
      .filter(p => p.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val out = Seq.newBuilder[Seq[Any]]
    files.foreach { f =>
      val reader = ParquetReader
        .builder(new GroupReadSupport(), f).withConf(conf).build()
      try {
        var g: Group = reader.read()
        while (g != null) {
          out += cols.map { case (name, t) =>
            t match {
              case IntT => g.getInteger(name, 0)
              case LongT => g.getLong(name, 0)
              case DoubleT => g.getDouble(name, 0)
              case DoublesT => readDoubles(g, name)
            }
          }
          g = reader.read()
        }
      } finally reader.close()
    }
    out.result()
  }

  /** Standard 3-level LIST extraction by field INDEX inside the list
    * wrapper (name-agnostic: "list"/"element" and the legacy
    * "bag"/"array" shapes both read). */
  private def readDoubles(g: Group, name: String): Array[Double] = {
    if (g.getFieldRepetitionCount(name) == 0) return Array.empty
    val lg = g.getGroup(name, 0)
    val n = lg.getFieldRepetitionCount(0)
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      out(i) = lg.getGroup(0, i).getDouble(0, 0)
      i += 1
    }
    out
  }
}
