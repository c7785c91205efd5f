package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of (nearest-event) join — the classic time-series operator Spark
  * has no native node for. For every left row, attach the payload of the
  * latest right row with `right.time <= left.time` (backward) or the
  * earliest with `right.time >= left.time` (forward), matching on
  * equi-keys, ties at equal time INCLUDED (the `>=`/`<=` convention of
  * DuckDB/pandas ASOF).
  *
  * Spark-first plan, not a range join: both sides are unioned into one
  * relation tagged by side, hash-exchanged ONCE on the equi-keys, sorted
  * within partitions by (time, side, seq), and the right payload is
  * carried onto left rows with `last(..., ignoreNulls)` over a running
  * window. Cost = one shuffle of each input + an in-partition sort —
  * the same class as a shuffle join, with none of the row explosion an
  * interval/theta join suffers (a naive `l.time >= r.time` join is
  * O(|L|·|R|) per key and dies at 100 TB; this stays O(n log n) per
  * partition). Skewed keys shard like any hash exchange; a key's whole
  * timeline lands in one partition, which is the operator's inherent
  * ordering requirement (same as any window over (key, time)).
  *
  * Determinism: `seq` break ties among equal times within a side; among
  * right rows at identical (keys, time, seq) the relation is expected
  * unique (enforce upstream if the source can violate it).
  */
object AsofJoin {

  /** Backward as-of: latest right row with right.time <= left.time.
    *
    * @param keys      equi-join key columns (present on both sides)
    * @param leftTime  left ordering column (numeric or timestamp)
    * @param rightTime right ordering column (same type as leftTime)
    * @param payload   right columns to attach, emitted as `asof_<name>`;
    *                  `asof_time` (the matched right time) always rides
    *                  along
    * @param leftSeq   unique left tie-break column (e.g. an event id)
    * @param rightSeq  unique right tie-break column
    * @param tolerance max allowed left.time − right.time (same units as
    *                  the time columns, numeric columns only); matches
    *                  staler than this are nulled, left rows kept
    */
  def backward(left: DataFrame, right: DataFrame, keys: Seq[String],
               leftTime: String, rightTime: String, payload: Seq[String],
               leftSeq: String, rightSeq: String,
               tolerance: Option[Long] = None): DataFrame =
    asof(left, right, keys, leftTime, rightTime, payload, leftSeq, rightSeq,
      tolerance, forward = false)

  /** Forward as-of: earliest right row with right.time >= left.time. */
  def forward(left: DataFrame, right: DataFrame, keys: Seq[String],
              leftTime: String, rightTime: String, payload: Seq[String],
              leftSeq: String, rightSeq: String,
              tolerance: Option[Long] = None): DataFrame =
    asof(left, right, keys, leftTime, rightTime, payload, leftSeq, rightSeq,
      tolerance, forward = true)

  private def asof(left: DataFrame, right: DataFrame, keys: Seq[String],
                   leftTime: String, rightTime: String, payload: Seq[String],
                   leftSeq: String, rightSeq: String, tolerance: Option[Long],
                   forward: Boolean): DataFrame = {
    val pcols = payload.map(p => s"asof_$p")
    val reserved = pcols ++ Seq("asof_time", "__t", "__side", "__seq", "__r")
    val clash = left.columns.filter(reserved.contains)
    require(clash.isEmpty,
      s"left side must not already carry ${clash.mkString(", ")}")
    // side tag orders right rows so a right row at EXACTLY left.time is
    // visible to the window: before left rows for backward (running
    // window ends at current), after left rows for forward
    val (leftSide, rightSide) = if (forward) (0, 1) else (1, 0)
    val l2 = left
      .withColumn("__t", col(leftTime))
      .withColumn("__side", lit(leftSide))
      .withColumn("__seq", col(leftSeq))
    // the matched right row travels as ONE struct (non-null on every
    // right row even when payload FIELDS are null), so the window picks
    // a whole row atomically — per-column ignoreNulls carries would tear
    // a null payload value off an older right row
    val r2 = right.select(
      keys.map(col) ++
        Seq(col(rightTime).as("__t"), lit(rightSide).as("__side"),
          col(rightSeq).as("__seq"),
          struct(col(rightTime).as("asof_time") +:
            payload.zip(pcols).map { case (p, a) => col(p).as(a) }: _*)
            .as("__r")): _*)
    val u = l2.unionByName(r2, allowMissingColumns = true)
    val ord = Seq(col("__t"), col("__side"), col("__seq"))
    val w = Window.partitionBy(keys.map(col): _*)
    val picked =
      if (forward)
        first(col("__r"), ignoreNulls = true).over(w.orderBy(ord: _*)
          .rowsBetween(Window.currentRow, Window.unboundedFollowing))
      else
        last(col("__r"), ignoreNulls = true).over(w.orderBy(ord: _*)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val matched = u.withColumn("__r", picked)
      .where(col("__side") === leftSide)
    val bounded = tolerance.fold(matched) { tol =>
      val fresh =
        if (forward) col("__r.asof_time") - col("__t") <= tol
        else col("__t") - col("__r.asof_time") <= tol
      matched.withColumn("__r", when(fresh, col("__r")))
    }
    val unpacked = ("asof_time" +: pcols).foldLeft(bounded) { (acc, c) =>
      acc.withColumn(c, col(s"__r.$c"))
    }
    unpacked.drop("__t", "__side", "__seq", "__r")
  }
}
