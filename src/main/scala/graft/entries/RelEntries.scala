package graft
package entries

import org.apache.spark.sql.functions._

import graft.pipeline.TextAnalysis
import Fixtures._

/** rel_*, snapshot_*, scd2_* and layout_* entries: the relational
  * core (TPC-H shapes, windows, grouping sets), table snapshots and
  * history, and data layout. */
private[graft] object RelEntries {

  private val zorderDir = scala.collection.concurrent.TrieMap.empty[String, String]

  def entries: Seq[Entry] = Seq(
    Entry("rel_q1_agg", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          count(lit(1)).as("cnt"))
        .orderBy("l_returnflag", "l_linestatus"),
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity), 2) AS sum_qty,
        | round(sum(l_extendedprice), 2) AS sum_base_price,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
        | count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    Entry("rel_q3_top_revenue", (s, dir) =>
      Tables.customer(s, dir).where(col("c_mktsegment") === "BUILDING")
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"))
        .orderBy(col("revenue").desc, col("o_orderkey"))
        .limit(10),
      """SELECT o_orderkey,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |GROUP BY o_orderkey ORDER BY revenue DESC, o_orderkey LIMIT 10""".stripMargin),

    // TPC-H Q5 shape: six-table star join — dims (region → nation,
    // supplier, customer) broadcast onto the lineitem-orders stream,
    // revenue per nation with the customer-nation = supplier-nation
    // constraint
    Entry("rel_q5_region_revenue", (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.load(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .join(Tables.load(s, dir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .join(Tables.load(s, dir, "region").where(col("r_name") === "ASIA"),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy("n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
          .as("revenue"), count(lit(1)).as("cnt"))
        .orderBy("n_name"),
      """SELECT n_name,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue,
        | count(*) AS cnt
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN supplier ON l_suppkey = s_suppkey
        |   AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin),

    // TPC-H Q7 (volume shipping): the two-nation disjunction filters
    // each broadcast nation dim down to 2 rows BEFORE the fact joins;
    // the cross-pair OR residual applies after — so the big joins carry
    // only rows touching the two nations
    Entry("rel_q7_volume", (s, dir) => {
      val nations = Seq("NATION_1", "NATION_2")
      val n1 = Tables.load(s, dir, "nation")
        .where(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      val n2 = Tables.load(s, dir, "nation")
        .where(col("n_name").isin(nations: _*))
        .select(col("n_nationkey").as("c_nk"), col("n_name").as("cust_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.load(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("s_nk"))
        .join(broadcast(n2), col("c_nationkey") === col("c_nk"))
        .where(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("long").as("l_year"))
        // each term rounded ONCE to integer 1e-4 units (bit-identical
        // per row in any engine), then the LONG sum commutes exactly —
        // a rounded double SUM can differ in the last cent by addition
        // order (measured: 307843.59 vs .60 on q10's first cut)
        .agg(sum(expr(
          "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)"))
          .as("revenue_x10000"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    },
      """SELECT supp_nation, cust_nation, l_year,
        | CAST(sum(volume) AS BIGINT) AS revenue_x10000
        |FROM (SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |    AS BIGINT) AS volume
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        | WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |    OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin),

    // TPC-H Q10 (returned items by customer): one quarter of orders,
    // returned lines only, revenue per customer with the nation dim
    // broadcast; bounded top-20 by (revenue, c_custkey)
    Entry("rel_q10_returns", (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir)
            .where(col("o_orderdate") >= "1996-01-01" &&
              col("o_orderdate") < "1996-04-01"),
          col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir).where(col("l_returnflag") === "R"),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.load(s, dir, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(expr(
          "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)"))
          .as("revenue_x10000"),
          expr("cast(round(max(c_acctbal) * 100) as long)").as("acctbal_cents"))
        .orderBy(col("revenue_x10000").desc, col("c_custkey"))
        .limit(20),
      """SELECT c_custkey, c_name, n_name,
        | CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |   AS BIGINT)) AS BIGINT) AS revenue_x10000,
        | CAST(round(max(c_acctbal) * 100) AS BIGINT) AS acctbal_cents
        |FROM customer JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON l_orderkey = o_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= '1996-01-01' AND o_orderdate < '1996-04-01'
        | AND l_returnflag = 'R'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue_x10000 DESC, c_custkey LIMIT 20""".stripMargin),

    // TPC-H Q6 (forecast revenue): the classic pure scan benchmark —
    // filter + ungrouped aggregate, NO join; every predicate reaches
    // the parquet scan (shipdate range, discount band, quantity cap)
    Entry("rel_q6_forecast", (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1997-01-01" &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sum(expr(
          "cast(round(l_extendedprice * l_discount * 10000) as long)"))
          .as("revenue_x10000"),
          count(lit(1)).as("n_lines")),
      """SELECT CAST(sum(CAST(round(l_extendedprice * l_discount * 10000)
        |   AS BIGINT)) AS BIGINT) AS revenue_x10000,
        | count(*) AS n_lines FROM lineitem
        |WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1997-01-01'
        | AND l_discount BETWEEN 0.05 AND 0.07
        | AND l_quantity < 24""".stripMargin),

    // TPC-H Q14 (promo revenue share): one quarter of shipments joined
    // to part, promo share as exact integer basis points (long div —
    // no float ratio can flake the gate)
    Entry("rel_q14_promo", (s, dir) =>
      Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1996-04-01")
        .join(Tables.load(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .agg(
          sum(when(col("p_type") === "PROMO", expr(
            "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)"))
            .otherwise(0L)).as("promo_x10000"),
          sum(expr(
            "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)"))
            .as("total_x10000"))
        .select(col("promo_x10000"), col("total_x10000"),
          expr("promo_x10000 * 10000 div total_x10000").as("promo_bp")),
      """WITH j AS (SELECT p_type,
        |  CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |    AS BIGINT) AS v
        | FROM lineitem JOIN part ON l_partkey = p_partkey
        | WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01')
        |SELECT CAST(sum(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END)
        |   AS BIGINT) AS promo_x10000,
        | CAST(sum(v) AS BIGINT) AS total_x10000,
        | CAST(sum(CASE WHEN p_type = 'PROMO' THEN v ELSE 0 END) * 10000
        |   // sum(v) AS BIGINT) AS promo_bp
        |FROM j""".stripMargin),

    // TPC-H Q19-shape (disjunctive brand/size/quantity predicates over
    // the part join — the disjunction-pushdown stress query; adapted to
    // this schema's columns: brand + size + quantity bands)
    Entry("rel_q19_disjunct", (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.load(s, dir, "part"),
          col("l_partkey") === col("p_partkey"))
        .where(
          (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#24" && col("p_size").between(1, 35) &&
            col("l_quantity").between(20, 30)))
        .agg(sum(expr(
          "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)"))
          .as("revenue_x10000"),
          count(lit(1)).as("n_lines")),
      """SELECT CAST(sum(CAST(round(
        |   l_extendedprice * (1.0 - l_discount) * 10000) AS BIGINT))
        |   AS BIGINT) AS revenue_x10000,
        | count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
        |    AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
        |    AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35
        |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // TPC-H Q8 (national market share): NATION_1's share of EUROPE
    // customers' ECONOMY-part import volume by order year — the full
    // seven-table star join with both nation roles and the region dim
    // broadcast; share as exact integer basis points
    Entry("rel_q8_market_share", (s, dir) => {
      val cents = expr(
        "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)")
      val europeNations = Tables.load(s, dir, "nation")
        .join(broadcast(Tables.load(s, dir, "region")
            .where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("c_nk"))
      val suppNations = Tables.load(s, dir, "nation")
        .select(col("n_nationkey").as("s_nk"), col("n_name").as("supp_nation"))
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(europeNations), col("c_nationkey") === col("c_nk"))
        .join(Tables.load(s, dir, "supplier"),
          col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(suppNations), col("s_nationkey") === col("s_nk"))
        .join(Tables.load(s, dir, "part").where(col("p_type") === "ECONOMY"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
        .agg(
          sum(when(col("supp_nation") === "NATION_1", cents).otherwise(0L))
            .as("nation_x10000"),
          sum(cents).as("total_x10000"))
        .select(col("o_year"), col("nation_x10000"), col("total_x10000"),
          expr("nation_x10000 * 10000 div total_x10000").as("share_bp"))
        .orderBy("o_year")
    },
      """WITH v AS (SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(round(l_extendedprice * (1.0 - l_discount) * 10000)
        |    AS BIGINT) AS vol,
        |  ns.n_name AS supp_nation
        | FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation nc ON c_nationkey = nc.n_nationkey
        |  JOIN region ON nc.n_regionkey = r_regionkey
        |  JOIN supplier ON l_suppkey = s_suppkey
        |  JOIN nation ns ON s_nationkey = ns.n_nationkey
        |  JOIN part ON l_partkey = p_partkey
        | WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY')
        |SELECT o_year,
        | CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol ELSE 0 END)
        |   AS BIGINT) AS nation_x10000,
        | CAST(sum(vol) AS BIGINT) AS total_x10000,
        | CAST(sum(CASE WHEN supp_nation = 'NATION_1' THEN vol ELSE 0 END)
        |   * 10000 // sum(vol) AS BIGINT) AS share_bp
        |FROM v GROUP BY o_year ORDER BY o_year""".stripMargin),

    // TPC-H Q13 (customer order-count distribution): left join keeps
    // zero-order customers, two cascaded map-side-combined aggregates
    Entry("rel_q13_custdist", (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"),
          "left")
        .groupBy("c_custkey").agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count").agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc),
      """WITH c_orders AS (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        | GROUP BY c_custkey)
        |SELECT CAST(c_count AS BIGINT) AS c_count, count(*) AS custdist
        |FROM c_orders GROUP BY c_count
        |ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // TPC-H Q15 (top supplier): quarter revenue per supplier, winners
    // at the exact integer maximum (the scalar subquery becomes a
    // broadcast 1-row join; integer cents make the max tie-exact)
    Entry("rel_q15_top_supplier", (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .where(col("l_shipdate") >= "1996-01-01" &&
          col("l_shipdate") < "1996-04-01")
        .groupBy("l_suppkey")
        .agg(sum(expr(
          "cast(round(l_extendedprice * (1.0 - l_discount) * 10000) as long)"))
          .as("total_x10000"))
      val mx = rev.agg(max(col("total_x10000")).as("mx"))
      Tables.load(s, dir, "supplier")
        .join(rev, col("s_suppkey") === col("l_suppkey"))
        .join(broadcast(mx), col("total_x10000") === col("mx"))
        .select("s_suppkey", "s_name", "total_x10000")
        .orderBy("s_suppkey")
    },
      """WITH revenue AS (SELECT l_suppkey,
        |  CAST(sum(CAST(round(l_extendedprice * (1.0 - l_discount)
        |    * 10000) AS BIGINT)) AS BIGINT) AS total_x10000
        | FROM lineitem
        | WHERE l_shipdate >= '1996-01-01' AND l_shipdate < '1996-04-01'
        | GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, total_x10000
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_x10000 = (SELECT max(total_x10000) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // TPC-H Q17 (small-quantity-order revenue, adapted to brand-only
    // predicates): the correlated avg becomes a per-part aggregate
    // join-back, and qty < 0.2·avg is the INTEGER inequality
    // 5·qty·n < Σqty — no float threshold can flake the gate
    Entry("rel_q17_small_qty", (s, dir) => {
      val pq = Tables.lineitem(s, dir).groupBy(col("l_partkey").as("pk"))
        .agg(sum(col("l_quantity")).cast("long").as("sq"),
          count(lit(1)).as("n"))
      Tables.lineitem(s, dir)
        .join(Tables.load(s, dir, "part").where(col("p_brand") === "Brand#12"),
          col("l_partkey") === col("p_partkey"))
        .join(pq, col("l_partkey") === col("pk"))
        .where(col("l_quantity").cast("long") * lit(5L) * col("n") < col("sq"))
        .agg(sum(expr("cast(round(l_extendedprice * 10000) as long)"))
          .as("sum_price_x10000"),
          count(lit(1)).as("n_lines"))
        .select(col("sum_price_x10000"),
          expr("sum_price_x10000 div 7").as("avg_yearly_x10000"),
          col("n_lines"))
    },
      """WITH pq AS (SELECT l_partkey AS pk,
        |  CAST(sum(l_quantity) AS BIGINT) AS sq, count(*) AS n
        | FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT))
        |   AS BIGINT) AS sum_price_x10000,
        | CAST(sum(CAST(round(l_extendedprice * 10000) AS BIGINT)) // 7
        |   AS BIGINT) AS avg_yearly_x10000,
        | count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        | JOIN pq ON l_partkey = pk
        |WHERE p_brand = 'Brand#12'
        | AND CAST(l_quantity AS BIGINT) * 5 * n < sq""".stripMargin),

    // TPC-H Q22-shape (dormant high-balance customers): above-average
    // positive balance (the average as the INTEGER inequality
    // cents·n > Σcents — exact cross-engine) with no orders since 1999
    // (the schema-expressible stand-in for the country-code filter;
    // the unfiltered NOT EXISTS is vacuously empty on this corpus)
    Entry("rel_q22_dormant", (s, dir) => {
      val cust = Tables.customer(s, dir)
      val bal = cust.where(col("c_acctbal") > 0)
        .agg(sum(expr("cast(round(c_acctbal * 100) as long)")).as("s_cents"),
          count(lit(1)).as("n"))
      val recent = Tables.orders(s, dir)
        .where(col("o_orderdate") >= "1999-01-01")
        .select(col("o_custkey")).distinct()
      cust.crossJoin(broadcast(bal))
        .where(expr("cast(round(c_acctbal * 100) as long)") * col("n") >
          col("s_cents"))
        .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("numcust"),
          sum(expr("cast(round(c_acctbal * 100) as long)"))
            .as("totacctbal_cents"))
    },
      """WITH bal AS (SELECT
        |  CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s,
        |  count(*) AS n
        | FROM customer WHERE c_acctbal > 0)
        |SELECT count(*) AS numcust,
        | CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
        |   AS totacctbal_cents
        |FROM customer, bal
        |WHERE CAST(round(c_acctbal * 100) AS BIGINT) * n > s
        | AND NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey
        |    AND o_orderdate >= '1999-01-01')""".stripMargin),

    // dimension-enriched rollup over the part table (broadcast dim join)
    Entry("rel_part_brand", (s, dir) =>
      Tables.lineitem(s, dir)
        .join(Tables.load(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        .groupBy("p_brand")
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"))
        .orderBy("p_brand"),
      """SELECT p_brand, count(*) AS cnt,
        | round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin),

    Entry("rel_rollup", (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("cnt"), col("sum_qty"))
        .orderBy("rflag", "lstatus"),
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        | coalesce(l_linestatus, 'ALL') AS lstatus,
        | count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin),

    // cube: the full grouping-sets lattice over the rollup entry's keys
    Entry("rel_cube", (s, dir) =>
      Tables.lineitem(s, dir)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("cnt"), round(sum("l_quantity"), 2).as("sum_qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("lstatus"),
          col("cnt"), col("sum_qty"))
        .orderBy("rflag", "lstatus"),
      """SELECT coalesce(l_returnflag, 'ALL') AS rflag,
        | coalesce(l_linestatus, 'ALL') AS lstatus,
        | count(*) AS cnt, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY rflag, lstatus""".stripMargin),

    Entry("rel_skew_plan", (s, dir) =>
      graft.operators.SkewJoin.keyStats(
        Tables.lineitem(s, dir), Seq("l_orderkey")),
      """WITH h AS (SELECT l_orderkey, count(*) AS cnt
        |  FROM lineitem GROUP BY l_orderkey),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |  CAST(sum(cnt) AS BIGINT) AS n_rows,
        |  CAST(max(cnt) AS BIGINT) AS max_cnt FROM h)
        |SELECT n_keys, n_rows, max_cnt,
        | (max_cnt * n_keys * 100 + n_rows - 1) // n_rows AS skew_x100,
        | least(64, greatest(1,
        |   (max_cnt * n_keys + n_rows - 1) // n_rows)) AS salt
        |FROM a""".stripMargin),

    // skew-salted inner join: output must be IDENTICAL to the plain
    // equi-join (the oracle IS the plain join) — the gate that the
    // straggler-splitting rewrite preserves semantics exactly
    Entry("rel_salted_join", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("orderkey"), col("l_quantity"))
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey").as("orderkey"), col("o_orderpriority"))
      graft.operators.SkewJoin.saltedInnerJoin(li, o, Seq("orderkey"),
          salt = 8)
        .groupBy("o_orderpriority")
        // floor() before the long cast: Spark's double->long cast
        // truncates while DuckDB's rounds, so only the explicit floor
        // is engine-agnostic (quantities are integral, but the idiom
        // should not depend on that)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(sum(floor(col("l_quantity")).cast("long")), lit(0L))
            .as("sum_qty"))
        .orderBy("o_orderpriority")
    },
      """SELECT o.o_orderpriority, CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CAST(floor(l.l_quantity) AS BIGINT)) AS BIGINT)
        |   AS sum_qty
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // correlated-scalar-subquery shape, decorrelated the Spark-first
    // way: per-customer averages via one aggregate + an equi-join, the
    // order kept when its price beats its OWN customer's mean by >10%
    // (integer-cents comparison, no float in the predicate)
    Entry("rel_above_cust_avg", (s, dir) => {
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          floor(col("o_totalprice") * 100).cast("long").as("cents"))
      val avgs = o.groupBy("o_custkey")
        .agg(coalesce(sum(col("cents")), lit(0L)).as("sum_cents"),
          count(lit(1)).as("n_orders"))
      o.join(avgs, "o_custkey")
        // cents > 1.1 * sum/n  <=>  cents * n * 10 > sum * 11
        .where(col("cents") * col("n_orders") * 10 >
          col("sum_cents") * 11)
        .select(col("o_orderkey"), col("o_custkey"), col("cents"))
        .orderBy("o_orderkey")
    },
      """WITH o AS (SELECT o_orderkey, o_custkey,
        |  CAST(floor(o_totalprice * 100) AS BIGINT) AS cents
        | FROM orders),
        |a AS (SELECT o_custkey, CAST(sum(cents) AS BIGINT) AS sum_cents,
        |  CAST(count(*) AS BIGINT) AS n_orders
        | FROM o GROUP BY o_custkey)
        |SELECT o.o_orderkey, o.o_custkey, o.cents
        |FROM o JOIN a USING (o_custkey)
        |WHERE o.cents * a.n_orders * 10 > a.sum_cents * 11
        |ORDER BY o_orderkey""".stripMargin),

    Entry("rel_semi_join", (s, dir) => {
      val bigOrders = Tables.orders(s, dir).where(col("o_totalprice") > 200000)
      Tables.customer(s, dir)
        .join(bigOrders, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy("c_custkey")
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        | WHERE o_custkey = c_custkey AND o_totalprice > 200000)
        |ORDER BY c_custkey""".stripMargin),

    // exact DISCRETE quantiles per group: the value at sorted index
    // ⌈p·n⌉, selected — not interpolated — so the output is a raw data
    // value and the rank index is pure integer arithmetic (⌈n·num/den⌉ =
    // (n·num + den − 1) div den). Interpolating percentiles cross-engine
    // is a last-ulp trap: (1−g)a + gb vs a + (b−a)g differ in rounding.
    Entry("rel_quantiles", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type").orderBy("value", "event_id")
      val cw = Window.partitionBy("event_type")
      Tables.events(s, dir)
        .withColumn("rn", row_number().over(w).cast("long"))
        .withColumn("cnt", count(lit(1)).over(cw))
        .withColumn("i50", expr("(cnt + 1) div 2"))   // ⌈cnt/2⌉, integer
        .withColumn("i90", expr("(cnt * 9 + 9) div 10")) // ⌈cnt·9/10⌉
        .groupBy("event_type")
        .agg(
          max(when(col("rn") === col("i50"), col("value"))).as("p50"),
          max(when(col("rn") === col("i90"), col("value"))).as("p90"),
          max(col("cnt")).as("cnt"))
        .orderBy("event_type")
    },
      """WITH r AS (SELECT event_type, value,
        |  CAST(row_number() OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS BIGINT) AS rn,
        |  count(*) OVER (PARTITION BY event_type) AS cnt
        | FROM events)
        |SELECT event_type,
        | max(CASE WHEN rn = (cnt + 1) // 2 THEN value END) AS p50,
        | max(CASE WHEN rn = (cnt * 9 + 9) // 10 THEN value END) AS p90,
        | max(cnt) AS cnt
        |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin),

    Entry("rel_window_topn", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      Tables.orders(s, dir)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .where(col("rnk") <= 3)
        .select("o_custkey", "o_orderkey", "rnk")
        .orderBy("o_custkey", "rnk")
    },
      """SELECT o_custkey, o_orderkey, rnk FROM (
        | SELECT o_custkey, o_orderkey,
        |  CAST(row_number() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        | FROM orders) t
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin),

    // 2-D Pareto frontier (operators/Skyline.frontier2D): the parts no
    // other part beats on BOTH size and price — per-x max + one
    // domain-sized running max + an equality join back; the
    // multi-objective pick a single-score top-k can't express
    Entry("rel_skyline", (s, dir) =>
      graft.operators.Skyline.frontier2D(
        Tables.load(s, dir, "part").select(col("p_partkey"),
          col("p_size").cast("long").as("p_size"),
          floor(col("p_retailprice") * 100).cast("long").as("cents")),
        "p_size", "cents")
        .orderBy("p_partkey"),
      """WITH b AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |  CAST(floor(p_retailprice * 100) AS BIGINT) AS cents
        | FROM part),
        |px AS (SELECT p_size, max(cents) AS ymax FROM b GROUP BY p_size),
        |st AS (SELECT p_size, ymax,
        |  max(ymax) OVER (ORDER BY p_size DESC ROWS BETWEEN UNBOUNDED
        |    PRECEDING AND 1 PRECEDING) AS best FROM px),
        |fx AS (SELECT p_size, ymax FROM st
        | WHERE best IS NULL OR ymax > best)
        |SELECT b.p_size, p_partkey, cents
        |FROM b JOIN fx ON b.p_size = fx.p_size AND b.cents = fx.ymax
        |ORDER BY p_partkey""".stripMargin),

    // 3-D Pareto frontier (Skyline.frontierND): grid-partitioned
    // dominance pruning (per-dim histogram buckets, metadata-sized
    // cell pruning) then the exact check only inside interacting cell
    // pairs; the oracle is brute-force NOT EXISTS dominance
    Entry("rel_skyline_3d", (s, dir) =>
      graft.operators.Skyline.frontierND(
        Tables.load(s, dir, "part").select(col("p_partkey"),
          col("p_size").cast("long").as("p_size"),
          floor(col("p_retailprice") * 100).cast("long").as("cents"),
          length(col("p_name")).cast("long").as("name_len")),
        Seq("p_size", "cents", "name_len"))
        .select("p_partkey", "p_size", "cents", "name_len")
        .orderBy("p_partkey"),
      """WITH b AS (SELECT p_partkey, CAST(p_size AS BIGINT) AS p_size,
        |  CAST(floor(p_retailprice * 100) AS BIGINT) AS cents,
        |  CAST(length(p_name) AS BIGINT) AS name_len
        | FROM part)
        |SELECT p_partkey, p_size, cents, name_len FROM b q
        |WHERE NOT EXISTS (SELECT 1 FROM b p
        | WHERE p.p_size >= q.p_size AND p.cents >= q.cents
        |  AND p.name_len >= q.name_len
        |  AND (p.p_size > q.p_size OR p.cents > q.cents
        |   OR p.name_len > q.name_len))
        |ORDER BY p_partkey""".stripMargin),

    // bounded top-k per group: the 3 longest docs per source via the
    // map-side-combinable top-k aggregate — shuffle carries ≤ k·|groups|
    // rows where the window formulation ships and sorts every row
    Entry("rel_top_per_group", (s, dir) =>
      graft.operators.GroupedTopK
        .topPerGroup(Tables.documents(s, dir), "source", "n_chars",
          "doc_id", k = 3)
        .select(col("source"), col("rank"), col("doc_id"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy("source", "rank"),
      """SELECT source, CAST(rnk AS BIGINT) AS rank, doc_id,
        | CAST(n_chars AS BIGINT) AS n_chars
        |FROM (SELECT source, doc_id, n_chars,
        |  row_number() OVER (PARTITION BY source
        |    ORDER BY n_chars DESC, doc_id) AS rnk
        | FROM documents)
        |WHERE rnk <= 3 ORDER BY source, rnk""".stripMargin),

    // outer join with null-side aggregation: every customer with the
    // count and rounded sum of their 400k+ orders, zero/null for
    // customers with none — the left-outer + group shape
    Entry("rel_outer_join", (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_big"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2)
            .as("sum_big"))
        .orderBy("c_custkey"),
      """SELECT c_custkey, count(o_orderkey) AS n_big,
        | round(coalesce(sum(o_totalprice), 0), 2) AS sum_big
        |FROM customer LEFT JOIN orders
        | ON c_custkey = o_custkey AND o_totalprice > 400000
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),

    // anti join — the NOT EXISTS shape (customers with no 400k+ order)
    Entry("rel_anti_join", (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir).where(col("o_totalprice") > 400000),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey"),
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        | WHERE o_custkey = c_custkey AND o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin),

    // TPC-H Q18 shape: join back through a HAVING aggregate (orders
    // whose lineitems sum past a quantity threshold, with their
    // customer) — aggregate-then-join, both joins key-local
    Entry("rel_q18_big_orders", (s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy("l_orderkey")
        .agg(round(sum("l_quantity"), 2).as("total_qty"))
        .where(col("total_qty") > 250)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .select(col("c_custkey"), col("o_orderkey"), col("total_qty"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
    },
      """WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2)
        |   AS total_qty
        | FROM lineitem GROUP BY l_orderkey
        | HAVING round(sum(l_quantity), 2) > 250)
        |SELECT c_custkey, o_orderkey, total_qty
        |FROM orders JOIN big ON o_orderkey = l_orderkey
        | JOIN customer ON o_custkey = c_custkey
        |ORDER BY total_qty DESC, o_orderkey""".stripMargin),

    // pivot: day-of-week × event-type count matrix (explicit value list
    // so the output schema is static — the scale-safe pivot form; a
    // discovery pivot would need an extra distinct pass)
    Entry("rel_pivot", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("dow", expr("(ts div 86400000000000) % 7"))
        .groupBy("dow")
        .pivot("event_type",
          Seq("click", "error", "purchase", "signup", "view"))
        .agg(count(lit(1)))
        .select(col("dow"),
          coalesce(col("click"), lit(0L)).as("n_click"),
          coalesce(col("error"), lit(0L)).as("n_error"),
          coalesce(col("purchase"), lit(0L)).as("n_purchase"),
          coalesce(col("signup"), lit(0L)).as("n_signup"),
          coalesce(col("view"), lit(0L)).as("n_view"))
        .orderBy("dow"),
      """SELECT CAST(epoch_ns(ts) // 86400000000000 AS BIGINT) % 7 AS dow,
        | CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_click,
        | CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_error,
        | CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_purchase,
        | CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_signup,
        | CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |   AS BIGINT) AS n_view
        |FROM events GROUP BY 1 ORDER BY dow""".stripMargin),

    // unpivot (melt): wide per-doc token stats to long (doc_id, metric,
    // value) — the inverse reshaping, one narrow expand, no shuffle
    Entry("rel_unpivot", (s, dir) =>
      TextAnalysis.tokenStats(Tables.documents(s, dir))
        .unpivot(Array(col("doc_id")),
          Array(col("n_tokens"), col("n_distinct")), "metric", "value")
        .orderBy("doc_id", "metric"),
      """WITH s AS (SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
        |    AS n_distinct
        | FROM documents)
        |SELECT doc_id, 'n_tokens' AS metric, n_tokens AS value FROM s
        |UNION ALL
        |SELECT doc_id, 'n_distinct', n_distinct FROM s
        |ORDER BY doc_id, metric""".stripMargin),

    // day-partitioned event layout (sources.PartitionedTables): events
    // written partitionBy(day) once per sf dir, re-read with a day
    // filter that prunes to 3 of ~30 directories (PartitionFilters on
    // the scan — asserted in PartitionedTablesSpec; the DPP variant is
    // spec-gated too), aggregated per day
    // Z-ordered (Morton-curve) layout: events rewritten clustered on the
    // interleaved bits of (user_id, floor(value)) so parquet row-group
    // min/max stats prune box predicates on EITHER column; the entry
    // round-trips the layout (no rows lost) and gates the Morton code
    // bit-for-bit (ZOrderSpec measures the actual pruning win)
    Entry("layout_zorder", (s, dir) => {
      val p = zorderDir.getOrElseUpdate(dir, {
        val out = newStoreDir("graft_zorder")
        graft.sources.ZOrder.writeZOrdered(
          Tables.events(s, dir).withColumn("vb", floor(col("value"))),
          out, "user_id", "vb", numFiles = 8)
        out
      })
      s.read.parquet(p)
        .select(col("event_id"),
          graft.sources.ZOrder.zValue2(col("user_id"), col("vb"), 16)
            .as("zv"))
        .orderBy("event_id")
    },
      s"""SELECT event_id,
         | CAST(${graft.sources.ZOrder.zValue2Sql("user_id", "floor(value)", 16)}
         |   AS BIGINT) AS zv
         |FROM events ORDER BY event_id""".stripMargin),

    // set difference (EXCEPT DISTINCT): users with a HIGH-VALUE click
    // but no high-value purchase — the set-operator shape (planner
    // rewrites to an aggregate + anti semantics). The value predicate
    // matters: every user has every event type in this corpus, so the
    // unfiltered difference is empty at every sf and the gate would be
    // vacuous (any implementation returning 0 rows would pass); >200
    // measured non-empty at sf0.01 (22 rows) and sf0.1 (249 rows)
    Entry("rel_except", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.where(col("event_type") === "click" && col("value") > 200.0)
        .select("user_id")
        .except(ev.where(col("event_type") === "purchase" &&
          col("value") > 200.0).select("user_id"))
        .orderBy("user_id")
    },
      """SELECT DISTINCT user_id FROM events
        |WHERE event_type = 'click' AND value > 200.0
        |EXCEPT
        |SELECT user_id FROM events
        |WHERE event_type = 'purchase' AND value > 200.0
        |ORDER BY user_id""".stripMargin),

    // set-intersection sibling of rel_except (Catalyst plans both as
    // distinct + join)
    Entry("rel_intersect", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.where(col("event_type") === "click" && col("value") > 200.0)
        .select("user_id")
        .intersect(ev.where(col("event_type") === "purchase" &&
          col("value") > 200.0).select("user_id"))
        .orderBy("user_id")
    },
      """SELECT DISTINCT user_id FROM events
        |WHERE event_type = 'click' AND value > 200.0
        |INTERSECT
        |SELECT user_id FROM events
        |WHERE event_type = 'purchase' AND value > 200.0
        |ORDER BY user_id""".stripMargin),

    // explicit GROUPING SETS with grouping_id — the mixed-granularity
    // aggregate cube/rollup can't express (two 1-dim slices + the
    // grand total, but NOT the 2-dim cross); l_quantity is
    // integer-valued so the sums are exact in both engines
    Entry("rel_grouping_sets", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
          col("l_returnflag"), col("l_linestatus"))
        .agg(sum(col("l_quantity")).cast("long").as("sum_qty"),
          count(lit(1)).as("n"),
          grouping_id().as("gid"))
        .orderBy("gid", "l_returnflag", "l_linestatus"),
      // GROUPING() bit order follows the listed columns in both engines
      """SELECT l_returnflag, l_linestatus,
        | CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
        | CAST(count(*) AS BIGINT) AS n,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY gid, l_returnflag, l_linestatus""".stripMargin),

    // ANALYZE-style per-column profile in ONE aggregate pass (nulls,
    // exact distincts, min/max) — the schema-drift companion to the
    // expectations gate. The double-typed `value` column stays out of
    // the GATE selection only because float→string rendering is
    // engine-specific; the operator itself profiles any column type
    Entry("rel_profile", (s, dir) =>
      graft.operators.Profile.profile(
        Tables.events(s, dir)
          .select("event_id", "ts", "user_id", "event_type")),
      """WITH e AS (SELECT event_id, CAST(epoch_ns(ts) AS BIGINT) AS ts,
        |  user_id, event_type FROM events)
        |SELECT 'event_id' AS "column", CAST(count(*) AS BIGINT) AS n_rows,
        | CAST(sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |   AS n_nulls,
        | CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct,
        | CAST(min(event_id) AS VARCHAR) AS min_str,
        | CAST(max(event_id) AS VARCHAR) AS max_str FROM e
        |UNION ALL
        |SELECT 'ts', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(DISTINCT ts) AS BIGINT),
        | CAST(min(ts) AS VARCHAR), CAST(max(ts) AS VARCHAR) FROM e
        |UNION ALL
        |SELECT 'user_id', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT),
        | CAST(count(DISTINCT user_id) AS BIGINT),
        | CAST(min(user_id) AS VARCHAR), CAST(max(user_id) AS VARCHAR)
        |FROM e
        |UNION ALL
        |SELECT 'event_type', CAST(count(*) AS BIGINT),
        | CAST(sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)
        |   AS BIGINT),
        | CAST(count(DISTINCT event_type) AS BIGINT),
        | min(event_type), max(event_type) FROM e""".stripMargin),

    // quartile bucketing (NTILE): each event's value quartile within its
    // type — the feature-binning window shape
    Entry("rel_ntile", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(col("value"), col("event_id"))
      Tables.events(s, dir)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .groupBy("event_type", "quartile")
        .agg(count(lit(1)).as("cnt"), round(max("value"), 2).as("q_max"))
        .orderBy("event_type", "quartile")
    },
      """WITH r AS (SELECT event_type, value,
        |  CAST(ntile(4) OVER (PARTITION BY event_type
        |    ORDER BY value, event_id) AS BIGINT) AS quartile
        | FROM events)
        |SELECT event_type, quartile, count(*) AS cnt,
        | round(max(value), 2) AS q_max
        |FROM r GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // CDC snapshot diff: two deterministic variants of orders (drops,
    // price updates) through one full-outer co-partitioned join; output
    // is |changes|, not |table| (operators/SnapshotDiff.scala)
    Entry("snapshot_diff", (s, dir) => {
      val o = Tables.orders(s, dir)
      val v1 = o.where(expr("o_orderkey % 11 != 0"))
      val v2 = o.where(expr("o_orderkey % 7 != 0"))
        .withColumn("o_totalprice",
          when(expr("o_orderkey % 5 = 0"), col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      graft.operators.SnapshotDiff.diff(v1, v2, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
      """WITH v1 AS (SELECT * FROM orders WHERE o_orderkey % 11 <> 0),
        |v2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  o_orderdate, o_orderpriority
        | FROM orders WHERE o_orderkey % 7 <> 0)
        |SELECT o_orderkey, change FROM (
        | SELECT COALESCE(v1.o_orderkey, v2.o_orderkey) AS o_orderkey,
        |  CASE WHEN v1.o_orderkey IS NULL THEN 'insert'
        |       WHEN v2.o_orderkey IS NULL THEN 'delete'
        |       WHEN (v1.o_custkey IS DISTINCT FROM v2.o_custkey)
        |         OR (v1.o_orderstatus IS DISTINCT FROM v2.o_orderstatus)
        |         OR (v1.o_totalprice IS DISTINCT FROM v2.o_totalprice)
        |         OR (v1.o_orderdate IS DISTINCT FROM v2.o_orderdate)
        |         OR (v1.o_orderpriority IS DISTINCT FROM v2.o_orderpriority)
        |       THEN 'update' END AS change
        | FROM v1 FULL OUTER JOIN v2 ON v1.o_orderkey = v2.o_orderkey) t
        |WHERE change IS NOT NULL ORDER BY o_orderkey""".stripMargin),

    // SCD type-2 history: the events change log collapsed to per-user
    // state validity intervals (gaps-and-islands, one shuffle by user)
    Entry("scd2_history", (s, dir) =>
      graft.operators.Scd2.history(
        Tables.events(s, dir).select("user_id", "ts", "event_id", "event_type"),
        "user_id", "ts", "event_id", "event_type")
        .orderBy("user_id", "valid_from"),
      """WITH e AS (SELECT user_id, CAST(epoch_ns(ts) AS BIGINT) AS ts,
        |  event_id, event_type FROM events),
        |m AS (SELECT *, CASE WHEN lag(event_type) OVER w IS NULL
        |    OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END
        |    AS is_start
        | FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |s AS (SELECT *, sum(is_start) OVER (PARTITION BY user_id
        |  ORDER BY ts, event_id) AS seg FROM m),
        |g AS (SELECT user_id, seg, min(event_type) AS state,
        |  min(ts) AS valid_from, min(event_id) AS min_eid,
        |  count(*) AS n_events
        | FROM s GROUP BY user_id, seg)
        |SELECT user_id, state, valid_from,
        | COALESCE(lead(valid_from) OVER w2, -1) AS valid_to,
        | CAST(n_events AS BIGINT) AS n_events,
        | CAST(CASE WHEN lead(valid_from) OVER w2 IS NULL
        |   THEN 1 ELSE 0 END AS BIGINT) AS is_current
        |FROM g WINDOW w2 AS (PARTITION BY user_id
        |  ORDER BY valid_from, min_eid)
        |ORDER BY user_id, valid_from, min_eid""".stripMargin),

    // CDC round trip: extract the change set between two snapshot
    // variants, MERGE it back onto v1, and return the result — the
    // oracle derives v2 INDEPENDENTLY, so the gate proves
    // apply(v1, diffRows(v1, v2)) == v2 row-for-row
    Entry("snapshot_apply", (s, dir) => {
      val o = Tables.orders(s, dir).select("o_orderkey", "o_totalprice")
      val v1 = o.where(expr("o_orderkey % 11 != 0"))
      val v2 = o.where(expr("o_orderkey % 7 != 0"))
        .withColumn("o_totalprice",
          when(expr("o_orderkey % 5 = 0"), col("o_totalprice") + lit(1.0))
            .otherwise(col("o_totalprice")))
      val changes = graft.operators.SnapshotDiff
        .diffRows(v1, v2, Seq("o_orderkey"))
      graft.operators.SnapshotDiff
        .applyChanges(v1, changes, Seq("o_orderkey"))
        .orderBy("o_orderkey")
    },
      // the INDEPENDENT v2 derivation — the Spark side reaches the same
      // relation only through diffRows + applyChanges
      """SELECT o_orderkey,
        | CASE WHEN o_orderkey % 5 = 0 THEN o_totalprice + 1.0
        |      ELSE o_totalprice END AS o_totalprice
        |FROM orders WHERE o_orderkey % 7 <> 0
        |ORDER BY o_orderkey""".stripMargin),

    // relation-version drift report (operators/Profile.compare):
    // schema evolution + per-column stat-change flags between two
    // event variants — event_type dropped, extra added, event_id
    // thinned (range + distinct change), user_id partially nulled
    // (null-fraction change via the exact cross-multiplied identity)
    Entry("rel_profile_diff", (s, dir) => {
      val e = Tables.events(s, dir)
      val v1 = e.select("event_id", "user_id", "event_type")
      val v2 = e.where(col("event_id") % 3 =!= 0)
        .select(col("event_id"),
          when(col("event_id") % 5 === 0, lit(null))
            .otherwise(col("user_id")).as("user_id"),
          (col("user_id") % 7).as("extra"))
      graft.operators.Profile.compare(v1, v2).orderBy("column")
    },
      """WITH v1 AS (SELECT event_id, user_id, event_type FROM events),
        |v2 AS (SELECT event_id,
        |  CASE WHEN event_id % 5 = 0 THEN NULL ELSE user_id END
        |    AS user_id,
        |  user_id % 7 AS extra
        | FROM events WHERE event_id % 3 <> 0),
        |pa AS (
        | SELECT 'event_id' AS col, count(*) AS nr,
        |  sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS nn,
        |  count(DISTINCT event_id) AS nd,
        |  CAST(min(event_id) AS VARCHAR) AS mn,
        |  CAST(max(event_id) AS VARCHAR) AS mx FROM v1
        | UNION ALL SELECT 'user_id', count(*),
        |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
        |  count(DISTINCT user_id), CAST(min(user_id) AS VARCHAR),
        |  CAST(max(user_id) AS VARCHAR) FROM v1
        | UNION ALL SELECT 'event_type', count(*),
        |  sum(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END),
        |  count(DISTINCT event_type), min(event_type), max(event_type)
        |  FROM v1),
        |pb AS (
        | SELECT 'event_id' AS col, count(*) AS nr,
        |  sum(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END) AS nn,
        |  count(DISTINCT event_id) AS nd,
        |  CAST(min(event_id) AS VARCHAR) AS mn,
        |  CAST(max(event_id) AS VARCHAR) AS mx FROM v2
        | UNION ALL SELECT 'user_id', count(*),
        |  sum(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END),
        |  count(DISTINCT user_id), CAST(min(user_id) AS VARCHAR),
        |  CAST(max(user_id) AS VARCHAR) FROM v2
        | UNION ALL SELECT 'extra', count(*),
        |  sum(CASE WHEN extra IS NULL THEN 1 ELSE 0 END),
        |  count(DISTINCT extra), CAST(min(extra) AS VARCHAR),
        |  CAST(max(extra) AS VARCHAR) FROM v2),
        |j AS (SELECT coalesce(pa.col, pb.col) AS c,
        |  pa.nr AS nra, pa.nn AS nna, pa.nd AS nda,
        |  pa.mn AS mna, pa.mx AS mxa,
        |  pb.nr AS nrb, pb.nn AS nnb, pb.nd AS ndb,
        |  pb.mn AS mnb, pb.mx AS mxb
        | FROM pa FULL OUTER JOIN pb ON pa.col = pb.col)
        |SELECT c AS "column",
        | CASE WHEN nra IS NULL THEN 'added'
        |   WHEN nrb IS NULL THEN 'dropped'
        |   ELSE 'kept' END AS presence,
        | CAST(coalesce(nra, -1) AS BIGINT) AS n_rows_a,
        | CAST(coalesce(nrb, -1) AS BIGINT) AS n_rows_b,
        | CAST(coalesce(nna, -1) AS BIGINT) AS n_nulls_a,
        | CAST(coalesce(nnb, -1) AS BIGINT) AS n_nulls_b,
        | CAST(coalesce(nda, -1) AS BIGINT) AS n_distinct_a,
        | CAST(coalesce(ndb, -1) AS BIGINT) AS n_distinct_b,
        | CAST(CASE WHEN nra IS NOT NULL AND nrb IS NOT NULL
        |   AND (mna IS DISTINCT FROM mnb OR mxa IS DISTINCT FROM mxb)
        |   THEN 1 ELSE 0 END AS BIGINT) AS range_changed,
        | CAST(CASE WHEN nra IS NOT NULL AND nrb IS NOT NULL
        |   AND nda <> ndb THEN 1 ELSE 0 END AS BIGINT)
        |   AS distinct_changed,
        | CAST(CASE WHEN nra IS NOT NULL AND nrb IS NOT NULL
        |   AND nna * nrb <> nnb * nra THEN 1 ELSE 0 END AS BIGINT)
        |   AS null_frac_changed
        |FROM j ORDER BY "column"""".stripMargin),
  )
}
