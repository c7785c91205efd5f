package graft
package entries

import org.apache.spark.sql.functions._

/** graph_* entries: link analysis and graph mining over relations. */
private[graft] object GraphEntries {

  /** The co-purchase graph of the triangle, label-propagation and
    * k-core gates: one `src < dst` edge per pair of parts sharing an
    * order, over lines with l_linenumber <= 3. */
  private def coPurchaseEdges(s: org.apache.spark.sql.SparkSession,
                              dir: String) = {
    val li = Tables.lineitem(s, dir).where(col("l_linenumber") <= 3)
      .select(col("l_orderkey"), col("l_partkey"))
    li.as("i").join(li.as("j"), Seq("l_orderkey"))
      .where(col("i.l_partkey") < col("j.l_partkey"))
      .select(col("i.l_partkey").as("src"), col("j.l_partkey").as("dst"))
  }

  def entries: Seq[Entry] = Seq(
    // integer-exact PageRank (operators/PageRank.rankInt) over the
    // supplier->part supply bipartite graph: 3 power-iteration rounds at
    // damping 0.85 in scale-1e9 fixed point — long sums are associative,
    // so the distributed aggregation is bit-identical to the chained
    // per-iteration SQL CTEs
    Entry("graph_pagerank", (s, dir) => {
      val edges = Tables.lineitem(s, dir)
        .select(col("l_suppkey").cast("long").as("src"),
          (col("l_partkey") + lit(100000L)).cast("long").as("dst"))
      graft.operators.PageRank.rankInt(edges, iters = 3)
        .orderBy("v")
    },
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |  CAST(l_partkey + 100000 AS BIGINT) AS dst FROM lineitem),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
        | FROM e GROUP BY src),
        |nodes AS (SELECT src AS v FROM e UNION SELECT dst AS v FROM e),
        |s0 AS (SELECT v, CAST(1000000000 AS BIGINT) AS s FROM nodes),
        |c1 AS (SELECT e.dst AS v, CAST(sum(s0.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s0 ON s0.v = e.src
        | GROUP BY e.dst),
        |s1 AS (SELECT n.v, 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c1 c ON n.v = c.v),
        |c2 AS (SELECT e.dst AS v, CAST(sum(s1.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s1 ON s1.v = e.src
        | GROUP BY e.dst),
        |s2 AS (SELECT n.v, 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c2 c ON n.v = c.v),
        |c3 AS (SELECT e.dst AS v, CAST(sum(s2.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s2 ON s2.v = e.src
        | GROUP BY e.dst),
        |s3 AS (SELECT n.v, 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c3 c ON n.v = c.v)
        |SELECT v, CAST(s AS BIGINT) AS s FROM s3 ORDER BY v""".stripMargin),

    // part co-purchase triangle census (operators/Graph.triangles):
    // parts sharing an order form an edge (per-order fan-out capped at
    // l_linenumber <= 3 — the standard guard against quadratic blow-up
    // when projecting a containment relation to co-occurrence); output
    // is per-node triangle participation + ppm-fixed-point local
    // clustering coefficient, computed via the degree-ordered
    // orientation so no hub's neighbor list is ever self-joined whole
    Entry("graph_triangles", (s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      graft.operators.Graph.triangles(edges).orderBy("v")
    },
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_linenumber <= 3),
        |und AS (SELECT DISTINCT least(i.l_partkey, j.l_partkey) AS a,
        |  greatest(i.l_partkey, j.l_partkey) AS b
        | FROM li i JOIN li j ON i.l_orderkey = j.l_orderkey
        |  AND i.l_partkey <> j.l_partkey),
        |deg AS (SELECT v, CAST(count(*) AS BIGINT) AS deg FROM
        |  (SELECT a AS v FROM und UNION ALL SELECT b FROM und)
        | GROUP BY v),
        |tri AS (SELECT e1.a AS x, e1.b AS y, e2.b AS z
        | FROM und e1 JOIN und e2 ON e1.b = e2.a
        | JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
        |per AS (SELECT v, CAST(count(*) AS BIGINT) AS tri FROM
        |  (SELECT x AS v FROM tri UNION ALL SELECT y FROM tri
        |   UNION ALL SELECT z FROM tri) GROUP BY v)
        |SELECT d.v, d.deg, COALESCE(p.tri, 0) AS tri,
        | CAST(CASE WHEN d.deg >= 2 THEN
        |   (2000000 * COALESCE(p.tri, 0)) // (d.deg * (d.deg - 1))
        |  ELSE 0 END AS BIGINT) AS coef_ppm
        |FROM deg d LEFT JOIN per p ON d.v = p.v ORDER BY d.v""".stripMargin),

    // personalized PageRank (operators/PageRank.rankPersonalized):
    // teleport mass restricted to the 10 trusted seed suppliers
    // (TrustRank shape — rank flows outward from the audited set,
    // nodes no seed reaches score 0), 2 rounds, same scale-1e9 integer
    // fixed point as graph_pagerank
    Entry("graph_pagerank_seeded", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      val edges = li.select(col("l_suppkey").cast("long").as("src"),
        (col("l_partkey") + lit(100000L)).cast("long").as("dst"))
      val seeds = li.where(col("l_suppkey") <= 10)
        .select(col("l_suppkey").cast("long").as("v")).distinct()
      graft.operators.PageRank.rankPersonalized(edges, seeds, iters = 2)
        .orderBy("v")
    },
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |  CAST(l_partkey + 100000 AS BIGINT) AS dst FROM lineitem),
        |deg AS (SELECT src, CAST(count(*) AS BIGINT) AS d
        | FROM e GROUP BY src),
        |seed AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS v
        | FROM lineitem WHERE l_suppkey <= 10),
        |nodes AS (SELECT v, CAST(max(is_seed) AS BIGINT) AS is_seed
        | FROM (SELECT src AS v, 0 AS is_seed FROM e
        |  UNION ALL SELECT dst AS v, 0 FROM e
        |  UNION ALL SELECT v, 1 FROM seed) GROUP BY v),
        |s0 AS (SELECT v, is_seed * CAST(1000000000 AS BIGINT) AS s
        | FROM nodes),
        |c1 AS (SELECT e.dst AS v, CAST(sum(s0.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s0 ON s0.v = e.src
        | GROUP BY e.dst),
        |s1 AS (SELECT n.v, n.is_seed * 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c1 c ON n.v = c.v),
        |c2 AS (SELECT e.dst AS v, CAST(sum(s1.s // deg.d) AS BIGINT) AS c
        | FROM e JOIN deg USING (src) JOIN s1 ON s1.v = e.src
        | GROUP BY e.dst),
        |s2 AS (SELECT n.v, n.is_seed * 150000000 + COALESCE(
        |  85 * (c.c // 100) + (85 * (c.c % 100)) // 100, 0) AS s
        | FROM nodes n LEFT JOIN c2 c ON n.v = c.v)
        |SELECT v, CAST(s AS BIGINT) AS s FROM s2 ORDER BY v""".stripMargin),

    // semi-supervised label propagation (operators/Graph.labelProp):
    // clamp labels on the first 30 parts, spread them 2 synchronous
    // rounds over the co-purchase graph by labeled-neighbor majority
    // with smallest-label tie-break — deterministic, so the oracle
    // replays the rounds as CTEs
    Entry("graph_label_prop", (s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      val seeds = Tables.lineitem(s, dir)
        .where(col("l_partkey") <= 30)
        .select(col("l_partkey").as("v")).distinct()
        .withColumn("lbl", expr("v % 3"))
      graft.operators.Graph.labelProp(edges, seeds, iters = 2)
        .orderBy("v")
    },
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_linenumber <= 3),
        |und AS (SELECT DISTINCT least(i.l_partkey, j.l_partkey) AS a,
        |  greatest(i.l_partkey, j.l_partkey) AS b
        | FROM li i JOIN li j ON i.l_orderkey = j.l_orderkey
        |  AND i.l_partkey <> j.l_partkey),
        |sym AS (SELECT a AS u, b AS w FROM und
        | UNION ALL SELECT b AS u, a AS w FROM und),
        |seed AS (SELECT DISTINCT l_partkey AS v,
        |  CAST(l_partkey % 3 AS BIGINT) AS lbl
        | FROM lineitem WHERE l_partkey <= 30),
        |c1 AS (SELECT s.w AS v, l.lbl, count(*) AS cnt
        | FROM sym s JOIN seed l ON l.v = s.u GROUP BY 1, 2),
        |p1 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER (
        |  PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rnk FROM c1)
        | WHERE rnk = 1),
        |lab1 AS (SELECT v, lbl FROM seed UNION ALL
        | SELECT v, lbl FROM p1 WHERE v NOT IN (SELECT v FROM seed)),
        |c2 AS (SELECT s.w AS v, l.lbl, count(*) AS cnt
        | FROM sym s JOIN lab1 l ON l.v = s.u GROUP BY 1, 2),
        |p2 AS (SELECT v, lbl FROM (SELECT v, lbl, row_number() OVER (
        |  PARTITION BY v ORDER BY cnt DESC, lbl ASC) AS rnk FROM c2)
        | WHERE rnk = 1),
        |lab2 AS (SELECT v, lbl FROM seed UNION ALL
        | SELECT v, lbl FROM p2 WHERE v NOT IN (SELECT v FROM seed))
        |SELECT v, lbl FROM lab2 ORDER BY v""".stripMargin),

    // bounded k-core peeling (operators/Graph.kcorePeel): 3 rounds of
    // deleting degree-<18 nodes from the co-purchase graph — the
    // dense-subgraph residue (425 of 2000 parts at sf0.01), each round
    // replayed exactly by the oracle's CTE chain
    Entry("graph_kcore", (s, dir) => {
      val edges = coPurchaseEdges(s, dir)
      graft.operators.Graph.kcorePeel(edges, k = 18, rounds = 3)
        .orderBy("v")
    },
      """WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
        |  WHERE l_linenumber <= 3),
        |und AS (SELECT DISTINCT least(i.l_partkey, j.l_partkey) AS a,
        |  greatest(i.l_partkey, j.l_partkey) AS b
        | FROM li i JOIN li j ON i.l_orderkey = j.l_orderkey
        |  AND i.l_partkey <> j.l_partkey),
        |d0 AS (SELECT v, count(*) AS deg FROM (SELECT a AS v FROM und
        |  UNION ALL SELECT b AS v FROM und) GROUP BY v),
        |k0 AS (SELECT v FROM d0 WHERE deg >= 18),
        |e1 AS (SELECT a, b FROM und WHERE a IN (SELECT v FROM k0)
        |  AND b IN (SELECT v FROM k0)),
        |d1 AS (SELECT v, count(*) AS deg FROM (SELECT a AS v FROM e1
        |  UNION ALL SELECT b AS v FROM e1) GROUP BY v),
        |k1 AS (SELECT v FROM d1 WHERE deg >= 18),
        |e2 AS (SELECT a, b FROM e1 WHERE a IN (SELECT v FROM k1)
        |  AND b IN (SELECT v FROM k1)),
        |d2 AS (SELECT v, count(*) AS deg FROM (SELECT a AS v FROM e2
        |  UNION ALL SELECT b AS v FROM e2) GROUP BY v),
        |k2 AS (SELECT v FROM d2 WHERE deg >= 18),
        |e3 AS (SELECT a, b FROM e2 WHERE a IN (SELECT v FROM k2)
        |  AND b IN (SELECT v FROM k2))
        |SELECT v, CAST(count(*) AS BIGINT) AS deg
        |FROM (SELECT a AS v FROM e3 UNION ALL SELECT b AS v FROM e3)
        |GROUP BY v ORDER BY v""".stripMargin),

    // market-basket co-occurrence projection (Graph.coOccurrence):
    // parts linked by the number of orders containing both, hub guard
    // dropping baskets over 8 distinct items (the quadratic-blowup
    // bound), support floor 2 — the co-engagement edge builder whose
    // output feeds triangles/labelProp/negative-mining directly
    Entry("graph_cooccur", (s, dir) =>
      graft.operators.Graph.coOccurrence(
        Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", minCount = 2L, maxBasketSize = 8L)
        .orderBy("item_a", "item_b"),
      """WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
        |  l_partkey AS item FROM lineitem),
        |small AS (SELECT basket FROM bi
        | GROUP BY basket HAVING count(*) <= 8),
        |kept AS (SELECT bi.basket, bi.item FROM bi
        | JOIN small USING (basket))
        |SELECT a.item AS item_a, b.item AS item_b,
        | CAST(count(*) AS BIGINT) AS n_baskets
        |FROM kept a JOIN kept b
        | ON a.basket = b.basket AND a.item < b.item
        |GROUP BY 1, 2 HAVING count(*) >= 2
        |ORDER BY item_a, item_b""".stripMargin),

    // pairwise association rules (Graph.associationRules): both
    // directed rules per surviving pair with all-integer floor-scaled
    // confidence and lift over the hub-guarded basket population —
    // the "customers who bought X also bought Y" scorer
    Entry("graph_assoc_rules", (s, dir) =>
      graft.operators.Graph.associationRules(
        Tables.lineitem(s, dir).select("l_orderkey", "l_partkey"),
        "l_orderkey", "l_partkey", minCount = 3L, maxBasketSize = 8L)
        .orderBy("antecedent", "consequent"),
      """WITH bi AS (SELECT DISTINCT l_orderkey AS basket,
        |  l_partkey AS item FROM lineitem),
        |small AS (SELECT basket FROM bi
        | GROUP BY basket HAVING count(*) <= 8),
        |kept AS (SELECT bi.basket, bi.item FROM bi
        | JOIN small USING (basket)),
        |pairs AS (SELECT a.item AS item_a, b.item AS item_b,
        |  CAST(count(*) AS BIGINT) AS n_ab
        | FROM kept a JOIN kept b
        |  ON a.basket = b.basket AND a.item < b.item
        | GROUP BY 1, 2 HAVING count(*) >= 3),
        |supp AS (SELECT item, CAST(count(*) AS BIGINT) AS n_item
        | FROM kept GROUP BY item),
        |tot AS (SELECT CAST(count(DISTINCT basket) AS BIGINT) AS n_total
        | FROM kept),
        |dir2 AS (SELECT item_a AS antecedent, item_b AS consequent, n_ab
        |  FROM pairs
        | UNION ALL SELECT item_b, item_a, n_ab FROM pairs)
        |SELECT antecedent, consequent, n_ab,
        | sa.n_item AS n_ant, sc.n_item AS n_cons,
        | CAST((n_ab * 1000000) // sa.n_item AS BIGINT) AS conf_x1e6,
        | CAST((n_ab * n_total * 1000000) // (sa.n_item * sc.n_item)
        |   AS BIGINT) AS lift_x1e6
        |FROM dir2
        |JOIN supp sa ON sa.item = dir2.antecedent
        |JOIN supp sc ON sc.item = dir2.consequent, tot
        |ORDER BY antecedent, consequent""".stripMargin),

    // HITS hubs/authorities (operators/Graph.hits) over the
    // supplier->part supply graph: 2 mutual-reinforcement rounds,
    // max-normalized to scale 1e9 each round via an exact
    // decimal(38,0)-widened multiply-then-floor-divide — bit-identical
    // to the oracle's chained CTEs
    Entry("graph_hits", (s, dir) => {
      val e = Tables.lineitem(s, dir)
        .select(col("l_suppkey").cast("long").as("src"),
          col("l_partkey").cast("long").as("dst"))
      graft.operators.Graph.hits(e, iters = 2)
        .orderBy("kind", "v")
    },
      """WITH e AS (SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS src,
        |  CAST(l_partkey AS BIGINT) AS dst FROM lineitem),
        |h0 AS (SELECT DISTINCT src AS v,
        |  CAST(1000000000 AS BIGINT) AS h FROM e),
        |a1r AS (SELECT e.dst AS v, CAST(sum(h0.h) AS BIGINT) AS raw
        | FROM e JOIN h0 ON h0.v = e.src GROUP BY e.dst),
        |a1 AS (SELECT v, CAST(CAST(raw AS HUGEINT) * 1000000000
        |  // (SELECT max(raw) FROM a1r) AS BIGINT) AS a FROM a1r),
        |h1r AS (SELECT e.src AS v, CAST(sum(a1.a) AS BIGINT) AS raw
        | FROM e JOIN a1 ON a1.v = e.dst GROUP BY e.src),
        |h1 AS (SELECT v, CAST(CAST(raw AS HUGEINT) * 1000000000
        |  // (SELECT max(raw) FROM h1r) AS BIGINT) AS h FROM h1r),
        |a2r AS (SELECT e.dst AS v, CAST(sum(h1.h) AS BIGINT) AS raw
        | FROM e JOIN h1 ON h1.v = e.src GROUP BY e.dst),
        |a2 AS (SELECT v, CAST(CAST(raw AS HUGEINT) * 1000000000
        |  // (SELECT max(raw) FROM a2r) AS BIGINT) AS a FROM a2r),
        |h2r AS (SELECT e.src AS v, CAST(sum(a2.a) AS BIGINT) AS raw
        | FROM e JOIN a2 ON a2.v = e.dst GROUP BY e.src),
        |h2 AS (SELECT v, CAST(CAST(raw AS HUGEINT) * 1000000000
        |  // (SELECT max(raw) FROM h2r) AS BIGINT) AS h FROM h2r)
        |SELECT v, 'hub' AS kind, h AS score FROM h2
        |UNION ALL SELECT v, 'auth' AS kind, a AS score FROM a2
        |ORDER BY kind, v""".stripMargin),
  )
}
