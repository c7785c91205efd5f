package graft
package entries

import org.apache.spark.sql.functions._

import graft.attrs.{AttributesLog, VectorAttributes}
import graft.index.IvfPqBuilder
import graft.pipeline.Dedup
import graft.query.ExactKnn
import Fixtures._

/** knn_*, vec_*, embed_* and attrs_* entries: exact k-NN, the
  * vector data model, embedding curation and the attribute log. */
private[graft] object VectorEntries {

  private val hamStoredMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[Double], Seq[Long])]

  private val hamCompactMemo = scala.collection.concurrent.TrieMap
    .empty[String, (String, Array[(Long, Long)], Long, Long)]

  def entries: Seq[Entry] = Seq(
    Entry("attrs_last_write_wins", (s, dir) =>
      AttributesLog.resolve(Tables.events(s, dir),
          keyCols = Seq("user_id", "event_type"), seqCols = Seq("ts", "event_id"))
        .select(col("user_id"), col("event_type"), col("value"),
          col("event_id").as("last_event_id"))
        .orderBy("user_id", "event_type"),
      """SELECT user_id, event_type, value, event_id AS last_event_id FROM (
        | SELECT user_id, event_type, value, event_id,
        |  row_number() OVER (PARTITION BY user_id, event_type
        |    ORDER BY ts DESC, event_id DESC) AS rn
        | FROM events) t
        |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),

    Entry("vec_shape", (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"), size(col("embedding")).cast("long").as("vec_len"),
          col("label"))
        .orderBy("vec_id"),
      """SELECT vec_id, CAST(len(embedding) AS BIGINT) AS vec_len, label
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // B9 divide_vector_set — emitted as scalar rows (vec_id, pos, val)
    // because the driver's pandas compare cannot hash array cells; pos
    // 0..15 is subvector 0, pos 16..31 is subvector 3
    Entry("vec_divide", (s, dir) =>
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          posexplode(concat(slice(col("embedding"), 1, 16),
            slice(col("embedding"), 49, 16))).as(Seq("pos", "val")))
        .select(col("vec_id"), col("pos").cast("long").as("pos"), col("val"))
        .orderBy("vec_id", "pos"),
      """SELECT vec_id, CAST(t.i - 1 AS BIGINT) AS pos,
        | CASE WHEN t.i <= 16 THEN embedding[t.i]
        |      ELSE embedding[t.i + 32] END AS val
        |FROM embeddings, generate_series(1, 32) AS t(i)
        |ORDER BY vec_id, pos""".stripMargin),

    Entry("knn_exact", (s, dir) =>
      ExactKnn.rankedIds(Tables.embeddings(s, dir), "embedding", "vec_id",
        queryVec(s, dir, 0L), 10),
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))) AS sq
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id)
        |SELECT CAST(row_number() OVER (ORDER BY sq, vec_id) AS BIGINT) AS rank,
        | vec_id
        |FROM d ORDER BY sq, vec_id LIMIT 10""".stripMargin),

    Entry("knn_exact_cosine", (s, dir) =>
      ExactKnn.rankedIdsCosine(Tables.embeddings(s, dir), "embedding", "vec_id",
        queryVec(s, dir, 0L), 10),
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS dp,
        |  sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(e.embedding[t.i] AS DOUBLE)) AS na,
        |  sum(CAST(q.qv[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS nb
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id)
        |SELECT CAST(row_number() OVER
        |  (ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, vec_id) AS BIGINT) AS rank,
        | vec_id
        |FROM d ORDER BY dp / (sqrt(na) * sqrt(nb)) DESC, vec_id LIMIT 10""".stripMargin),

    // maximum-inner-product search (MIPS): dot-product scoring for
    // retrieval embeddings whose norm carries signal — third exact
    // metric beside L2 and cosine, same bounded top-k plan
    Entry("knn_exact_ip", (s, dir) =>
      ExactKnn.rankedIdsIp(Tables.embeddings(s, dir), "embedding", "vec_id",
        queryVec(s, dir, 0L), 10),
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS dp
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id)
        |SELECT CAST(row_number() OVER (ORDER BY dp DESC, vec_id) AS BIGINT)
        |  AS rank, vec_id
        |FROM d ORDER BY dp DESC, vec_id LIMIT 10""".stripMargin),

    // binary quantization: 1-bit-per-dim sign signatures (64 dims pack
    // into ONE long), ranked by popcount-xor Hamming distance — the
    // cheapest sketch in the index family (below SQ8/PQ); the integer
    // distance itself is oracle-compared, not just the ranking
    Entry("knn_hamming", (s, dir) =>
      graft.index.BinaryQuant.rankedIds(Tables.embeddings(s, dir),
        "embedding", "vec_id", queryVec(s, dir, 0L), 10),
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum(CASE WHEN (CAST(e.embedding[t.i] AS DOUBLE) > 0.0)
        |         != (CAST(q.qv[t.i] AS DOUBLE) > 0.0) THEN 1 ELSE 0 END) AS ham
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id)
        |SELECT CAST(row_number() OVER (ORDER BY ham, vec_id) AS BIGINT) AS rank,
        | vec_id, CAST(ham AS BIGINT) AS hamming
        |FROM d ORDER BY ham, vec_id LIMIT 10""".stripMargin),

    // the production composition: Hamming nominates 4k candidates from
    // the 8-byte signatures, exact L2 re-ranks just those rows (refine
    // pattern) — candidate ids reach the re-rank scan as an IN filter
    Entry("knn_hamming_rerank", (s, dir) =>
      graft.index.BinaryQuant.rankedIdsRerank(Tables.embeddings(s, dir),
        "embedding", "vec_id", queryVec(s, dir, 0L), 10, kFactor = 4),
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |h AS (SELECT e.vec_id AS vec_id,
        |  sum(CASE WHEN (CAST(e.embedding[t.i] AS DOUBLE) > 0.0)
        |         != (CAST(q.qv[t.i] AS DOUBLE) > 0.0) THEN 1 ELSE 0 END) AS ham
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id),
        |cand AS (SELECT vec_id FROM h ORDER BY ham, vec_id LIMIT 40),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))) AS sq
        | FROM embeddings e, cand c, q, generate_series(1, 64) AS t(i)
        | WHERE e.vec_id = c.vec_id
        | GROUP BY e.vec_id)
        |SELECT CAST(row_number() OVER (ORDER BY sq, vec_id) AS BIGINT) AS rank,
        | vec_id
        |FROM d ORDER BY sq, vec_id LIMIT 10""".stripMargin),

    // batch Hamming top-k: many queries against the 8-byte signatures in
    // ONE streamed pass — bounded top-k aggregate, k·|queries| shuffle
    // rows; the integer distances are oracle-compared
    Entry("knn_hamming_batch", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.index.BinaryQuant
        .batchTopK(emb, "embedding", "vec_id", qs, "qid", "qvec", 10,
          thresholds = null, dim = 64)
        .select(col("qid"), col("vec_id"), col("hamming"), col("rank"))
        .orderBy("qid", "rank")
    },
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id <= 4),
        |d AS (SELECT q.qid AS qid, e.vec_id AS vec_id,
        |  sum(CASE WHEN (CAST(e.embedding[t.i] AS DOUBLE) > 0.0)
        |         != (CAST(q.qv[t.i] AS DOUBLE) > 0.0) THEN 1 ELSE 0 END) AS ham
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2)
        |SELECT qid, vec_id, CAST(ham AS BIGINT) AS hamming, rank FROM (
        | SELECT qid, vec_id, ham, CAST(row_number() OVER (PARTITION BY qid
        |   ORDER BY ham, vec_id) AS BIGINT) AS rank
        | FROM d) t
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),

    // filtered vector search: the attribute predicate composes BEFORE the
    // top-k, so it reaches the parquet scan as a pushed filter — the
    // "pre-filtered" strategy (exact over the filtered subset), which is
    // the correct plan whenever the predicate is selective
    Entry("knn_filtered", (s, dir) =>
      ExactKnn.rankedIds(Tables.embeddings(s, dir).where(col("label") === 3),
        "embedding", "vec_id", queryVec(s, dir, 0L), 10),
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))) AS sq
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | WHERE e.label = 3
        | GROUP BY e.vec_id)
        |SELECT CAST(row_number() OVER (ORDER BY sq, vec_id) AS BIGINT) AS rank,
        | vec_id
        |FROM d ORDER BY sq, vec_id LIMIT 10""".stripMargin),

    // SHARDED Hamming serving (round 13): ID-disjoint signature shards
    // (flat scan — every shard answers every query); raw top-k merges
    // by (hamming, id), the rerank composition uses the two-phase merge
    // (global Hamming nomination cut, then exact order) — both
    // bit-identical to BinaryQuant's cluster scans
    Entry("knn_hamming_serve_sharded", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val thr = graft.index.BinaryQuant.fitThresholds(emb, "embedding")
      val shards = Seq(emb.where(col("vec_id") % 2 === 0),
          emb.where(col("vec_id") % 2 === 1))
        .map(part => graft.query.LocalServeHamming.fromVectors(
          part, "embedding", "vec_id", dim = 64, thresholds = thr,
          pinFloats = true))
      val router = graft.query.ServeRouterHamming(shards)
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid)
        val cluster = graft.index.BinaryQuant.rankedIds(
            emb, "embedding", "vec_id", q, 10, thr)
          .collect().map(r => (r.getLong(1), r.getLong(2)))
        val routed = router.query(q, 10)
        val clusterRr = graft.index.BinaryQuant.rankedIdsRerank(
            emb, "embedding", "vec_id", q, 10, kFactor = 4,
            thresholds = thr)
          .collect().map(_.getLong(1))
        val routedRr = router.queryRerank(q, 10, kFactor = 4).map(_._1)
        cluster.zipAll(routed, (-1L, -1L), (-2L, -2L)).map {
          case ((ci, ch), (li, lh)) =>
            (if (ci == li && ch == lh) 0L else 1L, 0L)
        } ++
        clusterRr.zipAll(routedRr, -1L, -2L).map {
          case (a, b) => (0L, if (a == b) 0L else 1L)
        }
      }
      import s.implicits._
      checks.toDF("ham_mm", "rr_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("ham_mm")), lit(0L)).as("n_ham_mismatch"),
        coalesce(sum(col("rr_mm")), lit(0L)).as("n_rerank_mismatch"))
    },
      // 3 queries x (10 raw + 10 reranked), id-sharded Hamming fleet
      // bit-identical to BinaryQuant's cluster scans
      """SELECT CAST(60 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_ham_mismatch,
        | CAST(0 AS BIGINT) AS n_rerank_mismatch""".stripMargin),

    // Hamming warm serving (LocalServeHamming): signatures pin at
    // ~1/32 the float residency; the scan replays pack + popcount(xor)
    // + the (hamming, id) heap rule, so both the raw top-k and the
    // nominate+exact-rerank composition must be BIT-IDENTICAL to
    // BinaryQuant.rankedIds / rankedIdsRerank over three queries
    Entry("knn_hamming_local_serve", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val thr = graft.index.BinaryQuant.fitThresholds(emb, "embedding")
      val serve = graft.query.LocalServeHamming.fromVectors(
        emb, "embedding", "vec_id", dim = 64, thresholds = thr,
        pinFloats = true)
      val checks = Seq(0L, 7L, 23L).flatMap { qid =>
        val q = queryVec(s, dir, qid)
        val cluster = graft.index.BinaryQuant.rankedIds(
            emb, "embedding", "vec_id", q, 10, thr)
          .collect().map(r => (r.getLong(1), r.getLong(2)))
        val local = serve.query(q, 10)
        val clusterRr = graft.index.BinaryQuant.rankedIdsRerank(
            emb, "embedding", "vec_id", q, 10, kFactor = 4,
            thresholds = thr)
          .collect().map(_.getLong(1))
        val localRr = serve.queryRerank(q, 10, kFactor = 4).map(_._1)
        cluster.zipAll(local, (-1L, -1L), (-2L, -2L)).map {
          case ((ci, ch), (li, lh)) =>
            (if (ci == li && ch == lh) 0L else 1L, 0L)
        } ++
        clusterRr.zipAll(localRr, -1L, -2L).map {
          case (a, b) => (0L, if (a == b) 0L else 1L)
        }
      }
      import s.implicits._
      checks.toDF("ham_mm", "rr_mm").agg(
        count(lit(1)).cast("long").as("n_rows"),
        coalesce(sum(col("ham_mm")), lit(0L)).as("n_ham_mismatch"),
        coalesce(sum(col("rr_mm")), lit(0L)).as("n_rerank_mismatch"))
    },
      // 3 queries x (10 raw + 10 reranked), Hamming warm path
      // bit-identical to BinaryQuant's cluster scans
      """SELECT CAST(60 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_ham_mismatch,
        | CAST(0 AS BIGINT) AS n_rerank_mismatch""".stripMargin),

    // binary-signature store with the FULL lifecycle inside a REAL
    // DuckDB oracle (the strongest parity class — Hamming distances are
    // integers): save half, append half (frozen sign thresholds),
    // tombstone the 3 nearest, reload, query — the emitted (rank,
    // vec_id, hamming) rows must equal DuckDB's recount over the
    // surviving vectors, dead ids derived by the SAME rule in SQL
    Entry("knn_hamming_stored", (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val qf = queryVec(s, dir, 0L)
      val (out, thr, _) = hamStoredMemo.getOrElseUpdate(dir, {
        val p = newStoreDir("graft_ham")
        val thresholds = new Array[Double](64) // sign bits
        graft.index.BinaryQuant.save(thresholds,
          emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", p)
        graft.index.BinaryQuant.appendToStore(thresholds,
          emb.where(col("vec_id") % 2 =!= 0), "vec_id", "embedding", p)
        val victims = graft.index.BinaryQuant
          .rankedIds(emb, "embedding", "vec_id", qf, 3)
          .select(col("vec_id"))
        graft.index.BinaryQuant.deleteFromStore(p, victims, "vec_id")
        val dead = victims.collect().map(_.getLong(0)).toSeq
        (p, thresholds, dead)
      })
      val (thrL, sigs) = graft.index.BinaryQuant.load(s, out)
      require(java.util.Arrays.equals(thrL, thr), "threshold round-trip")
      val w = Window.orderBy(col("hamming"), col("id"))
      graft.index.BinaryQuant.topKSignatures(sigs, qf, 10, thrL)
        .select(row_number().over(w).cast("long").as("rank"),
          col("id").as("vec_id"), col("hamming").cast("long"))
    },
      // REAL recount oracle for the binary store lifecycle: DuckDB
      // re-derives the 3 tombstoned ids by the same (hamming, id) rule,
      // then re-ranks the SURVIVING corpus — integer distances compare
      // exactly, so the store's save+append+delete+load chain is hash-
      // gated end to end, not constant-gated
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum(CASE WHEN (CAST(e.embedding[t.i] AS DOUBLE) > 0.0)
        |         != (CAST(q.qv[t.i] AS DOUBLE) > 0.0) THEN 1 ELSE 0 END) AS ham
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id),
        |dead AS (SELECT vec_id FROM d ORDER BY ham, vec_id LIMIT 3),
        |live AS (SELECT * FROM d
        |  WHERE vec_id NOT IN (SELECT vec_id FROM dead))
        |SELECT CAST(row_number() OVER (ORDER BY ham, vec_id) AS BIGINT)
        |  AS rank, vec_id, CAST(ham AS BIGINT) AS hamming
        |FROM live ORDER BY ham, vec_id LIMIT 10""".stripMargin),

    // binary store COMPACTION: fold the append + tombstones of the
    // knn_hamming_stored fixture's twin store through the shared flat
    // rewrite — integer bit-equality pre/post, tombstones gone, fewer
    // files
    Entry("knn_hamming_compact", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qf = queryVec(s, dir, 0L)
      val (out, preHits, preFiles, postFiles) =
        hamCompactMemo.getOrElseUpdate(dir, {
          val p = newStoreDir("graft_ham_compact")
          val thresholds = new Array[Double](64)
          graft.index.BinaryQuant.save(thresholds,
            emb.where(col("vec_id") % 2 === 0), "vec_id", "embedding", p)
          graft.index.BinaryQuant.appendToStore(thresholds,
            emb.where(col("vec_id") % 2 =!= 0), "vec_id", "embedding", p)
          val victims = graft.index.BinaryQuant
            .rankedIds(emb, "embedding", "vec_id", qf, 3)
            .select(col("vec_id"))
          graft.index.BinaryQuant.deleteFromStore(p, victims, "vec_id")
          val (thr0, live0) = graft.index.BinaryQuant.load(s, p)
          val pre = graft.index.BinaryQuant
            .topKSignatures(live0, qf, 10, thr0)
            .collect()
            .map(r => (r.getLong(0), r.getAs[Number](1).longValue))
          val before = IvfPqBuilder.parquetFileCount(s, s"$p/codes")
          // rowsPerFile below the fixture's row count so the rewrite
          // provably coalesces the save+append file sets
          graft.index.BinaryQuant.compactStore(s, p)
          (p, pre, before, IvfPqBuilder.parquetFileCount(s, s"$p/codes"))
        })
      val (thrL, sigs) = graft.index.BinaryQuant.load(s, out)
      val post = graft.index.BinaryQuant.topKSignatures(sigs, qf, 10, thrL)
        .select(col("id"), col("hamming").as("post_ham"))
      import s.implicits._
      val pre = preHits.toSeq.toDF("id", "pre_ham")
      val tombstonesLeft =
        if (new java.io.File(s"$out/tombstones").exists) 1L else 0L
      idParity(post, pre, "post_ham", "pre_ham", differ = _ =!= _)
        .select(col("n_rows"), col("n_id_mismatch"), col("n_dist_mismatch"),
          lit(tombstonesLeft).as("n_tombstone_dirs"),
          lit(if (postFiles < preFiles) 1L else 0L).as("files_reduced"))
    },
      """SELECT CAST(10 AS BIGINT) AS n_rows,
        | CAST(0 AS BIGINT) AS n_id_mismatch,
        | CAST(0 AS BIGINT) AS n_dist_mismatch,
        | CAST(0 AS BIGINT) AS n_tombstone_dirs,
        | CAST(1 AS BIGINT) AS files_reduced""".stripMargin),

    // Q6 semantics: attribute fetch for the top-k hits — resolved from
    // the per-vector attribute store bound to the stored index (B13),
    // semi-joined down to the hit ids before the LWW replay — the
    // analogue of loading only hit partitions' attribute logs
    // (reference db/stored.rs:625-638)
    Entry("knn_attr_fetch", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val hits = ExactKnn.rankedIds(emb, "embedding", "vec_id",
        queryVec(s, dir, 0L), 10)
      val attrs = VectorAttributes.getAttributeFor(s, storedIndexPath(s, dir),
        hits, "vec_id", "label")
      hits.join(attrs, col("vec_id") === col("vector_id"))
        .select(col("rank"), col("vec_id"), col("value_str").as("label"))
        .orderBy("rank")
    },
      """WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (SELECT e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))) AS sq
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY e.vec_id),
        |h AS (SELECT CAST(row_number() OVER (ORDER BY sq, vec_id) AS BIGINT)
        |   AS rank, vec_id
        | FROM d ORDER BY sq, vec_id LIMIT 10)
        |SELECT h.rank, h.vec_id, e.label
        |FROM h JOIN embeddings e ON e.vec_id = h.vec_id
        |ORDER BY h.rank""".stripMargin),

    // B12/B13 whole-store get: LWW over two upsert batches (every 7th
    // vector's views was overwritten by batch 1 — see storedIndexPath)
    Entry("attrs_vector_get", (s, dir) => {
      VectorAttributes.getAttribute(s, storedIndexPath(s, dir), "views")
        .select(col("vector_id"), col("value_u64").as("views"))
        .orderBy("vector_id")
    },
      """SELECT vec_id AS vector_id,
        | CAST(vec_id * 10 + CASE WHEN vec_id % 7 = 0 THEN 1 ELSE 0 END
        |   AS BIGINT) AS views
        |FROM embeddings ORDER BY vector_id""".stripMargin),

    // Q8 semantics: residual + centroid reconstructs the original vector
    // (reference partitions.rs:38-93); emitted as an integer invariant —
    // n_bad = elements off by > 1e-6 — so the oracle is exact
    Entry("vec_reconstruct", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, encoded) = fittedIndex(s, dir)
      val centroidLit = typedlit(model.partitionCentroids.map(_.toSeq).toSeq)
      val reconstructed = encoded.select(col("id").as("vec_id"),
        zip_with(col("residual"),
          element_at(centroidLit, col("partition") + 1),
          (r, c) => r + c).as("rec"))
      reconstructed
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .select(col("vec_id"),
          size(filter(zip_with(col("rec"), col("embedding"),
            (r, o) => abs(r - o.cast("double")) > lit(1e-6)),
            x => x)).cast("long").as("n_bad"))
        .orderBy("vec_id")
    },
      """SELECT vec_id, CAST(0 AS BIGINT) AS n_bad
        |FROM embeddings ORDER BY vec_id""".stripMargin),

    // batch k-NN: many queries in one job via the map-side-combining
    // TopKAggregator — the plan shape where Spark beats query-at-a-time
    Entry("knn_batch", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      ExactKnn.batchTopK(emb, "embedding", "vec_id", qs, "qid", "qvec", 10)
        .select(col("qid"), col("vec_id"), col("rank"))
        .orderBy("qid", "rank")
    },
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id <= 4),
        |d AS (SELECT q.qid AS qid, e.vec_id AS vec_id,
        |  sum((CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))) AS sq
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2)
        |SELECT qid, vec_id, rank FROM (
        | SELECT qid, vec_id, CAST(row_number() OVER (PARTITION BY qid
        |   ORDER BY sq, vec_id) AS BIGINT) AS rank
        | FROM d) t
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),

    // batch MIPS: many inner-product queries in ONE streamed pass — the
    // dot-product twin of knn_batch (bounded top-k over the negated
    // score, so the shuffle still carries k·|queries| rows)
    Entry("knn_batch_ip", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") <= 4)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      ExactKnn.batchTopKIp(emb, "embedding", "vec_id", qs, "qid", "qvec", 10)
        .select(col("qid"), col("vec_id"), col("rank"))
        .orderBy("qid", "rank")
    },
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id <= 4),
        |d AS (SELECT q.qid AS qid, e.vec_id AS vec_id,
        |  sum(CAST(e.embedding[t.i] AS DOUBLE) * CAST(q.qv[t.i] AS DOUBLE)) AS dp
        | FROM embeddings e, q, generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2)
        |SELECT qid, vec_id, rank FROM (
        | SELECT qid, vec_id, CAST(row_number() OVER (PARTITION BY qid
        |   ORDER BY dp DESC, vec_id) AS BIGINT) AS rank
        | FROM d) t
        |WHERE rank <= 10 ORDER BY qid, rank""".stripMargin),

    // exact kNN JOIN (the kNN graph): every vector's 3 nearest others —
    // one map-side-combined bounded top-k pass, never a window over the
    // full pairwise relation. maxRows=MaxValue: the sf fixtures are
    // bounded by construction, so skip the guard's count() job and
    // accept the broadcast (the guard exists for unknown inputs)
    Entry("knn_join", (s, dir) =>
      ExactKnn.knnJoin(Tables.embeddings(s, dir), "embedding", "vec_id", 3,
          maxRows = Long.MaxValue)
        .orderBy("qid", "rank"),
      """WITH d AS (SELECT a.vec_id AS qid, b.vec_id AS vid,
        |  sum((CAST(a.embedding[t.i] AS DOUBLE) - CAST(b.embedding[t.i] AS DOUBLE))
        |    * (CAST(a.embedding[t.i] AS DOUBLE) - CAST(b.embedding[t.i] AS DOUBLE)))
        |    AS sq
        | FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id,
        |  generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2),
        |r AS (SELECT qid, vid, CAST(row_number() OVER (PARTITION BY qid
        |   ORDER BY sq, vid) AS BIGINT) AS rank FROM d)
        |SELECT qid, rank, vid AS vec_id FROM r
        |WHERE rank <= 3 ORDER BY qid, rank""".stripMargin),

    // k-NN label propagation (weak supervision): every 10th vector is
    // "unlabeled" and takes the majority label of its 5 nearest labeled
    // neighbors; ties to the smallest label — integer-only output
    Entry("knn_classify", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val labeled = emb.where(col("vec_id") % 10 =!= 0)
        .select(col("vec_id"), col("embedding"),
          col("label").cast("long").as("label"))
      val queries = emb.where(col("vec_id") % 10 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      ExactKnn.knnClassify(labeled, "embedding", "vec_id", "label",
          queries, "qid", "qvec", k = 5)
        .orderBy("qid")
    },
      """WITH q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        |  WHERE vec_id % 10 = 0),
        |l AS (SELECT vec_id, embedding, CAST(label AS BIGINT) AS label
        |  FROM embeddings WHERE vec_id % 10 != 0),
        |d AS (SELECT q.qid AS qid, l.vec_id AS vid, l.label AS label,
        |  sum((CAST(l.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |    * (CAST(l.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE)))
        |    AS sq
        | FROM l, q, generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2, 3),
        |r AS (SELECT qid, label, row_number() OVER (PARTITION BY qid
        |   ORDER BY sq, vid) AS rk FROM d),
        |v AS (SELECT qid, label AS pred_label, count(*) AS votes FROM r
        | WHERE rk <= 5 GROUP BY 1, 2)
        |SELECT qid, pred_label, CAST(votes AS BIGINT) AS votes FROM (
        | SELECT qid, pred_label, votes, row_number() OVER (PARTITION BY qid
        |   ORDER BY votes DESC, pred_label) AS rr FROM v) t
        |WHERE rr = 1 ORDER BY qid""".stripMargin),

    // approximate kNN JOIN — the 100 TB kNN-graph path: candidates from
    // shared IVF cells (query side probes nprobe cells, candidate side
    // sits in its home cell), NOTHING broadcast, same bounded top-k
    // aggregate as the exact path. Invariants vs the oracle-verified
    // exact knn_join: every vector present as a query with exactly k
    // rows, and ≥90% of the exact graph's edges recovered (pair
    // distances are exact, so cell misses are the only error mode)
    Entry("knn_join_ann", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, _) = fittedIndex(s, dir)
      val ann = graft.query.AnnJoin.knnJoin(emb, "vec_id", "embedding",
        model, k = 3, nprobe = 3)
      val exact = ExactKnn.knnJoin(emb, "embedding", "vec_id", 3,
        maxRows = Long.MaxValue)
      val nVecs = emb.agg(count(lit(1)).cast("long").as("n_vecs"))
      val perQ = ann.groupBy("qid").agg(count(lit(1)).as("c"))
      val qStats = perQ.agg(
        count(lit(1)).cast("long").as("n_qids"),
        coalesce(sum(when(col("c") =!= 3, 1L).otherwise(0L)), lit(0L))
          .as("n_bad_counts"))
      val recalled = ann.select("qid", "vec_id")
        .join(exact.select("qid", "vec_id"), Seq("qid", "vec_id"))
        .agg(count(lit(1)).cast("long").as("n_recalled"))
      val nExact = exact.agg(count(lit(1)).cast("long").as("n_exact"))
      qStats.crossJoin(nVecs).crossJoin(recalled).crossJoin(nExact)
        .select((col("n_vecs") - col("n_qids")).as("n_missing_qids"),
          col("n_bad_counts"),
          when(col("n_recalled") * 100 >= col("n_exact") * 90, 1L)
            .otherwise(0L).as("recall_ge_90"))
    },
      """SELECT CAST(0 AS BIGINT) AS n_missing_qids,
        | CAST(0 AS BIGINT) AS n_bad_counts,
        | CAST(1 AS BIGINT) AS recall_ge_90""".stripMargin),

    Entry("embed_neardup", (s, dir) =>
      Dedup.embeddingNearDupPairs(Tables.embeddings(s, dir), thresholdMilli = 400)
        .orderBy("a_id", "b_id"),
      """WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS dp,
        |  sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(a.embedding[t.i] AS DOUBLE)) AS na,
        |  sum(CAST(b.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS nb
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id,
        |  generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2)
        |SELECT a_id, b_id FROM p
        |WHERE dp / (sqrt(na) * sqrt(nb)) * 1000 >= 400
        |ORDER BY a_id, b_id""".stripMargin),

    // SemDeDup decision layer: drop all but the min id of every
    // embedding near-dup cluster (connected components over the pair
    // graph — cosine similarity is not transitive, so the closure is
    // what makes the kept set pairwise-clean). Exact pairs here (the
    // oracle-matched baseline); AnnJoin.cosineSelfJoin feeds the same
    // decision layer at corpus scale
    // FULL SemDeDup (arXiv:2303.09540): within-cell near-dup components
    // keep the member FARTHEST from the cell centroid (integer-exact
    // n²·d² argmax — see Dedup.semDeDup), ties to the smaller id. The
    // label column stands in for the paper's k-means cell at gate scale
    // (deterministic for the oracle); production cells come from
    // Clustering.assign and AnnJoin.cosineSelfJoin feeds the pairs
    Entry("embed_semdedup", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val lab = emb.select(col("vec_id"), col("label"))
      val pairs = Dedup.embeddingNearDupPairs(emb, thresholdMilli = 400)
        .join(lab.select(col("vec_id").as("a_id"), col("label").as("__la")),
          "a_id")
        .join(lab.select(col("vec_id").as("b_id"), col("label").as("__lb")),
          "b_id")
        .where(col("__la") === col("__lb"))
        .select("a_id", "b_id")
      Dedup.semDeDup(emb, "vec_id", "embedding", "label", pairs)
        .orderBy("doc_id")
    },
      // same pair predicate as embed_neardup scoped to equal labels,
      // same recursive-CTE closure, then the SemDeDup keep rule: max
      // integer-exact farness (HUGEINT Σ(n·xm − S)²) per component,
      // ties to the smaller id
      """WITH p0 AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS dp,
        |  sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(a.embedding[t.i] AS DOUBLE)) AS na,
        |  sum(CAST(b.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS nb
        | FROM embeddings a JOIN embeddings b
        |   ON a.vec_id < b.vec_id AND a.label = b.label,
        |  generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM p0
        | WHERE dp / (sqrt(na) * sqrt(nb)) * 1000 >= 400),
        |ed AS (SELECT a_id AS s, b_id AS d FROM pairs
        | UNION ALL SELECT b_id, a_id FROM pairs),
        |r AS (
        | WITH RECURSIVE reach(id, root) AS (
        |   SELECT vec_id, vec_id FROM embeddings
        |   UNION
        |   SELECT ed.d, reach.root FROM reach JOIN ed ON ed.s = reach.id)
        | SELECT id, min(root) AS comp FROM reach GROUP BY id),
        |xm AS (SELECT vec_id AS id, label, t.i AS pos,
        |  CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000) AS BIGINT)
        |    AS xm
        | FROM embeddings, generate_series(1, 64) AS t(i)),
        |sums AS (SELECT label, pos, sum(xm) AS s, count(*) AS n
        | FROM xm GROUP BY 1, 2),
        |sc AS (SELECT xm.id,
        |  sum(CAST(sums.n * xm.xm - sums.s AS HUGEINT)
        |    * CAST(sums.n * xm.xm - sums.s AS HUGEINT)) AS far
        | FROM xm JOIN sums ON xm.label = sums.label AND xm.pos = sums.pos
        | GROUP BY 1),
        |k AS (SELECT r.id, r.comp, sc.far,
        |  row_number() OVER (PARTITION BY r.comp
        |    ORDER BY sc.far DESC, r.id) AS rn
        | FROM r JOIN sc ON sc.id = r.id)
        |SELECT id AS doc_id, comp,
        | CAST(CASE WHEN rn = 1 THEN 1 ELSE 0 END AS BIGINT) AS keep
        |FROM k ORDER BY doc_id""".stripMargin),

    Entry("embed_drop_list", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      Dedup.embeddingDropList(emb.select(col("vec_id").as("doc_id")),
          Dedup.embeddingNearDupPairs(emb, thresholdMilli = 400))
        .orderBy("drop_id")
    },
      // same pair predicate as embed_neardup, closed into components by
      // the same recursive-CTE shape as dedup_drop_list
      """WITH p AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS dp,
        |  sum(CAST(a.embedding[t.i] AS DOUBLE) * CAST(a.embedding[t.i] AS DOUBLE)) AS na,
        |  sum(CAST(b.embedding[t.i] AS DOUBLE) * CAST(b.embedding[t.i] AS DOUBLE)) AS nb
        | FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id,
        |  generate_series(1, 64) AS t(i)
        | GROUP BY 1, 2),
        |pairs AS (SELECT a_id, b_id FROM p
        | WHERE dp / (sqrt(na) * sqrt(nb)) * 1000 >= 400),
        |ed AS (SELECT a_id AS s, b_id AS d FROM pairs
        | UNION ALL SELECT b_id, a_id FROM pairs),
        |r AS (
        | WITH RECURSIVE reach(id, root) AS (
        |   SELECT vec_id, vec_id FROM embeddings
        |   UNION
        |   SELECT ed.d, reach.root FROM reach JOIN ed ON ed.s = reach.id)
        | SELECT id, min(root) AS comp FROM reach GROUP BY id)
        |SELECT id AS drop_id, comp AS keep_id FROM r
        |WHERE id != comp ORDER BY drop_id""".stripMargin),

    // prototype pruning (Sorscher et al. 2022): drop the 25% of each
    // k-means cell closest to its centroid. Invariants, all in-plan:
    // per-cluster kept count equals sz − floor(sz·25/100) (exact
    // integer quota), and the lexicographic (d2, id) cut is clean —
    // every dropped row sorts strictly below every kept row of its
    // cluster; the fold-order d2 is bit-deterministic by construction
    Entry("embed_prototype_prune", (s, dir) => {
      import graft.pipeline.Clustering
      val emb = Tables.embeddings(s, dir)
      val model = Clustering.fit(emb, "embedding", k = 8, seed = 5,
        trainPointsPerCentroid = 0)
      val wd = Clustering.assignWithDistance(emb, "embedding", model)
        .select(col("vec_id"), col("cluster"), col("d2"))
        .localCheckpoint()
      val kept = Clustering.prototypePrune(emb, "vec_id", "embedding",
          model, dropPct = 25)
        .select(col("vec_id"), col("cluster"), col("d2"))
      val dropped = wd.join(kept.select("vec_id"), Seq("vec_id"),
        "left_anti")
      val byK = kept.groupBy("cluster")
        .agg(count(lit(1)).as("n_kept"),
          min(struct(col("d2"), col("vec_id"))).as("lo_kept"))
      val byD = dropped.groupBy("cluster")
        .agg(count(lit(1)).as("n_drop"),
          max(struct(col("d2"), col("vec_id"))).as("hi_drop"))
      val bySz = wd.groupBy("cluster").agg(count(lit(1)).as("sz"))
      bySz.join(byK, Seq("cluster"), "left").join(byD, Seq("cluster"), "left")
        .agg(
          sum(col("sz")).cast("long").as("n_total"),
          when(countDistinct(col("cluster")) > 1, 1L).otherwise(0L)
            .as("multi_cluster"),
          coalesce(sum(when(coalesce(col("n_kept"), lit(0L))
              =!= col("sz") - expr("(sz * 25) div 100"), 1L)
            .otherwise(0L)), lit(0L)).cast("long").as("n_quota_viol"),
          coalesce(sum(when(col("hi_drop").isNotNull
              && col("lo_kept").isNotNull
              && !(col("hi_drop") < col("lo_kept")), 1L)
            .otherwise(0L)), lit(0L)).cast("long").as("n_rank_viol"),
          when(coalesce(sum(col("n_drop")), lit(0L)) > 0, 1L)
            .otherwise(0L).as("dropped_nonzero"))
    },
      // invariant oracle: the clustering gate's checks all resolve to
      // constants (500 vectors covered, in-range clusters, zero argmin
      // mismatches against the independent HOF recompute, exact quota
      // sums, per-cluster sample counts correct)
      """SELECT CAST(500 AS BIGINT) AS n_total,
        | CAST(1 AS BIGINT) AS multi_cluster,
        | CAST(0 AS BIGINT) AS n_quota_viol,
        | CAST(0 AS BIGINT) AS n_rank_viol,
        | CAST(1 AS BIGINT) AS dropped_nonzero""".stripMargin),

    // the 100 TB twin of embed_prototype_prune: the per-cluster drop
    // threshold from a quantized-d2 histogram, only the boundary bucket
    // resolved by the exact (d2, id) rank. Gate: the twin's kept set is
    // EXACTLY the window form's (anti-joins both ways empty) at BOTH a
    // fine and a deliberately coarse quantization (coarse pushes more
    // rows through the boundary-bucket resolution path)
    Entry("embed_prototype_prune_hist", (s, dir) => {
      import graft.pipeline.Clustering
      val emb = Tables.embeddings(s, dir)
      val model = Clustering.fit(emb, "embedding", k = 8, seed = 5,
        trainPointsPerCentroid = 0)
      val exact = Clustering.prototypePrune(emb, "vec_id", "embedding",
        model, dropPct = 25).select("vec_id").localCheckpoint()
      def diffs(scale: Double) = {
        val twin = Clustering.prototypePruneHist(emb, "vec_id", "embedding",
          model, dropPct = 25, quantScale = scale).select("vec_id")
        exact.join(twin, Seq("vec_id"), "left_anti")
          .agg(count(lit(1)).cast("long").as("only_exact"))
          .crossJoin(twin.join(exact, Seq("vec_id"), "left_anti")
            .agg(count(lit(1)).cast("long").as("only_twin")))
          .crossJoin(twin.agg(count(lit(1)).cast("long").as("n_twin")))
      }
      val fine = diffs(1e4)
      val coarse = diffs(2.0)
      emb.agg(count(lit(1)).cast("long").as("n_total"))
        .crossJoin(exact.agg(count(lit(1)).cast("long").as("n_exact")))
        .crossJoin(fine.select(col("only_exact").as("fine_only_exact"),
          col("only_twin").as("fine_only_twin"),
          col("n_twin").as("fine_n")))
        .crossJoin(coarse.select(col("only_exact").as("coarse_only_exact"),
          col("only_twin").as("coarse_only_twin"),
          col("n_twin").as("coarse_n")))
        .select(col("n_total"), col("fine_only_exact"),
          col("fine_only_twin"),
          when(col("fine_n") === col("n_exact"), 1L).otherwise(0L)
            .as("fine_count_match"),
          col("coarse_only_exact"), col("coarse_only_twin"),
          when(col("coarse_n") === col("n_exact"), 1L).otherwise(0L)
            .as("coarse_count_match"))
    },
      // invariant oracle: the histogram twin's kept set is EXACTLY the
      // window form's at both quantizations (anti-joins empty, counts
      // equal); n_total recomputed from the table
      """SELECT CAST(count(*) AS BIGINT) AS n_total,
        | CAST(0 AS BIGINT) AS fine_only_exact,
        | CAST(0 AS BIGINT) AS fine_only_twin,
        | CAST(1 AS BIGINT) AS fine_count_match,
        | CAST(0 AS BIGINT) AS coarse_only_exact,
        | CAST(0 AS BIGINT) AS coarse_only_twin,
        | CAST(1 AS BIGINT) AS coarse_count_match
        |FROM embeddings""".stripMargin),

    // per-label embedding centroids (class prototypes) in the
    // integer-exact formulation — see Embeddings.centroidSumsMilli
    Entry("embed_centroids", (s, dir) =>
      graft.pipeline.Embeddings
        .centroidSumsMilli(Tables.embeddings(s, dir), "label", "embedding")
        .select(col("label").cast("long").as("label"), col("pos"),
          col("sum_milli"), col("cnt"))
        .orderBy("label", "pos"),
      """SELECT CAST(label AS BIGINT) AS label, CAST(t.i - 1 AS BIGINT) AS pos,
        | CAST(sum(CAST(floor(CAST(embedding[t.i] AS DOUBLE) * 1000)
        |   AS BIGINT)) AS BIGINT) AS sum_milli,
        | count(*) AS cnt
        |FROM embeddings, generate_series(1, 64) AS t(i)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),

    // IVF-bucketed ANN similarity self-join — the 100 TB near-dup path.
    // Invariants vs the oracle-verified exact all-pairs result: the IVF
    // join may only MISS pairs (every emitted pair is exact-verified →
    // n_extra = 0) and must recover ≥ 90% of them at this geometry
    Entry("embed_neardup_ivf", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, _) = fittedIndex(s, dir)
      val ivf = graft.query.AnnJoin.cosineSelfJoin(emb, "vec_id", "embedding",
        model, thresholdMilli = 400, nprobe = 3)
      val exact = Dedup.embeddingNearDupPairs(emb, thresholdMilli = 400)
      val extra = ivf.join(exact, Seq("a_id", "b_id"), "left_anti")
        .agg(count(lit(1)).cast("long").as("n_extra"))
      val counts = ivf.agg(count(lit(1)).cast("long").as("n_ivf")).crossJoin(
        exact.agg(count(lit(1)).cast("long").as("n_exact")))
      extra.crossJoin(counts)
        .select(col("n_extra"),
          when(col("n_ivf") * 100 >= col("n_exact") * 90, 1L).otherwise(0L)
            .as("recall_ge_90"))
    },
      """SELECT CAST(0 AS BIGINT) AS n_extra,
        | CAST(1 AS BIGINT) AS recall_ge_90""".stripMargin),

    // BIPARTITE embedding near-dup (the incremental-ingest shape for
    // vectors): a new batch joined against the stored corpus through
    // shared IVF cells, never corpus×corpus. Invariants vs the exact
    // bipartite cross product: every emitted pair is exact-verified
    // (n_extra = 0) and ≥90% of true pairs are recovered
    Entry("embed_neardup_incr", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val (model, _) = fittedIndex(s, dir)
      val newE = emb.where(col("vec_id") % 5 === 0)
      val corpusE = emb.where(col("vec_id") % 5 =!= 0)
      val ivf = graft.query.AnnJoin.cosineBipartiteJoin(newE, corpusE,
        "vec_id", "embedding", model, thresholdMilli = 400, nprobe = 3)
      val exact = newE.select(col("vec_id").as("new_id"),
          col("embedding").as("nv"))
        .crossJoin(corpusE.select(col("vec_id").as("corpus_id"),
          col("embedding").as("cv")))
        .where(graft.functions.FastFunctions.cosineF(col("nv"), col("cv"))
          * 1000 >= 400)
        .select("new_id", "corpus_id")
      val extra = ivf.join(exact, Seq("new_id", "corpus_id"), "left_anti")
        .agg(count(lit(1)).cast("long").as("n_extra"))
      val counts = ivf.agg(count(lit(1)).cast("long").as("n_ivf")).crossJoin(
        exact.agg(count(lit(1)).cast("long").as("n_exact")))
      extra.crossJoin(counts)
        .select(col("n_extra"),
          when(col("n_ivf") * 100 >= col("n_exact") * 90, 1L).otherwise(0L)
            .as("recall_ge_90"))
    },
      """SELECT CAST(0 AS BIGINT) AS n_extra,
        | CAST(1 AS BIGINT) AS recall_ge_90""".stripMargin),

    // model-free document embedding by the feature-hashing trick
    // (Weinberger et al. 2009): one narrow kernel projection, no
    // vocabulary table. The hash is engine-local (xxh64), so the gate
    // checks the EXACT invariant instead of values: every doc's bucket
    // counts sum to its token count and the vector is dim-wide
    Entry("embed_hash", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val emb = graft.pipeline.Embeddings.hashEmbed(docs, dim = 64)
      emb.join(docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")),
          Seq("doc_id"))
        .select(col("doc_id"), col("n_tokens"),
          aggregate(col("embedding"), lit(0.0d), (a, x) => a + x)
            .cast("long").as("v_sum"),
          size(col("embedding")).cast("long").as("v_dim"))
        .agg(count(lit(1)).cast("long").as("n_docs"),
          coalesce(sum(when(col("v_sum") =!= col("n_tokens"), 1L)
            .otherwise(0L)), lit(0L)).as("n_bad_sum"),
          coalesce(sum(when(col("v_dim") =!= 64, 1L).otherwise(0L)), lit(0L))
            .as("n_bad_dim"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_docs,
        | CAST(0 AS BIGINT) AS n_bad_sum,
        | CAST(0 AS BIGINT) AS n_bad_dim
        |FROM documents""".stripMargin),

    // text → ANN bridge with NO pretrained embeddings: hash-embed the
    // corpus, L2-normalize, batch MIPS (= cosine on unit vectors) for
    // every 100th doc. Invariants: k rows per query and the top-1
    // similarity ≈ 1 (each query is its own nearest neighbor up to
    // count-vector ties, which still score 1)
    Entry("embed_hash_knn", (s, dir) => {
      // fan out BEFORE hashEmbed: batchTopKIp fans its streamed side,
      // but the tokenize+hash+normalize projection sits below that
      // exchange and ran map-side as ONE 2.5 s task (round-15 profile)
      val docs = graft.functions.PlanShape.fanOut(Tables.documents(s, dir))
      // norm as its own projection column so the transform lambda reads
      // a scalar — embedding the aggregate inside the lambda would
      // re-evaluate the O(dim) norm per element (O(dim²) per row)
      val emb = graft.pipeline.Embeddings.hashEmbed(docs, dim = 64)
        .withColumn("nrm",
          graft.functions.VectorFunctions.l2Norm(col("embedding")))
        .select(col("doc_id"),
          transform(col("embedding"),
            x => (x.cast("double") / col("nrm")).cast("float"))
            .as("embedding"))
      val qs = emb.where(col("doc_id") % 100 === 0)
        .select(col("doc_id").as("qid"), col("embedding").as("qvec"))
      val knn = ExactKnn.batchTopKIp(emb, "embedding", "doc_id",
        qs, "qid", "qvec", k = 5)
      knn.groupBy("qid")
        .agg(count(lit(1)).as("c"),
          max(when(col("rank") === 1, col("ip"))).as("top1"))
        .agg(count(lit(1)).cast("long").as("n_queries"),
          coalesce(sum(when(col("c") =!= 5, 1L).otherwise(0L)), lit(0L))
            .as("n_bad_counts"),
          coalesce(sum(when(col("top1") < 0.999, 1L).otherwise(0L)), lit(0L))
            .as("n_bad_top1"))
    },
      """SELECT CAST(count(*) AS BIGINT) AS n_queries,
        | CAST(0 AS BIGINT) AS n_bad_counts,
        | CAST(0 AS BIGINT) AS n_bad_top1
        |FROM documents WHERE doc_id % 100 = 0""".stripMargin),

    // matryoshka truncation curve (Kusupati et al. 2022): exact top-10
    // recall of prefix-sliced embeddings (d = 8/16/32/64) vs the
    // full-dim ranking — the operating curve for serving at a cheap
    // prefix dim; one batchTopK pass per dim over a narrower slice
    Entry("embed_matryoshka", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val qs = emb.where(col("vec_id") % 100 === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      graft.pipeline.Embeddings.matryoshkaRecall(emb, "vec_id",
        "embedding", qs, "qid", "qvec", dims = Seq(8, 16, 32, 64), k = 10)
        .orderBy("dim")
    },
      """WITH dims(d) AS (VALUES (8), (16), (32), (64)),
        |q AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings
        | WHERE vec_id % 100 = 0),
        |dist AS (SELECT dims.d, q.qid, e.vec_id,
        |  sum(CASE WHEN t.i <= dims.d THEN
        |   (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |   * (CAST(e.embedding[t.i] AS DOUBLE) - CAST(q.qv[t.i] AS DOUBLE))
        |   ELSE 0 END) AS sq
        | FROM embeddings e, q, dims, generate_series(1, 64) AS t(i)
        | GROUP BY dims.d, q.qid, e.vec_id),
        |topk AS (SELECT d, qid, vec_id,
        |  row_number() OVER (PARTITION BY d, qid ORDER BY sq, vec_id)
        |    AS rn FROM dist),
        |sel AS (SELECT d, qid, vec_id FROM topk WHERE rn <= 10),
        |f64 AS (SELECT qid, vec_id FROM sel WHERE d = 64),
        |h AS (SELECT s.d, count(DISTINCT s.qid) AS nq,
        |  count(f.vec_id) AS nh
        | FROM sel s LEFT JOIN f64 f
        |   ON s.qid = f.qid AND s.vec_id = f.vec_id
        | GROUP BY s.d)
        |SELECT CAST(d AS BIGINT) AS dim, CAST(nq AS BIGINT) AS n_queries,
        | CAST(nh AS BIGINT) AS n_hits,
        | CAST(nh * 10000 // (nq * 10) AS BIGINT) AS recall_bp
        |FROM h ORDER BY dim""".stripMargin),

    // embedding-space drift: cluster-share PSI over a FIXED cell model
    // between two corpus versions (Drift.embeddingPsi ∘ Clustering
    // .assign) — the re-training trigger for semantic shift that no
    // scalar column sees. Invariants: a snapshot against itself is
    // EXACTLY zero PSI (equal smoothed shares per cell → every floored
    // contribution is 0, geometry-independent); an injected shift (half
    // the corpus moved +2.0 in 8 of 64 dims — ~2× the corpus's entire
    // value range) reads above the 0.25 investigate threshold at any sf
    // (probed ~1.0 at sf0.01 and sf0.1); totals are corpus counts
    Entry("embed_drift_psi", (s, dir) => {
      import graft.pipeline.{Clustering, Drift}
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      val model = Clustering.fit(emb, "embedding", k = 8, seed = 42L,
        trainPointsPerCentroid = 0)
      val cur = emb.withColumn("embedding",
        when(col("vec_id") % 2 === 0,
          transform(col("embedding"),
            (x, i) => when(i < 8, x + lit(2.0f)).otherwise(x)))
          .otherwise(col("embedding")))
      val self = Drift.embeddingPsi(emb, emb, "embedding", model)
        .select(col("psi_x1e6").as("psi_self"))
      Drift.embeddingPsi(emb, cur, "embedding", model)
        .select(col("n_old"), col("n_new"),
          (col("psi_x1e6") >= 250000L).cast("long").as("shift_is_loud"))
        .crossJoin(broadcast(self))
    },
      // both sides are full-corpus counts; self-PSI is identically zero
      // and the injected 8-dim shift is loud at any sf (see the entry)
      """SELECT count(*) AS n_old, count(*) AS n_new,
        | CAST(1 AS BIGINT) AS shift_is_loud,
        | CAST(0 AS BIGINT) AS psi_self
        |FROM embeddings""".stripMargin),

    // PCA over the embedding corpus (invariant-gated like the ANN
    // entries — eigenvectors are sign/geometry-dependent, their contracts
    // are not): one distributed moments pass + driver Jacobi eigensolve +
    // distributed codegen projection. Invariants: eigenvalues descending;
    // top-k components orthonormal; Σ all eigenvalues = tr(C); the
    // distributed projection's per-component POPULATION variance equals
    // its eigenvalue; distributed projections match a driver recompute
    // on sample vectors.
    Entry("embed_pca", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.pipeline.Embeddings.pcaFit(emb, "embedding", k = 8)
      val ev = model.eigenvalues
      val orderViol = (1 until ev.length)
        .count(i => ev(i) > ev(i - 1) + 1e-9).toLong
      val orthoBad = (for {
        i <- model.components.indices
        j <- i until model.components.length
      } yield {
        val dot = (0 until model.dim)
          .map(t => model.components(i)(t) * model.components(j)(t)).sum
        val target = if (i == j) 1.0 else 0.0
        if (math.abs(dot - target) > 1e-8) 1L else 0L
      }).sum
      val traceOk =
        if (math.abs(ev.sum - model.trace) <=
          1e-6 * math.max(model.trace, 1e-12)) 1L else 0L
      val proj = graft.pipeline.Embeddings
        .pcaProject(emb, "vec_id", "embedding", model)
      // driver recompute of the sample projections (same arithmetic,
      // independent code path from the kernel)
      val sample = emb.where(col("vec_id") <= 4)
        .select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
      val got = proj.where(col("vec_id") <= 4)
        .select("vec_id", "proj").collect()
        .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
      val projBad = sample.map { case (id, vec) =>
        val want = model.components.map { row =>
          var s = 0.0
          var i = 0
          while (i < model.dim) { s += row(i) * vec(i); i += 1 }
          s - (0 until model.dim).map(t => row(t) * model.mean(t)).sum
        }
        val g = got(id)
        if (want.indices.exists(i => math.abs(want(i) - g(i)) > 1e-9)) 1L
        else 0L
      }.sum
      val evLit = graft.functions.FastFunctions.litDoubles(ev.take(8))
      proj.select(posexplode(col("proj")).as(Seq("ci", "p")))
        .groupBy("ci")
        .agg(count(lit(1)).as("n"), sum(col("p")).as("sp"),
          sum(col("p") * col("p")).as("spp"))
        .select(
          (col("spp") / col("n") -
            (col("sp") / col("n")) * (col("sp") / col("n"))).as("v"),
          element_at(evLit, col("ci") + 1).as("lam"))
        .agg(coalesce(sum(when(
          abs(col("v") - col("lam")) >
            lit(1e-6) * greatest(col("lam"), lit(1e-9)), 1L)
          .otherwise(0L)), lit(0L)).as("n_var_bad"))
        .select(lit(8L).as("n_comp"), lit(orderViol).as("n_order_viol"),
          lit(orthoBad).as("n_ortho_bad"), lit(traceOk).as("trace_ok"),
          col("n_var_bad"), lit(projBad).as("n_proj_bad"))
    },
      """SELECT CAST(8 AS BIGINT) AS n_comp,
        | CAST(0 AS BIGINT) AS n_order_viol,
        | CAST(0 AS BIGINT) AS n_ortho_bad,
        | CAST(1 AS BIGINT) AS trace_ok,
        | CAST(0 AS BIGINT) AS n_var_bad,
        | CAST(0 AS BIGINT) AS n_proj_bad""".stripMargin),

    // PCA whitening (invariant-gated): the whitened corpus must have
    // identity population covariance on the projected subspace — unit
    // variance per component, zero cross-covariance, audited by one
    // distributed pass over the upper-triangle second moments
    Entry("embed_whiten", (s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val model = graft.pipeline.Embeddings.pcaFit(emb, "embedding", k = 4)
      val wh = graft.pipeline.Embeddings
        .pcaWhiten(emb, "vec_id", "embedding", model)
      val pairsIdx = for { i <- 0 until 4; j <- i until 4 } yield (i, j)
      wh.select(explode(array(pairsIdx.map { case (i, j) =>
          struct(lit(i * 4 + j).as("pid"),
            (element_at(col("proj"), i + 1) *
              element_at(col("proj"), j + 1)).as("v"))
        }: _*)).as("e"))
        .groupBy(col("e.pid").as("pid"))
        .agg(avg(col("e.v")).as("m"))
        // upper-tri pids for k=4: diagonal iff pid % 5 == 0
        .agg(count(lit(1)).cast("long").as("n_cells"),
          coalesce(sum(when(col("pid") % 5 === 0 &&
            abs(col("m") - 1.0) > 1e-6, 1L).otherwise(0L)), lit(0L))
            .as("n_var_bad"),
          coalesce(sum(when(col("pid") % 5 =!= 0 &&
            abs(col("m")) > 1e-6, 1L).otherwise(0L)), lit(0L))
            .as("n_cov_bad"))
    },
      """SELECT CAST(10 AS BIGINT) AS n_cells,
        | CAST(0 AS BIGINT) AS n_var_bad,
        | CAST(0 AS BIGINT) AS n_cov_bad""".stripMargin),
  )
}
