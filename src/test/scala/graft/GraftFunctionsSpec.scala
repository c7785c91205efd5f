package graft

import org.scalatest.funsuite.AnyFunSuite

class GraftFunctionsSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSpark.spark
    GraftFunctions.register(s)
    s
  }

  test("SQL surface: cosine / dot / sq_l2 over array<float> literals") {
    val r = spark.sql(
      """SELECT
        | graft_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |              array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
        | graft_dot(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |           array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS d,
        | graft_sq_l2(array(CAST(0.0 AS FLOAT), CAST(0.0 AS FLOAT)),
        |             array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS l
        |""".stripMargin).head()
    assert(r.getDouble(0) === 1.0)
    assert(r.getDouble(1) === 11.0)
    assert(r.getDouble(2) === 25.0)
  }

  test("SQL surface: norm2 variants (float and overflow-safe double)") {
    val r = spark.sql(
      """SELECT
        | graft_norm2(array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT))) AS nf,
        | graft_norm2_d(array(1e200, -1e200)) AS nd""".stripMargin).head()
    assert(r.getDouble(0) === 5.0)
    assert(r.getDouble(1) === 1e200 * math.sqrt(2.0)) // plain squaring -> Inf
  }

  test("SQL surface: hash_embed bucket counts sum to the token count") {
    val r = spark.sql(
      """SELECT aggregate(graft_hash_embed(split('a b a c', ' '), 16),
        |  CAST(0.0 AS DOUBLE), (acc, x) -> acc + x) AS s,
        |  size(graft_hash_embed(split('a b a c', ' '), 16)) AS d
        |""".stripMargin).head()
    assert(r.getDouble(0) === 4.0)
    assert(r.getInt(1) === 16)
  }

  test("SQL surface: token hashing and set intersection compose") {
    val r = spark.sql(
      """SELECT graft_inter_size(graft_token_hashes(split('a b c', ' ')),
        |                        graft_token_hashes(split('b c d', ' ')))
        |""".stripMargin).head().getLong(0)
    assert(r === 2L)
  }

  test("SQL surface: minhash/simhash agree with the Column API") {
    import graft.functions.FastFunctions
    import org.apache.spark.sql.functions._
    val viaSql = spark.sql(
      "SELECT graft_simhash(graft_token_hashes(split('x y z', ' ')))")
      .head().getLong(0)
    val viaCol = spark.range(1)
      .select(FastFunctions.simhash64(
        FastFunctions.hashedTokenSet(lit("x y z"))))
      .head().getLong(0)
    assert(viaSql === viaCol)
  }

  test("SQL surface: shingle hashes compose with intersection") {
    // "a b c" and "b c d" share the bigram "b c" only
    val r = spark.sql(
      """SELECT graft_inter_size(
        |  graft_shingle_hashes(split('a b c', ' '), 2),
        |  graft_shingle_hashes(split('b c d', ' '), 2))""".stripMargin)
      .head().getLong(0)
    assert(r === 1L)
  }

  test("SQL surface: pq_dist decodes codes against the codebook") {
    // dim=2, D=1, C=2, m=2; code 1 selects codebook row [1, 2]:
    // dist = ((3-0)-1)² + ((4-0)-2)² = 4 + 4 = 8
    val r = spark.sql(
      """SELECT graft_pq_dist(
        |  array(CAST(3.0 AS FLOAT), CAST(4.0 AS FLOAT)),
        |  array(0.0D, 0.0D), array(1), array(9.0D, 9.0D, 1.0D, 2.0D))
        |""".stripMargin).head().getDouble(0)
    assert(r === 8.0)
  }

  test("SQL surface: graft_rotate applies a row-major rotation in f32") {
    // 90° rotation [[0,-1],[1,0]] of (1, 2) = (-2, 1)
    val v = spark.sql(
      """SELECT graft_rotate(
        |  array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |  array(0.0D, -1.0D, 1.0D, 0.0D))""".stripMargin)
      .head().getSeq[Float](0)
    assert(v === Seq(-2.0f, 1.0f))
  }

  test("SQL surface: graft_sign_bits packs and graft_hamming counts") {
    val r = spark.sql(
      """SELECT graft_hamming(
        |  graft_sign_bits(array(CAST(1.0 AS FLOAT), CAST(-1.0 AS FLOAT)),
        |    array(0.0D, 0.0D)),
        |  graft_sign_bits(array(CAST(-1.0 AS FLOAT), CAST(-1.0 AS FLOAT)),
        |    array(0.0D, 0.0D)))""".stripMargin).head().getInt(0)
    assert(r === 1)
  }

  test("SQL surface: pq_reconstruct inverts encode up to the codebook grid") {
    // dim=2, D=1, C=2, m=2; code 1 selects codebook row [1, 2]:
    // reconstruction = centroid [10, 20] + [1, 2] = [11, 22]
    val v = spark.sql(
      """SELECT graft_pq_reconstruct(
        |  array(10.0D, 20.0D), array(1), array(9.0D, 9.0D, 1.0D, 2.0D), 2)
        |""".stripMargin).head().getSeq[Float](0)
    assert(v === Seq(11.0f, 22.0f))
  }

  test("SQL surface: index-build and sq8 kernels are registered") {
    val part = spark.sql(
      """SELECT graft_nearest_centroid(
        |  array(CAST(9.0 AS FLOAT), CAST(9.0 AS FLOAT)),
        |  array(0.0D, 0.0D, 10.0D, 10.0D))""".stripMargin).head().getInt(0)
    assert(part === 1)
    val codes = spark.sql(
      """SELECT graft_pq_encode(
        |  array(CAST(9.0 AS FLOAT), CAST(-4.0 AS FLOAT)),
        |  array(0.0D, 10.0D, 5.0D, -5.0D), 2, 2)""".stripMargin)
      .head().getSeq[Int](0)
    assert(codes === Seq(1, 1))
    val rt = spark.sql(
      """SELECT graft_sq8_decode(
        |  graft_sq8_encode(array(CAST(1.25 AS FLOAT)),
        |    array(0.0D), array(0.01D)),
        |  array(0.0D), array(0.01D))""".stripMargin).head().getSeq[Double](0)
    assert(math.abs(rt.head - 1.25) <= 0.005 + 1e-9)
    val rep = spark.sql(
      "SELECT graft_shingle_repetition(array('a','b','a','b'), 2)")
      .head().getLong(0)
    assert((rep >>> 32, rep & 0xFFFFFFFFL) === ((2L, 3L)))
  }

  test("SQL surface: positional shingle hashes and aHash bits") {
    // "a b a b": bigram at position 0 equals the one at position 2
    val pos = spark.sql(
      "SELECT graft_shingle_hashes_pos(array('a','b','a','b'), 2)")
      .head().getSeq[Long](0)
    assert(pos.length === 3)
    assert(pos(0) === pos(2))
    assert(pos(0) !== pos(1))
    val bits = spark.sql(
      """SELECT graft_ahash_bits(array(CAST(0.0 AS FLOAT),
        |  CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT), CAST(1.0 AS FLOAT)))"""
        .stripMargin).head().getLong(0)
    assert(bits === ((1L << 1) | (1L << 3)))
  }

  test("SQL surface: arity errors are rejected at analysis") {
    intercept[Exception] {
      spark.sql("SELECT graft_cosine(array(CAST(1.0 AS FLOAT)))").collect()
    }
  }

  test("SQL surface: declared input types coerce array<double> correctly") {
    // before inputTypes were declared this reinterpreted double bytes as
    // floats and returned garbage; now analysis inserts a proper cast
    val r = spark.sql("SELECT graft_sq_l2(array(0.0D, 0.0D), array(3.0D, 4.0D))")
      .head().getDouble(0)
    assert(r === 25.0)
  }

  test("SQL surface: null token elements are skipped, not NPE") {
    val r = spark.sql(
      """SELECT graft_inter_size(graft_token_hashes(array('a', NULL, 'b')),
        |                        graft_token_hashes(array('a', 'b')))
        |""".stripMargin).head().getLong(0)
    assert(r === 2L)
  }

  test("SQL surface: dimension mismatch fails loudly, not silently") {
    val e = intercept[Exception] {
      spark.sql("""SELECT graft_dot(array(CAST(1.0 AS FLOAT)),
                  | array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)))""".stripMargin)
        .collect()
    }
    assert(e.getMessage.contains("dimension mismatch") ||
      (e.getCause != null && e.getCause.getMessage.contains("dimension mismatch")))
  }

  test("SQL surface: EVERY advertised function is registered and resolvable") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    val reg = spark.sessionState.functionRegistry
    GraftFunctions.names.foreach { n =>
      assert(reg.functionExists(FunctionIdentifier(n)), s"missing: $n")
    }
    assert(GraftFunctions.names.distinct.size === GraftFunctions.names.size)
  }

  test("SQL surface: minhash / OPH minhash / band keys match the Column API") {
    import graft.functions.FastFunctions
    import org.apache.spark.sql.functions._
    val viaSql = spark.sql(
      """SELECT graft_minhash(graft_token_hashes(split('p q r s', ' ')), 8),
        |       graft_minhash_oph(graft_token_hashes(split('p q r s', ' ')), 8),
        |       graft_band_keys(
        |         graft_minhash(graft_token_hashes(split('p q r s', ' ')), 8), 4)
        |""".stripMargin).head()
    val viaCol = spark.range(1).select(
      FastFunctions.minhashSig(FastFunctions.hashedTokenSet(lit("p q r s")), 8),
      FastFunctions.minhashSigOPH(FastFunctions.hashedTokenSet(lit("p q r s")), 8),
      FastFunctions.bandKeys(
        FastFunctions.minhashSig(FastFunctions.hashedTokenSet(lit("p q r s")), 8), 4))
      .head()
    (0 until 3).foreach { i =>
      assert(viaSql.getSeq[Long](i) === viaCol.getSeq[Long](i))
    }
    assert(viaSql.getSeq[Long](2).length === 4)
  }

  test("SQL surface: media kernels (byte buckets, frame sums, mean pool)") {
    // 'abcd' = bytes 97 98 99 100; dim 2 buckets: [97+99, 98+100]
    val r = spark.sql(
      """SELECT graft_byte_bucket_sums(CAST('abcd' AS BINARY), 2),
        |       graft_frame_sums(CAST('abcd' AS BINARY), 2, 1)
        |""".stripMargin).head()
    assert(r.getSeq[Long](0) === Seq(196L, 198L))
    assert(r.getSeq[Long](1) === Seq(195L, 199L)) // 97+98, 99+100
    // 2×2 image mean-pooled by 2×2 → one pixel = mean of all four
    val pooled = spark.sql(
      """SELECT graft_mean_pool(array(CAST(0.0 AS FLOAT), CAST(2.0 AS FLOAT),
        |  CAST(4.0 AS FLOAT), CAST(6.0 AS FLOAT)), 2, 2, 2, 2)""".stripMargin)
      .head().getSeq[Float](0)
    assert(pooled === Seq(3.0f))
  }

  test("SQL surface: deterministic pseudo-random vectors by (id, seed)") {
    val r = spark.sql(
      """SELECT graft_random_vec(7L, 4, 42L) = graft_random_vec(7L, 4, 42L),
        |       graft_random_vec(7L, 4, 42L) = graft_random_vec(8L, 4, 42L),
        |       size(graft_random_vec(7L, 4, 42L))""".stripMargin).head()
    assert(r.getBoolean(0) === true)
    assert(r.getBoolean(1) === false)
    assert(r.getInt(2) === 4)
  }

  test("SQL surface: ordered-array probes (first_common, first_equal_idx, " +
      "last_le_idx) match the Column API") {
    import graft.functions.FastFunctions
    import org.apache.spark.sql.functions._
    val viaSql = spark.sql(
      """SELECT graft_first_common(array(1L, 3L, 5L), array(2L, 3L, 4L)),
        |       graft_first_equal_idx(array(9L, 5L, 7L), array(1L, 5L, 7L)),
        |       graft_last_le_idx(array(10L, 20L, 30L), 25L)""".stripMargin)
      .head()
    val viaCol = spark.range(1).select(
      FastFunctions.firstCommon(
        typedlit(Seq(1L, 3L, 5L)), typedlit(Seq(2L, 3L, 4L))),
      FastFunctions.firstEqualIdx(
        typedlit(Seq(9L, 5L, 7L)), typedlit(Seq(1L, 5L, 7L))),
      FastFunctions.lastLeIdx(typedlit(Seq(10L, 20L, 30L)), lit(25L)))
      .head()
    assert(viaSql.toSeq === viaCol.toSeq)
    assert(viaSql.getInt(2) === 1) // 20 is the last element ≤ 25
  }

  test("SQL surface: probe planning + ADC scan compose in pure SQL") {
    // centroids (0,0) and (10,10); query (9,9) probes cell 1 first
    val cells = spark.sql(
      """SELECT graft_top_cells(array(CAST(9.0 AS FLOAT), CAST(9.0 AS FLOAT)),
        |  array(0.0D, 0.0D, 10.0D, 10.0D), 2)""".stripMargin)
      .head().getSeq[Long](0)
    assert(cells === Seq(1L, 0L))
    // D=2, C=2 flat table [[1,4],[9,16]]: codes (1,0) → 4 + 9 = 13
    val d = spark.sql(
      "SELECT graft_adc_dist(array(1, 0), array(1.0D, 4.0D, 9.0D, 16.0D), 2)")
      .head().getDouble(0)
    assert(d === 13.0)
  }

  test("SQL surface: sub_centroid, sq8 round trip and sq8_dist compose") {
    val viaSql = spark.sql(
      """SELECT graft_sub_centroid(array(CAST(5.0 AS FLOAT), CAST(7.0 AS FLOAT)),
        |  array(1.0D, 2.0D, 3.0D, 4.0D), 1)""".stripMargin)
      .head().getSeq[Float](0)
    assert(viaSql === Seq(2.0f, 3.0f))
    val sqd = spark.sql(
      """SELECT graft_sq8_dist(array(1.0D, 1.0D),
        |  graft_sq8_encode(array(CAST(1.0 AS FLOAT), CAST(1.0 AS FLOAT)),
        |    array(0.0D, 0.0D), array(0.01D, 0.01D)),
        |  array(0.0D, 0.0D), array(0.01D, 0.01D))""".stripMargin)
      .head().getDouble(0)
    assert(sqd < 1e-3) // quantization error only
  }

  test("SQL surface: moments_upper and matvec_rows match the Column API") {
    import graft.functions.FastFunctions
    import org.apache.spark.sql.functions._
    val vec = Seq(1.0f, 2.0f)
    val viaSql = spark.sql(
      """SELECT graft_moments_upper(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))),
        |       graft_matvec_rows(array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT)),
        |         array(1.0D, 0.0D, 0.0D, 1.0D))""".stripMargin).head()
    val viaCol = spark.range(1).select(
      FastFunctions.momentsUpper(typedlit(vec)),
      FastFunctions.matvecRowsF(typedlit(vec),
        FastFunctions.litDoubles(Array(1.0, 0.0, 0.0, 1.0))))
      .head()
    assert(viaSql.getSeq[Double](0) === viaCol.getSeq[Double](0))
    assert(viaSql.getSeq[Double](1) === Seq(1.0, 2.0)) // identity matvec
  }
}
