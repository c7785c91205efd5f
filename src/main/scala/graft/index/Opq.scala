package graft.index

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.FastFunctions.{litDoubles, nearestCentroidL2, pqEncodeF, pqReconstructF, rotateF, subCentroidF}

/** IVF + OPQ index: product quantization behind a LEARNED orthonormal
  * rotation of the residual space (Ge, He, Ke, Sun — "Optimized Product
  * Quantization for Approximate Nearest Neighbor Search", CVPR 2013,
  * non-parametric variant). Plain PQ quantizes fixed contiguous
  * subvectors, so correlated / unbalanced dimensions waste code budget;
  * OPQ alternates k-means codebook fits with an orthogonal Procrustes
  * solve for a rotation R that minimizes the same quantization error
  * ‖R·r − quant(R·r)‖², which (R being orthonormal) IS the residual
  * quantization error in the original space.
  *
  * The reference engine has no OPQ (flechasdb is plain IVF+PQ,
  * reference/src/db/build.rs:78-129) — this is a beyond-reference index
  * family, slotted into the exact same build/query/store shapes as
  * [[IvfPqBuilder]]:
  *
  *   - TRAINING is driver-local over the same capped sample the PQ fits
  *     already use (the alternation is k·cap rows × a few sweeps — cluster
  *     jobs per Lloyd round would be pure scheduler overhead);
  *   - ENCODE stays one narrow distributed projection per row
  *     (assign → residual → rotate → codes), nothing shuffled;
  *   - QUERY reuses the [[graft.query.AnnQuery]] pruned-scan assembly:
  *     rotation touches only the nprobe localized query vectors on the
  *     driver (R orthonormal ⇒ rotated-space ADC distances ARE
  *     original-space distances), so the executor-side plan is byte-for-
  *     byte the IVF+PQ one — same IN-pruned scan, same ADC kernel, same
  *     TakeOrderedAndProject. At 100 TB the OPQ index scans, prunes and
  *     shuffles exactly like the plain one; the rotation is free at
  *     query time.
  */
final case class OpqModel(
    ivf: IvfPqModel,
    rotation: Array[Array[Double]],       // R: dim × dim, row-major
    trainObjectives: Array[Double]) {     // per-sweep Σ‖R·r − quant‖² on the training sample
  def dim: Int = ivf.dim
  def config: IvfPqConfig = ivf.config
  def flatRotation: Array[Double] = rotation.flatten
  def flatRotationT: Array[Double] = {
    val d = rotation.length
    val out = new Array[Double](d * d)
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) { out(j * d + i) = rotation(i)(j); j += 1 }
      i += 1
    }
    out
  }
  /** max |RᵀR − I| — 0 for an exactly orthonormal rotation. */
  def orthonormalityError: Double = {
    val d = rotation.length
    var worst = 0.0
    var i = 0
    while (i < d) {
      var j = 0
      while (j < d) {
        var s = 0.0
        var t = 0
        while (t < d) { s += rotation(t)(i) * rotation(t)(j); t += 1 }
        val e = math.abs(s - (if (i == j) 1.0 else 0.0))
        if (e > worst) worst = e
        j += 1
      }
      i += 1
    }
    worst
  }
}

object OpqBuilder {

  /** Fit an IVF+OPQ index over `df(idCol, vecCol: array<float>)`.
    * Returns (model, encoded) where encoded = (id, partition, codes,
    * residual); the `residual` column holds the ROTATED residual
    * R·(v − centroid) — the vector the codes quantize, kept f32 like the
    * plain builder's.
    *
    * Build shape mirrors [[IvfPqBuilder.fit]] (one sample collect, coarse
    * k-means, one cached assignment pass) with the PQ stage replaced by
    * `opqIters` alternating sweeps:
    *   1. rotate the sampled residuals by the current R;
    *   2. refit the D codebooks (WARM-started from the previous sweep —
    *      Lloyd rounds only ever lower the objective);
    *   3. encode + reconstruct the sample, accumulating the d×d cross
    *      matrix M = Σ rᵢ·r̂ᵢᵀ and the objective Σ‖R·rᵢ − r̂ᵢ‖²;
    *   4. R ← argmin over orthonormal rotations = V·Uᵀ from the SVD
    *      M = U·Σ·Vᵀ (orthogonal Procrustes).
    * Every half-step is non-increasing in the shared objective, so the
    * recorded per-sweep objectives are monotone — asserted by OpqSpec,
    * and the last sweep's objective ≤ the first's, which is the plain-PQ
    * (R = I) error on the same sample: OPQ is never worse than PQ where
    * both are measured.
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, dim: Int,
          config: IvfPqConfig, opqIters: Int = 6,
          log: String => Unit = _ => ()): (OpqModel, DataFrame) = {
    require(dim % config.numDivisions == 0,
      s"dim $dim must divide into ${config.numDivisions} divisions")
    require(opqIters >= 1, s"opqIters must be >= 1, got $opqIters")
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))

    // one driver-collected training sample serves the coarse fit and the
    // OPQ alternation — identical capping discipline to IvfPqBuilder.fit
    val nRows = if (config.trainPointsPerCentroid > 0) base.count() else 0L
    val coarseCap = config.numPartitions.toLong * config.trainPointsPerCentroid
    val pqCap = config.numCodes.toLong * config.trainPointsPerCentroid
    val sampleCap = math.max(coarseCap, pqCap)
    val trainVecs: Array[Array[Float]] = {
      val src =
        if (config.trainPointsPerCentroid > 0 && sampleCap < nRows)
          base.sample(withReplacement = false,
            sampleCap.toDouble / nRows, config.seed)
        else base
      graft.functions.VecCollect.collectVecs(src.select("vec"))
    }

    val coarseData =
      if (config.trainPointsPerCentroid > 0 && coarseCap < trainVecs.length) {
        val step = trainVecs.length.toDouble / coarseCap
        Array.tabulate(coarseCap.toInt)(i => trainVecs((i * step).toInt))
      } else trainVecs
    require(coarseData.length >= config.numPartitions,
      s"OPQ build: coarse training sample has ${coarseData.length} " +
        s"vectors < numPartitions P=${config.numPartitions} — lower P or " +
        "ingest more vectors (k-means needs n >= k)")
    val coarseFit = LocalKMeans.fit(coarseData, config.numPartitions,
      config.maxIter, config.tol, config.seed, init = "kmeans++")
    log(s"opq coarse-kmeans rounds=${coarseFit.iters}/${config.maxIter}")
    val centroids = coarseFit.centroids

    val pqVecs =
      if (config.trainPointsPerCentroid > 0 && pqCap < trainVecs.length) {
        val step = trainVecs.length.toDouble / pqCap
        Array.tabulate(pqCap.toInt)(i => trainVecs((i * step).toInt))
      } else trainVecs
    val residuals = LocalKMeans.assignResiduals(pqVecs, centroids)

    val (rotation, codebooks, objectives) =
      trainRotation(residuals, dim, config, opqIters, log)

    val ivf = IvfPqModel(config, dim, centroids, codebooks)
    val model = OpqModel(ivf, rotation, objectives)
    (model, encode(model, base, "id", "vec"))
  }

  /** The OPQ alternation over driver-local residual rows — returns
    * (R, codebooks trained in rotated space, per-sweep objectives). */
  private[index] def trainRotation(residuals: Array[Array[Float]], dim: Int,
      config: IvfPqConfig, opqIters: Int,
      log: String => Unit): (Array[Array[Double]], Array[Array[Array[Double]]],
      Array[Double]) = {
    require(residuals.nonEmpty, "OPQ training needs at least one residual")
    val d = config.numDivisions
    val c = config.numCodes
    val m = dim / d
    val n = residuals.length
    var rot: Array[Array[Double]] =
      Array.tabulate(dim, dim)((i, j) => if (i == j) 1.0 else 0.0)
    var codebooks: Array[Array[Array[Double]]] = null
    val objectives = new Array[Double](opqIters)

    var sweep = 0
    while (sweep < opqIters) {
      // 1. rotate the sample by the current R (parallel over rows)
      val flatR = rot.flatten
      val rotated = new Array[Array[Float]](n)
      LocalKMeans.parChunks(n) { (s, e) =>
        var i = s
        while (i < e) {
          val src = residuals(i)
          val out = new Array[Float](dim)
          var r = 0
          while (r < dim) {
            val rowBase = r * dim
            var acc = 0.0
            var t = 0
            while (t < dim) { acc += flatR(rowBase + t) * src(t); t += 1 }
            out(r) = acc.toFloat
            r += 1
          }
          rotated(i) = out
          i += 1
        }
        ()
      }
      // 2. (re)fit the D codebooks on rotated slices — warm-started
      require(rotated.length >= c,
        s"OPQ build: PQ training sample has ${rotated.length} vectors < " +
          s"numCodes C=$c — lower C or ingest more vectors (k-means " +
          "needs n >= k)")
      // overlapped per division (LocalKMeans.overlapIndexed — measured
      // 1.77× on the plain builder's identical shape, bit-identical);
      // the warm start reads only the PREVIOUS sweep's frozen array
      val prevBooks = codebooks
      codebooks = LocalKMeans.overlapIndexed(d) { dI =>
        val sliceData = rotated.map(r =>
          java.util.Arrays.copyOfRange(r, dI * m, (dI + 1) * m))
        val fitRes =
          if (prevBooks == null)
            LocalKMeans.fit(sliceData, c, config.maxIter, config.tol,
              config.seed + dI, init = config.pqInitMode)
          else
            LocalKMeans.fitFrom(sliceData, prevBooks(dI), config.maxIter,
              config.tol)
        fitRes.centroids
      }.toArray
      // 3. encode + reconstruct; accumulate M = Σ rᵢ·r̂ᵢᵀ and the objective
      val cbs = codebooks
      val nearest = cbs.map(new LocalKMeans.Nearest(_))
      val partials = LocalKMeans.parChunks(n) { (s, e) =>
        val mAcc = new Array[Double](dim * dim)
        var obj = 0.0
        val recon = new Array[Double](dim)
        val best = Array.ofDim[Int](d, e - s)
        val bestD = Array.ofDim[Double](d, e - s)
        var dI = 0
        while (dI < d) {
          nearest(dI).assign(rotated, s, e, dI * m, best(dI), bestD(dI))
          dI += 1
        }
        var i = s
        while (i < e) {
          dI = 0
          while (dI < d) {
            obj += bestD(dI)(i - s)
            System.arraycopy(cbs(dI)(best(dI)(i - s)), 0, recon, dI * m, m)
            dI += 1
          }
          val orig = residuals(i)
          var a = 0
          while (a < dim) {
            val oa = orig(a).toDouble
            val rowBase = a * dim
            var b = 0
            while (b < dim) { mAcc(rowBase + b) += oa * recon(b); b += 1 }
            a += 1
          }
          i += 1
        }
        (mAcc, obj)
      }
      val mFlat = new Array[Double](dim * dim)
      var obj = 0.0
      partials.foreach { case (pm, po) =>
        var t = 0
        while (t < mFlat.length) { mFlat(t) += pm(t); t += 1 }
        obj += po
      }
      objectives(sweep) = obj
      log(f"opq sweep ${sweep + 1}/$opqIters objective $obj%.4f")
      // 4. Procrustes: R = V·Uᵀ from SVD(M) — skip after the last sweep
      // so the returned (R, codebooks) pair is self-consistent
      if (sweep < opqIters - 1)
        rot = procrustes(Array.tabulate(dim, dim)((i, j) => mFlat(i * dim + j)))
      sweep += 1
    }
    (rot, codebooks, objectives)
  }

  /** argmin over orthonormal R of Σ‖R·xᵢ − yᵢ‖² given M = Σ xᵢ·yᵢᵀ:
    * R = V·Uᵀ where M = U·Σ·Vᵀ (Schönemann 1966). SVD via the library's
    * Jacobi eigensolve of MᵀM ([[graft.pipeline.Embeddings.jacobiEig]]):
    * V from the eigenvectors, U = M·V·Σ⁻¹, with Gram-Schmidt completion
    * of any (in practice absent) null-space columns. */
  private[index] def procrustes(mm: Array[Array[Double]]): Array[Array[Double]] = {
    val d = mm.length
    val mtm = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0
      var t = 0
      while (t < d) { s += mm(t)(i) * mm(t)(j); t += 1 }
      s
    }
    val (evals, evecRows) = graft.pipeline.Embeddings.jacobiEig(mtm)
    // V columns = eigenvectors; σ = sqrt(eigenvalue)
    val sigma = evals.map(e => math.sqrt(math.max(e, 0.0)))
    val sigMax = if (sigma.isEmpty) 0.0 else sigma.max
    val uCols = Array.ofDim[Double](d, d) // u_i as columns: uCols(i) is column i
    var rank = 0
    var i = 0
    while (i < d) {
      if (sigma(i) > sigMax * 1e-12 && sigma(i) > 0.0) {
        val v = evecRows(i)
        val u = new Array[Double](d)
        var r = 0
        while (r < d) {
          var s = 0.0
          var t = 0
          while (t < d) { s += mm(r)(t) * v(t); t += 1 }
          u(r) = s / sigma(i)
          r += 1
        }
        uCols(i) = u
        rank += 1
      } else uCols(i) = null
      i += 1
    }
    // complete rank-deficient U to a full orthonormal basis (deterministic
    // Gram-Schmidt over the standard basis)
    if (rank < d) {
      var need = 0
      while (need < d) {
        if (uCols(need) == null) {
          var e = 0
          var done = false
          while (e < d && !done) {
            val cand = new Array[Double](d)
            cand(e) = 1.0
            var j = 0
            while (j < d) {
              val u = uCols(j)
              if (u != null) {
                var dp = 0.0
                var t = 0
                while (t < d) { dp += cand(t) * u(t); t += 1 }
                t = 0
                while (t < d) { cand(t) -= dp * u(t); t += 1 }
              }
              j += 1
            }
            var nrm = 0.0
            var t = 0
            while (t < d) { nrm += cand(t) * cand(t); t += 1 }
            if (nrm > 1e-12) {
              nrm = math.sqrt(nrm)
              t = 0
              while (t < d) { cand(t) /= nrm; t += 1 }
              uCols(need) = cand
              done = true
            }
            e += 1
          }
          require(uCols(need) != null, "orthonormal completion failed")
        }
        need += 1
      }
    }
    // R = V·Uᵀ: R(a)(b) = Σ_i V(a,i)·U(b,i) = Σ_i evecRows(i)(a)·uCols(i)(b)
    val r0 = Array.tabulate(d, d) { (a, b) =>
      var s = 0.0
      var i2 = 0
      while (i2 < d) { s += evecRows(i2)(a) * uCols(i2)(b); i2 += 1 }
      s
    }
    // Jacobi eigenvector precision degrades when singular values cluster,
    // leaving R orthonormal only to ~1e-3 — polish with the Newton polar
    // iteration Q ← ½(Q + Q⁻ᵀ) (Higham 1986): the polar factor of a
    // near-orthogonal matrix is its NEAREST orthogonal matrix, the
    // iteration converges quadratically from this starting point, and the
    // Procrustes optimum is exactly the polar factor, so the polish moves
    // R toward the optimum, never away
    polarPolish(r0)
  }

  /** Nearest orthogonal matrix via Newton's polar iteration. */
  private[index] def polarPolish(r0: Array[Array[Double]]): Array[Array[Double]] = {
    val d = r0.length
    var q = r0.map(_.clone())
    var it = 0
    var delta = Double.MaxValue
    while (it < 50 && delta > 1e-15 * d) {
      val qinvT = matInverse(q).transpose
      val qn = Array.tabulate(d, d)((i, j) => 0.5 * (q(i)(j) + qinvT(i)(j)))
      delta = 0.0
      var i = 0
      while (i < d) {
        var j = 0
        while (j < d) {
          val e = math.abs(qn(i)(j) - q(i)(j))
          if (e > delta) delta = e
          j += 1
        }
        i += 1
      }
      q = qn
      it += 1
    }
    q
  }

  /** Gauss-Jordan inverse with partial pivoting (d ≤ a few thousand). */
  private def matInverse(m: Array[Array[Double]]): Array[Array[Double]] = {
    val d = m.length
    val a = m.map(_.clone())
    val inv = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    var colI = 0
    while (colI < d) {
      var piv = colI
      var i = colI + 1
      while (i < d) {
        if (math.abs(a(i)(colI)) > math.abs(a(piv)(colI))) piv = i
        i += 1
      }
      require(math.abs(a(piv)(colI)) > 1e-300,
        "singular matrix in polar iteration")
      if (piv != colI) {
        val t = a(piv); a(piv) = a(colI); a(colI) = t
        val t2 = inv(piv); inv(piv) = inv(colI); inv(colI) = t2
      }
      val pv = a(colI)(colI)
      var j = 0
      while (j < d) { a(colI)(j) /= pv; inv(colI)(j) /= pv; j += 1 }
      i = 0
      while (i < d) {
        if (i != colI && a(i)(colI) != 0.0) {
          val f = a(i)(colI)
          j = 0
          while (j < d) {
            a(i)(j) -= f * a(colI)(j)
            inv(i)(j) -= f * inv(colI)(j)
            j += 1
          }
        }
        i += 1
      }
      colI += 1
    }
    inv
  }

  /** Encode NEW vectors against an existing OPQ model — assignment,
    * residual, rotation and all D codes in ONE narrow projection (the
    * rotation is a [[graft.functions.Kernels.rotateF]] kernel call with
    * the d×d matrix riding as a codegen literal). Same incremental-ingest
    * contract as [[IvfPqBuilder.encode]]. */
  def encode(model: OpqModel, df: DataFrame, idCol: String,
             vecCol: String): DataFrame = {
    val flatCentLit = litDoubles(model.ivf.partitionCentroids.flatten)
    val rotLit = litDoubles(model.flatRotation)
    val flatCbLit = litDoubles(model.ivf.codebooks.flatten.flatten)
    df.select(col(idCol).as("id"), col(vecCol).as("vec"))
      .withColumn("partition", nearestCentroidL2(col("vec"), flatCentLit))
      .withColumn("residual",
        rotateF(subCentroidF(col("vec"), flatCentLit, col("partition")), rotLit))
      .withColumn("codes", pqEncodeF(col("residual"), flatCbLit,
        model.config.numDivisions, model.config.numCodes))
      .select(col("id"), col("partition"), col("codes"), col("residual"))
  }

  /** OPQ top-k: identical executor plan to [[graft.query.AnnQuery.topK]]
    * — the rotation happens driver-side on the nprobe localized query
    * vectors (R·(q − centroid), exact doubles), then the shared pruned
    * scan + ADC CASE + TakeOrderedAndProject assembly runs over the
    * rotated-space codebooks. R orthonormal ⇒ the reported sq_dist IS
    * the original-space approximate distance.
    *
    * `log` mirrors [[graft.query.AnnQuery.topK]]'s query events, with one
    * OPQ-specific stage in between: `rotate-probes` (the driver-side
    * R·(q − c) of each localized query). */
  def topK(codes: DataFrame, model: OpqModel, q: Array[Double],
           k: Int, nprobe: Int,
           log: String => Unit = _ => ()): DataFrame = {
    val t0 = System.nanoTime()
    val selected = graft.query.AnnQuery.selectPartitions(model.ivf, q, nprobe)
    log(f"select-partitions nprobe=$nprobe " +
      f"cells=${selected.map(_._1).mkString(",")} " +
      f"${(System.nanoTime() - t0) / 1e9}%.4f s")
    val t1 = System.nanoTime()
    val probes = selected
      .map { case (p, localized) => (p, rotateVec(model.rotation, localized)) }
    log(f"rotate-probes n=${probes.length} dim=${model.rotation.length} " +
      f"${(System.nanoTime() - t1) / 1e9}%.4f s")
    graft.query.AnnQuery.topKWithProbes(codes, model.ivf, probes, k, log)
  }

  /** Table-free BATCH OPQ query — the OPQ twin of
    * [[graft.query.AnnQuery.batchTopKDirect]]: queries arrive as a
    * DataFrame and nothing is planned or broadcast per query on the
    * driver. Identity used: R orthonormal ⇒ R·(q − c_p) = R·q − R·c_p,
    * so each query is rotated ONCE per row (one [[rotateF]] kernel call,
    * O(d²), f32 like the encode path) and the scan subtracts PRE-ROTATED
    * centroids — from there the per-(row, cell) work is exactly the
    * shared pqDistDirect kernel over the rotated-space codebooks. Cell
    * SELECTION stays in the unrotated space, where the coarse geometry
    * lives. Distances match [[topK]] up to f32 query-rotation rounding
    * (the same precision class as the stored residuals). */
  def batchTopKDirect(codes: DataFrame, model: OpqModel, queries: DataFrame,
                      qidCol: String, qvecCol: String, k: Int, nprobe: Int,
                      pruneCells: Boolean = false): DataFrame = {
    val rotLit = litDoubles(model.flatRotation)
    val rotCentroids = model.ivf.partitionCentroids
      .map(c => rotateVec(model.rotation, c))
    graft.query.AnnQuery.batchTopKDirectWith(codes, model.ivf, queries,
      qidCol, qvecCol, k, nprobe, pruneCells, rotCentroids,
      q => rotateF(q, rotLit))
  }

  /** OPQ top-k′ then exact re-rank over the original vectors — the OPQ
    * twin of [[graft.query.AnnQuery.topKRerank]] (FAISS IndexRefineFlat
    * pattern): the rotated-space ADC scan nominates kFactor·k
    * candidates, only those rows' true vectors are re-scored exactly
    * (candidate ids push down as an IN filter on the vector scan), and
    * the top-k of the EXACT distances is returned — quantization error
    * collapses to candidate error. */
  def topKRerank(codes: DataFrame, vectors: DataFrame, vecCol: String,
                 idCol: String, model: OpqModel, q: Array[Double],
                 k: Int, nprobe: Int, kFactor: Int = 4): DataFrame = {
    val cand = topK(codes, model, q, k * kFactor, nprobe)
      .select("id").collect().map(_.getLong(0)).toSeq
    val qf = q.map(_.toFloat).toSeq
    vectors.where(col(idCol).isin(cand: _*))
      .select(col(idCol).as("id"),
        graft.functions.FastFunctions.squaredL2F(col(vecCol),
          graft.functions.VectorFunctions.vecLit(qf)).as("sq_dist"))
      .orderBy(col("sq_dist"), col("id"))
      .limit(k)
  }

  /** R·v driver-side (exact doubles) — query-rotation helper. */
  def rotateVec(rot: Array[Array[Double]],
                v: Array[Double]): Array[Double] = {
    val d = v.length
    val out = new Array[Double](d)
    var r = 0
    while (r < d) {
      val row = rot(r)
      var s = 0.0
      var t = 0
      while (t < d) { s += row(t) * v(t); t += 1 }
      out(r) = s
      r += 1
    }
    out
  }

  /** Persist: the [[IvfPqBuilder.save]] layout (codes partitioned by
    * cell, centroids, codebooks, manifest + SHA-256 sidecar, stats
    * sidecar) plus one `rotation` parquet of (row, values) — f64, like
    * centroids/codebooks, so save/load stays bit-exact. */
  def save(model: OpqModel, encoded: DataFrame, path: String): Unit = {
    val spark = encoded.sparkSession
    IvfPqBuilder.save(model.ivf, encoded, path)
    MetaIO.write(spark.sparkContext.hadoopConfiguration, s"$path/rotation",
      Seq("row" -> MetaIO.IntT, "values" -> MetaIO.DoublesT),
      model.rotation.zipWithIndex.map { case (r, i) => Seq(i, r) }.toSeq)
  }

  /** Incremental ingest into an OPQ store — the OPQ member of the
    * shared store lifecycle ([[graft.index.StoreLifecycle]]): vectors
    * are encoded against the FROZEN model (assignment, R·residual
    * rotation, PQ codes — exactly [[encode]]), then appended through the
    * same partitioned write + drift-telemetry bookkeeping as
    * [[IvfPqBuilder.appendToStore]]. The rotation sidecar never changes:
    * like centroids and codebooks it is part of the frozen model. */
  def appendToStore(model: OpqModel, df: DataFrame, idCol: String,
                    vecCol: String, path: String,
                    log: String => Unit = _ => ()): Unit =
    StoreLifecycle.appendPartitioned(
      encode(model, df, idCol, vecCol).select("id", "partition", "codes"),
      path, model.ivf.config.numPartitions, Some(log))

  /** Append-only DELETE for an OPQ store — the shared tombstone log
    * ([[graft.index.StoreLifecycle.deleteFromStore]]); [[load]] (via the
    * base loader) anti-joins dead ids out, identically to IVF+PQ. */
  def deleteFromStore(storePath: String, ids: DataFrame,
                      idCol: String): Unit =
    StoreLifecycle.deleteFromStore(storePath, ids, idCol)

  /** Maintenance compaction for an OPQ store. The codes table IS the
    * IVF+PQ layout (save delegates to [[IvfPqBuilder.save]]), so the
    * whole operation — live rewrite, one file per cell dir,
    * crash-recoverable swap, tombstone drop, stats reset — is
    * [[IvfPqBuilder.compactStore]] verbatim; the rotation sidecar is a
    * model artifact and is untouched. Bit-exact by construction. */
  def compactStore(spark: SparkSession, path: String): Unit =
    IvfPqBuilder.compactStore(spark, path)

  /** Re-fit + re-encode a DRIFTED OPQ store from its own contents into
    * a NEW store at `outPath` — the repair the append-drift REBALANCE
    * recommendation points at (OPQ appends share
    * [[StoreLifecycle.appendPartitioned]]'s telemetry, so they emit the same
    * recommendation; until round 12 only the plain family had the
    * repair). The training corpus is the store's own reconstructions:
    * the stored code decodes in ROTATED residual space (zero-centroid
    * [[graft.functions.Kernels.pqReconstruct]] gives the codebook
    * contribution alone), Rᵀ carries it back to the original space
    * (one [[rotateF]] kernel call with the transposed rotation — exact
    * inverse up to f32, R orthonormal), and the original-space coarse
    * centroid adds back on — one narrow projection per row, the
    * [[IvfPqBuilder.rebalanceStore]] shape with one extra kernel. The
    * re-fit runs the FULL OPQ alternation (fresh rotation AND fresh
    * codebooks — a drifted distribution moves the optimal rotation
    * too). BLUE/GREEN like the plain rebalance: the old store stays
    * live until the caller flips the pointer. Returns the new model. */
  def rebalanceStore(spark: SparkSession, path: String, outPath: String,
                     opqIters: Int = 4,
                     log: String => Unit = _ => ()): OpqModel = {
    val (model, codes) = load(spark, path)
    val dim = model.dim
    require(dim > 0, "cannot rebalance a store with no centroids")
    val zeroCent = litDoubles(new Array[Double](dim))
    val cbLit = litDoubles(model.ivf.codebooks.flatten.flatten)
    val centLit = typedlit(model.ivf.partitionCentroids.map(_.toSeq).toSeq)
    val rtLit = litDoubles(model.flatRotationT)
    val recon = codes.select(col("id"),
      zip_with(
        element_at(centLit, col("partition").cast("int") + 1),
        rotateF(pqReconstructF(zeroCent, col("codes"), cbLit,
          model.config.numCodes), rtLit),
        (c, d) => (c + d).cast("float")).as("vec"))
    val (newModel, newEnc) =
      fit(recon, "id", "vec", dim, model.config, opqIters, log)
    save(newModel, newEnc, outPath)
    log(s"opq-rebalance: re-fit ${model.config.numPartitions} cells + " +
      s"rotation from reconstructions; new store at $outPath " +
      "(old store untouched)")
    newModel
  }

  /** Load an OPQ store back; validates rotation shape + orthonormality
    * on top of the shared manifest/shape checks. */
  def load(spark: SparkSession, path: String): (OpqModel, DataFrame) = {
    val (ivf, codes) = IvfPqBuilder.load(spark, path)
    val rotation = MetaIO.read(spark.sparkContext.hadoopConfiguration,
        s"$path/rotation",
        Seq("row" -> MetaIO.IntT, "values" -> MetaIO.DoublesT))
      .sortBy(_(0).asInstanceOf[Int])
      .map(_(1).asInstanceOf[Array[Double]]).toArray
    require(rotation.length == ivf.dim && rotation.forall(_.length == ivf.dim),
      s"rotation shape ${rotation.length} != ${ivf.dim}x${ivf.dim}")
    val model = OpqModel(ivf, rotation, Array.empty)
    require(model.orthonormalityError < 1e-6,
      "loaded rotation is not orthonormal — store corrupt")
    (model, codes)
  }
}
