package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.Seam
import graft.functions.Fns

/** Distributed vector aggregation: per-group centroids over an embedding
  * column — the k-means UPDATE step (mean of assigned vectors), the
  * complement of [[Similarity]]'s IVF ASSIGNMENT step; also the
  * class-prototype / mean-pooling primitive.
  *
  * Scale shape: `posexplode` fans each vector into (group, dim, value)
  * rows — dim count is a constant (64 here), so the expansion is a fixed
  * small factor, and the per-(group, dim) aggregation map-side combines
  * down to |groups| × dims rows before the one shuffle. The re-assembly
  * into an ordered array is a second tiny aggregation over those rows.
  * Never collect vectors to the driver; never `reduce` arrays row-by-row
  * (no partial aggregation, one long dependency chain).
  *
  * Determinism: per-dimension sums run in the DECIMAL(18,6) carrier
  * (exact, merge-order independent) and emit DOUBLE — same contract as
  * every aggregate in this engine, and what makes the result identical
  * across partition counts AND to the DuckDB oracle. */
object VectorAgg {

  /** Random-projection dimensionality reduction (Johnson–Lindenstrauss):
    * project each vector onto `planes` (a small deterministic Gaussian
    * matrix, broadcast as literals into the expression tree — the same
    * seeded matrix [[graft.functions.VectorFns.randomPlanes]] the LSH
    * paths use). Narrow per-row expression, zero shuffle; the projection
    * of a 100 TB corpus is scan-bound. Each output lane is the same
    * left-fold dot product as [[graft.functions.VectorExprs]], so the
    * DuckDB oracle reproduces it bit-for-bit. */
  def project(embs: DataFrame, planes: Seq[Seq[Double]],
              idCol: String = "vec_id",
              vecCol: String = "embedding"): DataFrame = {
    val lanes = planes.map { p =>
      val lits = array(p.map(lit): _*)
      aggregate(zip_with(col(vecCol), lits,
          (x, y) => x.cast("double") * y),
        lit(0.0), (acc, x) => acc + x)
    }
    embs.filter(col(vecCol).isNotNull)
      .select(col(idCol), array(lanes: _*).as("projected"))
  }

  /** Top principal component of the embedding covariance via `iters`
    * FIXED power-iteration rounds (deterministic, so a SQL oracle unrolls
    * the same rounds — the [[kmeansLloyd]] discipline). The covariance
    * matrix is NEVER materialized: each round computes the action
    *
    *   (C·v)[d] = (1/n)·Σᵢ xᵢ[d]·tᵢ − μ[d]·t̄,  tᵢ = xᵢᵀv − μᵀv
    *
    * as one narrow per-row dot (array-order left fold, the
    * [[graft.functions.VectorExprs]] convention) followed by a per-dim
    * decimal-carrier aggregation — at any corpus size the shuffle carries
    * |partitions|×dims partial rows, and the per-round driver state is the
    * 1-row normalized vector. Seed is the binary-exact constant vector
    * (0.125, …, 0.125) — unit norm at dim=64 specifically, but every
    * round renormalizes, so the seed's scale is irrelevant at any dim —
    * and the positive-norm normalization makes every round
    * sign-unambiguous. Returns `(dim, loading)` — the
    * whitening/projection direction of an embedding pipeline. */
  def pcaPowerTop(embs: DataFrame, iters: Int = 3, dim: Int = 64,
                  vecCol: String = "embedding"): DataFrame = {
    require(iters >= 1, "pcaPowerTop: iters must be >= 1")
    val clean = embs.filter(col(vecCol).isNotNull)
      .select(col(vecCol).cast("array<double>").as("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val mu = clean.select(posexplode(col("x")).as(Seq("dim", "val")))
      .groupBy(col("dim"))
      .agg(Fns.sumExact(col("val")).as("sm"), count(lit(1)).as("n"))
      .select(col("dim"), (col("sm") / col("n")).as("m"), col("n"))
    // 1-row (mu array, n): the per-round broadcast state, cut so every
    // round reuses the materialized means instead of re-aggregating
    val muArr = Seam.cut(mu.groupBy()
      .agg(transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          t => t.getField("m")).as("mu"),
        max(col("n")).as("n")))
    var vrow = Seam.cut(clean.sparkSession.range(1)
      .select(transform(sequence(lit(1), lit(dim)), _ => lit(0.125)).as("v")))
    (0 until iters).foreach { _ =>
      val sFrame = clean.crossJoin(broadcast(vrow))
        .select(col("x"),
          graft.functions.VectorFns.dot(col("x"), col("v")).as("s"))
      val muv = muArr.crossJoin(broadcast(vrow))
        .select(graft.functions.VectorFns.dot(col("mu"), col("v")).as("muv"))
      val st = sFrame.crossJoin(broadcast(muv))
        .select(col("x"), (col("s") - col("muv")).as("t"))
      val tbar = st.agg(Fns.sumExact(col("t")).as("ts"))
        .crossJoin(broadcast(muArr.select(col("n"))))
        .select((col("ts") / col("n")).as("tbar"))
      val perDim = st.select(col("t"), posexplode(col("x")).as(Seq("dim", "val")))
        .groupBy(col("dim"))
        .agg(Fns.sumExact(col("val") * col("t")).as("sxt"))
      // 64-row cut: w feeds BOTH the norm aggregate and the normalize
      // projection — without it the corpus-wide perDim aggregation (and
      // st's dot pass under tbar) would re-execute per consumer, doubling
      // the round's dominant cost
      val w = Seam.cut(perDim.crossJoin(broadcast(tbar)).crossJoin(broadcast(muArr))
        .select(col("dim"),
          (col("sxt") / col("n") -
            element_at(col("mu"), col("dim") + 1) * col("tbar")).as("w")))
      val norm = w.agg(
        sqrt(sum(Fns.dec(col("w") * col("w"))).cast("double")).as("nrm"))
      val prev = vrow
      vrow = Seam.cut(w.crossJoin(broadcast(norm))
        .select(col("dim"), (col("w") / col("nrm")).as("vd"))
        .groupBy()
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("vd")))),
          t => t.getField("vd")).as("v")))
      Seam.release(prev)
      Seam.release(w)
    }
    clean.unpersist(blocking = false)
    vrow.select(posexplode(col("v")).as(Seq("dim", "loading")))
  }

  /** One Lloyd iteration of k-means: assign every vector to its nearest
    * centroid by squared L2 (broadcast codebook, map-side `min_by` argmin
    * — the shuffle carries one row per vector, never the vector×centroid
    * product), then recompute centroids as per-cell means via
    * [[centroids]]. Returns `(centroid_id, centroid, n_assigned)`;
    * centroids that win no vectors are absent (standard k-means cell
    * death — reseed or drop, caller's policy). L2 (not cosine) assignment
    * + mean update is exactly classic Lloyd, so the objective
    * Σ min-dist² is non-increasing per step — the invariant the spec
    * pins. Iterate by feeding the output back as the next codebook. */
  def kmeansStep(corpus: DataFrame, cents: DataFrame,
                 idCol: String = "vec_id",
                 vecCol: String = "embedding"): DataFrame = {
    val assigned = corpus
      .filter(col(vecCol).isNotNull)
      .crossJoin(broadcast(cents))
      .withColumn("__d", graft.functions.VectorFns.l2DistSq(col(vecCol), col("c_vec")))
      .groupBy(col(idCol))
      .agg(min_by(struct(col("centroid_id"), col(vecCol).as("__v")),
        struct(col("__d"), col("centroid_id"))).as("__best"))
      .select(col("__best.centroid_id").as("centroid_id"),
        col("__best.__v").as(vecCol))
    centroids(assigned, "centroid_id", vecCol)
      .withColumnRenamed("n_vecs", "n_assigned")
  }

  /** Lloyd's k-means to convergence: iterate [[kmeansStep]], feeding each
    * round's centroids back as the next codebook, until the max squared
    * centroid shift is ≤ `tol` (default 0.0 — an exact fixpoint: identical
    * centroids imply identical assignments imply no further change) or
    * `maxIters` rounds. Same loop discipline as
    * [[Cluster.connectedComponents]]: a [[graft.Seam]] cut per round
    * truncates the self-referential plan (k rows — the cut is trivially
    * cheap), and the convergence probe (max squared centroid shift vs the
    * previous round, via a broadcast k-row self-join) rides that cut —
    * one driver round trip per round, never a separate corpus-sized job.
    * The seed codebook is cut once at entry: seeds are usually a plan over
    * the corpus (a TakeOrdered sample), and without the cut both round 1's
    * broadcast and its shift probe would re-execute that corpus scan.
    * Returns the last round's `(centroid_id, centroid, n_assigned)`; like
    * the single step, centroids that win no vectors drop out (cell death —
    * caller reseeds).
    *
    * Determinism: every round's means run in the DECIMAL(18,6) carrier
    * and L2 argmin ties break on centroid_id, so a fixed-`maxIters` run is
    * reproducible across partition counts and engines — which is what lets
    * a SQL oracle verify it by unrolling the same number of rounds. */
  def kmeansLloyd(corpus: DataFrame, initCents: DataFrame, maxIters: Int,
                  tol: Double = 0.0, idCol: String = "vec_id",
                  vecCol: String = "embedding",
                  materializeLast: Boolean = true): DataFrame = {
    require(maxIters >= 1, "kmeansLloyd: maxIters must be >= 1")
    // the materialized codebook `cents` projects; superseded once the next
    // round is cut, unless the lazy final round still reads it
    var centsCut = Seam.cut(initCents.select(col("centroid_id"), col("c_vec")))
    var cents = centsCut
    var last: DataFrame = null
    var converged = false
    var iters = 0
    while (!converged && iters < maxIters) {
      if (!materializeLast && iters == maxIters - 1) {
        // FINAL round under materializeLast=false: no later round consumes
        // it, so it stays LAZY — the caller's one action computes it (same
        // assignment + means work, one fewer materialization + driver
        // round trip per call). The convergence probe is skipped: whether
        // or not this round reached the fixpoint, the loop exits here and
        // the returned frame is the same — the probe's only consumer was
        // the loop condition. Callers that read the result MORE than once,
        // or that unpersist the corpus before acting on the result (Pq),
        // keep the default materialized last round.
        last = kmeansStep(corpus, cents, idCol, vecCol)
        converged = true
      } else {
        // next's centroid_ids are a subset of cents' (cell death only ever
        // removes), so the left join hits c_vec for every row and __shift is
        // never NULL; max over zero rows (every cell died / empty corpus) is
        // NULL with n == 0 — nothing left to move, the loop is done
        val (next, m) = Seam.cut(kmeansStep(corpus, cents, idCol, vecCol)
            .join(broadcast(cents), Seq("centroid_id"), "left")
            .select(col("centroid_id"), col("centroid"), col("n_assigned"),
              graft.functions.VectorFns.l2DistSq(col("centroid"), col("c_vec"))
                .as("__shift")),
          max(col("__shift")).as("shift"), count(lit(1)).as("n"))
        converged = (m.getAs[Long]("n") == 0L) ||
          m.getAs[Double]("shift") <= tol
        Seam.release(centsCut)
        centsCut = next
        cents = next.select(col("centroid_id"), col("centroid").as("c_vec"))
        last = next.drop("__shift")
      }
      iters += 1
    }
    last
  }

  /** Symmetric int8 scalar quantization: per-vector scale `max(|x|)`,
    * lanes mapped to `floor(x / scale * 127 + 0.5)` ∈ [-127, 127] —
    * `floor(v + 0.5)` instead of `round(v)` because round's half-way
    * rule differs across engines (HALF_UP vs half-even) while floor is
    * unambiguous IEEE arithmetic, bit-identical in any engine. 4× smaller
    * vectors for ANN shortlists; a narrow per-row expression (zero
    * shuffle), quantizing 100 TB is scan-bound.
    *
    * Zero vectors (scale 0) yield NULL qvec rather than a division by
    * zero; `recon_err` reports the max absolute reconstruction error so
    * downstream consumers can gate on quantization loss. */
  def quantizeInt8(embs: DataFrame, idCol: String = "vec_id",
                   vecCol: String = "embedding"): DataFrame = {
    val x = col(vecCol)
    val scale = array_max(transform(x, v => abs(v.cast("double"))))
    val qv = transform(x, v =>
      floor(v.cast("double") / col("scale") * 127d + 0.5d).cast("int"))
    val err = array_max(transform(col("qvec"),
      (q, i) => abs(q.cast("double") * col("scale") / 127d -
        element_at(x, i + 1).cast("double"))))
    embs
      .filter(x.isNotNull)
      .withColumn("scale", scale)
      .withColumn("qvec", when(col("scale") > 0d, qv))
      .withColumn("recon_err", when(col("scale") > 0d, err))
      .select(col(idCol), col("scale"), col("qvec"), col("recon_err"))
  }

  /** Per-`labelCol` centroid: `(label, centroid: Array[Double], n_vecs)`.
    * Rows with NULL vectors are excluded (they would shift `n_vecs` but
    * contribute no dims). */
  def centroids(embs: DataFrame, labelCol: String = "label",
                vecCol: String = "embedding"): DataFrame = {
    val dimvals = embs
      .filter(col(vecCol).isNotNull)
      .select(col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "x")))
    val perDim = dimvals
      .groupBy(col(labelCol), col("dim"))
      .agg(Fns.sumExact(col("x").cast("double")).as("s"),
        count(lit(1)).as("n"))
      .withColumn("m", col("s") / col("n"))
    perDim
      .groupBy(col(labelCol))
      .agg(
        transform(array_sort(collect_list(struct(col("dim"), col("m")))),
          s => s.getField("m")).as("centroid"),
        max(col("n")).as("n_vecs"))
  }
}
