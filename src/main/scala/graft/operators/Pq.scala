package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Seam
import graft.functions.VectorFns

/** Product quantization (Jégou/Douze/Schmid, "Product Quantization for
  * Nearest Neighbor Search", TPAMI 2011) — the standard compression for
  * billion-vector ANN: split each vector into `m` subvectors, k-means each
  * subspace independently, store one small code per subspace. A 64-dim
  * float vector becomes `m` bytes (m=4, k≤256 here), and search runs over
  * codes via an asymmetric distance table (ADC) without touching floats.
  *
  * Scale shape:
  *  - training touches the corpus once per Lloyd round per subspace, with
  *    a constant-size broadcast codebook (same discipline as
  *    [[VectorAgg.kmeansLloyd]]);
  *  - encoding is one pass: m-way slice fan-out (constant factor), argmin
  *    against the broadcast codebooks aggregated map-side (`min_by`), one
  *    shuffle carrying (id, subspace, code) ints;
  *  - ADC search never re-reads vectors: the query×codebook lookup table
  *    is m×k rows computed once and broadcast; per-vector distance is a
  *    sum of m table hits, partial-aggregated before the one shuffle.
  *
  * Determinism: codebooks seed from the FNV-sampled rows
  * ([[Similarity.sampledCodebook]] — seed-free, engine-replicable), argmin
  * ties break on centroid id, ADC partial distances go through the
  * DECIMAL(18,6) carrier so the sum is merge-order invariant. That is what
  * lets a DuckDB oracle verify training, codes, and search exactly.
  */
object Pq {

  /** Subvector `s` (0-based) of `d` dims: elements [s*d, (s+1)*d). */
  private def sub(vec: Column, s: Int, d: Int): Column =
    slice(vec, s * d + 1, d)

  private def checkGeometry(m: Int, dim: Int): Int = {
    require(m >= 1 && dim % m == 0,
      s"Pq: m=$m must divide dim=$dim into equal subspaces")
    dim / m
  }

  /** Per-subspace codebooks `(subspace, centroid_id, c_vec)`: the SAME
    * FNV-sampled `k` seed rows feed every subspace (sliced), refined by
    * `iters` Lloyd rounds each. Subspaces with dead cells keep only
    * surviving centroids (standard k-means cell death).
    *
    * All m subspaces train in ONE fused Lloyd loop keyed by
    * (subspace, centroid_id) — per round, one assignment pass over the
    * m-way slice fan-out and one per-dim decimal-mean aggregate, instead
    * of m sequential per-subspace jobs (measured 4× fewer Spark jobs at
    * m=4; at cluster scale it is also m× fewer corpus scans per round).
    * Semantics are identical to independent per-subspace k-means: the
    * grouping key isolates subspaces, and a subspace that reaches its
    * fixpoint early simply no-ops through later rounds. */
  def train(embs: DataFrame, m: Int, k: Int, iters: Int, dim: Int = 64,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val d = checkGeometry(m, dim)
    require(iters >= 1, "Pq.train: iters must be >= 1")
    val clean = embs.filter(col(vecCol).isNotNull)
    // every Lloyd round joins `slices` afresh: with iters > 1 the slice
    // fan-out (training-sample × m subvectors — bounded) is worth staging
    // once instead of re-scanning + re-exploding the sample per round
    val slices0 = clean.select(col(idCol), posexplode(
        array((0 until m).map(s => sub(col(vecCol), s, d)): _*))
      .as(Seq("subspace", "sv")))
    val slices = if (iters > 1)
      slices0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else slices0
    // denseIds: codes are genuine 0..k-1 integers (one byte per subspace at
    // k<=256), not the seed rows' arbitrary 64-bit vec_ids — the compressed
    // representation the PQ compression claim is about
    val seeds = Similarity.sampledCodebook(clean, k, idCol, vecCol,
      denseIds = true)
    var cents = Seam.cut(seeds.select(col("centroid_id"), posexplode(
        array((0 until m).map(s => sub(col("c_vec"), s, d)): _*))
      .as(Seq("subspace", "c_vec"))))
    (0 until iters).foreach { _ =>
      val assigned = slices.join(broadcast(cents), Seq("subspace"))
        .withColumn("__d", VectorFns.l2DistSq(col("sv"), col("c_vec")))
        .groupBy(col(idCol), col("subspace"))
        .agg(min_by(struct(col("centroid_id"), col("sv").as("__v")),
          struct(col("__d"), col("centroid_id"))).as("__best"))
        .select(col("subspace"), col("__best.centroid_id").as("centroid_id"),
          col("__best.__v").as("sv"))
      val perDim = assigned
        .select(col("subspace"), col("centroid_id"),
          posexplode(col("sv")).as(Seq("dim", "x")))
        .groupBy(col("subspace"), col("centroid_id"), col("dim"))
        .agg(graft.functions.Fns.sumExact(col("x").cast("double")).as("s"),
          count(lit(1)).as("n"))
        .withColumn("mv", col("s") / col("n"))
      val prev = cents
      cents = Seam.cut(perDim
        .groupBy(col("subspace"), col("centroid_id"))
        .agg(transform(array_sort(collect_list(struct(col("dim"), col("mv")))),
          t => t.getField("mv")).as("c_vec")))
      Seam.release(prev)
    }
    // rounds are eagerly checkpointed, so the staged slices have no
    // remaining consumer by the time the codebooks are returned
    if (iters > 1) slices.unpersist(blocking = false)
    cents.select(col("subspace"), col("centroid_id"), col("c_vec"))
  }

  /** PQ codes `(idCol, subspace, code)`: per-subspace L2 argmin against the
    * broadcast codebooks, ties on centroid id. Integer output — exact at
    * any scale, no float hashing. */
  def encode(embs: DataFrame, codebooks: DataFrame, m: Int, dim: Int = 64,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val d = checkGeometry(m, dim)
    val slices = embs.filter(col(vecCol).isNotNull)
      .select(col(idCol), posexplode(
        array((0 until m).map(s => sub(col(vecCol), s, d)): _*))
        .as(Seq("subspace", "sv")))
    slices.join(broadcast(codebooks), Seq("subspace"))
      .withColumn("__d", VectorFns.l2DistSq(col("sv"), col("c_vec")))
      .groupBy(col(idCol), col("subspace"))
      .agg(min_by(col("centroid_id"),
        struct(col("__d"), col("centroid_id"))).as("code"))
  }

  /** ADC top-`k` for a literal `query` vector over stored `codes`: distance
    * = Σ_s l2(query_s, codeword[code_s]), via a broadcast m×|codebook|
    * lookup table. Partials run through the DECIMAL(18,6) carrier so the
    * per-vector sum is merge-order invariant; ties break on id. Emits
    * `(idCol, adc_dist)` with the decimal distance. */
  def adcTopK(codes: DataFrame, codebooks: DataFrame, query: Seq[Double],
              m: Int, k: Int, dim: Int = 64,
              idCol: String = "vec_id"): DataFrame = {
    val d = checkGeometry(m, dim)
    require(query.size == dim, s"Pq.adcTopK: query must have $dim dims")
    val qlits = array(query.map(lit): _*)
    val lut = codebooks
      .withColumn("__qs", sub(qlits, col("subspace"), d))
      .withColumn("__pd",
        VectorFns.l2DistSq(col("__qs"), col("c_vec")).cast("decimal(18,6)"))
      .select(col("subspace"), col("centroid_id").as("code"), col("__pd"))
    codes.join(broadcast(lut), Seq("subspace", "code"))
      .groupBy(col(idCol))
      .agg(sum(col("__pd")).as("__s"))
      .orderBy(col("__s"), col(idCol))
      .limit(k)
      .select(col(idCol), col("__s").cast("double").as("adc_dist"))
  }

  /** Slice helper for a subspace indexed by a COLUMN (ADC lut build). */
  private def sub(vec: Column, s: Column, d: Int): Column =
    slice(vec, s * lit(d) + lit(1), lit(d))

  /** Deterministic training subsample: rows whose FNV-1a64 id-hash has all
    * `mask` low bits zero (mask=3 keeps ~1/4). Seed-free and engine-
    * replicable like [[Similarity.sampledCodebook]]'s ordering — the same
    * hash, so the sample's lowest-hash rows ARE the codebook seeds. */
  def trainSample(df: DataFrame, idCol: String, mask: Long): DataFrame =
    if (mask == 0L) df
    else df.filter(graft.functions.HashExprs
      .fnv1a64Col(col(idCol).cast("string")).bitwiseAND(lit(mask)) === 0L)

  /** Offline IVF-PQ index build — train both quantizers once, encode the
    * full corpus, and write the serving layout to `path`:
    *
    *  - `path/cents`: coarse centroids `(centroid_id, c_vec)` (small);
    *  - `path/books`: PQ codebooks `(subspace, centroid_id, c_vec)` (small);
    *  - `path/cells`: PQ codes `(idCol, subspace, code)` PARTITIONED by
    *    `__cell` (the vector's coarse cell) — so a probe reads only
    *    nProbe/ivfK of the stored codes via partition pruning, the same
    *    layout discipline as [[Similarity.writeIvfIndex]].
    *
    * This is the real at-scale split: training + encoding are the offline
    * index-construction passes (run once per corpus version), while
    * [[ivfPqTopKIndexed]] is the query-time serving path that never
    * touches stored floats and never reads unprobed cells. Training
    * parameters mirror [[ivfPqTopK]] so the two paths are result-identical
    * on the same corpus. */
  def writeIvfPqIndex(corpus: DataFrame, path: String,
                      ivfK: Int = 16, m: Int = 4, pqK: Int = 8,
                      iters: Int = 1, ivfIters: Int = 2, trainMask: Long = 3L,
                      dim: Int = 64, filesPerCell: Int = 4,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): Unit = {
    checkGeometry(m, dim)
    val spark = corpus.sparkSession
    // geometry travels WITH the index: a serve call whose m/dim disagree
    // with the stored codes would slice past the query vector and return
    // silently-corrupt distances, so ivfPqTopKIndexed validates against
    // this record instead of trusting its own defaults
    import spark.implicits._
    Seq((m, dim)).toDF("m", "dim")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val clean = corpus.filter(col(vecCol).isNotNull)
    val trainSet = trainSample(clean, idCol, trainMask)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ivfSeed = Similarity.sampledCodebook(trainSet, ivfK, idCol, vecCol)
    val ivfCents = VectorAgg
      .kmeansLloyd(trainSet, ivfSeed, maxIters = ivfIters,
        idCol = idCol, vecCol = vecCol)
      .select(col("centroid_id"), col("centroid").as("c_vec"))
    val books = train(trainSet, m, pqK, iters, dim, idCol, vecCol)
    trainSet.unpersist(blocking = false)
    ivfCents.coalesce(1).write.mode("overwrite").parquet(s"$path/cents")
    books.coalesce(1).write.mode("overwrite").parquet(s"$path/books")
    // assignment/encoding read the WRITTEN artifacts (one source of truth:
    // the codes on disk always match the cents/books stored next to them)
    val centsR = spark.read.parquet(s"$path/cents")
    val booksR = spark.read.parquet(s"$path/books")
    val assigned = Similarity.assignToCells(clean, centsR, idCol, vecCol)
      .select(col(idCol), col("centroid_id").as("__cell"))
    encode(clean, booksR, m, dim, idCol, vecCol)
      .join(assigned, Seq(idCol))
      .repartition(col("__cell"),
        pmod(spark_partition_id(), lit(filesPerCell)))
      .write.mode("overwrite").partitionBy("__cell").parquet(s"$path/cells")
  }

  /** Query-time IVF-PQ serving over a [[writeIvfPqIndex]] layout: probe
    * `nProbe` cells per query, read ONLY those cells' code partitions
    * (static partition pruning — the collected cell set is bounded by
    * |queries| × nProbe, same contract as [[Similarity.ivfTopKIndexed]]),
    * rank candidates by ADC against the broadcast query×codebook LUT.
    * Emits `(queryId, idCol, adc_dist, rank)` — result-identical to
    * [[ivfPqTopK]] with the same training parameters. */
  def ivfPqTopKIndexed(indexPath: String, queries: DataFrame, k: Int,
                       nProbe: Int = 2, m: Int = 4, dim: Int = 64,
                       idCol: String = "vec_id",
                       queryId: String = "query_id",
                       queryVec: String = "q_embedding"): DataFrame = {
    val d = checkGeometry(m, dim)
    val spark = queries.sparkSession
    val metaRow = spark.read.parquet(s"$indexPath/meta").head()
    val (im, idim) = (metaRow.getAs[Int]("m"), metaRow.getAs[Int]("dim"))
    require(im == m && idim == dim,
      s"ivfPqTopKIndexed: index at $indexPath was built with m=$im, " +
        s"dim=$idim but the serve call passed m=$m, dim=$dim — ADC over " +
        "mismatched geometry is silently wrong, not approximate")
    val cents = spark.read.parquet(s"$indexPath/cents")
    val books = spark.read.parquet(s"$indexPath/books")
    val probes = Similarity
      .probeCells(queries, cents, nProbe, queryId, queryVec)
      .select(col(queryId), col("centroid_id").as("__cell"))
    val cells = probes.select(col("__cell")).distinct()
      .collect().map(_.get(0)).toSeq
    val lut = queries.crossJoin(broadcast(books))
      .withColumn("__qs", sub(col(queryVec), col("subspace"), d))
      .select(col(queryId), col("subspace"),
        col("centroid_id").as("code"),
        VectorFns.l2DistSq(col("__qs"), col("c_vec"))
          .cast("decimal(18,6)").as("__pd"))
    val cand = spark.read.parquet(s"$indexPath/cells")
      .where(col("__cell").isin(cells: _*))
      .join(probes, Seq("__cell"))
      .filter(col(idCol) =!= col(queryId))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryId)).orderBy(col("__s"), col(idCol))
    cand.join(broadcast(lut), Seq(queryId, "subspace", "code"))
      .groupBy(col(queryId), col(idCol))
      .agg(sum(col("__pd")).as("__s"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col(idCol),
        col("__s").cast("double").as("adc_dist"), col("rank"))
  }

  /** IVF-PQ: the billion-vector serving layout — coarse IVF cells prune
    * the candidate set (queries probe `nProbe` of `ivfK` cells), then ADC
    * over the candidates' PQ codes ranks them without touching stored
    * floats. Composes [[Similarity]]'s cell machinery (cosine cells, same
    * as the gated IVF paths) with this object's codebooks/codes/LUT.
    * Per query: candidates = vectors in nProbe cells; per candidate the
    * cost is m lookup-table hits, decimal-summed (merge-order invariant).
    * Emits `(queryId, idCol, adc_dist, rank)` for the top `k` per query.
    *
    * Both quantizers train on a deterministic hash subsample
    * (`trainMask`, default 1/4) and ENCODE the full corpus — the standard
    * billion-vector discipline (quantizer quality saturates long before
    * the full corpus is seen, and training passes are the only
    * multi-scan stages). `trainMask = 0` trains on everything. */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                ivfK: Int = 16, nProbe: Int = 2, m: Int = 4, pqK: Int = 8,
                iters: Int = 1, ivfIters: Int = 2, trainMask: Long = 3L,
                dim: Int = 64,
                idCol: String = "vec_id", vecCol: String = "embedding",
                queryId: String = "query_id",
                queryVec: String = "q_embedding"): DataFrame = {
    val d = checkGeometry(m, dim)
    val clean = corpus.filter(col(vecCol).isNotNull)
    // the training sample feeds the IVF seed scan, every coarse Lloyd
    // round, and every PQ Lloyd round — stage it once (bounded: it is the
    // hash-masked sample, 1/(mask+1) of the corpus)
    val trainSet = trainSample(clean, idCol, trainMask)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the coarse quantizer is TRAINED, not just sampled: `ivfIters` Lloyd
    // rounds over the sampled seeds ([[VectorAgg.kmeansLloyd]] — broadcast
    // centroids, map-side argmin) so cell boundaries reflect the data
    // distribution; recall at a given nProbe tracks a trained index, not
    // whichever rows the hash sample happened to pick
    val ivfSeed = Similarity.sampledCodebook(trainSet, ivfK, idCol, vecCol)
    val ivfCents = VectorAgg
      .kmeansLloyd(trainSet, ivfSeed, maxIters = ivfIters,
        idCol = idCol, vecCol = vecCol)
      .select(col("centroid_id"), col("centroid").as("c_vec"))
    val assigned = Similarity.assignToCells(clean, ivfCents, idCol, vecCol)
      .select(col(idCol), col("centroid_id").as("__cell"))
    val probes = Similarity
      .probeCells(queries, ivfCents, nProbe, queryId, queryVec)
      .select(col(queryId), col(queryVec), col("centroid_id").as("__cell"))
    val books = train(trainSet, m, pqK, iters, dim, idCol, vecCol)
    // both trainings materialize eagerly (checkpointed rounds), so the
    // sample can be released before the lazy search plan below runs
    trainSet.unpersist(blocking = false)
    val codes = encode(clean, books, m, dim, idCol, vecCol)
    val lut = queries.crossJoin(broadcast(books))
      .withColumn("__qs", sub(col(queryVec), col("subspace"), d))
      .select(col(queryId), col("subspace"),
        col("centroid_id").as("code"),
        VectorFns.l2DistSq(col("__qs"), col("c_vec"))
          .cast("decimal(18,6)").as("__pd"))
    val cand = codes.join(assigned, Seq(idCol))
      .join(probes.select(col(queryId), col("__cell")), Seq("__cell"))
      .filter(col(idCol) =!= col(queryId))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryId)).orderBy(col("__s"), col(idCol))
    cand.join(broadcast(lut), Seq(queryId, "subspace", "code"))
      .groupBy(col(queryId), col(idCol))
      .agg(sum(col("__pd")).as("__s"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(queryId), col(idCol),
        col("__s").cast("double").as("adc_dist"), col("rank"))
  }
}
