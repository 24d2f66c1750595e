package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Seam
import graft.functions.HashExprs

/** Deterministic corpus sampling for training-data pipelines.
  *
  * `sample(rand())` is unusable at scale: task retries, partition-count
  * changes, and cluster-size changes all reshuffle which rows survive, so
  * a pipeline can never be re-run to the same corpus. Hash sampling keys
  * the keep/drop decision on the ROW ITSELF (FNV-1a64 of a stable key +
  * seed), which makes the sample a pure function of the data — identical
  * on 1 executor or 1000, on retry, and across engines (the DuckDB oracle
  * restates the same hash bit-for-bit).
  *
  * Granularity is 2^13: a power of two makes unsigned-HUGEINT mod (oracle)
  * equal signed-long `pmod` (engine) exactly — for any two's-complement x,
  * (x + 2^64) % 2^k == pmod(x, 2^k). The reference has no sampling analog;
  * this is `df.stat.sampleBy` re-done reproducibly (SURVEY north-star ops).
  */
object Sampling {

  val Granularity = 8192L // 2^13 — MUST stay a power of two (see above)

  /** Per-row sampling bucket in [0, 8192): FNV-1a64 of (seed | key). */
  def bucket(key: Column, seed: String): Column =
    pmod(HashExprs.fnv1a64Col(concat_ws("|", lit(seed), key.cast("string"))),
      lit(Granularity))

  /** Keep ~`fraction` of rows, deterministically per key. */
  def hashSample(df: DataFrame, keyCol: String, fraction: Double,
                 seed: String = "graft"): DataFrame = {
    require(fraction >= 0 && fraction <= 1, s"fraction $fraction out of [0,1]")
    df.filter(bucket(col(keyCol), seed) <
      lit(math.floor(fraction * Granularity).toLong))
  }

  /** Stratified sample (`df.stat.sampleBy` analog): per-stratum keep
    * fractions; strata absent from the map are dropped (sampleBy
    * semantics). The threshold map is a fold-constant literal — no join,
    * no shuffle, one narrow pass. */
  def stratifiedHashSample(df: DataFrame, keyCol: String, stratumCol: String,
                           fractions: Map[String, Double],
                           seed: String = "graft"): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      "fractions out of [0,1]")
    val thresholds = map(fractions.toSeq.flatMap { case (k, f) =>
      Seq(lit(k), lit(math.floor(f * Granularity).toLong))
    }: _*)
    df.filter(bucket(col(keyCol), seed) <
      coalesce(element_at(thresholds, col(stratumCol)), lit(0L)))
  }

  /** Weighted corpus mixing — the training-mix step (N epochs of corpus A
    * +0.5 epochs of corpus B...). Weight w yields floor(w) full copies
    * (tagged `epoch` 0..floor(w)-1) plus a deterministic hash sample of the
    * fractional remainder as the last epoch; every row is tagged with its
    * `source`. The fractional epoch's seed folds in (source, epoch) so
    * different corpora and epochs sample independently. Bag-union all the
    * way: narrow, no shuffle, and reproducible row-for-row — rerunning the
    * mix yields the identical corpus. */
  def mixCorpora(sources: Seq[(String, DataFrame, Double)], keyCol: String,
                 seed: String = "graft"): DataFrame = {
    require(sources.nonEmpty, "empty mix")
    val parts = sources.flatMap { case (name, df, w) =>
      require(w >= 0, s"negative weight for $name")
      val full = math.floor(w).toInt
      val frac = w - full
      val copies = (0 until full).map(e =>
        df.withColumn("epoch", lit(e)))
      val partial =
        if (frac > 0)
          Seq(hashSample(df, keyCol, frac, seed = s"$seed-$name-$full")
            .withColumn("epoch", lit(full)))
        else Nil
      (copies ++ partial).map(_.withColumn("source", lit(name)))
    }
    require(parts.nonEmpty,
      "every corpus has weight 0 — the mix would be empty; drop the sources instead")
    parts.reduce(_ unionByName _)
  }

  /** Group-wise top-k selection — keep the `k` best rows per stratum by a
    * score (the curation step after quality scoring: "best k docs per
    * language/domain"). One shuffle on the stratum; Spark plans the
    * rank-filter as WindowGroupLimit, so each partition retains only its
    * local top-k BEFORE the exchange — the shuffle carries O(strata x k),
    * not the corpus. `tieBreak` must totally order rows within a score so
    * the kept set is deterministic under any partitioning. */
  def topKPerGroup(df: DataFrame, stratumCol: String, scoreCol: String,
                   k: Int, tieBreak: String): DataFrame = {
    require(k > 0, s"k must be positive, got $k")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(stratumCol))
      .orderBy(col(scoreCol).desc_nulls_last, col(tieBreak))
    df.withColumn("__rank", row_number().over(w))
      .filter(col("__rank") <= k)
      .drop("__rank")
  }

  /** Quantized band upper bounds over the bucket space — the ONE place
    * the split cut rule lives (splitAssign, its oracle, and the leakage
    * oracle must agree bit-for-bit). Bands summing to 1 widen the last
    * bound to the full granularity (the floor-rounding tail). */
  private def bandBounds(bands: Seq[(String, Double)]): Seq[Long] = {
    val total = bands.map(_._2).sum
    val cuts = bands.scanLeft(0.0) { case (acc, (_, f)) => acc + f }.tail
      .map(c => math.floor(c * Granularity).toLong)
    if (total >= 1.0 - 1e-9) cuts.init :+ Granularity else cuts
  }

  /** Deterministic train/val/test assignment: the hash-bucket space is
    * carved into consecutive bands in declaration order and every key
    * lands in exactly one — a pure function of the data. This is the
    * property a training split MUST have: a re-run (or a retry, or a
    * different cluster size) that migrated rows between train and test
    * would leak evaluation data into training. Bands summing to < 1 leave
    * a deterministic holdout (rows with no label are DROPPED); bands
    * summing to 1 cover every row (the last band absorbs the floor-
    * rounding tail). Narrow one-pass projection, zero shuffle. */
  def splitAssign(df: DataFrame, keyCol: String, bands: Seq[(String, Double)],
                  seed: String = "graft-split",
                  labelCol: String = "split"): DataFrame = {
    val total = bands.map(_._2).sum
    require(bands.nonEmpty && bands.forall(_._2 >= 0) && total <= 1.0 + 1e-9,
      s"splitAssign: band fractions must be >= 0 and sum <= 1, got $bands")
    val bounds = bandBounds(bands)
    val b = bucket(col(keyCol), seed)
    val label = bands.map(_._1).zip(bounds).foldRight(lit(null).cast("string")) {
      case ((name, cut), rest) => when(b < cut, lit(name)).otherwise(rest)
    }
    df.withColumn(labelCol, label).filter(col(labelCol).isNotNull)
  }

  /** DuckDB mirror of [[splitAssign]] over `documents`. */
  def splitOracleSql(bands: Seq[(String, Double)],
                     seed: String = "graft-split"): String = {
    val bounds = bandBounds(bands)
    val cases = bands.map(_._1).zip(bounds)
      .map { case (n, c) => s"WHEN b < $c THEN '$n'" }.mkString(" ")
    s"""SELECT doc_id, lang, split FROM (
       |  SELECT doc_id, lang,
       |    CASE $cases ELSE NULL END AS split
       |  FROM (SELECT doc_id, lang, ${bucketSql("doc_id", seed)} AS b
       |        FROM documents)
       |) WHERE split IS NOT NULL
       |ORDER BY doc_id""".stripMargin
  }

  /** Curriculum staging: carve the corpus into `stages` quality tiers
    * (stage 1 = highest score, trained first) WITHOUT a global sort.
    * NTILE over a corpus-wide window is the textbook formulation and a
    * single-partition bottleneck at scale; instead the stage is a pure
    * function of the SCORE: per-score counts (one aggregate, domain
    * bounded because the score is an integer-milli quantity), a
    * cumulative-count window over that score-domain-sized frame, stage =
    * `(docs_scoring_higher * stages) div total + 1`, broadcast back.
    * Whole-score-class assignment means stage sizes are even only up to
    * tie-class granularity — the price of making the stage layout-
    * independent (an NTILE split of a tie class would depend on row
    * order). `shuffle_bucket` ([[bucket]]) gives the deterministic
    * within-stage training order; consumers sort by (stage,
    * shuffle_bucket, key) when writing shards — the operator itself never
    * globally sorts. */
  def curriculumStages(df: DataFrame, keyCol: String, scoreCol: String,
                       stages: Int,
                       seed: String = "graft-curriculum"): DataFrame = {
    require(stages >= 2, s"curriculumStages: need >= 2 stages, got $stages")
    // NULL scores are excluded consistently: an unscored row has no
    // defined stage, and leaving nulls in the histogram while the
    // equi-join silently dropped the rows would skew every boundary
    // (nulls counted in __tot but unreachable) — drop them from BOTH.
    // The scored frame feeds BOTH the histogram derivation and the join's
    // left side; without the cut the caller's whole scoring chain
    // (tokenize + stopword scan of the corpus) runs twice — measured
    // locally at sf0.1: 4.4 s -> ~2.5 s for the bucket gate. The cut stays
    // unconditional: skipping it for callers whose input already derives
    // from a seam re-runs the decontamination gram probe inside the final
    // plan, which costs MORE than the saved round trip (curate_to_shards
    // 5.66 → 6.84 s at 32c).
    val scored = Seam.cut(df.filter(col(scoreCol).isNotNull))
    scored.join(broadcast(curriculumStageMap(scored, scoreCol, stages)),
        Seq(scoreCol))
      .withColumn("shuffle_bucket", bucket(col(keyCol), seed))
  }

  /** Stages 1–2 of [[curriculumStages]], exposed for the round-14
    * bisection gates (the DSIR lesson: a composite whose oracle introduces
    * an unpinned primitive combination ships WITH stage diagnostics):
    * per-score counts plus `__before` = total docs scoring strictly
    * HIGHER. Deliberate single-partition window over the score-DOMAIN
    * frame (bounded by construction); partition on the constant anchor so
    * the WindowExec global-window warning stays reserved for accidents. */
  private[graft] def curriculumHist(scored: DataFrame,
                                    scoreCol: String): DataFrame = {
    val hist = scored.groupBy(col(scoreCol)).agg(count(lit(1)).as("__cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(graft.functions.Fns.singlePartitionKey(col(scoreCol)))
      .orderBy(col(scoreCol).desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    hist.withColumn("__before",
      coalesce(sum(col("__cnt")).over(w), lit(0L)))
  }

  /** Stage 3 of [[curriculumStages]]: the ≤|score-domain|-row
    * score → stage map, `stage = (docs_scoring_higher * stages) div total
    * + 1`. */
  private[graft] def curriculumStageMap(scored: DataFrame, scoreCol: String,
                                        stages: Int): DataFrame = {
    val cum = curriculumHist(scored, scoreCol)
    val tot = cum.agg(sum(col("__cnt")).as("__tot"))
    cum.crossJoin(broadcast(tot))
      .select(col(scoreCol),
        (expr(s"(__before * $stages) div __tot") + lit(1L)).as("stage"))
  }

  /** Train/test contamination audit: near-duplicate pairs that STRADDLE a
    * split boundary. A split can be perfectly deterministic
    * ([[splitAssign]]) and still leak — hash assignment is blind to
    * CONTENT, so a document and its near-copy land in train and test
    * independently, and every such pair silently inflates eval scores.
    * This is the check a curation pipeline must run after dedup + split:
    * input is any verified pair frame `(aCol, bCol)` (MinHash, SimHash,
    * embedding — the audit is detector-agnostic) plus the assignment
    * `(keyCol, splitCol)`; output is the straddling pairs with both
    * labels. Two equi-joins on the pair endpoints — the pair frame is
    * post-verification (tiny vs the corpus), so both joins broadcast it;
    * the corpus-sized split frame is never shuffled. */
  def splitLeakage(pairs: DataFrame, splits: DataFrame,
                   aCol: String = "a", bCol: String = "b",
                   keyCol: String = "doc_id",
                   splitCol: String = "split"): DataFrame = {
    val sa = splits.select(col(keyCol).as(aCol), col(splitCol).as("split_a"))
    val sb = splits.select(col(keyCol).as(bCol), col(splitCol).as("split_b"))
    val withA = sa.join(broadcast(pairs), Seq(aCol))
    sb.join(broadcast(withA), Seq(bCol))
      .filter(col("split_a") =!= col("split_b"))
      .select(col(aCol), col(bCol), col("split_a"), col("split_b"))
  }

  /** DuckDB mirror of the `split_leakage_audit` gate: the dedup_minhash
    * planted corpus -> verified near-dup pairs -> [[splitAssign]] labels ->
    * straddling pairs. */
  def splitLeakageOracleSql(bands: Seq[(String, Double)],
                            threshold: Double = 0.6,
                            seed: String = "graft-split"): String = {
    val bounds = bandBounds(bands)
    val cases = bands.map(_._1).zip(bounds)
      .map { case (n, c) => s"WHEN b < $c THEN '$n'" }.mkString(" ")
    val S = graft.functions.SketchOracleSql
    s"""WITH ${S.corpusCte},
       |${S.minhashCandCtes()},
       |${S.vpairsCte(threshold)},
       |splits AS (
       |  SELECT doc_id, CASE $cases ELSE NULL END AS split
       |  FROM (SELECT doc_id, ${bucketSql("doc_id", seed)} AS b FROM corpus)
       |)
       |SELECT v.a, v.b, sa.split AS split_a, sb.split AS split_b
       |FROM vpairs v
       |JOIN splits sa ON sa.doc_id = v.a JOIN splits sb ON sb.doc_id = v.b
       |WHERE sa.split IS NOT NULL AND sb.split IS NOT NULL
       |  AND sa.split <> sb.split
       |ORDER BY a, b""".stripMargin
  }

  /** Importance sampling: keep each row with probability equal to its OWN
    * weight (a column in [0,1]) — the quality-weighted resampling step of a
    * training-data pipeline (upweight clean documents, downweight boiler-
    * plate) with the same determinism contract as [[hashSample]]: the
    * decision is a pure function of (key, weight), so retries, partition
    * changes, and engine choice cannot move a row in or out of the corpus.
    * Weights outside [0,1] clamp naturally: w<=0 keeps nothing (bucket is
    * never negative), w>=1 keeps everything (every bucket < 8192). Narrow
    * one-pass filter, zero shuffle at any scale. */
  def weightedHashSample(df: DataFrame, keyCol: String, weight: Column,
                         seed: String = "graft"): DataFrame =
    df.filter(bucket(col(keyCol), seed) <
      floor(weight * lit(Granularity.toDouble)).cast("long"))

  /** Temperature-rebalanced multilingual sampling — the low-resource
    * upweighting step of multilingual corpus construction (Conneau et al.,
    * "Unsupervised Cross-lingual Representation Learning at Scale"
    * [XLM-R], ACL 2020 §3: sample languages at p_l^alpha instead of p_l so
    * head languages stop drowning the tail). With alpha = 1/2 the per-
    * language KEEP RATE reduces to the closed form
    * `rate_l = sqrt(n_min / n_l)` (q_l/p_l ∝ p_l^(alpha-1) = 1/sqrt(p_l),
    * normalized so the rarest language keeps 100%) — chosen deliberately:
    * sqrt and double division are correctly-rounded IEEE ops, so the rate
    * is BIT-IDENTICAL in any engine, where a general p^0.3 (libm pow)
    * is not. Rows keep/drop by the [[bucket]] hash against
    * floor(rate * 8192): a pure function of the data — re-runs, retries
    * and cluster-size changes reproduce the identical corpus.
    *
    * Shape: one grouped count per stratum (broadcast back — the language
    * dimension is tiny), then a narrow filter; no extra shuffle over the
    * corpus at any scale. Returns the kept rows tagged with their
    * stratum's `keep_rate`. */
  def temperatureSample(df: DataFrame, keyCol: String, stratumCol: String,
                        seed: String = "graft-temp"): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("__n"))
    val nMin = counts.agg(min(col("__n")).as("__nmin"))
    val rates = counts.crossJoin(broadcast(nMin))
      .select(col(stratumCol),
        sqrt(col("__nmin").cast("double") / col("__n").cast("double"))
          .as("keep_rate"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(bucket(col(keyCol), seed) <
        floor(col("keep_rate") * lit(Granularity.toDouble)).cast("long"))
  }

  /** Oracle for the `corpus_temperature` query over `documents`: per-lang
    * kept counts + the closed-form rate. */
  def temperatureOracleSql(seed: String = "graft-temp"): String =
    s"""WITH counts AS (
       |  SELECT lang, COUNT(*) AS n FROM documents GROUP BY lang
       |), rates AS (
       |  SELECT lang, n,
       |    sqrt(CAST((SELECT MIN(n) FROM counts) AS DOUBLE) / CAST(n AS DOUBLE)) AS keep_rate
       |  FROM counts
       |)
       |SELECT d.lang, MAX(r.n) AS n_docs,
       |  CAST(SUM(CASE WHEN ${bucketSql("d.doc_id", seed)}
       |        < CAST(floor(r.keep_rate * ${Granularity}.0) AS BIGINT)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       |  ROUND(MAX(r.keep_rate), 6) AS keep_rate
       |FROM documents d JOIN rates r USING (lang)
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin

  /** DuckDB mirror of [[bucket]]: unsigned FNV fold mod 2^13 == pmod of the
    * signed engine value (power-of-two modulus).
    *
    * The residue is CAST to BIGINT: the fold itself is HUGEINT, and a bare
    * `HUGEINT % 8192` output column converts to pandas float64 / arrow
    * decimal128 on the driver side, so the stringified value ("805.0" /
    * Decimal) hash-mismatches the engine's BIGINT 805 even when every
    * value is equal — the exact corpus_curriculum r13/r14 red (the only
    * gate that EMITTED the bucket instead of comparing it in a predicate;
    * the local harness's fetchall() maps both types to Python int, which
    * is why the divergence never reproduced locally). The cast is lossless
    * (residue in [0, 8191]) and keeps every predicate use value-identical. */
  def bucketSql(keyExpr: String, seed: String): String =
    s"CAST(${graft.functions.SketchOracleSql.fnvFold(s"'$seed' || '|' || CAST($keyExpr AS VARCHAR)")} % $Granularity AS BIGINT)"

  /** Oracle for the `sample_stratified` query over `documents`. */
  def stratifiedOracleSql(fractions: Map[String, Double],
                          seed: String = "graft"): String = {
    val cases = fractions.toSeq.sortBy(_._1).map { case (k, f) =>
      s"WHEN '$k' THEN ${math.floor(f * Granularity).toLong}"
    }.mkString(" ")
    s"""SELECT doc_id, lang FROM documents
       |WHERE ${bucketSql("doc_id", seed)} < (CASE lang $cases ELSE 0 END)
       |ORDER BY doc_id""".stripMargin
  }
}
