package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{FixedLog, HashExprs, SketchOracleSql}

/** Hashed bag-of-words linear quality classifier — the fastText-style
  * filter (Joulin et al., "Bag of Tricks for Efficient Text
  * Classification", EACL 2017; the hashing trick is Weinberger et al.,
  * ICML 2009) that LLM-corpus pipelines run over every document (e.g.
  * GPT-3/LLaMA's quality classifiers): token -> hash bucket -> learned
  * per-bucket weight, document score = sigmoid of the mean bucket weight.
  *
  * The Spark shape IS the production shape: the weight table is a small
  * dimension frame (`buckets` rows) broadcast to every task, tokens
  * explode once, bucketing is a codegen'd hash expression, and scoring is
  * one map-side join plus one per-doc aggregate — no driver-side model
  * object, no UDF closure serialization.
  *
  * Weights here are a deterministic hash-derived STAND-IN for trained
  * parameters (integer numerators in [-1000, 1000], carried exactly so
  * the per-doc mean is merge-order invariant); swapping in a real trained
  * model is replacing [[weightTable]] with a parquet read of the same
  * (bucket, weight_num) schema — nothing else in the plan changes. */
object TextClassifier {

  /** Deterministic per-bucket weight numerators: weight = num / 1000,
    * num = fnv1a64("qw|" + bucket) mod 2048 - 1024 (power-of-two mod so
    * the signed-pmod engine and unsigned-mod oracle agree exactly). */
  def weightTable(spark: org.apache.spark.sql.SparkSession,
                  buckets: Int): DataFrame =
    spark.range(buckets).select(col("id").as("__bucket"),
      (pmod(HashExprs.fnv1a64Col(concat(lit("qw|"), col("id").cast("string"))),
        lit(2048L)) - lit(1024L)).as("__wnum"))

  /** Per-document score: `(idCol, n_tokens, score)` with
    * score = round(sigmoid(sum(weight_num) / (1000 * n_tokens)), 6).
    * Blank documents carry no tokens and are absent. */
  def hashedLinearScore(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text",
                        buckets: Int = 4096): DataFrame = {
    require((buckets & (buckets - 1)) == 0 && buckets >= 2,
      s"buckets must be a power of two (got $buckets) — signed-pmod vs " +
        "unsigned-mod bucket reduction only coincide for 2^k")
    val toks = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .select(col(idCol),
        pmod(HashExprs.fnv1a64Col(concat(lit("qb|"), col("tok"))),
          lit(buckets.toLong)).as("__bucket"))
    // integer-exact z numerator; the sigmoid goes through
    // [[graft.functions.FixedLog.withExpNeg]] — z = Z/(n·1000) is an
    // integer ratio, |z| splits off as a scale-12 floor, e^(-|z|) is the
    // fixed-point exp, and 1/(1+w) vs w/(1+w) picks the branch by sign(Z):
    // every step is integer arithmetic both engines compute identically
    // (libm exp measurably differs by an ulp across builds — the round-10
    // trained-score flips — so it cannot sit under a 6-decimal emission)
    toks
      .join(broadcast(weightTable(docs.sparkSession, buckets)), Seq("__bucket"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"), sum(col("__wnum")).as("__z"))
      .withColumn("__zm12", expr(
        s"CAST((CAST(abs(__z) AS DECIMAL(38,0)) * ${FixedLog.Scale}L) div " +
          "(n_tokens * 1000L) AS BIGINT)"))
      .transform(FixedLog.withExpNeg(_, "__zm12", "__w12"))
      .withColumn("__s12", expr(
        s"CASE WHEN __z >= 0L THEN " +
          s"CAST((CAST(${FixedLog.Scale}L AS DECIMAL(38,0)) * " +
          s"${FixedLog.Scale}L) div (${FixedLog.Scale}L + __w12) AS BIGINT) " +
          s"ELSE CAST((CAST(__w12 AS DECIMAL(38,0)) * ${FixedLog.Scale}L) " +
          s"div (${FixedLog.Scale}L + __w12) AS BIGINT) END"))
      .transform(FixedLog.withS12ToDec6(_, "__s12", "__sq"))
      .select(col(idCol), col("n_tokens"),
        col("__sq").cast("double").as("score"))
  }

  /** Decimal-carrier sum: partition-order-invariant double aggregation. */
  private def decSum(c: org.apache.spark.sql.Column) =
    sum(c.cast("decimal(18,6)")).cast("double")

  /** Label-free feature pipeline: `(idCol, __bucket, x)` with x = in-doc
    * bucket frequency (cnt / doc token count). Serving scores EVERY doc
    * with text; labels join in only for training ([[labelsOf]]). */
  private def featuresOf(docs: DataFrame, idCol: String, textCol: String,
                         buckets: Int): DataFrame = {
    val counts = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol),
        explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .select(col(idCol),
        pmod(HashExprs.fnv1a64Col(concat(lit("qb|"), col("tok"))),
          lit(buckets.toLong)).as("__bucket"))
      .groupBy(col(idCol), col("__bucket"))
      .agg(count(lit(1)).as("__cnt"))
    val nd = counts.groupBy(col(idCol)).agg(sum(col("__cnt")).as("__nd"))
    counts.join(nd, Seq(idCol))
      .select(col(idCol), col("__bucket"),
        (col("__cnt").cast("double") / col("__nd").cast("double")).as("x"))
  }

  /** Binary labels for training: `(idCol, y)`, label-null docs excluded
    * (they simply don't train; serving still scores them). */
  private def labelsOf(docs: DataFrame, idCol: String, labelCol: String,
                       positive: String): DataFrame =
    docs.filter(col(labelCol).isNotNull)
      .select(col(idCol), (col(labelCol) === positive).cast("double").as("y"))

  /** TRAIN the per-bucket weights — the missing half the serving scorer's
    * scaladoc promises ("swapping in a real trained model is replacing
    * weightTable"): full-batch gradient descent on the hashed bag-of-words
    * features of the LABELED docs, `rounds` fixed iterations, returning
    * the full-precision weight frame `(__bucket, w)` the serving join
    * consumes ([[train]] publishes the quantized artifact).
    *
    * Link function: the Elliott "fast sigmoid" p = 0.5 + (0.5·z)/(1+|z|)
    * (Elliott 1993) instead of the logistic — rational arithmetic only, so
    * every INTERMEDIATE probability is bit-identical across engines and
    * the per-row DECIMAL(18,6) gradient rounding can never land on a
    * different side of a boundary (a 1-ulp libm `exp` divergence was
    * MEASURED to flip 6-decimal rounding on ~0.6% of docs). Gradient and z
    * sums ride the decimal carrier, so training is partition-order
    * invariant — the same reproducibility contract as the k-means and PCA
    * loops. Scoring must consume these UNROUNDED weights: products of
    * 6-decimal-rounded weights with simple rational features land on exact
    * decimal ties, where Spark's string-based decimal conversion (HALF_UP
    * on the shortest representation) and DuckDB's binary-value rounding
    * disagree (measured: 6 of 500 docs).
    *
    * Plan shape per round: one broadcast join of the (≤ distinct-bucket)
    * weight frame + per-doc decimal z aggregate, one join back + per-bucket
    * decimal gradient aggregate — two key shuffles per round, weights
    * localCheckpointed so round r+1's plan does not re-derive rounds 1..r.
    * Full-batch GD is the right shape here because the model is
    * bucket-bounded and the pass is one corpus scan; at 100 TB the same
    * loop runs on a deterministic hash sample ([[graft.operators.Pq.trainSample]]
    * discipline) with nothing else changing. */
  private def trainWeights(docs: DataFrame, idCol: String,
                           textCol: String, labelCol: String,
                           positive: String, buckets: Int,
                           rounds: Int, lr: Double): DataFrame = {
    require((buckets & (buckets - 1)) == 0 && buckets >= 2,
      s"buckets must be a power of two (got $buckets)")
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val spark = docs.sparkSession
    val feat = featuresOf(docs, idCol, textCol, buckets)
      .join(labelsOf(docs, idCol, labelCol, positive), Seq(idCol))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // The weight vector is BUCKET-BOUNDED metadata (≤ `buckets` rows by
    // contract — the same bound that lets serving broadcast it), so the GD
    // loop keeps it DRIVER-SIDE: each round is ONE Spark job (z aggregate
    // + gradient aggregate, weights broadcast as a LocalRelation) ending
    // in a ≤-buckets-row collect. The previous frame-resident loop paid a
    // localCheckpoint job + an extra w⋈grad stage + a re-computed
    // n_docs distinct subtree PER ROUND — pure stage-scheduling overhead
    // that a contended machine multiplies (the r11 driver sweep measured
    // this query at 4.2x its local cost; fewer, fatter stages shrink that
    // surface). Gradient arithmetic is unchanged: the collected values
    // feed the identical `w - lr*g` IEEE update the oracle restates.
    // ONE setup job for both driver-side constants (previously a distinct
    // count + a distinct collect — two actions over the same frame; the
    // fold also materializes the persisted design matrix exactly once, so
    // every GD round below reads cached feature rows)
    val setup = feat.agg(countDistinct(col(idCol)).as("nd"),
      collect_set(col("__bucket")).as("bs")).head()
    val nDocs = setup.getLong(0).toDouble
    var wArr = setup.getSeq[Long](1).map(_ -> 0.0).sortBy(_._1).toArray
    var r = 0
    while (r < rounds) {
      val wDf = spark.createDataFrame(wArr.toSeq).toDF("__bucket", "w")
      val z = feat.join(broadcast(wDf), Seq("__bucket"))
        .groupBy(col(idCol), col("y"))
        .agg(decSum(col("w") * col("x")).as("z"))
      val err = z.select(col(idCol),
        ((lit(0.5) + lit(0.5) * col("z") / (lit(1.0) + abs(col("z")))) -
          col("y")).as("err"))
      val grad = feat.join(err, Seq(idCol))
        .groupBy(col("__bucket"))
        .agg((decSum(col("err") * col("x")) / lit(nDocs)).as("g"))
        .collect().map(row => row.getLong(0) -> row.getDouble(1)).toMap
      wArr = wArr.map { case (b, wv) => (b, wv - lr * grad.getOrElse(b, 0.0)) }
      r += 1
    }
    feat.unpersist(blocking = false)
    spark.createDataFrame(wArr.toSeq).toDF("__bucket", "w")
  }

  /** [[trainWeights]] as the published artifact: 6-decimal quantized via
    * the DECIMAL carrier cast (NOT round() — round() re-rounds the
    * double's shortest decimal string and diverges from DuckDB's
    * binary-value rounding on exact ties, and round-1 gradients are exact
    * 1e-6 multiples scaled by lr, so ties are reachable), bucket-ordered. */
  def train(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text", labelCol: String = "lang",
            positive: String = "en", buckets: Int = 4096,
            rounds: Int = 3, lr: Double = 0.5): DataFrame =
    trainWeights(docs, idCol, textCol, labelCol, positive, buckets,
      rounds, lr)
      .select(col("__bucket").as("bucket"),
        col("w").cast("decimal(18,6)").cast("double").as("weight"))
      .orderBy(col("bucket"))

  /** Serve with the TRAINED model — the train→apply composition the
    * stand-in scorer's scaladoc promises: per-document
    * score = σ̃(Σ_j weight_j · x_dj) quantized to 6 decimals, under the
    * FULL-PRECISION trained weights ([[trainWeights]] — see its scaladoc
    * for why rounded weights cannot feed the scoring products), with σ̃
    * the SAME Elliott link training used —
    * scores must be reproducible bit-for-bit under the engine-equality
    * contract, and a measured 1-ulp libm `exp` divergence flips the
    * 6-decimal rounding on ~0.6% of docs (the logistic stand-in scorer
    * survives only because its z values are integer-derived). Monotone in
    * z either way, so rankings and thresholds translate. One broadcast
    * weight join + one per-doc decimal aggregate, the serving shape of
    * [[hashedLinearScore]]. */
  def trainedScore(docs: DataFrame, idCol: String = "doc_id",
                   textCol: String = "text", labelCol: String = "lang",
                   positive: String = "en", buckets: Int = 4096,
                   rounds: Int = 3, lr: Double = 0.5): DataFrame =
    scoreWith(docs,
      trainWeightValues(docs, idCol, textCol, labelCol, positive, buckets,
        rounds, lr),
      idCol, textCol, buckets)

  /** The trained full-precision weights as plain values — bucket-bounded
    * metadata (≤ corpus vocab buckets), the form a caller memoizes so the
    * model trains ONCE and serves many times (the pcaFit
    * artifact discipline). */
  def trainWeightValues(docs: DataFrame, idCol: String = "doc_id",
                        textCol: String = "text", labelCol: String = "lang",
                        positive: String = "en", buckets: Int = 4096,
                        rounds: Int = 3,
                        lr: Double = 0.5): Array[(Long, Double)] =
    trainWeights(docs, idCol, textCol, labelCol, positive, buckets,
      rounds, lr).collect().map(r => (r.getLong(0), r.getDouble(1)))

  /** Serving under an already-trained weight table: value-identical to
    * [[trainedScore]] (the weights round-trip driver-side exactly).
    * Label-free — a production serving corpus has no labels — and total:
    * a doc whose tokens all miss the weight table (pure out-of-vocabulary)
    * scores the neutral σ̃(0) = 0.5 via the LEFT join's zero fill, never
    * silently vanishing. */
  def scoreWith(docs: DataFrame, weights: Seq[(Long, Double)],
                idCol: String = "doc_id", textCol: String = "text",
                buckets: Int = 4096): DataFrame = {
    val w = docs.sparkSession.createDataFrame(weights)
      .toDF("__bucket", "weight")
    featuresOf(docs, idCol, textCol, buckets)
      .join(broadcast(w), Seq("__bucket"), "left")
      .groupBy(col(idCol))
      .agg(decSum(coalesce(col("weight"), lit(0.0)) * col("x")).as("__z"))
      // 6-decimal quantization via the DECIMAL carrier cast, not round():
      // Spark's round() re-rounds the double's shortest DECIMAL STRING
      // (BigDecimal.valueOf) while DuckDB rounds the binary value — they
      // disagree on boundary values (measured: 6 of 500 docs). The carrier
      // cast is the rule every gradient term already went through, proven
      // cross-engine exact by the train gate's hash match.
      .select(col(idCol),
        (lit(0.5) + lit(0.5) * col("__z") / (lit(1.0) + abs(col("__z"))))
          .cast("decimal(18,6)").cast("double").as("score"))
      .orderBy(col(idCol))
  }

  /** DuckDB mirror of [[train]] over `documents`: the identical rounds
    * unrolled as MATERIALIZED CTEs (the Lloyd/PCA oracle discipline). */
  def trainOracleSql(buckets: Int = 4096, rounds: Int = 3,
                     lr: Double = 0.5): String =
    s"""WITH ${trainCtes(buckets, rounds, lr)}
       |SELECT __bucket AS bucket,
       |  CAST(CAST(w AS DECIMAL(18,6)) AS DOUBLE) AS weight
       |FROM w$rounds ORDER BY bucket""".stripMargin

  /** DuckDB mirror of [[trainedScore]]: the training CTE chain, then the
    * label-free scoring join under the FULL-PRECISION `w<rounds>` weights
    * (see [[trainWeights]] — rounded weights must never feed the scoring
    * products), LEFT-joined with a zero fill so OOV-only docs score 0.5. */
  def trainedScoreOracleSql(buckets: Int = 4096, rounds: Int = 3,
                            lr: Double = 0.5): String =
    s"""WITH ${trainCtes(buckets, rounds, lr)},
       |sz AS (
       |  SELECT f.doc_id,
       |    CAST(SUM(CAST(COALESCE(w.w, 0.0) * f.x AS DECIMAL(18,6))) AS DOUBLE) AS z
       |  FROM feat f LEFT JOIN w$rounds w USING (__bucket)
       |  GROUP BY f.doc_id
       |)
       |SELECT doc_id,
       |  CAST(CAST(0.5 + 0.5 * z / (1.0 + abs(z)) AS DECIMAL(18,6)) AS DOUBLE) AS score
       |FROM sz ORDER BY doc_id""".stripMargin

  /** DuckDB mirror of the `quality_calibration_ece` gate: train → score
    * (the [[trainedScoreOracleSql]] chain), then milli confidence bins with
    * per-milli-bin counts, positive counts, and the EXACT confidence
    * mass in micro-units — the decile reliability table behind an expected-
    * calibration-error audit. The bin index is `floor(score·10)` on the
    * identical double both engines produced (clamped so score = 1.0 joins
    * the top bin); the confidence sum goes back through the score's own
    * DECIMAL(18,6) carrier (a lossless round-trip — the double was
    * produced FROM that exact decimal), so every emitted measure is an
    * integer. */
  def calibrationOracleSql(buckets: Int = 4096, rounds: Int = 3,
                           lr: Double = 0.5): String =
    s"""WITH ${trainCtes(buckets, rounds, lr)},
       |sz AS (
       |  SELECT f.doc_id,
       |    CAST(SUM(CAST(COALESCE(w.w, 0.0) * f.x AS DECIMAL(18,6))) AS DOUBLE) AS z
       |  FROM feat f LEFT JOIN w$rounds w USING (__bucket)
       |  GROUP BY f.doc_id
       |), sc AS (
       |  SELECT doc_id,
       |    CAST(CAST(0.5 + 0.5 * z / (1.0 + abs(z)) AS DECIMAL(18,6)) AS DOUBLE)
       |      AS score
       |  FROM sz
       |), binned AS (
       |  SELECT LEAST(CAST(floor(s.score * 1000) AS BIGINT), 999) AS bin,
       |    s.score, CASE WHEN d.lang = 'en' THEN 1 ELSE 0 END AS y
       |  FROM sc s JOIN documents d USING (doc_id)
       |)
       |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
       |  CAST(SUM(y) AS BIGINT) AS n_pos,
       |  CAST(SUM(CAST(score AS DECIMAL(18,6))) * 1000000 AS BIGINT)
       |    AS conf_micro
       |FROM binned GROUP BY bin ORDER BY bin""".stripMargin

  /** The shared training CTE list (no leading WITH), ending at
    * `w<rounds>(__bucket, w)` with `feat`/`ndocs` still in scope. */
  private def trainCtes(buckets: Int, rounds: Int, lr: Double): String = {
    val bkt = SketchOracleSql.fnvFold("'qb|' || tok")
    val roundCtes = (1 to rounds).map { r =>
      s"""z$r AS MATERIALIZED (
         |  SELECT f.doc_id, f.y,
         |    CAST(SUM(CAST(w.w * f.x AS DECIMAL(18,6))) AS DOUBLE) AS z
         |  FROM tfeat f JOIN w${r - 1} w USING (__bucket)
         |  GROUP BY f.doc_id, f.y
         |), e$r AS (
         |  SELECT doc_id,
         |    ((0.5 + 0.5 * z / (1.0 + abs(z))) - y) AS err
         |  FROM z$r
         |), g$r AS MATERIALIZED (
         |  SELECT f.__bucket,
         |    CAST(SUM(CAST(e.err * f.x AS DECIMAL(18,6))) AS DOUBLE)
         |      / CAST(nd.n_docs AS DOUBLE) AS g
         |  FROM tfeat f JOIN e$r e USING (doc_id) CROSS JOIN ndocs nd
         |  GROUP BY f.__bucket, nd.n_docs
         |), w$r AS MATERIALIZED (
         |  SELECT w.__bucket, (w.w - $lr * COALESCE(g.g, 0.0)) AS w
         |  FROM w${r - 1} w LEFT JOIN g$r g USING (__bucket)
         |)""".stripMargin
    }.mkString(",\n")
    s"""counts AS (
       |  SELECT doc_id, __bucket, COUNT(*) AS cnt FROM (
       |    SELECT doc_id,
       |      CAST(($bkt) % $buckets AS BIGINT) AS __bucket
       |    FROM (
       |      SELECT doc_id,
       |        unnest(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
       |      FROM documents
       |      WHERE text IS NOT NULL AND trim(text) <> '')
       |  ) GROUP BY doc_id, __bucket
       |), nd AS (
       |  SELECT doc_id, CAST(SUM(cnt) AS BIGINT) AS nd FROM counts GROUP BY doc_id
       |), feat AS MATERIALIZED (
       |  SELECT c.doc_id, c.__bucket,
       |    CAST(c.cnt AS DOUBLE) / CAST(n.nd AS DOUBLE) AS x
       |  FROM counts c JOIN nd n USING (doc_id)
       |), lab AS (
       |  SELECT doc_id, CAST(lang = 'en' AS DOUBLE) AS y
       |  FROM documents WHERE lang IS NOT NULL
       |), tfeat AS MATERIALIZED (
       |  SELECT f.doc_id, f.__bucket, f.x, l.y
       |  FROM feat f JOIN lab l USING (doc_id)
       |), ndocs AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tfeat),
       |w0 AS (SELECT DISTINCT __bucket, 0.0 AS w FROM tfeat),
       |$roundCtes""".stripMargin
  }

  /** DuckDB mirror of [[hashedLinearScore]] over `documents`. */
  def hashedLinearScoreOracleSql(buckets: Int = 4096): String = {
    val bkt = SketchOracleSql.fnvFold("'qb|' || tok")
    val wnum = SketchOracleSql.fnvFold("'qw|' || CAST(b.__bucket AS VARCHAR)")
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    CAST(($bkt) % $buckets AS BIGINT) AS __bucket
       |  FROM (
       |    SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
       |    FROM documents WHERE text IS NOT NULL AND trim(text) <> '')
       |), weighted AS (
       |  SELECT b.doc_id,
       |    CAST(($wnum) % 2048 AS BIGINT) - 1024 AS __wnum
       |  FROM toks b
       |), agg AS (
       |  SELECT doc_id, COUNT(*) AS n_tokens, CAST(SUM(__wnum) AS BIGINT) AS z
       |  FROM weighted GROUP BY doc_id
       |), zm AS (
       |  SELECT doc_id, n_tokens, z,
       |    CAST((CAST(abs(z) AS HUGEINT) * ${FixedLog.Scale}) //
       |      (n_tokens * 1000) AS BIGINT) AS __zm12
       |  FROM agg
       |), ex AS (
       |  SELECT doc_id, n_tokens, z,
       |    ${FixedLog.duckExpNegItems("__zm12", "__w12").mkString(",\n    ")}
       |  FROM zm
       |), sg AS (
       |  SELECT doc_id, n_tokens,
       |    CASE WHEN z >= 0 THEN
       |      CAST((CAST(${FixedLog.Scale} AS HUGEINT) * ${FixedLog.Scale}) //
       |        (${FixedLog.Scale} + __w12) AS BIGINT)
       |    ELSE
       |      CAST((CAST(__w12 AS HUGEINT) * ${FixedLog.Scale}) //
       |        (${FixedLog.Scale} + __w12) AS BIGINT)
       |    END AS __s12
       |  FROM ex
       |)
       |SELECT doc_id, n_tokens,
       |  CAST(${FixedLog.duckS12ToDec6("__s12")} AS DOUBLE) AS score
       |FROM sg ORDER BY doc_id""".stripMargin
  }
}
