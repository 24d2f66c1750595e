package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Seam
import graft.functions.FixedLog

/** Statistical language-model quality scoring — the CCNet-style filter
  * (Wenzek et al., "CCNet: Extracting High Quality Monolingual Datasets
  * from Web Crawl Data", LREC 2020 — there a KenLM; here a corpus-trained
  * bigram model, the same signal at Spark-native cost): documents whose
  * token transitions are improbable under the corpus model (boilerplate,
  * gibberish, wrong-language debris) score a high average negative log
  * likelihood and can be dropped by threshold or bucketed by percentile.
  *
  * Scale shape:
  *  - the token explode runs twice (vocab pass + bigram pass) rather than
  *    persisting the full exploded string stream: the explode is a narrow
  *    recompute off the (column-pruned) scan, while caching one row per
  *    corpus TOKEN is exactly the executor-memory hazard a 100 TB run
  *    cannot afford — recompute-over-cache is the deliberate choice here;
  *  - vocabulary selection is a TakeOrdered top-N broadcast back as
  *    DENSE INTEGER ids, so the per-doc `lag` window and every downstream
  *    shuffle carry ints, never token strings;
  *  - the only persisted frame is the per-doc BIGRAM COUNT aggregate
  *    (doc, prev, tok, c) — the smallest frame in the pipeline (bounded by
  *    per-doc distinct transitions) — from which the corpus bigram counts,
  *    the unigram counts (a further rollup of the bigram counts — no extra
  *    pass over the stream), and the per-doc scores all derive;
  *  - the fitted model is bounded by observed bigrams over (topVocab+1)²
  *    — broadcastable by construction — so scoring is a map-side join
  *    plus one final per-doc aggregate.
  *
  * Determinism: counts are exact integers; per-bigram NLL goes through the
  * DECIMAL(18,6) carrier (multiplied exactly by the integer repeat count)
  * so the per-doc sum is merge-order invariant; the vocabulary cut breaks
  * count ties on the token itself. */
object LangModel {

  /** Per-document average bigram negative log likelihood under an add-`k`
    * smoothed bigram model trained on the corpus itself:
    * `(idCol, n_bigrams, avg_nll)`. Documents with fewer than two tokens
    * have no transitions and are absent. `topVocab` caps the vocabulary
    * (count-desc, token tie-break); everything else maps to `<unk>`, so
    * model size is bounded no matter the corpus. */
  def bigramNll(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text", addK: Double = 0.5,
                topVocab: Int = 256): DataFrame = {
    require(addK > 0 && topVocab >= 1, "bigramNll: addK > 0, topVocab >= 1")
    def stream = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol),
        posexplode(split(trim(lower(col(textCol))), "\\s+"))
          .as(Seq("pos", "tok")))
    // dense int ids for the kept vocabulary (TakeOrdered top-N; the
    // row_number window runs over topVocab rows, not the corpus)
    val byCount = Window.orderBy(col("c").desc, col("tok"))
    val vocab = stream.groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok")).limit(topVocab)
      .select(col("tok"), (row_number().over(byCount) - 1).as("tid"))
    val unkId = topVocab // one id past the kept vocab = the <unk> class
    val mapped = stream.join(broadcast(vocab), Seq("tok"), "left")
      .select(col(idCol), col("pos"),
        coalesce(col("tid"), lit(unkId)).as("tid"))
    val bi = mapped
      .withColumn("ptid",
        lag(col("tid"), 1).over(Window.partitionBy(col(idCol)).orderBy(col("pos"))))
      .filter(col("ptid").isNotNull)
      .select(col(idCol), col("ptid"), col("tid"))
    // the ONE materialized frame: per-doc bigram counts (int keys) — feeds
    // the model rollups and the scoring join
    val dbc = Seam.cut(bi.groupBy(col(idCol), col("ptid"), col("tid"))
      .agg(count(lit(1)).as("c")))
    val big = dbc.groupBy(col("ptid"), col("tid")).agg(sum(col("c")).as("cb"))
    val uni = big.groupBy(col("ptid")).agg(sum(col("cb")).as("cu"))
    // -ln((cb+k)/(cu+kV)) with k = p/s an exact short decimal: scale both
    // sides by s so the ratio is INTEGER/INTEGER, then two
    // [[graft.functions.FixedLog]] logs — the per-bigram NLL is produced
    // by integer arithmetic both engines compute identically (the libm
    // `-ln → DECIMAL(18,6)` form was one ulp away from a quantization
    // flip on any other libc/DuckDB build, the DSIR failure class)
    val (sK, aNum) = FixedLog.decimalAsRational(addK)
    val kvNum = aNum * (topVocab + 1) // +1: the <unk> class
    val scaled = big.join(uni, Seq("ptid"))
      .withColumn("__num", col("cb") * lit(sK) + lit(aNum))
      .withColumn("__den", col("cu") * lit(sK) + lit(kvNum))
    val fixed = FixedLog.withLn(FixedLog.withLn(scaled, "__num", "__lnnum"),
        "__den", "__lnden")
      .withColumn("__nll12", col("__lnden") - col("__lnnum")) // > 0: cb<=cu
    val model = FixedLog.withS12ToDec6(fixed, "__nll12", "__nll")
      .select(col("ptid"), col("tid"), col("__nll"))
    // avg_nll by integer arithmetic end-to-end: the micro-nat total is an
    // exact BIGINT, the division is a scale-12 floor-div, the 6-decimal
    // rounding is the shared integer quantizer (round(sum/count, 6) was a
    // decimal-tie round() site — the measured Spark-vs-DuckDB divergence)
    dbc.join(broadcast(model), Seq("ptid", "tid"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_bigrams"),
        sum((col("c") * col("__nll") * lit(1000000)).cast("long"))
          .as("__micro"))
      .withColumn("__avg12", expr(
        "(CAST(__micro AS DECIMAL(38,0)) * 1000000) div n_bigrams"))
      .transform(FixedLog.withS12ToDec6(_, "__avg12", "__avgq"))
      .select(col(idCol), col("n_bigrams"),
        col("__avgq").cast("double").as("avg_nll"))
  }

  /** Token-distribution KL divergence between two corpus slices — the
    * distribution-drift monitor of a continuously-ingesting training
    * pipeline (is this week's crawl statistically like last week's? is
    * the val split like train?). Add-1 smoothing over the UNION
    * vocabulary so both distributions are supported everywhere and both
    * directions are finite.
    *
    * Shape: one grouped count per side, a full-outer vocab join (shuffle
    * bounded by vocabulary, not corpus), totals as a single broadcast row,
    * then one bounded sum.
    *
    * Determinism: a term is p*ln(p/q) with p, q add-1-smoothed integer
    * ratios, so ln(p/q) decomposes into FOUR [[FixedLog]] integer logs and
    * the term itself is `sign * (ca+1)*|lr12|*10^4 // (na+v)` — a scale-16
    * fixed-point BIGINT (per-term floor drift < 1e-16, vocab-bounded total
    * drift far under the 6-decimal gate; Σ|term| <= max|ln ratio|, so the
    * BIGINT sum cannot overflow). No libm, no round(double) — both
    * engines produce the identical integers and the identical 6-decimal
    * quantization.
    *
    * Returns ONE row: `(n_vocab, n_a, n_b, kl_ab, kl_ba)` (nats). */
  def tokenKlDivergence(a: DataFrame, b: DataFrame,
                        textCol: String = "text"): DataFrame = {
    def counts(df: DataFrame, as: String) = df
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as(as))
    val vocab = Seam.cut(
      counts(a, "ca").join(counts(b, "cb"), Seq("tok"), "full_outer")
        .select(col("tok"), coalesce(col("ca"), lit(0L)).as("ca"),
          coalesce(col("cb"), lit(0L)).as("cb")))
    val totals = vocab.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
      count(lit(1)).as("v"))
    val base = vocab.crossJoin(broadcast(totals))
      .withColumn("__ap", col("ca") + lit(1L))
      .withColumn("__bp", col("cb") + lit(1L))
      .withColumn("__nav", col("na") + col("v"))
      .withColumn("__nbv", col("nb") + col("v"))
    val logs = Seq("__ap" -> "__lap", "__bp" -> "__lbp",
      "__nav" -> "__lnav", "__nbv" -> "__lnbv")
      .foldLeft(base) { case (d, (in, out)) => FixedLog.withLn(d, in, out) }
      // lr12 = ln(pa/pb)·10^12; tab/tba signs follow it
      .withColumn("__lr12",
        col("__lap") - col("__lnav") - col("__lbp") + col("__lnbv"))
    val term = (num: String, den: String) => // sign·(num·|lr12|·10^4)//den
      s"CASE WHEN __lr12 = 0L THEN 0L ELSE " +
        s"(CAST($num AS DECIMAL(38,0)) * abs(__lr12) * 10000) div $den " +
        s"END"
    logs
      .withColumn("__mab", expr(term("__ap", "__nav")))
      .withColumn("__mba", expr(term("__bp", "__nbv")))
      .select(col("v"), col("na"), col("nb"),
        when(col("__lr12") < 0, -col("__mab")).otherwise(col("__mab"))
          .as("__tab16"),
        when(col("__lr12") < 0, col("__mba")).otherwise(-col("__mba"))
          .as("__tba16"))
      .groupBy(col("v"), col("na"), col("nb"))
      .agg(sum(col("__tab16")).as("__sab16"), sum(col("__tba16")).as("__sba16"))
      .transform(FixedLog.withToDec6(_, "__sab16", "__klab", 16))
      .transform(FixedLog.withToDec6(_, "__sba16", "__klba", 16))
      .select(col("v").as("n_vocab"), col("na").as("n_a"),
        col("nb").as("n_b"), col("__klab").cast("double").as("kl_ab"),
        col("__klba").cast("double").as("kl_ba"))
  }

  /** DuckDB mirror of [[tokenKlDivergence]] with the even/odd doc-id
    * slicing the `quality_kl_drift` gate uses. */
  /** Zipf-law fit of the corpus token-frequency distribution — the
    * corpus-health screen (a natural-language corpus follows freq ∝
    * rank^-s with s ≈ 1; boilerplate-heavy or deduplication-damaged
    * corpora bend the curve): OLS of ln(freq) on ln(rank) over the top-K
    * frequency table. Both logs are [[FixedLog]] scale-12 integers
    * reduced to scale-6 (exact integer div), so all five OLS moments are
    * exact BIGINTs (|x|,|y| ≤ ~3e7 ⇒ Σxy ≤ K·9e14 ≪ 2^63); slope and
    * intercept are a mirrored fixed IEEE op tree over BIGINT→double casts
    * (correctly-rounded int64 conversions on both engines — no
    * decimal-rescale divergence risk).
    *
    * Scale shape: one token-count hash aggregate over the corpus (the
    * only corpus-sized stage, map-side combined), then a deliberate
    * single-partition row_number over the VOCABULARY frame (domain-
    * bounded, the curriculumHist discipline) cut to K rows; everything
    * after is K-row arithmetic. */
  def zipfFit(docs: DataFrame, textCol: String = "text",
              topK: Int = 256): DataFrame = {
    val toks = docs
      .filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(explode(split(trim(lower(col(textCol))), "\\s+")).as("tok"))
    val freq = toks.groupBy(col("tok")).agg(count(lit(1)).as("freq"))
    val w = Window
      .partitionBy(graft.functions.Fns.singlePartitionKey(col("freq")))
      .orderBy(col("freq").desc, col("tok").asc)
    val ranked = freq
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= topK)
      .select(col("rank"), col("freq"))
    val lns = FixedLog.withLn(
        FixedLog.withLn(ranked, "rank", "__lnr12"), "freq", "__lnf12")
      .select(expr("__lnr12 div 1000000L").as("x"),
        expr("__lnf12 div 1000000L").as("y"))
    val agg = lns.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"))
    val num = col("n") * col("sxy") - col("sx") * col("sy")
    val den = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = num.cast("double") / den.cast("double")
    agg.select(col("n"), col("sx"), col("sy"), col("sxy"), col("sxx"),
      num.as("num"), den.as("den"), slope.as("slope"),
      // sx/sy are scale-6 logs, so the raw OLS intercept is in
      // micro-nats; one more mirrored IEEE division emits nats
      ((col("sy").cast("double") - slope * col("sx").cast("double"))
        / col("n").cast("double") / lit(1000000.0)).as("intercept"))
  }

  /** DuckDB mirror of [[zipfFit]]: same tokenization, same single total
    * order (freq DESC, tok ASC), same FixedLog integer logs, same BIGINT
    * moments, same IEEE emission tree. */
  def zipfOracleSql(topK: Int = 256): String =
    s"""WITH toks AS (
       |  SELECT unnest(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
       |), freq AS (
       |  SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM toks GROUP BY tok
       |), ranked AS (
       |  SELECT freq, rank FROM (
       |    SELECT freq, tok,
       |      CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS BIGINT)
       |        AS rank
       |    FROM freq)
       |  WHERE rank <= $topK
       |), lns AS (
       |  SELECT
       |    ${FixedLog.duckLnItems("rank", "__lnr12").mkString(",\n    ")},
       |    ${FixedLog.duckLnItems("freq", "__lnf12").mkString(",\n    ")}
       |  FROM ranked
       |), xy AS (
       |  SELECT __lnr12 // 1000000 AS x, __lnf12 // 1000000 AS y FROM lns
       |), s AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
       |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*y) AS BIGINT) AS sxy,
       |    CAST(SUM(x*x) AS BIGINT) AS sxx
       |  FROM xy)
       |SELECT n, sx, sy, sxy, sxx,
       |  n*sxy - sx*sy AS num, n*sxx - sx*sx AS den,
       |  CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)
       |    AS slope,
       |  (CAST(sy AS DOUBLE)
       |     - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))
       |       * CAST(sx AS DOUBLE))
       |    / CAST(n AS DOUBLE) / 1000000.0 AS intercept
       |FROM s""".stripMargin

  def klDriftOracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id % 2 AS side,
       |    unnest(string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+')) AS tok
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
       |), vocab AS (
       |  SELECT tok,
       |    SUM(CASE WHEN side = 0 THEN 1 ELSE 0 END) AS ca,
       |    SUM(CASE WHEN side = 1 THEN 1 ELSE 0 END) AS cb
       |  FROM toks GROUP BY tok
       |), tot AS (
       |  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
       |    COUNT(*) AS v FROM vocab
       |), lr AS (
       |  SELECT v, na, nb, __ap, __bp, __nav, __nbv,
       |    __lap - __lnav - __lbp + __lnbv AS __lr12
       |  FROM (
       |    SELECT v, na, nb, ca + 1 AS __ap, cb + 1 AS __bp,
       |      na + v AS __nav, nb + v AS __nbv,
       |      ${FixedLog.duckLnItems("ca + 1", "__lap").mkString(",\n      ")},
       |      ${FixedLog.duckLnItems("cb + 1", "__lbp").mkString(",\n      ")},
       |      ${FixedLog.duckLnItems("na + v", "__lnav").mkString(",\n      ")},
       |      ${FixedLog.duckLnItems("nb + v", "__lnbv").mkString(",\n      ")}
       |    FROM vocab CROSS JOIN tot)
       |), terms AS (
       |  SELECT v, na, nb,
       |    CASE WHEN __lr12 < 0 THEN -__mab ELSE __mab END AS tab16,
       |    CASE WHEN __lr12 < 0 THEN __mba ELSE -__mba END AS tba16
       |  FROM (
       |    SELECT v, na, nb, __lr12,
       |      (CAST(__ap AS HUGEINT) * abs(__lr12) * 10000) // __nav AS __mab,
       |      (CAST(__bp AS HUGEINT) * abs(__lr12) * 10000) // __nbv AS __mba
       |    FROM lr)
       |)
       |SELECT v AS n_vocab, na AS n_a, nb AS n_b,
       |  CAST(${FixedLog.duckToDec6("__sab16", 16)} AS DOUBLE) AS kl_ab,
       |  CAST(${FixedLog.duckToDec6("__sba16", 16)} AS DOUBLE) AS kl_ba
       |FROM (
       |  SELECT v, na, nb, SUM(tab16) AS __sab16, SUM(tba16) AS __sba16
       |  FROM terms GROUP BY v, na, nb)""".stripMargin

  /** DuckDB mirror of [[bigramNll]] over the `documents` fixture — the
    * same [[FixedLog]] integer-log model and integer-quantized average. */
  def bigramNllOracleSql(addK: Double = 0.5, topVocab: Int = 256): String = {
    val (sK, aNum) = FixedLog.decimalAsRational(addK)
    val kvNum = aNum * (topVocab + 1)
    s"""WITH base AS (
       |  SELECT doc_id, string_split_regex(trim(lower(text)), '[ \\t\\n\\x0B\\f\\r]+') AS toks
       |  FROM documents WHERE text IS NOT NULL AND trim(text) <> ''
       |), stream AS (
       |  SELECT doc_id, pos, toks[pos] AS tok FROM (
       |    SELECT doc_id, toks,
       |      CAST(unnest(range(1, len(toks) + 1)) AS INTEGER) AS pos
       |    FROM base)
       |), vocab AS (
       |  SELECT tok FROM (
       |    SELECT tok, COUNT(*) AS c FROM stream GROUP BY tok)
       |  ORDER BY c DESC, tok LIMIT $topVocab
       |), mapped AS (
       |  SELECT s.doc_id, s.pos,
       |    CASE WHEN v.tok IS NOT NULL THEN s.tok ELSE '<unk>' END AS tok
       |  FROM stream s LEFT JOIN vocab v ON s.tok = v.tok
       |), bi AS (
       |  SELECT doc_id, prev, tok FROM (
       |    SELECT doc_id, tok,
       |      lag(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |    FROM mapped)
       |  WHERE prev IS NOT NULL
       |), uni AS (
       |  SELECT prev, COUNT(*) AS cu FROM bi GROUP BY prev
       |), big AS (
       |  SELECT prev, tok, COUNT(*) AS cb FROM bi GROUP BY prev, tok
       |), scored AS (
       |  SELECT doc_id, ${FixedLog.duckS12ToDec6("__nll12")} AS nll
       |  FROM (
       |    SELECT b.doc_id,
       |      ${FixedLog.duckLnItems(s"g.cb * $sK + $aNum", "__lnnum")
        .mkString(",\n      ")},
       |      ${FixedLog.duckLnItems(s"u.cu * $sK + $kvNum", "__lnden")
        .mkString(",\n      ")},
       |      __lnden - __lnnum AS __nll12
       |    FROM bi b
       |    JOIN big g ON b.prev = g.prev AND b.tok = g.tok
       |    JOIN uni u ON b.prev = u.prev)
       |)
       |SELECT doc_id, n_bigrams,
       |  CAST(${FixedLog.duckS12ToDec6("__avg12")} AS DOUBLE) AS avg_nll
       |FROM (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    (CAST(SUM(CAST(nll * 1000000 AS BIGINT)) AS HUGEINT) * 1000000)
       |      // COUNT(*) AS __avg12
       |  FROM scored GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin
  }
}
