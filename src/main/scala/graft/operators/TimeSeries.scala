package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Seam

/** Time-series regularization: project an irregular per-key daily series
  * onto the dense date spine between each key's first and last observation,
  * linearly interpolating interior gaps. The standard pre-processing step
  * before rolling/EWMA statistics (which assume equally spaced samples) and
  * before any model that treats rows as fixed-rate ticks — the reference's
  * monthly-series queries assume the upstream source is already dense;
  * this operator is what makes that assumption true on real feeds.
  *
  * Scale shape: the spine is `explode(sequence(min, max))` per key —
  * generated distributed, never on the driver, bounded by the key's own
  * date range; gap filling is two window passes (ascending and descending)
  * over the SAME `(key)` partitioning, so the spine shuffles once and the
  * second pass is a sort within already-co-located partitions. Per-key
  * series are inherently sequential (a window over one key cannot split),
  * so key cardinality is the parallelism — at 100 TB that is metrics ×
  * entities, typically millions of keys, which parallelizes perfectly;
  * a single global series would serialize regardless of engine.
  *
  * Determinism: interpolation is per-row IEEE DOUBLE arithmetic in a fixed
  * expression shape (no accumulation order), so results are bit-identical
  * across partition counts and engines — the input means should come from
  * the decimal carrier ([[graft.functions.Fns.avgExact]]) like every
  * aggregate in this engine.
  */
object TimeSeries {

  /** Fill `daily` (one row per `(keyCol, dayCol)` observation, value in
    * `valCol`) onto the dense per-key day spine. Output:
    * `(keyCol, dayCol, filled, interpolated)` — `filled` is the observed
    * value on observed days and the linear interpolation between the
    * nearest observed neighbors on gap days; spine endpoints are observed
    * by construction (min/max come from observations), so every gap has
    * both neighbors and `filled` is never NULL. */
  def resampleLinear(daily: DataFrame, keyCol: String = "event_type",
                     dayCol: String = "day",
                     valCol: String = "v"): DataFrame = {
    val spine = daily.groupBy(col(keyCol))
      .agg(min(col(dayCol)).as("__mn"), max(col(dayCol)).as("__mx"))
      .select(col(keyCol),
        explode(sequence(col("__mn"), col("__mx"))).as(dayCol))
    val joined = spine.join(daily, Seq(keyCol, dayCol), "left")
    val wAsc = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
      .rowsBetween(Window.unboundedPreceding, 0)
    val wDesc = Window.partitionBy(col(keyCol)).orderBy(col(dayCol).desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val obs = when(col(valCol).isNotNull,
      struct(col(dayCol).as("d"), col(valCol).as("v")))
    joined
      .withColumn("__p", last(obs, ignoreNulls = true).over(wAsc))
      .withColumn("__n", last(obs, ignoreNulls = true).over(wDesc))
      .withColumn("filled",
        when(col(valCol).isNotNull, col(valCol).cast("double"))
          .otherwise(col("__p.v") + (col("__n.v") - col("__p.v")) *
            (datediff(col(dayCol), col("__p.d")).cast("double") /
              datediff(col("__n.d"), col("__p.d")).cast("double"))))
      .withColumn("interpolated", col(valCol).isNull)
      .select(col(keyCol), col(dayCol), col("filled"), col("interpolated"))
  }

  /** Holt's linear-trend exponential smoothing (Holt 1957; the
    * double-exponential member of the ETS family): per key, fold the
    * day-ordered series through `l' = αy + (1-α)(l+b)`,
    * `b' = β(l'-l) + (1-β)b` (init `l=y₂, b=y₂-y₁`) and emit the final
    * level/trend plus the `horizon`-step-ahead forecast `l + h·b` — the
    * capacity-planning smoother every ingest-volume dashboard runs.
    *
    * Shape: the recurrence is inherently sequential IN TIME but
    * embarrassingly parallel ACROSS keys, so each key's bounded series
    * (days within retention — thousands, not corpus-sized) is gathered
    * with `collect_list` and folded by one `aggregate` lambda; key
    * cardinality is the parallelism, exactly the [[resampleLinear]]
    * argument.
    *
    * Determinism: FIXED-POINT arithmetic — the state lives in integer
    * MICRO-units (1e-6) and α = β = ½ is applied as floor-halving, so
    * every step is exact integer arithmetic, bit-identical across
    * engines and partitionings BY CONSTRUCTION (how deterministic
    * production systems actually implement smoothers). Two float-based
    * restatements were measured diverging cross-engine in round 11:
    * raw-double folds (DuckDB's struct-state `list_reduce` lambdas
    * re-order float arithmetic, diverging from a left fold beyond an
    * ulp by the 4th element) and per-step DECIMAL(18,6) casts (the
    * halving lands exact scale-7 ties where Spark's shortest-string
    * HALF_UP and DuckDB's binary rounding disagree — 3 of 8 keys at the
    * 6th decimal). The quantization bias of floor-halving is < 1e-6 per
    * step — irrelevant to the smoother's purpose. The oracle restates
    * the integer recurrence as a RECURSIVE CTE. */
  /** Classical additive seasonal decomposition (the moving-average
    * method of Macaulay 1931, the core of STL's ancestor): per key,
    * `value = trend + seasonal + residual` with the trend a CENTERED
    * 7-day moving average (only rows with a full window keep a trend —
    * the standard edge-truncation), the seasonal component the per
    * day-of-week mean of the detrended series, and the residual what
    * remains — the anomaly-detection / capacity-planning decomposition
    * every ingest-volume dashboard runs next to [[holtLinear]].
    *
    * Shape: ONE windowed pass over the per-key day-ordered series (7-row
    * frame), one small per-(key, dow) aggregate (≤ 7·|keys| rows,
    * broadcast back) — fully parallel across keys, no driver state.
    *
    * Determinism: the [[holtLinear]] discipline — daily values arrive in
    * exact integer MICRO-units and every derived quantity is integer
    * arithmetic (floor division via the pmod identity), so window-frame
    * and aggregation order cannot perturb a bit on either engine; the
    * /1e6 emission is the only float op. Day-of-week is days-since-epoch
    * mod 7 (engine-free), NOT `dayofweek()` (Spark counts Sunday=1,
    * DuckDB Sunday=0). */
  def seasonalDecompose(daily: DataFrame, keyCol: String = "event_type",
                        dayCol: String = "day",
                        valCol: String = "v"): DataFrame =
    decomposeMicro(daily, keyCol, dayCol, valCol)
      .select(col(keyCol), col(dayCol),
        (col("__v").cast("double") / 1e6).as("value"),
        (col("__trend").cast("double") / 1e6).as("trend"),
        (col("__seasonal").cast("double") / 1e6).as("seasonal"),
        (col("__resid").cast("double") / 1e6).as("residual"))

  /** The exact micro-unit core of [[seasonalDecompose]], shared with
    * [[madAnomalies]]: `(keyCol, dayCol, __v, __trend, __seasonal,
    * __resid)` — all LONG micro-units, every derivation exact integer
    * arithmetic. */
  private[operators] def decomposeMicro(daily: DataFrame, keyCol: String,
                                        dayCol: String,
                                        valCol: String): DataFrame = {
    def fdiv(c: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =
      ((c - pmod(c, d)) / d).cast("long")
    val w = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
      .rowsBetween(-3, 3)
    val t = daily
      .withColumn("__s7", sum(col(valCol)).over(w))
      .withColumn("__c7", count(col(valCol)).over(w))
      .filter(col("__c7") === 7) // centered MA defined on full windows only
      .withColumn("__trend", fdiv(col("__s7"), lit(7L)))
      .withColumn("__detr", col(valCol) - col("__trend"))
      .withColumn("__dow", pmod(datediff(col(dayCol),
        lit(java.sql.Date.valueOf("1970-01-01"))), lit(7)))
    val seasonal = t.groupBy(col(keyCol), col("__dow"))
      .agg(sum(col("__detr")).as("__sd"), count(lit(1)).as("__cd"))
      .select(col(keyCol), col("__dow"),
        fdiv(col("__sd"), col("__cd")).as("__seasonal"))
    t.join(broadcast(seasonal), Seq(keyCol, "__dow"))
      .select(col(keyCol), col(dayCol), col(valCol).as("__v"),
        col("__trend"), col("__seasonal"),
        (col("__detr") - col("__seasonal")).as("__resid"))
  }

  /** Robust anomaly flags over the decomposition residuals: per key,
    * `|residual - median(residual)| > k * MAD` with
    * `MAD = median(|residual - median|)` — the Hampel identifier
    * (Hampel 1974; Leys et al. 2013 recommend it over z-scores because
    * median/MAD have a 50% breakdown point, so the anomalies themselves
    * cannot drag the threshold the way they drag a mean/stddev).
    *
    * Shape: [[decomposeMicro]] + two per-key medians (each a tiny
    * aggregate broadcast back) — the per-key frames stay bounded by the
    * retention window, parallelism is key cardinality.
    *
    * Determinism: residuals are exact LONG micro-units; the exact-median
    * interpolation `(a+b)/2` of longs below 2^52 is IEEE-exact, deviations
    * are exact half-micro multiples, and the `> k*MAD` comparison is the
    * same fixed-shape arithmetic on both engines — no tolerance needed. */
  def madAnomalies(daily: DataFrame, keyCol: String = "event_type",
                   dayCol: String = "day", valCol: String = "v",
                   k: Double = 3.0): DataFrame = {
    val r = decomposeMicro(daily, keyCol, dayCol, valCol)
    val med = r.groupBy(col(keyCol))
      .agg(median(col("__resid")).as("__med"))
    val dev = r.join(broadcast(med), Seq(keyCol))
      .withColumn("__dev", col("__resid") - col("__med"))
    val mad = dev.groupBy(col(keyCol))
      .agg(median(abs(col("__dev"))).as("__mad"))
    dev.join(broadcast(mad), Seq(keyCol))
      .select(col(keyCol), col(dayCol),
        (col("__resid").cast("double") / 1e6).as("residual"),
        (col("__dev") / 1e6).as("deviation"),
        (col("__mad") / 1e6).as("mad"),
        (abs(col("__dev")) > lit(k) * col("__mad")).as("is_anomaly"))
  }

  def holtLinear(daily: DataFrame, keyCol: String = "event_type",
                 dayCol: String = "day", valCol: String = "v",
                 horizon: Int = 3): DataFrame = {
    require(horizon >= 0, "holtLinear: horizon >= 0")
    // exact floor halving of a long-typed column: subtract the
    // non-negative remainder, then the double division is exact (even
    // input, magnitudes far below 2^52)
    def half(c: org.apache.spark.sql.Column) =
      ((c - pmod(c, lit(2L))) / lit(2L)).cast("long")
    // per-day value in exact micro-units: floor(micro_sum / count)
    val ysMicro = transform(array_sort(collect_list(struct(col(dayCol),
      col(valCol)))), o => o.getField(valCol))
    daily.groupBy(col(keyCol))
      .agg(ysMicro.as("__ys"))
      .filter(size(col("__ys")) >= 2)
      .withColumn("__st", aggregate(
        transform(
          slice(col("__ys"), lit(3), greatest(size(col("__ys")) - 2, lit(0))),
          y => struct(y.as("l"), lit(0L).as("b"))),
        struct(element_at(col("__ys"), 2).as("l"),
          (element_at(col("__ys"), 2) - element_at(col("__ys"), 1)).as("b")),
        (acc, x) => {
          val l1 = half(x.getField("l") + acc.getField("l") +
            acc.getField("b"))
          struct(l1.as("l"),
            half(l1 - acc.getField("l") + acc.getField("b")).as("b"))
        }))
      .select(col(keyCol), size(col("__ys")).as("n_obs"),
        (col("__st.l").cast("double") / 1e6).as("level"),
        (col("__st.b").cast("double") / 1e6).as("trend"),
        ((col("__st.l") + lit(horizon.toLong) * col("__st.b"))
          .cast("double") / 1e6).as(s"forecast_$horizon"))
  }

  /** Offline CUSUM change-point detection (Page 1954, retrospective
    * max-|CUSUM| form) per key — the "when did this series shift"
    * monitoring primitive completing the family next to the decomposition
    * and MAD-anomaly operators. ENTIRELY integer: the cumulative
    * deviation from the series mean at prefix k is `S_k = P_k - k*T/n`
    * (P_k prefix sum, T total, n length), restated over the common
    * denominator n as `D_k = n*P_k - k*T` — exact BIGINTs, so the argmax
    * split point, its deviation, and the floored segment means are
    * bit-identical on any engine by construction (the a_ks_test rule; no
    * doubles anywhere). Ties on |D| break to the EARLIEST k.
    *
    * Scale shape: one per-key ordered prefix-sum window (the two-pass
    * range-partitioned restatement at 100 TB), one per-key argmax reduce.
    * Keys with a single observation have no interior split and are
    * dropped.
    *
    * Output per key: `(n, cp_idx, cp_day, d_max, mean_before_micro,
    * mean_after_micro)` — `cp_idx` the 1-based last index of the left
    * segment, means floored micro-units (non-negative values assumed, as
    * produced by the micro-mean daily convention). */
  def cusumChangePoint(daily: DataFrame, keyCol: String = "event_type",
                       dayCol: String = "day",
                       valCol: String = "v"): DataFrame = {
    val wOrd = Window.partitionBy(col(keyCol)).orderBy(col(dayCol))
    val wAll = Window.partitionBy(col(keyCol))
    val cum = daily.select(col(keyCol), col(dayCol), col(valCol))
      .withColumn("__k", row_number().over(wOrd).cast("long"))
      .withColumn("__p", sum(col(valCol))
        .over(wOrd.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)))
      .withColumn("__n", count(lit(1)).over(wAll))
      .withColumn("__t", sum(col(valCol)).over(wAll))
      .withColumn("__vmin", min(col(valCol)).over(wAll))
    val scored = cum.filter(col("__k") < col("__n"))
      .withColumn("__d",
        abs(col("__n") * col("__p") - col("__k") * col("__t")))
    // the non-negativity assumption is ENFORCED, not assumed (r12
    // advisor): a negative value makes the segment-mean floor divide
    // diverge between Spark's truncating `div` and DuckDB's flooring
    // `//`. The guard rides the emitted d_max column (the guardedKsNum
    // rule) over the per-key min, so any offending key fails loudly.
    val dGuarded = when(col("__vmin") < 0L, raise_error(
        lit("TimeSeries.cusumChangePoint: negative values break the " +
          "floored-mean engine contract — shift or filter the series")))
      .otherwise(col("__d"))
    scored
      .withColumn("__rn", row_number().over(Window.partitionBy(col(keyCol))
        .orderBy(col("__d").desc, col("__k"))))
      .filter(col("__rn") === 1)
      .select(col(keyCol), col("__n").as("n"), col("__k").as("cp_idx"),
        col(dayCol).as("cp_day"), dGuarded.as("d_max"),
        expr("__p div __k").as("mean_before_micro"),
        expr("(__t - __p) div (__n - __k)").as("mean_after_micro"))
  }

  /** Sample autocorrelation of the per-key daily count series at lags
    * 1..maxLag (the lagged-Pearson form — Box & Jenkins' seasonality /
    * burst screen): for each lag L, Pearson r between (x_d, x_{d+L}) over
    * the calendar-joined day pairs. Counts are exact BIGINTs, so every
    * moment sum is exact; r is the [[Drift.spearman]]-style mirrored IEEE
    * tree over BIGINT→double casts at emission (NULL when either margin
    * is constant).
    *
    * The lag pairing is CALENDAR-joined (d + L = d'), not row-shifted, so
    * missing days drop pairs instead of silently mis-aligning the series
    * — and the quadratic stage is |days| × maxLag per key, bounded by the
    * calendar at any corpus scale.
    *
    * Scale shape: one corpus hash-partial aggregate to the daily frame;
    * the lag spine is a generated column (explode of a literal sequence,
    * never driver-side); the self-join and final aggregate run on the
    * bounded |keys| × |days| frame. */
  def acfDaily(df: DataFrame, group: Column, ts: Column,
               maxLag: Int = 7): DataFrame = {
    require(maxLag >= 1, s"acfDaily: maxLag must be >= 1, got $maxLag")
    // both lag-join arms consume the daily frame: cut — one corpus scan
    val daily = Seam.cut(df.filter(ts.isNotNull)
      .groupBy(group.as("g"), to_date(ts).as("d"))
      .agg(count(lit(1)).as("x")))
    // generators must sit at the top level of a projection — cast after
    val a = daily.withColumn("lag", explode(sequence(lit(1), lit(maxLag))))
      .withColumn("lag", col("lag").cast("long"))
    val b = daily.select(col("g").as("gb"), col("d").as("db"),
      col("x").as("xb"))
    val m = a.join(b, col("g") === col("gb") &&
        date_add(col("d"), col("lag").cast("int")) === col("db"))
      .groupBy(col("g"), col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("xb")).as("sy"),
        sum(col("x") * col("xb")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("xb") * col("xb")).as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val denX = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val denY = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    m.select(col("g"), col("lag"), col("n"), col("sx"), col("sy"),
      col("sxy"), col("sxx"), col("syy"),
      when(denX > 0 && denY > 0, num / (sqrt(denX) * sqrt(denY)))
        .as("acf"))
  }

  /** Lagged cross-correlation between TWO keys' daily count series at
    * signed lags -maxLag..maxLag — [[acfDaily]]'s two-series sibling and
    * the lead/lag screen ("do clicks lead purchases, and by how many
    * days?"): positive lag L correlates series A at day d with series B
    * at day d+L, so the argmax lag estimates B's delay behind A. Same
    * exactness and boundedness story as acf: calendar-joined pairs,
    * exact BIGINT count moments, one mirrored IEEE r per lag, NULL for
    * constant margins. */
  def crossCorrDaily(df: DataFrame, group: Column, ts: Column,
                     keyA: String, keyB: String,
                     maxLag: Int = 3): DataFrame = {
    require(maxLag >= 1, s"crossCorrDaily: maxLag must be >= 1, got $maxLag")
    // both series filter the same daily frame: cut — one corpus scan
    val daily = Seam.cut(df.filter(ts.isNotNull)
      .groupBy(group.as("g"), to_date(ts).as("d"))
      .agg(count(lit(1)).as("x")))
    val a = daily.filter(col("g") === keyA)
      .withColumn("lag", explode(sequence(lit(-maxLag), lit(maxLag))))
      .withColumn("lag", col("lag").cast("long"))
    val b = daily.filter(col("g") === keyB)
      .select(col("d").as("db"), col("x").as("xb"))
    val m = a.join(b, date_add(col("d"), col("lag").cast("int")) === col("db"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("xb")).as("sy"),
        sum(col("x") * col("xb")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("xb") * col("xb")).as("syy"))
    val nD = col("n").cast("double")
    val num = nD * col("sxy").cast("double") -
      col("sx").cast("double") * col("sy").cast("double")
    val denX = nD * col("sxx").cast("double") -
      col("sx").cast("double") * col("sx").cast("double")
    val denY = nD * col("syy").cast("double") -
      col("sy").cast("double") * col("sy").cast("double")
    m.select(col("lag"), col("n"), col("sx"), col("sy"), col("sxy"),
      col("sxx"), col("syy"),
      when(denX > 0 && denY > 0, num / (sqrt(denX) * sqrt(denY)))
        .as("xcf"))
  }

  /** DuckDB mirror of [[crossCorrDaily]] over `events`, A = click,
    * B = purchase, lags -3..3. */
  def crossCorrOracleSql(keyA: String = "click", keyB: String = "purchase",
                         maxLag: Int = 3): String =
    s"""WITH daily AS (
      |  SELECT event_type AS g, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events WHERE ts IS NOT NULL
      |  GROUP BY event_type, CAST(ts AS DATE)
      |), lagged AS (
      |  SELECT CAST(l.lag AS BIGINT) AS lag, a.x AS x, b.x AS xb
      |  FROM (SELECT * FROM daily WHERE g = '$keyA') a
      |  CROSS JOIN (SELECT unnest(range(-$maxLag, ${maxLag + 1})) AS lag) l
      |  JOIN (SELECT * FROM daily WHERE g = '$keyB') b
      |    ON a.d + CAST(l.lag AS INTEGER) = b.d
      |), s AS (
      |  SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
      |    CAST(SUM(x * xb) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(xb * xb) AS BIGINT) AS syy
      |  FROM lagged GROUP BY lag
      |)
      |SELECT lag, n, sx, sy, sxy, sxx, syy,
      |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
      |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    ELSE NULL END AS xcf
      |FROM s ORDER BY lag""".stripMargin

  /** DuckDB mirror of [[acfDaily]] over `events` grouped by event_type,
    * lags 1..7: identical daily frame, calendar join, moment sums, and
    * IEEE emission tree. */
  def acfOracleSql(maxLag: Int = 7): String =
    s"""WITH daily AS (
      |  SELECT event_type AS g, CAST(ts AS DATE) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS x
      |  FROM events WHERE ts IS NOT NULL
      |  GROUP BY event_type, CAST(ts AS DATE)
      |), lagged AS (
      |  SELECT a.g AS g, CAST(l.lag AS BIGINT) AS lag,
      |    a.x AS x, b.x AS xb
      |  FROM daily a
      |  CROSS JOIN (SELECT unnest(range(1, ${maxLag + 1})) AS lag) l
      |  JOIN daily b ON a.g = b.g AND a.d + CAST(l.lag AS INTEGER) = b.d
      |), s AS (
      |  SELECT g, lag, CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(xb) AS BIGINT) AS sy,
      |    CAST(SUM(x * xb) AS BIGINT) AS sxy,
      |    CAST(SUM(x * x) AS BIGINT) AS sxx,
      |    CAST(SUM(xb * xb) AS BIGINT) AS syy
      |  FROM lagged GROUP BY g, lag
      |)
      |SELECT g AS event_type, lag, n, sx, sy, sxy, sxx, syy,
      |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
      |        AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
      |    THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
      |            - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |         / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
      |                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |            * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
      |                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
      |    ELSE NULL END AS acf
      |FROM s ORDER BY event_type, lag""".stripMargin
}
