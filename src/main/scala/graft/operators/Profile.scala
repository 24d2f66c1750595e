package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Data profiling: exact per-column statistics — the engine-side
  * replacement for `DataFrame.summary` when results must be exact,
  * deterministic, and oracle-checkable.
  *
  * Scale shape: ONE AGGREGATION BRANCH PER COLUMN, unioned. Putting all
  * columns' exact `countDistinct`s into a single aggregation looks like
  * "one scan" but is a trap (measured here: 9.6 s vs 1.5 s at sf0.1):
  * Catalyst plans N distinct-aggs as an Expand that duplicates every
  * input row N+1 times before one giant shuffle. Per-column branches
  * instead each read ONLY their own column (parquet column pruning — the
  * union of branch scans reads the same bytes the fused scan would),
  * each branch's distinct is a two-phase partial aggregate with no
  * row-multiplication, and independent branches schedule in parallel
  * across the cluster. For a quick inexact profile swap `countDistinct`
  * for `approx_count_distinct` and fuse back to one pass (HLL sketches
  * don't need Expand).
  *
  * min/max are surfaced as strings for a uniform output schema; pass
  * pre-formatted columns (e.g. `date_format`ed dates) when the default
  * cast's engine-specific formatting matters (floating-point columns
  * format differently across engines — format them explicitly). */
object Profile {

  /** Benford first-digit expected shares, round(log10(1+1/d)*1e6) —
    * micro-literals shared with the DuckDB restatements; they telescope
    * to exactly 1e6. */
  val BenfordMicro: Seq[Long] = Seq(301030L, 176091L, 124939L, 96910L,
    79181L, 66947L, 57992L, 51153L, 45757L)

  /** The whole audit family — Benford first-digit conformance, chi2
    * independence + Cramér's V over a category × value-band grid, a
    * fixed-width histogram, exact top-k heavy hitters, and global
    * min/max/sum/count — off ONE scan of the fact table: one
    * grouping-sets aggregation computes every section's counts in a
    * single pass (scan → Expand(5 sets) → partial agg → one shuffle of
    * ALREADY-AGGREGATED partials). This is the opposite trade from
    * [[profile]]'s per-column branches: there the Expand feeds exact
    * DISTINCTs, multiplying the SHUFFLE; here every grouping is a
    * bounded-cardinality count, so map-side combine collapses the
    * expansion before the exchange and the scan IO — the dominant cost
    * at 100 TB — is paid once. The grouped cells frame (1 + 9 digits +
    * grid cells + 10 bins + |keys| rows) is cut at a [[graft.Seam]] and
    * every section derives from it without touching the table again.
    *
    * Determinism: every emitted metric is an exact integer — counts,
    * cents (floor(x*100+0.5), the exact BIGINT carrier for 2-decimal
    * data), chi2/Benford terms in micro-units via DECIMAL(38,0) integral
    * division (the [[Drift.chi2Test]] discipline, including its loud
    * n <= 10^7 exactness guard riding the emitted term).
    *
    * Output rows `(section, key1, key2, n, metric)`:
    *  - `('stats', count|sum_cents|min_cents|max_cents, null, N, value)`
    *  - `('benford', digit, null, observed, term_micro)` +
    *    `('benford_stat', 'chi2_micro', null, N, chi2_micro)`
    *  - `('chi2', category, band, observed, term_micro)` +
    *    `('chi2_stat', 'chi2_micro'|'dof', null, N, value)`
    *  - `('cramers', 'v2_micro', null, N, v2_micro)`
    *  - `('hist', bin, null, count, bin_lo_cents)`
    *  - `('heavy', key, null, count, rank)` for the top-`topK` keys. */
  def profileAll(df: DataFrame, priceCol: String, catCol: String,
                 keyCol: String, bandLo: Double = 100000.0,
                 bandHi: Double = 300000.0, binWidth: Double = 50000.0,
                 topK: Int = 5): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val cells = graft.Seam.cut(profileCells(df, priceCol, catCol, keyCol,
      bandLo, bandHi, binWidth))
    val global = cells.filter(col("gid") === 31)
      .select(col("n"), col("sum_cents"), col("min_cents"), col("max_cents"))
    def sect(name: String) = lit(name).as("section")
    val nullKey2 = lit(null).cast("string").as("key2")

    val stats = global.select(sect("stats"),
      expr("stack(4, 'count', n, 'sum_cents', sum_cents, " +
        "'min_cents', min_cents, 'max_cents', max_cents) AS (key1, metric)"),
      col("n"))
      .select(col("section"), col("key1"), nullKey2, col("n"), col("metric"))

    // ---- Benford over the digit rollup (grid completed to all nine).
    // The expected-count base is the number of rows with a SIGNIFICANT
    // leading digit (1-9) — Benford's law is defined on those; rows whose
    // digit is 0 (price < 1), null, or unparsable (negative sign) are not
    // part of the test, and using the global n for the base would inflate
    // every term whenever such rows exist
    val probs = BenfordMicro.zipWithIndex
      .map { case (p, i) => (i + 1, p) }.toDF("digit", "p_micro")
    val digitObs = cells.filter(col("gid") === 15)
      .filter(col("digit").between(1, 9))
      .select(col("digit"), col("n").as("o"))
    val bTotal = digitObs.agg(coalesce(sum(col("o")), lit(0L)).as("nt"))
    val bterm = probs
      .join(digitObs, Seq("digit"), "left")
      .select(col("digit"), col("p_micro"),
        coalesce(col("o"), lit(0L)).as("o"))
      .crossJoin(broadcast(bTotal))
      .withColumn("e_micro", expr("nt * p_micro"))
      .withColumn("term_micro", expr(
        "(CAST(o AS DECIMAL(38,0)) * 1000000 - e_micro) *" +
        " (CAST(o AS DECIMAL(38,0)) * 1000000 - e_micro)" +
        " div CAST(e_micro AS DECIMAL(38,0))"))
    val benford = bterm.select(sect("benford"),
      col("digit").cast("string").as("key1"), nullKey2,
      col("o").as("n"), col("term_micro").as("metric"))
    val benfordStat = bterm
      .agg(max(col("nt")).as("n"), sum(col("term_micro")).as("metric"))
      .select(sect("benford_stat"), lit("chi2_micro").as("key1"), nullKey2,
        col("n"), col("metric"))

    // ---- chi2 + Cramér's V over the (category, band) rollup
    val oc = cells.filter(col("gid") === 19)
      .select(col("rk"), col("ck"), col("n").as("o"))
    val grid = oc.select(col("rk")).distinct()
      .crossJoin(oc.select(col("ck")).distinct())
      .join(oc, Seq("rk", "ck"), "left")
      .select(col("rk"), col("ck"), coalesce(col("o"), lit(0L)).as("o"))
    val tot = grid.select(col("rk"), col("ck"), col("o"),
      sum(col("o")).over(Window.partitionBy(col("rk"))).as("r"),
      sum(col("o")).over(Window.partitionBy(col("ck"))).as("c"),
      sum(col("o")).over(Window.partitionBy()).as("nt"))
    val cterm = tot.withColumn("term_micro",
      when(col("nt") > lit(10000000L), raise_error(
        lit("Profile.profileAll: n exceeds 10^7 — the DECIMAL(38,0) " +
          "chi2 exactness bound; pre-aggregate or subsample")))
      .when(col("r") === 0L || col("c") === 0L, lit(0L))
      .otherwise(expr(
        "(CAST(o AS DECIMAL(38,0)) * CAST(nt AS DECIMAL(38,0)) -" +
        " CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) *" +
        " (CAST(o AS DECIMAL(38,0)) * CAST(nt AS DECIMAL(38,0)) -" +
        " CAST(r AS DECIMAL(38,0)) * CAST(c AS DECIMAL(38,0))) * 1000000" +
        " div (CAST(nt AS DECIMAL(38,0)) * CAST(r AS DECIMAL(38,0)) *" +
        " CAST(c AS DECIMAL(38,0)))")))
    val chi2 = cterm.select(sect("chi2"), col("rk").as("key1"),
      col("ck").as("key2"), col("o").as("n"),
      col("term_micro").as("metric"))
    val cagg = cterm.agg(max(col("nt")).as("nt"),
      countDistinct(col("rk")).as("nr"), countDistinct(col("ck")).as("nc"),
      sum(col("term_micro")).as("chi2_micro"))
    val chi2Stat = cagg.select(sect("chi2_stat"),
      expr("stack(2, 'chi2_micro', chi2_micro, " +
        "'dof', (nr - 1) * (nc - 1)) AS (key1, metric)"), col("nt"))
      .select(col("section"), col("key1"), nullKey2,
        col("nt").as("n"), col("metric"))
    val cramers = cagg.select(sect("cramers"),
      lit("v2_micro").as("key1"), nullKey2, col("nt").as("n"),
      expr("chi2_micro div (nt * (least(nr, nc) - 1))").as("metric"))

    // ---- fixed-width histogram (bin lo in cents as the metric)
    val hist = cells.filter(col("gid") === 29)
      .select(sect("hist"), col("bin").cast("string").as("key1"), nullKey2,
        col("n"),
        (col("bin") * lit(math.round(binWidth * 100))).as("metric"))

    // ---- exact heavy hitters: top-k keys by count (TakeOrdered, then
    // rank over the k-row result)
    val heavy = cells.filter(col("gid") === 30)
      .select(col("ckey"), col("n"))
      .orderBy(col("n").desc, col("ckey")).limit(topK)
      .withColumn("metric",
        row_number().over(Window.orderBy(col("n").desc, col("ckey")))
          .cast("long"))
      .select(sect("heavy"), col("ckey").as("key1"), nullKey2, col("n"),
        col("metric"))

    Seq(stats, benford, benfordStat, chi2, chi2Stat, cramers, hist, heavy)
      .reduce(_ unionByName _)
      .orderBy(col("section"), col("key1"), col("key2"))
  }

  /** The single-pass grouping-sets aggregate behind [[profileAll]],
    * un-checkpointed so specs can assert the ONE-scan plan shape:
    * `(digit, rk, ck, bin, ckey, n, sum_cents, min_cents, max_cents,
    * gid)` with gid 31=global, 15=digit, 19=(rk,ck), 29=bin, 30=key. */
  private[graft] def profileCells(df: DataFrame, priceCol: String,
                                  catCol: String, keyCol: String,
                                  bandLo: Double, bandHi: Double,
                                  binWidth: Double): DataFrame = {
    val base = df.filter(col(priceCol).isNotNull)
      .select(
        substring(floor(col(priceCol)).cast("long").cast("string"), 1, 1)
          .cast("int").as("digit"),
        coalesce(col(catCol).cast("string"), lit("unknown")).as("rk"),
        when(col(priceCol) < bandLo, "low")
          .when(col(priceCol) < bandHi, "mid").otherwise("high").as("ck"),
        least(floor(col(priceCol) / binWidth).cast("long"), lit(9L))
          .as("bin"),
        coalesce(col(keyCol).cast("string"), lit("unknown")).as("ckey"),
        expr(s"CAST(floor($priceCol * 100 + 0.5) AS BIGINT)").as("cents"))
    base.groupingSets(
        Seq(Seq(), Seq(col("digit")), Seq(col("rk"), col("ck")),
          Seq(col("bin")), Seq(col("ckey"))),
        col("digit"), col("rk"), col("ck"), col("bin"), col("ckey"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"),
        min(col("cents")).as("min_cents"), max(col("cents")).as("max_cents"),
        grouping_id().as("gid"))
  }

  /** `(column, n_rows, n_nulls, n_distinct, min_val, max_val)` per
    * requested column. */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    cols.map { c =>
      df.select(col(c))
        .agg(
          count(lit(1)).as("n_rows"),
          (count(lit(1)) - count(col(c))).as("n_nulls"),
          countDistinct(col(c)).as("n_distinct"),
          min(col(c)).cast("string").as("min_val"),
          max(col(c)).cast("string").as("max_val"))
        .select(lit(c).as("column"), col("n_rows"), col("n_nulls"),
          col("n_distinct"), col("min_val"), col("max_val"))
    }.reduce(_ unionByName _)
  }
}
