package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Fns._
import graft.functions.{FixedLog, TextFns}
import graft.operators.Skew
import graft.sources.Tables
import graft.gates.Artifacts._

/** Aggregation, statistics, window, time-series, reshaping, sampling,
  * privacy and built-in function-family gates. */
object AnalyticsGates {

  /** EWMA horizon and exact decimal weights: 0.7^j = ewmaWeightNum(j)/10^7
    * for j < [[EwmaK]] — integer numerators so both engines carry the
    * weighted sum exactly (see `w_ewma`). */
  private val EwmaK = 8

  private def ewmaWeightNum(j: Int): Long =
    (BigInt(7).pow(j) * BigInt(10).pow(EwmaK - 1 - j)).toLong

  val gates: Seq[Gate] = Seq(
    // ----- hierarchical aggregation: ROLLUP with subtotals + grand total
    Gate("a_rollup", (s, dir) =>
      Tables.lineitem(s, dir)
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(sumExact(col("l_quantity")).as("sum_qty"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("l_returnflag"),
          asc_nulls_first("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem
        |GROUP BY ROLLUP (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin),

    // ----- CUBE: all grouping-set combinations
    Gate("a_cube", (s, dir) =>
      Tables.orders(s, dir)
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(sumExact(col("o_totalprice")).as("total"), count(lit(1)).as("n"))
        .orderBy(asc_nulls_first("o_orderstatus"),
          asc_nulls_first("o_orderpriority")),
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY CUBE (o_orderstatus, o_orderpriority)
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // ----- approximate distinct (HLL sketch) vs exact. The sketch value
    // itself is implementation-specific, so the oracle-checked output is
    // the exact count plus a tolerance flag the oracle pins TRUE — a real
    // bound check, not a rows-only pass. Band = 20% (4 sigma at rsd=0.05):
    // HLL++ is hash-deterministic, so for a FIXED dataset the check never
    // flakes run-to-run, but an unseen scale factor could land a tail
    // estimate; 4 sigma makes that a <1e-4-per-group event instead of the
    // ~1e-3 a 15% band allowed.
    Gate("a_approx_distinct", (s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id")).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"))
        .select(col("event_type"), col("exact_users"),
          (abs(col("approx_users") - col("exact_users")).cast("double")
            / col("exact_users") <= 0.20).as("approx_ok"))
        .orderBy(col("event_type")),
      // the sketch estimate is engine-internal; the oracle pins the exact
      // count and asserts the estimate landed inside the tolerance band
      """SELECT event_type, COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS approx_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ----- equal-width histogram (profiling family): one stats row
    // broadcast back over the scan, bin arithmetic in IEEE doubles —
    // bit-identical across engines because min/max/width/floor are the
    // same ops in the same order on the same inputs
    Gate("a_histogram", (s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_extendedprice").as("x"))
      val mm = li.agg(min(col("x")).as("lo"), max(col("x")).as("hi"))
      li.crossJoin(broadcast(mm))
        .withColumn("bin",
          least(floor((col("x") - col("lo")) / ((col("hi") - col("lo")) / 10d)),
            lit(9L)).cast("int"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
        .orderBy(col("bin"))
    },
      """WITH mm AS (
        |  SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi
        |  FROM lineitem
        |)
        |SELECT CAST(LEAST(FLOOR((l_extendedprice - lo) / ((hi - lo) / 10)), 9)
        |            AS INTEGER) AS bin,
        |  COUNT(*) AS n
        |FROM lineitem, mm
        |GROUP BY bin ORDER BY bin""".stripMargin),

    // ----- approximate percentiles (GK sketch) next to the exact gate:
    // like a_approx_distinct, the sketch estimate is engine-internal, so
    // the gate pins the EXACT values plus a tolerance flag on the sketch.
    // approx_percentile(accuracy=1000) errors by at most 0.1% of rank —
    // the flag allows rank slack of 1% of rows, value-compared through
    // the exact quantile at the slacked ranks.
    Gate("a_approx_percentile", (s, dir) => {
      val li = Tables.lineitem(s, dir)
      // ONE exact-percentile aggregation for band + midpoint (each
      // percentile() call sorts its group's values independently)
      val grouped = li.groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, array(0.49, 0.5, 0.51))").as("q"),
          expr("approx_percentile(l_extendedprice, 0.5, 1000)").as("ap50"))
      grouped.select(col("l_returnflag"),
          element_at(col("q"), 2).as("exact_p50"),
          (col("ap50") >= element_at(col("q"), 1) &&
            col("ap50") <= element_at(col("q"), 3)).as("approx_ok"))
        .orderBy(col("l_returnflag"))
    },
      // the sketch estimate is engine-internal (like the HLL gate): pin the
      // exact quantile, assert the sketch lands inside the ±1%-rank band
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS exact_p50,
        |  TRUE AS approx_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),

    // ----- semi-structured: JSON props extraction + typed aggregation
    Gate("f_json_extract", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .filter(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          max(col("k")).as("max_k"))
        .orderBy(col("event_type")),
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, MAX(k) AS max_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |      FROM events)
        |WHERE k IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ----- Spark 4 VARIANT path for semi-structured data: parse_json
    // into the binary VARIANT encoding once, then typed variant_get
    // extraction — the columnar-shredding-ready successor to per-access
    // get_json_object string re-parsing (f_json_extract gates that
    // legacy path; results must agree). Oracle is plain JSON extraction
    Gate("f_variant_json", (s, dir) =>
      Tables.events(s, dir)
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", variant_get(col("v"), "$.k", "int"))
        .filter(col("k").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"))
        .orderBy(col("event_type")),
      // the VARIANT path must agree with plain JSON extraction
      """SELECT event_type, COUNT(*) AS n,
        |  CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k
        |FROM (SELECT event_type,
        |        CAST(json_extract_string(props, '$.k') AS INTEGER) AS k
        |      FROM events)
        |WHERE k IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ----- A4/A5: distinct-set extraction + run statistics counters
    Gate("a4_distinct_stats", (s, dir) =>
      Tables.orders(s, dir).agg(
        count(lit(1)).as("n_records"),
        countDistinct(col("o_custkey")).as("n_customers"),
        countDistinct(monthKey(col("o_orderdate"))).as("n_months"),
        countDistinct(col("o_orderpriority")).as("n_groups")),
      """SELECT COUNT(*) AS n_records,
        |  COUNT(DISTINCT o_custkey) AS n_customers,
        |  COUNT(DISTINCT strftime(o_orderdate, '%Y-%m')) AS n_months,
        |  COUNT(DISTINCT o_orderpriority) AS n_groups
        |FROM orders""".stripMargin),

    // ----- R2: manual pivot (MAX/AVG of CASE) — daily series per event type
    Gate("r2_pivot", (s, dir) => {
      val types = Seq("click", "error", "purchase", "signup", "view")
      val aggs = types.map { t =>
        (sum(when(col("event_type") === t, dec(col("value")))).cast("double") /
          count(when(col("event_type") === t, lit(1)))).as(t)
      }
      Tables.events(s, dir)
        .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("dia"))
        .agg(aggs.head, aggs.tail: _*)
        .orderBy(col("dia"))
    },
      {
        val types = Seq("click", "error", "purchase", "signup", "view")
        val cols = types.map { t =>
          s"""  CAST(SUM(CASE WHEN event_type = '$t' THEN CAST(value AS DECIMAL(18,6)) END) AS DOUBLE)
             |    / COUNT(CASE WHEN event_type = '$t' THEN 1 END) AS $t""".stripMargin
        }.mkString(",\n")
        s"""SELECT strftime(ts, '%Y-%m-%d') AS dia,
           |$cols
           |FROM events
           |GROUP BY dia
           |ORDER BY dia""".stripMargin
      }),

    // ----- datetime-function parity: the calendar surface a mart's date
    // dimension and partition logic lean on — year/quarter/month/day,
    // ISO day-of-week and week number, day-of-year, month start/end,
    // clamped month arithmetic (Jan 31 + 1 mo = end of Feb on BOTH
    // engines), and day arithmetic against a fixed anchor — all pinned
    // value-exactly per row against the oracle's spellings (Spark
    // weekday()+1 == DuckDB isodow; Spark weekofyear == DuckDB ISO
    // week()). Narrow one-scan projection
    Gate("f_datetime_family", (s, dir) =>
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          year(col("o_orderdate")).as("y"),
          quarter(col("o_orderdate")).as("q"),
          month(col("o_orderdate")).as("m"),
          dayofmonth(col("o_orderdate")).as("d"),
          dayofyear(col("o_orderdate")).as("doy"),
          (weekday(col("o_orderdate")) + lit(1)).as("iso_dow"),
          weekofyear(col("o_orderdate")).as("iso_week"),
          to_date(date_trunc("month", col("o_orderdate"))).as("mon_start"),
          last_day(col("o_orderdate")).as("mon_end"),
          add_months(col("o_orderdate"), 2).as("plus2m"),
          datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
            .as("days_since"))
        .orderBy(col("o_orderkey")),
      """SELECT o_orderkey,
        |  CAST(year(o_orderdate) AS INTEGER) AS y,
        |  CAST(quarter(o_orderdate) AS INTEGER) AS q,
        |  CAST(month(o_orderdate) AS INTEGER) AS m,
        |  CAST(day(o_orderdate) AS INTEGER) AS d,
        |  CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        |  CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
        |  CAST(week(o_orderdate) AS INTEGER) AS iso_week,
        |  CAST(date_trunc('month', o_orderdate) AS DATE) AS mon_start,
        |  last_day(CAST(o_orderdate AS DATE)) AS mon_end,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE)
        |    AS plus2m,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE))
        |    AS INTEGER) AS days_since
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // ----- string-function parity, f_datetime_family's sibling: pad /
    // translate / replace / find / slice / repeat / reverse / ascii /
    // printf spellings pinned value-exactly per customer row against the
    // oracle dialect (Spark instr == DuckDB strpos; format_string ==
    // printf). Narrow one-scan projection
    Gate("f_string_family", (s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_custkey"),
          lpad(col("c_name"), 25, "*").as("pad_l"),
          rpad(col("c_name"), 25, "-").as("pad_r"),
          translate(col("c_name"), "aeiou", "01234").as("xlate"),
          regexp_replace(col("c_name"), "#", "-").as("repl"),
          instr(col("c_name"), "0").cast("int").as("find0"),
          substring(col("c_name"), 1, 5).as("first5"),
          substring(col("c_name"), -5, 5).as("last5"),
          repeat(substring(col("c_name"), 1, 2), 3).as("rep3"),
          reverse(col("c_name")).as("rev"),
          ascii(col("c_name")).as("first_byte"),
          format_string("cust-%07d", col("c_custkey")).as("padded_id"),
          length(col("c_name")).as("len"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey,
        |  lpad(c_name, 25, '*') AS pad_l,
        |  rpad(c_name, 25, '-') AS pad_r,
        |  translate(c_name, 'aeiou', '01234') AS xlate,
        |  replace(c_name, '#', '-') AS repl,
        |  CAST(strpos(c_name, '0') AS INTEGER) AS find0,
        |  substring(c_name, 1, 5) AS first5,
        |  substring(c_name, length(c_name) - 4, 5) AS last5,
        |  repeat(substring(c_name, 1, 2), 3) AS rep3,
        |  reverse(c_name) AS rev,
        |  CAST(ascii(c_name) AS INTEGER) AS first_byte,
        |  printf('cust-%07d', c_custkey) AS padded_id,
        |  CAST(length(c_name) AS INTEGER) AS len
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ----- regex-function parity, the sixth function-family gate —
    // restricted to the Java-regex ∩ RE2 shared dialect (literal
    // alternation, char classes, \d, bounded quantifiers, anchors; no
    // backrefs/lookarounds, which RE2 lacks BY DESIGN): group extract,
    // extract_all count, rlike/regexp_matches, LIKE and ILIKE, regex
    // split arity, and global regexp_replace (DuckDB needs the 'g' flag
    // to match Spark's replace-all default). Narrow one-scan projection
    Gate("f_regex_family", (s, dir) =>
      Tables.customer(s, dir)
        .select(col("c_custkey"),
          regexp_extract(col("c_name"), "Customer#(\\d+)", 1).as("ext"),
          size(expr("regexp_extract_all(c_name, '\\\\d+', 0)")).as("ndig"),
          col("c_name").rlike("0{3}").as("has000"),
          col("c_name").rlike("^Customer#\\d+$").as("anchored"),
          expr("c_name ilike 'cust%'").as("ilk"),
          col("c_name").like("Customer#00%").as("lk"),
          size(split(col("c_name"), "#")).as("nsplit"),
          regexp_replace(col("c_name"), "\\d+", "N").as("repl"))
        .orderBy(col("c_custkey")),
      """SELECT c_custkey,
        |  regexp_extract(c_name, 'Customer#(\d+)', 1) AS ext,
        |  CAST(len(regexp_extract_all(c_name, '\d+')) AS INTEGER)
        |    AS ndig,
        |  regexp_matches(c_name, '0{3}') AS has000,
        |  regexp_matches(c_name, '^Customer#\d+$') AS anchored,
        |  c_name ILIKE 'cust%' AS ilk,
        |  c_name LIKE 'Customer#00%' AS lk,
        |  CAST(len(string_split_regex(c_name, '#')) AS INTEGER)
        |    AS nsplit,
        |  regexp_replace(c_name, '\d+', 'N', 'g') AS repl
        |FROM customer ORDER BY c_custkey""".stripMargin),

    // ----- timestamp-function parity (f_datetime_family pinned the DATE
    // surface; this pins TIME-of-day over real micro-precision instants,
    // UTC session == DuckDB naive): hour/minute/whole-second extraction,
    // micros-within-the-minute (Spark's fractional extract(SECOND)
    // decimal ×1e6 == DuckDB microsecond()), hour truncation, anchored
    // second deltas (timestampdiff == date_diff), strftime formatting,
    // and a whole-second make_timestamp rebuild from the parts. Narrow
    // one-scan projection
    Gate("f_timestamp_family", (s, dir) =>
      Tables.events(s, dir)
        .select(col("event_id"),
          hour(col("ts")).as("h"),
          minute(col("ts")).as("mi"),
          second(col("ts")).as("sec_i"),
          expr("CAST(extract(SECOND FROM ts) * 1000000 AS BIGINT)")
            .as("micros_min"),
          date_trunc("hour", col("ts")).as("trunc_h"),
          expr("timestampdiff(SECOND, TIMESTAMP'2024-01-01 00:00:00', ts)")
            .as("secs_since"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm").as("fmt_min"),
          make_timestamp(year(col("ts")), month(col("ts")),
            dayofmonth(col("ts")), hour(col("ts")), minute(col("ts")),
            second(col("ts"))).as("rebuilt"))
        .orderBy(col("event_id")),
      """SELECT event_id,
        |  CAST(hour(ts) AS INTEGER) AS h,
        |  CAST(minute(ts) AS INTEGER) AS mi,
        |  CAST(second(ts) AS INTEGER) AS sec_i,
        |  CAST(microsecond(ts) AS BIGINT) AS micros_min,
        |  date_trunc('hour', ts) AS trunc_h,
        |  CAST(date_diff('second', TIMESTAMP '2024-01-01 00:00:00', ts)
        |    AS BIGINT) AS secs_since,
        |  strftime(ts, '%Y-%m-%d %H:%M') AS fmt_min,
        |  make_timestamp(CAST(year(ts) AS BIGINT), CAST(month(ts) AS BIGINT),
        |    CAST(day(ts) AS BIGINT), CAST(hour(ts) AS BIGINT),
        |    CAST(minute(ts) AS BIGINT), CAST(second(ts) AS DOUBLE))
        |    AS rebuilt
        |FROM events ORDER BY event_id""".stripMargin),

    // ----- math/bit-function parity, the third function-family gate:
    // remainder vs pmod on NEGATIVE dividends (Spark % and DuckDB % are
    // both sign-of-dividend; pmod is restated as ((v%k)+k)%k), truncating
    // integer `div` restated through the exact-multiple identity
    // (v - v%7)//7, bit ops / shifts / bit_count on BIGINT two's
    // complement, factorial through the HUGEINT->BIGINT cast (checklist
    // rule 7), ceil/floor of DOUBLE through the BIGINT cast (Spark
    // returns LONG, DuckDB DOUBLE — the cast is the shared type), IEEE
    // sqrt (correctly rounded on both engines), greatest/least, and hex
    // spelling equality. Narrow one-scan projection
    Gate("f_math_family", (s, dir) => {
      val v = col("o_custkey") - lit(750)
      Tables.orders(s, dir)
        .select(col("o_orderkey"),
          abs(v).as("abs_v"),
          signum(v).cast("int").as("sign_v"),
          (v % 7).as("rem7"),
          pmod(v, lit(7)).as("pmod7"),
          expr("(o_custkey - 750) div 7").as("tdiv7"),
          (col("o_orderkey").bitwiseAND(lit(255L))).as("band"),
          (col("o_orderkey").bitwiseOR(col("o_custkey"))).as("bor"),
          (col("o_orderkey").bitwiseXOR(col("o_custkey"))).as("bxor"),
          shiftleft(col("o_orderkey") % 1024, 3).as("shl3"),
          shiftright(col("o_orderkey"), 2).as("shr2"),
          bit_count(col("o_orderkey")).cast("int").as("bcnt"),
          factorial((col("o_orderkey") % 13).cast("int")).as("fact"),
          ceil(col("o_totalprice")).cast("long").as("ceil_p"),
          floor(col("o_totalprice")).cast("long").as("floor_p"),
          sqrt(col("o_totalprice")).as("sq"),
          greatest(col("o_orderkey"), col("o_custkey"), lit(1000L))
            .as("gmax"),
          least(col("o_orderkey"), col("o_custkey"), lit(1000L)).as("lmin"),
          hex(col("o_orderkey")).as("hexk"))
        .orderBy(col("o_orderkey"))
    },
      """SELECT o_orderkey,
        |  CAST(abs(o_custkey - 750) AS BIGINT) AS abs_v,
        |  CAST(sign(o_custkey - 750) AS INTEGER) AS sign_v,
        |  CAST((o_custkey - 750) % 7 AS BIGINT) AS rem7,
        |  CAST((((o_custkey - 750) % 7) + 7) % 7 AS BIGINT) AS pmod7,
        |  CAST(((o_custkey - 750) - ((o_custkey - 750) % 7)) // 7
        |    AS BIGINT) AS tdiv7,
        |  CAST(o_orderkey & 255 AS BIGINT) AS band,
        |  CAST(o_orderkey | o_custkey AS BIGINT) AS bor,
        |  CAST(xor(o_orderkey, o_custkey) AS BIGINT) AS bxor,
        |  CAST((o_orderkey % 1024) << 3 AS BIGINT) AS shl3,
        |  CAST(o_orderkey >> 2 AS BIGINT) AS shr2,
        |  CAST(bit_count(o_orderkey) AS INTEGER) AS bcnt,
        |  CAST(factorial(CAST(o_orderkey % 13 AS INTEGER)) AS BIGINT)
        |    AS fact,
        |  CAST(ceil(o_totalprice) AS BIGINT) AS ceil_p,
        |  CAST(floor(o_totalprice) AS BIGINT) AS floor_p,
        |  sqrt(o_totalprice) AS sq,
        |  CAST(greatest(o_orderkey, o_custkey, 1000) AS BIGINT) AS gmax,
        |  CAST(least(o_orderkey, o_custkey, 1000) AS BIGINT) AS lmin,
        |  hex(o_orderkey) AS hexk
        |FROM orders ORDER BY o_orderkey""".stripMargin),

    // ----- collection-function parity, the fourth function-family gate:
    // sequence/range construction, size, fold (aggregate ==
    // list_sum+CAST off HUGEINT), max, membership, position (Spark emits
    // 0 for absent, DuckDB NULL — COALESCE is the shared spelling),
    // slice, reverse, lambda transform/filter, distinct (NOT
    // order-preserving in DuckDB — both sides sort), zip_with (restated
    // as an index transform), and flatten. Arrays are emitted as joined
    // strings (the f_higher_order emission precedent — scalars/VARCHAR
    // only cross the driver compare); k >= 2 keeps every emitted array
    // nonempty, because array_to_string([]) is NULL on DuckDB but '' on
    // Spark. Narrow one-scan projection
    Gate("f_array_family", (s, dir) => {
      val k = (pmod(col("o_orderkey"), lit(5)) + lit(2)).cast("int")
      // the array is MATERIALIZED once as a named column: 11 of the 13
      // expressions are higher-order functions, which are excluded from
      // whole-stage codegen and common-subexpression elimination, so the
      // inline form re-built sequence(1,k) per expression per row
      // (13 generator evaluations/row); as a non-cheap multi-referenced
      // alias it survives CollapseProject and evaluates once. Measured at
      // sf0.1: timing-neutral (the per-row cost is the array_join string
      // building, not the small-int generator) — kept for the 12 redundant
      // evaluations/row it removes, which matters once k is corpus-derived
      // instead of pmod-5-bounded
      val arr = col("__arr")
      Tables.orders(s, dir)
        .select(col("o_orderkey"), sequence(lit(1), k).as("__arr"))
        .select(col("o_orderkey"),
          size(arr).as("n_el"),
          aggregate(arr, lit(0L), (a, x) => a + x).as("s"),
          array_max(arr).cast("long").as("mx"),
          array_contains(arr, 3).as("has3"),
          array_position(arr, 5).cast("long").as("pos5"),
          array_join(slice(arr, 2, 3), ",").as("str_slice"),
          array_join(reverse(arr), ",").as("str_rev"),
          array_join(transform(arr, x => x * x), ",").as("str_sq"),
          array_join(filter(arr, x => x % 2 === 0), ",").as("str_even"),
          array_join(array_sort(array_distinct(concat(arr, arr))), ",")
            .as("str_dist"),
          array_join(zip_with(arr, reverse(arr), (x, y) => x * y), ",")
            .as("str_zip"),
          array_join(flatten(array(arr, arr)), ",").as("str_flat"))
        .orderBy(col("o_orderkey"))
    },
      """WITH q AS (
        |  SELECT o_orderkey,
        |    CAST((o_orderkey % 5) + 2 AS INTEGER) AS k,
        |    range(1, CAST((o_orderkey % 5) + 2 AS INTEGER) + 1) AS r
        |  FROM orders
        |)
        |SELECT o_orderkey,
        |  CAST(len(r) AS INTEGER) AS n_el,
        |  CAST(list_sum(r) AS BIGINT) AS s,
        |  CAST(list_max(r) AS BIGINT) AS mx,
        |  list_contains(r, 3) AS has3,
        |  CAST(COALESCE(list_position(r, 5), 0) AS BIGINT) AS pos5,
        |  array_to_string(list_slice(r, 2, 4), ',') AS str_slice,
        |  array_to_string(list_reverse(r), ',') AS str_rev,
        |  array_to_string(list_transform(r, x -> x * x), ',') AS str_sq,
        |  array_to_string(list_filter(r, x -> x % 2 = 0), ',')
        |    AS str_even,
        |  array_to_string(list_sort(list_distinct(r || r)), ',')
        |    AS str_dist,
        |  array_to_string(list_transform(range(1, k + 1),
        |    i -> r[i] * r[k + 1 - i]), ',') AS str_zip,
        |  array_to_string(flatten([r, r]), ',') AS str_flat
        |FROM q ORDER BY o_orderkey""".stripMargin),

    // ----- Cohen's kappa: chance-corrected agreement between the langid
    // detector and the ground-truth lang column — the metric a labeling
    // pipeline reports where raw accuracy flatters skewed label
    // distributions (Cohen 1960). Same prediction chain as
    // text_langid_confusion (driver-green); the kappa identity is kept in
    // EXACT integers — kappa = (N·agree − Σ row_k·col_k) / (N² − Σ
    // row_k·col_k) — with ONE mirrored IEEE division at emission. The
    // |langs|-sized marginal frames broadcast; one corpus scan
    Gate("a_cohens_kappa", (s, dir) => {
      // three tiny consumers, one corpus pass
      val cells = Seam.cut(Tables.documents(s, dir)
        .filter(col("text").isNotNull)
        .withColumn("__hits", TextFns.stopwordHits(col("text")))
        .select(col("lang"),
          TextFns.langIdFrom(col("text"), col("__hits")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n")))
      val tot = cells.agg(sum(col("n")).as("n_items"),
        sum(when(col("lang") === col("lang_pred"), col("n"))
          .otherwise(lit(0L))).as("n_agree"))
      val rows = cells.groupBy(col("lang").as("label"))
        .agg(sum(col("n")).as("r"))
      val cols = cells.groupBy(col("lang_pred").as("label"))
        .agg(sum(col("n")).as("c"))
      val pe = rows.join(cols, Seq("label"))
        .agg(coalesce(sum(col("r") * col("c")), lit(0L)).as("pe_num"))
      tot.crossJoin(broadcast(pe))
        .select(col("n_items"), col("n_agree"), col("pe_num"),
          ((col("n_items") * col("n_agree") - col("pe_num")).cast("double") /
            (col("n_items") * col("n_items") - col("pe_num")).cast("double"))
            .as("kappa"))
    },
      {
        val scoreExprs = TextFns.stopwords.toSeq.sortBy(_._1).map { case (l, ws) =>
          s"len(regexp_extract_all(lower(text), '\\b(${ws.mkString("|")})\\b')) AS s_$l"
        }.mkString(",\n  ")
        """WITH scored AS (
          |SELECT lang, text,
          |  SCORES
          |FROM documents WHERE text IS NOT NULL
          |), pred AS (
          |SELECT lang,
          |  CASE WHEN regexp_matches(text, '[\x{4e00}-\x{9fff}]') THEN 'zh'
          |       WHEN greatest(s_en, s_de, s_fr, s_es) = 0 THEN 'und'
          |       WHEN s_en = greatest(s_en, s_de, s_fr, s_es) THEN 'en'
          |       WHEN s_de = greatest(s_en, s_de, s_fr, s_es) THEN 'de'
          |       WHEN s_fr = greatest(s_en, s_de, s_fr, s_es) THEN 'fr'
          |       ELSE 'es' END AS lang_pred
          |FROM scored
          |), cells AS (
          |SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
          |FROM pred GROUP BY lang, lang_pred
          |), tot AS (
          |SELECT CAST(SUM(n) AS BIGINT) AS n_items,
          |  CAST(SUM(CASE WHEN lang = lang_pred THEN n ELSE 0 END) AS BIGINT)
          |    AS n_agree
          |FROM cells
          |), rows_ AS (
          |SELECT lang AS label, CAST(SUM(n) AS BIGINT) AS r
          |FROM cells GROUP BY lang
          |), cols_ AS (
          |SELECT lang_pred AS label, CAST(SUM(n) AS BIGINT) AS c
          |FROM cells GROUP BY lang_pred
          |), pe AS (
          |SELECT CAST(COALESCE(SUM(r * c), 0) AS BIGINT) AS pe_num
          |FROM rows_ JOIN cols_ USING (label)
          |)
          |SELECT n_items, n_agree, pe_num,
          |  CAST(n_items * n_agree - pe_num AS DOUBLE)
          |    / CAST(n_items * n_items - pe_num AS DOUBLE) AS kappa
          |FROM tot CROSS JOIN pe""".stripMargin
          .replace("SCORES", scoreExprs)
      }),

    // ----- exact percentiles (sort-based interpolation) per group
    Gate("a_percentile", (s, dir) =>
      Tables.events(s, dir).groupBy(col("event_type"))
        .agg(expr("percentile(value, 0.5)").as("p50"),
          expr("percentile(value, 0.95)").as("p95"))
        .orderBy(col("event_type")),
      """SELECT event_type,
        |  quantile_cont(value, 0.5) AS p50,
        |  quantile_cont(value, 0.95) AS p95
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),

    // ----- sliding-window aggregation (1h windows every 30min): each
    // event lands in exactly size/slide windows — bounded row expansion
    Gate("window_sliding", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"), sumExact(col("value")).as("total"))
        .select(col("window.start").as("window_start"), col("event_type"),
          col("n"), col("total"))
        .orderBy(col("window_start"), col("event_type")),
      // each event belongs to exactly (size/slide)=2 epoch-aligned windows:
      // the 30-min floor of ts and that minus 30 minutes
      """WITH expanded AS (
        |  SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 1800) AS BIGINT) * 1800
        |           - o.off * 1800) AS TIMESTAMP) AS window_start,
        |         event_type, value
        |  FROM events CROSS JOIN (VALUES (0), (1)) AS o(off)
        |)
        |SELECT window_start, event_type, COUNT(*) AS n,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total
        |FROM expanded
        |GROUP BY window_start, event_type
        |ORDER BY window_start, event_type""".stripMargin),

    // ----- rolling aggregate with an explicit row frame: per-user moving
    // average of the last 3 events (decimal-exact carrier)
    Gate("w_rolling_avg", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-2, 0)
      Tables.events(s, dir)
        .filter(col("ts").isNotNull) // NULLS FIRST/LAST parity guard
        .select(col("user_id"), col("event_id"), col("ts"),
          (sum(col("value").cast("decimal(18,6)")).over(w).cast("double") /
            count(lit(1)).over(w)).as("rolling_avg"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
      """SELECT user_id, event_id, ts,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |    / COUNT(*) OVER w AS rolling_avg
        |FROM events
        |WHERE ts IS NOT NULL
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin),

    // ----- exact rolling median over a bounded row frame (the robust
    // central-tendency signal rolling_avg can't give on skewed values):
    // Spark has no exact windowed median, so the 7-row frame collects to a
    // sorted array and the median is the explicit middle-element formula —
    // bounded memory per row (frame size is a constant), and the SAME
    // formula restated in DuckDB keeps even-count interpolation
    // bit-identical (both engines compute (a+b)/2 in IEEE doubles)
    Gate("w_rolling_median", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("event_id")).rowsBetween(-6, 0)
      val arr = sort_array(collect_list(col("value")).over(w))
      val n = size(arr)
      val mid = ((n + lit(1)) / lit(2)).cast("int")
      val median = when(n % 2 === 1, element_at(arr, mid))
        .otherwise((element_at(arr, (n / lit(2)).cast("int")) +
          element_at(arr, (n / lit(2)).cast("int") + 1)) / 2.0)
      Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("ts"),
          median.as("rolling_median"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
      """WITH arrs AS (
        |  SELECT user_id, event_id, ts,
        |    list_sort(list(value) OVER w) AS arr
        |  FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |)
        |SELECT user_id, event_id, ts,
        |  CASE WHEN len(arr) % 2 = 1 THEN arr[(len(arr)+1)//2]
        |       ELSE (arr[len(arr)//2] + arr[len(arr)//2 + 1]) / 2
        |  END AS rolling_median
        |FROM arrs ORDER BY user_id, ts, event_id""".stripMargin),

    // ----- skew toolkit: salted two-phase aggregation on the same hot
    // key. Partial sums go through the DECIMAL(18,6) carrier, so the
    // two-phase result is bit-identical to a one-phase aggregate — which
    // is exactly what the oracle computes.
    Gate("a_skewed_salted", (s, dir) =>
      Skew.saltedAgg(
          Tables.lineitem(s, dir)
            .select(col("l_returnflag"), col("l_linestatus"),
              col("l_orderkey"), col("l_quantity")),
          key = Seq("l_returnflag", "l_linestatus"), n = 8,
          saltSource = col("l_orderkey"),
          aggs = Seq(
            ("sum_qty", dec(col("l_quantity")), (c: Column) => sum(c),
              (c: Column) => sum(c)),
            ("n", lit(1), (c: Column) => count(c), (c: Column) => sum(c))))
        .select(col("l_returnflag"), col("l_linestatus"),
          col("sum_qty").cast("double").as("sum_qty"),
          col("n").cast("bigint").as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus")),
      """SELECT l_returnflag, l_linestatus,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
        |  COUNT(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin),

    // ----- deterministic stratified sampling (sampleBy analog): per-lang
    // keep fractions keyed on a row hash — reproducible across cluster
    // sizes and retries, unlike rand() sampling (Sampling scaladoc)
    Gate("sample_stratified", (s, dir) =>
      graft.operators.Sampling.stratifiedHashSample(
          Tables.documents(s, dir).select(col("doc_id"), col("lang")),
          keyCol = "doc_id", stratumCol = "lang",
          fractions = Map("en" -> 0.5, "de" -> 0.25, "zh" -> 1.0, "fr" -> 0.0))
        .orderBy(col("doc_id")),
      graft.operators.Sampling.stratifiedOracleSql(
        Map("en" -> 0.5, "de" -> 0.25, "zh" -> 1.0, "fr" -> 0.0))),

    // ----- referential-integrity audit: orphan foreign keys counted per
    // relation edge in one pass each — the data-quality check a mart load
    // runs before trusting its joins. Anti-join probes read only the key
    // columns (column pruning); counts assemble into one metadata-sized
    // report
    // ----- k-anonymity / l-diversity audit (Sweeney 2002; Machanavajjhala
    // 2006): per quasi-identifier group, size + distinct sensitive values
    // + the k-anonymous verdict — the relational privacy gate a curated
    // dataset passes before release (Privacy scaladoc; one hash-partial
    // aggregate, no windows/joins). QI here = (nation, market segment),
    // sensitive = account balance, k = 10.
    Gate("privacy_k_anonymity", (s, dir) =>
      graft.operators.Privacy.kAnonymityAudit(Tables.customer(s, dir),
          Seq("c_nationkey", "c_mktsegment"), "c_acctbal", k = 10)
        .orderBy(col("c_nationkey"), col("c_mktsegment")),
      """SELECT c_nationkey, c_mktsegment,
        |  COUNT(*) AS group_size,
        |  COUNT(DISTINCT c_acctbal) AS l_diversity,
        |  COUNT(*) >= 10 AS k_anonymous
        |FROM customer
        |GROUP BY c_nationkey, c_mktsegment
        |ORDER BY c_nationkey, c_mktsegment""".stripMargin),

    // ----- ε-DP count release: Laplace mechanism with deterministic
    // inverse-CDF noise from the hash-derived uniform (the Gumbel-trick
    // discipline of corpus_dsir_resample) — the ln is FixedLog integer
    // arithmetic (engine-exact), DECIMAL(18,6) by integer quantization
    Gate("privacy_dp_laplace", (s, dir) =>
      graft.operators.Privacy.dpLaplaceCounts(Tables.documents(s, dir),
          "lang", epsilon = 0.5)
        .orderBy(col("lang")),
      // the same inverse-CDF Laplace restated: hash-uniform from the group
      // key, sign/ln shape mirrored operation-for-operation, decimal
      // truncation at emission
      {
        // FixedLog mirror of Privacy.dpLaplaceCounts: m = G - |2h+1-G| odd,
        // noise = sign(2h+1-G) · ((g·LN2 - fixedLn(m)) · s/ε-num), all
        // integer — ε = 0.5 → 1/ε = 10/5
        val b = graft.operators.Sampling.bucketSql("lang", "dp-lap")
        val g = graft.operators.Sampling.Granularity
        val kG = java.lang.Long.numberOfTrailingZeros(g)
        val (sE, aE) = FixedLog.decimalAsRational(0.5)
        s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
           |dd AS (
           |  SELECT lang, n, 2 * CAST($b AS BIGINT) + 1 - $g AS d,
           |    $g - abs(2 * CAST($b AS BIGINT) + 1 - $g) AS m
           |  FROM c
           |), nz AS (
           |  SELECT lang, n, d,
           |    ${FixedLog.duckLnItems("m", "__lnm").mkString(",\n    ")},
           |    (CAST($kG * ${FixedLog.Ln2S12} - __lnm AS HUGEINT) * $sE)
           |      // $aE AS __mag12
           |  FROM dd
           |)
           |SELECT lang, CAST(0.5 AS DOUBLE) AS epsilon,
           |  CAST(CAST(n + ${FixedLog.duckS12ToDec6("__noise12")}
           |    AS DECIMAL(18,6)) AS DOUBLE) AS noisy_count
           |FROM (
           |  SELECT lang, n,
           |    CASE WHEN d < 0 THEN -__mag12 ELSE __mag12 END AS __noise12
           |  FROM nz)
           |ORDER BY lang""".stripMargin
      }),

    // ----- correlation/covariance from EXACT decimal sums: native corr()
    // accumulates doubles in partition order (non-deterministic across
    // cluster sizes and engines); the moment sums (Σx, Σy, Σxy, Σx², Σy²)
    // are exact in the decimal carrier, so the derived statistics are
    // bit-identical at any partition count — the same determinism contract
    // as every other aggregate here
    Gate("a_corr_stats", (s, dir) => {
      val x = col("l_quantity")
      val y = col("l_extendedprice")
      val n = col("n").cast("double")
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sumExact(x).as("sx"), sumExact(y).as("sy"),
          sumExact(x * y).as("sxy"),
          sumExact(x * x).as("sxx"), sumExact(y * y).as("syy"))
        .select(col("l_returnflag"),
          col("n"),
          round((col("sxy") / n - col("sx") / n * (col("sy") / n)), 6)
            .as("covar_pop"),
          round((col("sxy") / n - col("sx") / n * (col("sy") / n)) /
            (sqrt(col("sxx") / n - (col("sx") / n) * (col("sx") / n)) *
             sqrt(col("syy") / n - (col("sy") / n) * (col("sy") / n))), 6)
            .as("corr"))
        .orderBy(col("l_returnflag"))
    },
      """SELECT l_returnflag, n,
        |  ROUND(sxy / n - sx / n * (sy / n), 6) AS covar_pop,
        |  ROUND((sxy / n - sx / n * (sy / n)) /
        |        (sqrt(sxx / n - (sx / n) * (sx / n)) *
        |         sqrt(syy / n - (sy / n) * (sy / n))), 6) AS corr
        |FROM (
        |  SELECT l_returnflag, COUNT(*) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |ORDER BY l_returnflag""".stripMargin),

    // ----- Welch's unequal-variance t-test (Welch 1947) — the mean-shift
    // companion to a_ks_test's distribution-shape test: one conditional-
    // aggregation pass collects both groups' exact moments (counts +
    // decimal-carrier sums of x and x*x — the a_corr_stats discipline),
    // then t, the Welch-Satterthwaite dof, and the alpha=.05 decision are
    // a fixed IEEE op tree on bit-identical doubles, emitted RAW. One
    // scan, one 1-row reduce — trivially 100-TB-shaped
    // ----- Poisson bootstrap of the mean (Chamandy et al. 2012): all 32
    // deterministic resamples off ONE scan as stacked aggregates; weights
    // are Poisson(1) draws from pinned-integer hash thresholds (the DSIR
    // Gumbel discipline), value carrier is exact cents — the only float
    // op is the final BIGINT/BIGINT mean division (Drift scaladoc)
    Gate("a_bootstrap_poisson", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("event_type") === "purchase" && col("value").isNotNull)
        .select(col("event_id"),
          floor(col("value") * 100 + lit(0.5)).cast("long").as("v_cents"))
      graft.operators.Drift.poissonBootstrapMeans(ev, "event_id", "v_cents",
        b = 32)
    },
      // exact-integer moments in anchored cents (see the engine-side
      // comment: two float formulations measurably diverged); scale-0
      // sums cast to double are plain integer conversions — identical on
      graft.operators.Drift.poissonBootstrapOracleSql(b = 32)),

    Gate("a_welch_ttest", (s, dir) => {
      // EXACT-INTEGER moments in anchored cents: prices are 2-decimal, so
      // xi = floor(x*100 + 0.5) - 5_000_000 is an exact BIGINT identical
      // on both engines (multiply/add correctly rounded on identical
      // doubles, floor exact). Two earlier float formulations MEASURABLY
      // diverged here: scale-6 decimal sums of raw squares exceed 2^53
      // unscaled (the a_linreg decimal->double rule), and a /2^10-scaled
      // variant mass-produced exact scale-6 ties (x/1024 has 6 fractional
      // bits) where Spark's string-based decimal cast and DuckDB's binary
      // rounding disagree. Integer moments dodge both: sums are BIGINT /
      // DECIMAL(,0) — scale-0 casts to double are plain integer
      // conversions, correctly rounded everywhere. t/dof are shift/scale
      // invariant; means map back at emission
      val xi = (floor(col("l_extendedprice") * lit(100.0) + lit(0.5))
        .cast("long") - lit(5000000L))
      val fA = col("l_returnflag") === "A"
      val fR = col("l_returnflag") === "R"
      val m = Tables.lineitem(s, dir)
        .filter(col("l_returnflag").isin("A", "R"))
        .agg(
          count(when(fA, lit(1))).cast("double").as("n1"),
          count(when(fR, lit(1))).cast("double").as("n2"),
          sum(when(fA, xi)).cast("double").as("sx1"),
          sum(when(fR, xi)).cast("double").as("sx2"),
          sum(when(fA, (xi * xi).cast("decimal(20,0)"))).cast("double")
            .as("sxx1"),
          sum(when(fR, (xi * xi).cast("decimal(20,0)"))).cast("double")
            .as("sxx2"))
      val mu1 = col("sx1") / col("n1"); val mu2 = col("sx2") / col("n2")
      val v1 = (col("sxx1") - col("sx1") * col("sx1") / col("n1")) /
        (col("n1") - lit(1.0))
      val v2 = (col("sxx2") - col("sx2") * col("sx2") / col("n2")) /
        (col("n2") - lit(1.0))
      val se1 = v1 / col("n1"); val se2 = v2 / col("n2")
      // t and dof computed entirely in the scaled units (both are
      // shift/scale invariant statistics); means mapped back at emission
      val t = (mu1 - mu2) / sqrt(se1 + se2)
      val dof = (se1 + se2) * (se1 + se2) /
        (se1 * se1 / (col("n1") - lit(1.0)) +
          se2 * se2 / (col("n2") - lit(1.0)))
      m.select(col("n1").cast("long").as("n1"),
        col("n2").cast("long").as("n2"),
        (mu1 / lit(100.0) + lit(50000.0)).as("mean1"),
        (mu2 / lit(100.0) + lit(50000.0)).as("mean2"),
        t.as("t_stat"), dof.as("dof"),
        (abs(t) > lit(1.96)).as("reject_h0"))
    },
      // both engines — and the derived stats are a mirrored IEEE tree
      """WITH c AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100.0 + 0.5) AS BIGINT) - 5000000
        |      AS xi
        |  FROM lineitem WHERE l_returnflag IN ('A', 'R')
        |), m AS (
        |  SELECT
        |    CAST(COUNT(CASE WHEN l_returnflag = 'A' THEN 1 END) AS DOUBLE)
        |      AS n1,
        |    CAST(COUNT(CASE WHEN l_returnflag = 'R' THEN 1 END) AS DOUBLE)
        |      AS n2,
        |    CAST(CAST(SUM(CASE WHEN l_returnflag = 'A' THEN xi END)
        |      AS BIGINT) AS DOUBLE) AS sx1,
        |    CAST(CAST(SUM(CASE WHEN l_returnflag = 'R' THEN xi END)
        |      AS BIGINT) AS DOUBLE) AS sx2,
        |    CAST(SUM(CASE WHEN l_returnflag = 'A'
        |      THEN CAST(xi * xi AS DECIMAL(20,0)) END) AS DOUBLE) AS sxx1,
        |    CAST(SUM(CASE WHEN l_returnflag = 'R'
        |      THEN CAST(xi * xi AS DECIMAL(20,0)) END) AS DOUBLE) AS sxx2
        |  FROM c
        |), d AS (
        |  SELECT n1, n2, sx1 / n1 AS mu1, sx2 / n2 AS mu2,
        |    ((sxx1 - sx1 * sx1 / n1) / (n1 - 1.0)) / n1 AS se1,
        |    ((sxx2 - sx2 * sx2 / n2) / (n2 - 1.0)) / n2 AS se2
        |  FROM m
        |)
        |SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
        |  mu1 / 100.0 + 50000.0 AS mean1, mu2 / 100.0 + 50000.0 AS mean2,
        |  (mu1 - mu2) / sqrt(se1 + se2) AS t_stat,
        |  (se1 + se2) * (se1 + se2) /
        |    (se1 * se1 / (n1 - 1.0) + se2 * se2 / (n2 - 1.0)) AS dof,
        |  abs((mu1 - mu2) / sqrt(se1 + se2)) > 1.96 AS reject_h0
        |FROM d""".stripMargin),

    // ----- two-sample Kolmogorov-Smirnov drift test, EXACT: D =
    // max_x |F1(x) - F2(x)| restated over the common denominator n1*n2,
    // so the scan maximizes the INTEGER |c1*n2 - c2*n1| (c_i = cumulative
    // counts at each distinct value) and divides once at emission — IEEE
    // division of exact integers is correctly rounded, so ks_d is
    // bit-identical across engines with no carrier needed (all magnitudes
    // < 2^53 by construction: counts x counts). The decision bound is the
    // classic large-sample critical value c(.05)*sqrt((n1+n2)/(n1*n2)) —
    // sqrt is IEEE-exact on both engines. Shape: one value-keyed count
    // aggregate, one global cumsum window (at 100 TB: the two-pass
    // range-partitioned prefix-sum restatement, same note as
    // w_abc_classification), one 1-row broadcast of totals. Complements
    // quality_kl_drift (binned, distributional) with the exact
    // order-statistic test a feature-drift monitor actually runs
    Gate("a_ks_test", (s, dir) =>
      graft.operators.Drift.ksTest(
        Tables.orders(s, dir)
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW")),
        value = col("o_totalprice"),
        isA = col("o_orderpriority") === "1-URGENT"),
      // window SUMs cast to BIGINT before arithmetic: DuckDB widens them to
      // HUGEINT, which reaches the driver's pandas as float and breaks the
      // value hash (the round-4 packing-oracle lesson)
      """WITH s AS (
        |  SELECT o_totalprice AS v, o_orderpriority = '1-URGENT' AS a
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |), per AS (
        |  SELECT v, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS d1,
        |    SUM(CASE WHEN NOT a THEN 1 ELSE 0 END) AS d2
        |  FROM s GROUP BY v
        |), cum AS (
        |  SELECT
        |    CAST(SUM(d1) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c1,
        |    CAST(SUM(d2) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c2
        |  FROM per
        |), tot AS (
        |  SELECT CAST(SUM(d1) AS BIGINT) AS n1, CAST(SUM(d2) AS BIGINT) AS n2
        |  FROM per
        |), agg AS (
        |  SELECT n1, n2, CAST(MAX(ABS(c1 * n2 - c2 * n1)) AS BIGINT) AS ks_num
        |  FROM cum CROSS JOIN tot GROUP BY n1, n2
        |)
        |SELECT n1, n2, ks_num,
        |  CAST(ks_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) AS ks_d,
        |  CAST(ks_num AS DOUBLE) / CAST(n1 * n2 AS DOUBLE) >
        |    1.358 * sqrt(CAST(n1 + n2 AS DOUBLE) / CAST(n1 * n2 AS DOUBLE))
        |    AS reject_h0
        |FROM agg""".stripMargin),

    // ----- Pearson chi-squared independence test, EXACT: each cell term
    // restated over the common denominator as (O*N - R*C)^2 * 10^6 div
    // (N*R*C) in DECIMAL(38,0) integral arithmetic — bit-identical on any
    // engine by construction (the a_ks_test/a_welch_ttest discipline for
    // CATEGORICAL drift). One corpus-wide count aggregate; all remaining
    // math on the category-bounded cell grid. Critical value is
    // chi2(.05, dof=8) for the 5x3 grid, in micro-units
    Gate("a_chi2_test", (s, dir) =>
      graft.operators.Drift.chi2Test(
        Tables.events(s, dir)
          .filter(col("event_type").isNotNull && col("value").isNotNull),
        rowKey = col("event_type"),
        colKey = when(col("value") < 100.0, "low")
          .when(col("value") < 300.0, "mid").otherwise("high"),
        critMicro = 15507313L)
        .orderBy(col("rk"), col("ck")),
      // all-integer micro-unit restatement: HUGEINT products, one `//`
      // integral division per cell, window SUMs cast back to BIGINT (the
      // a_ks_test HUGEINT rule) — identical to Spark's DECIMAL(38,0)
      // `div` arithmetic by construction
      """WITH base AS (
        |  SELECT event_type AS rk,
        |    CASE WHEN value < 100 THEN 'low'
        |         WHEN value < 300 THEN 'mid' ELSE 'high' END AS ck
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |), counts AS (
        |  SELECT rk, ck, COUNT(*) AS o FROM base GROUP BY rk, ck
        |), grid AS (
        |  SELECT r.rk, c.ck
        |  FROM (SELECT DISTINCT rk FROM counts) r
        |  CROSS JOIN (SELECT DISTINCT ck FROM counts) c
        |), cells AS (
        |  SELECT g.rk, g.ck, CAST(COALESCE(o, 0) AS BIGINT) AS o
        |  FROM grid g LEFT JOIN counts USING (rk, ck)
        |), dims AS (
        |  SELECT (SELECT COUNT(DISTINCT rk) FROM counts) AS nr,
        |         (SELECT COUNT(DISTINCT ck) FROM counts) AS nc
        |), tot AS (
        |  SELECT rk, ck, o,
        |    CAST(SUM(o) OVER (PARTITION BY rk) AS BIGINT) AS r,
        |    CAST(SUM(o) OVER (PARTITION BY ck) AS BIGINT) AS c,
        |    CAST(SUM(o) OVER () AS BIGINT) AS n
        |  FROM cells
        |), terms AS (
        |  SELECT rk, ck, o,
        |    CAST(CAST(r AS HUGEINT) * c * 1000000 // n AS BIGINT) AS e_micro,
        |    CASE WHEN r = 0 OR c = 0 THEN 0
        |      ELSE CAST(
        |        (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) *
        |        (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) * 1000000
        |        // (CAST(n AS HUGEINT) * r * c) AS BIGINT) END AS term_micro
        |  FROM tot
        |)
        |SELECT rk, ck, o, e_micro, term_micro,
        |  CAST(SUM(term_micro) OVER () AS BIGINT) AS chi2_micro,
        |  (SELECT (nr - 1) * (nc - 1) FROM dims) AS dof,
        |  CAST(SUM(term_micro) OVER () AS BIGINT) > 15507313 AS reject_h0
        |FROM terms ORDER BY rk, ck""".stripMargin),

    // ----- Cramér's V effect size over the same contingency grid: at
    // corpus scale ANY dependence is chi2-significant, so the monitor
    // thresholds association STRENGTH — v2 stays integer micro-units
    // (chi2_micro div (n*min(r-1,c-1))); the one emitted v is a single
    // IEEE sqrt of that exact integer
    Gate("a_cramers_v", (s, dir) =>
      graft.operators.Drift.cramersV(
        Tables.events(s, dir)
          .filter(col("event_type").isNotNull && col("value").isNotNull),
        rowKey = col("event_type"),
        colKey = when(col("value") < 100.0, "low")
          .when(col("value") < 300.0, "mid").otherwise("high")),
      // the chi2 grid aggregated to effect size: v2 integer micro-units,
      // one IEEE sqrt at emission
      """WITH base AS (
        |  SELECT event_type AS rk,
        |    CASE WHEN value < 100 THEN 'low'
        |         WHEN value < 300 THEN 'mid' ELSE 'high' END AS ck
        |  FROM events WHERE event_type IS NOT NULL AND value IS NOT NULL
        |), counts AS (
        |  SELECT rk, ck, COUNT(*) AS o FROM base GROUP BY rk, ck
        |), grid AS (
        |  SELECT r.rk, c.ck
        |  FROM (SELECT DISTINCT rk FROM counts) r
        |  CROSS JOIN (SELECT DISTINCT ck FROM counts) c
        |), cells AS (
        |  SELECT g.rk, g.ck, CAST(COALESCE(o, 0) AS BIGINT) AS o
        |  FROM grid g LEFT JOIN counts USING (rk, ck)
        |), tot AS (
        |  SELECT rk, ck, o,
        |    CAST(SUM(o) OVER (PARTITION BY rk) AS BIGINT) AS r,
        |    CAST(SUM(o) OVER (PARTITION BY ck) AS BIGINT) AS c,
        |    CAST(SUM(o) OVER () AS BIGINT) AS n
        |  FROM cells
        |), terms AS (
        |  SELECT o,
        |    CASE WHEN r = 0 OR c = 0 THEN 0
        |      ELSE CAST(
        |        (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) *
        |        (CAST(o AS HUGEINT) * n - CAST(r AS HUGEINT) * c) * 1000000
        |        // (CAST(n AS HUGEINT) * r * c) AS BIGINT) END AS term_micro
        |  FROM tot
        |), agg AS (
        |  SELECT CAST(SUM(o) AS BIGINT) AS n,
        |    (SELECT COUNT(DISTINCT rk) FROM counts) AS nr,
        |    (SELECT COUNT(DISTINCT ck) FROM counts) AS nc,
        |    CAST(SUM(term_micro) AS BIGINT) AS chi2_micro
        |  FROM terms
        |)
        |SELECT n, nr, nc, chi2_micro,
        |  CAST(chi2_micro // (n * (LEAST(nr, nc) - 1)) AS BIGINT)
        |    AS v2_micro,
        |  sqrt(CAST(chi2_micro // (n * (LEAST(nr, nc) - 1)) AS DOUBLE)
        |    / 1000000.0) AS v
        |FROM agg""".stripMargin),

    // ----- first-digit Benford conformance audit (Newcomb 1881, Benford
    // 1938) — the classic fabricated-data screen for financial columns:
    // expected digit shares are the NINE shared micro-literals
    // round(log10(1+1/d)*1e6) (they telescope to exactly 1e6), the grid
    // is completed to all nine digits, and the chi2-style statistic is
    // exact integer micro-units end-to-end (DECIMAL(38,0)/HUGEINT
    // squares, one integral div per digit — the a_chi2_test discipline)
    Gate("audit_benford", (s, dir) => {
      import s.implicits._
      val probs = Seq(301030L, 176091L, 124939L, 96910L, 79181L, 66947L,
        57992L, 51153L, 45757L)
      val counts = Tables.orders(s, dir)
        .select(substring(floor(col("o_totalprice")).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("o"))
      val digits = (1 to 9).map(d => (d, probs(d - 1)))
        .toDF("digit", "p_micro")
      // the chi2 base is the count of rows with a SIGNIFICANT leading
      // digit (the 1-9 grid) — summing ALL of `counts` would include
      // digit-0/unparsable groups the grid never observes and silently
      // diverge from the oracle's SUM over the grid
      val grid0 = digits.join(counts, Seq("digit"), "left")
        .select(col("digit"), col("p_micro"),
          coalesce(col("o"), lit(0L)).as("o"))
      val grid = grid0
        .crossJoin(broadcast(grid0.agg(sum(col("o")).as("n"))))
        .withColumn("e_micro", expr("CAST(n AS BIGINT) * p_micro"))
        .withColumn("term_micro", expr(
          "(CAST(o AS DECIMAL(38,0)) * 1000000 - e_micro) *" +
          " (CAST(o AS DECIMAL(38,0)) * 1000000 - e_micro)" +
          " div CAST(e_micro AS DECIMAL(38,0))"))
      grid
        .select(col("digit"), col("o"), col("e_micro"), col("term_micro"),
          sum(col("term_micro"))
            .over(Window.partitionBy()).as("chi2_micro"))
        .withColumn("reject_h0", col("chi2_micro") > lit(15507313L))
        .orderBy(col("digit"))
    },
      // nine shared micro-literals round(log10(1+1/d)*1e6) (telescoping to
      // exactly 1e6); grid completed to all nine digits; HUGEINT squares +
      // one // per digit (the a_chi2_test discipline)
      """WITH firstdigit AS (
        |  SELECT TRY_CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
        |    AS VARCHAR), 1, 1) AS INTEGER) AS digit
        |  FROM orders
        |), counts AS (
        |  SELECT digit, COUNT(*) AS o FROM firstdigit GROUP BY digit
        |), probs AS (
        |  SELECT CAST(u.d AS INTEGER) AS digit,
        |    ([301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153,
        |      45757])[CAST(u.d AS INTEGER)] AS p_micro
        |  FROM UNNEST(range(1, 10)) u(d)
        |), grid AS (
        |  SELECT p.digit, CAST(p.p_micro AS BIGINT) AS p_micro,
        |    CAST(COALESCE(c.o, 0) AS BIGINT) AS o
        |  FROM probs p LEFT JOIN counts c ON p.digit = c.digit
        |), tot AS (
        |  SELECT digit, o, p_micro,
        |    CAST(SUM(o) OVER () AS BIGINT) AS n
        |  FROM grid
        |), terms AS (
        |  SELECT digit, o, n * p_micro AS e_micro,
        |    CAST((CAST(o AS HUGEINT) * 1000000 - n * p_micro) *
        |      (CAST(o AS HUGEINT) * 1000000 - n * p_micro)
        |      // CAST(n * p_micro AS HUGEINT) AS BIGINT) AS term_micro
        |  FROM tot
        |)
        |SELECT digit, o, e_micro, term_micro,
        |  CAST(SUM(term_micro) OVER () AS BIGINT) AS chi2_micro,
        |  CAST(SUM(term_micro) OVER () AS BIGINT) > 15507313 AS reject_h0
        |FROM terms ORDER BY digit""".stripMargin),

    // ----- Mann-Whitney U rank-sum test with midrank ties, EXACT in
    // half-unit integers (2*midrank = 2*lt + eq + 1): the nonparametric
    // mean-shift companion to a_welch_ttest, same sample split as
    // a_ks_test; z is a mirrored IEEE tree over the exact integer
    // moments, 2^53-guarded inside the emitted column
    Gate("a_mannwhitney", (s, dir) =>
      graft.operators.Drift.mannWhitneyU(
        Tables.orders(s, dir)
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW")),
        value = col("o_totalprice"),
        isA = col("o_orderpriority") === "1-URGENT"),
      // half-unit midranks keep every statistic integer (2*midrank =
      // 2*cumulative - cnt + 1); z is the identical IEEE op tree over the
      // exact moments cast to double
      """WITH s AS (
        |  SELECT o_totalprice AS v, o_orderpriority = '1-URGENT' AS a
        |  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
        |), per AS (
        |  SELECT v, SUM(CASE WHEN a THEN 1 ELSE 0 END) AS d1, COUNT(*) AS cnt
        |  FROM s GROUP BY v
        |), rk AS (
        |  SELECT d1, cnt,
        |    CAST(SUM(cnt) OVER (ORDER BY v
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      * 2 - cnt + 1 AS rank2
        |  FROM per
        |), m AS (
        |  SELECT CAST(SUM(d1) AS BIGINT) AS n1,
        |    CAST(SUM(cnt - d1) AS BIGINT) AS n2,
        |    CAST(SUM(d1 * rank2) AS BIGINT) AS r1_2,
        |    CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties
        |  FROM rk
        |), d AS (
        |  SELECT n1, n2, r1_2 - n1 * (n1 + 1) AS u1_2, ties,
        |    CAST(n1 AS DOUBLE) AS n1d, CAST(n2 AS DOUBLE) AS n2d
        |  FROM m
        |), z AS (
        |  SELECT n1, n2, u1_2, n1 * n2 * 2 - u1_2 AS u2_2,
        |    (CAST(u1_2 AS DOUBLE) - n1d * n2d) / 2.0 /
        |      sqrt(n1d * n2d / 12.0 * (n1d + n2d + 1.0 -
        |        CAST(ties AS DOUBLE) /
        |          ((n1d + n2d) * (n1d + n2d - 1.0)))) AS z
        |  FROM d
        |)
        |SELECT n1, n2, u1_2, u2_2, z, abs(z) > 1.96 AS reject_h0
        |FROM z""".stripMargin),

    // ----- Spearman rank correlation per event_type (value vs time —
    // the monotone-trend drift screen): exact integer midrank moments
    // via the doubled-midrank trick, rho as a mirrored IEEE tree over
    // BIGINT→double casts (correctly-rounded int64 conversions on both
    // engines; no decimal-rescale risk)
    Gate("a_spearman", (s, dir) =>
      graft.operators.Drift.spearman(Tables.events(s, dir),
          group = col("event_type"), x = col("ts"), y = col("value"))
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type")),
      graft.operators.Drift.spearmanOracleSql),

    // ----- Cohen's d effect size, URGENT vs LOW order values — the
    // "how big is the shift, in pooled standard deviations" companion to
    // a_mannwhitney's rejection decision: integer-unit quantized BIGINT
    // moments, one mirrored IEEE tree (int64->double casts are correctly
    // rounded at any magnitude — no decimal-rescale divergence)
    Gate("a_cohens_d", (s, dir) =>
      graft.operators.Drift.cohensD(
        Tables.orders(s, dir)
          .filter(col("o_orderpriority").isin("1-URGENT", "5-LOW")),
        value = col("o_totalprice"),
        isA = col("o_orderpriority") === "1-URGENT"),
      graft.operators.Drift.cohensDOracleSql),

    // ----- Wilcoxon signed-rank on the calendar-paired click/purchase
    // daily counts — the within-pair test completing the nonparametric
    // battery (MW two-sample, KW k-sample, this one paired): doubled
    // midranks over |diff|, zero diffs dropped, integer moments, the
    // tie-corrected normal z as one mirrored IEEE tree
    Gate("a_wilcoxon", (s, dir) =>
      graft.operators.Drift.wilcoxonSignedRank(Tables.events(s, dir),
        group = col("event_type"), ts = col("ts"),
        keyA = "click", keyB = "purchase"),
      graft.operators.Drift.wilcoxonOracleSql(
        keyA = "click", keyB = "purchase")),

    // ----- Kruskal-Wallis H across the five event_type value
    // distributions — the k-group extension of a_mannwhitney, completing
    // the nonparametric family: exact doubled-midrank BIGINT moments off
    // the value-keyed aggregate, the per-group square term floor-divided
    // once in the decimal carrier (deterministic sub-ULP quantization —
    // never a partition-ordered float sum), H and tie-corrected H as
    // mirrored IEEE trees
    Gate("a_kruskal_wallis", (s, dir) =>
      graft.operators.Drift.kruskalWallis(Tables.events(s, dir),
        group = col("event_type"), value = col("value")),
      graft.operators.Drift.kruskalWallisOracleSql),

    // ----- Kendall tau-b per event_type between the daily count and the
    // daily value mass — a_spearman's pairwise-ordering sibling, computed
    // on the calendar-bounded daily frame so the quadratic pair stage is
    // |days|² per group at ANY corpus scale; pair counts exact BIGINT,
    // tau one mirrored IEEE tree at emission
    Gate("a_kendall_tau", (s, dir) =>
      graft.operators.Drift.kendallDaily(Tables.events(s, dir),
          group = col("event_type"), ts = col("ts"), value = col("value"))
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type")),
      graft.operators.Drift.kendallOracleSql),

    // ----- Gini concentration of document length per lang (the corpus
    // report's "how concentrated are the bytes" line): rank-weighted
    // identity over the ascending sort, exact BIGINT moments, tie-order
    // invariant by construction; one rank window + one hash aggregate
    Gate("a_gini", (s, dir) =>
      graft.operators.Drift.gini(Tables.documents(s, dir),
          group = col("lang"), x = col("n_chars"), tie = col("doc_id"))
        .withColumnRenamed("g", "lang")
        .orderBy(col("lang")),
      graft.operators.Drift.giniOracleSql),

    // ----- daily-series autocorrelation at lags 1..7 per event_type (the
    // seasonality/burst screen): calendar-joined lag pairs — missing days
    // drop pairs, never mis-align — with exact BIGINT count moments and
    // the spearman-style IEEE emission tree
    Gate("ts_acf", (s, dir) =>
      graft.operators.TimeSeries.acfDaily(Tables.events(s, dir),
          group = col("event_type"), ts = col("ts"), maxLag = 7)
        .withColumnRenamed("g", "event_type")
        .orderBy(col("event_type"), col("lag")),
      graft.operators.TimeSeries.acfOracleSql(maxLag = 7)),

    // ----- lagged cross-correlation between the click and purchase daily
    // series at signed lags -3..3 (ts_acf's two-series sibling — the
    // lead/lag screen: the argmax lag estimates purchase's delay behind
    // click); same calendar-join exactness story
    Gate("ts_cross_corr", (s, dir) =>
      graft.operators.TimeSeries.crossCorrDaily(Tables.events(s, dir),
          group = col("event_type"), ts = col("ts"),
          keyA = "click", keyB = "purchase", maxLag = 3)
        .orderBy(col("lag")),
      graft.operators.TimeSeries.crossCorrOracleSql(
        keyA = "click", keyB = "purchase", maxLag = 3)),

    // ----- keyed pseudonymization (GDPR Art. 4(5)): user ids replaced by
    // seed-prefixed SHA-256 tokens — joins/group-bys still work on the
    // token, re-identification needs the seed; NULL ids stay NULL, never
    // a shared hash-of-empty bucket. Narrow codegen projection, no state
    Gate("privacy_pseudonymize", (s, dir) =>
      graft.operators.Privacy.pseudonymize(
          Tables.events(s, dir)
            .select(col("event_id"), col("user_id"), col("event_type")),
          idCol = "user_id", seed = "graft-pii-v1")
        .orderBy(col("event_id")),
      """SELECT event_id, event_type,
        |  sha256('graft-pii-v1|' || CAST(user_id AS VARCHAR)) AS token
        |FROM events ORDER BY event_id""".stripMargin),

    // ----- exact OLS per group from moment sums (the a_corr_stats
    // discipline): slope/intercept/R^2 of value vs time computed from six
    // decimal-carrier moments — native regr_slope accumulates doubles in
    // partition order (non-deterministic); moment sums are exact decimals
    // cast ONCE to double, the derived stats are a fixed IEEE op tree,
    // and emission quantizes through the DECIMAL(18,6) carrier, never
    // round(). One hash-partial groupBy at any scale
    Gate("a_linreg", (s, dir) => {
      // x = days since the dataset's FIRST day (integer, tens) — the
      // anchor keeps every moment's decimal sum under 2^53 unscaled,
      // where decimal->double casts are correctly rounded on BOTH
      // engines (measured: scale-12 / epoch-day moments exceed that and
      // DuckDB's unscaled-divide conversion drifts). Moments are exact:
      // integer sums, scale-6 decimal sums, and decimal*int products —
      // never a per-row decimal cast of a double product (also measured
      // diverging: the cast itself is a tie-rounding site). Derived
      // stats are a mirrored fixed IEEE op tree on bit-identical inputs,
      // emitted RAW (a DECIMAL(18,6) cast of an arbitrary quotient can
      // land a scale-7 tie where the engines' rounding styles disagree —
      // the third measured divergence on this query). r^2 is deliberately
      // absent: sum(y^2) needs scale-12 sums that break the 2^53 bound;
      // correlation is gated by a_corr_stats
      val base = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("value").isNotNull)
        .select(col("event_type"), to_date(col("ts")).as("day"),
          col("value").as("y"))
      val ev = base
        .crossJoin(broadcast(base.agg(min(col("day")).as("__d0"))))
        .select(col("event_type"),
          datediff(col("day"), col("__d0")).as("xi"), col("y"))
      val n = col("n").cast("double")
      val sNum = n * col("sxy") - col("sx") * col("sy")
      val sDen = n * col("sxx") - col("sx") * col("sx")
      val slope = sNum / sDen
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("xi")).cast("double").as("sx"),
          sumExact(col("y")).as("sy"),
          sum(dec(col("y")) * col("xi")).cast("double").as("sxy"),
          sum((col("xi") * col("xi")).cast("long")).cast("double").as("sxx"))
        .select(col("event_type"), col("n"),
          slope.as("slope"),
          ((col("sy") - slope * col("sx")) / n).as("intercept"))
        .orderBy(col("event_type"))
    },
      // the same anchored integer/scale-6 exact moments and mirrored op
      // tree; every decimal->double cast stays under 2^53 unscaled
      """WITH d0 AS (
        |  SELECT MIN(CAST(ts AS DATE)) AS d0 FROM events
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |), pts AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - d0 AS INTEGER) AS xi, value AS y
        |  FROM events CROSS JOIN d0
        |  WHERE ts IS NOT NULL AND value IS NOT NULL
        |), m AS (
        |  SELECT event_type, COUNT(*) AS n,
        |    CAST(SUM(xi) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(y AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(y AS DECIMAL(18,6)) * xi) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(xi * xi AS BIGINT)) AS DOUBLE) AS sxx
        |  FROM pts GROUP BY 1
        |), d AS (
        |  SELECT event_type, n, sx, sy,
        |    CAST(n AS DOUBLE) * sxy - sx * sy AS num,
        |    CAST(n AS DOUBLE) * sxx - sx * sx AS den
        |  FROM m
        |)
        |SELECT event_type, n,
        |  num / den AS slope,
        |  (sy - num / den * sx) / CAST(n AS DOUBLE) AS intercept
        |FROM d ORDER BY event_type""".stripMargin),

    // ----- ranking window family: NTILE quartiles + percent_rank +
    // cume_dist per event_type (deterministic: total order on
    // (value, event_id) within each partition)
    Gate("w_rank_family", (s, dir) => {
      // explicit NULLS FIRST: Spark defaults ascending windows to NULLS
      // FIRST but DuckDB to NULLS LAST — the gate must not depend on the
      // fixture happening to contain no NULL values
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").asc_nulls_first, col("event_id"))
      Tables.events(s, dir)
        .filter(col("event_id") % 20 === 0)
        .select(col("event_id"), col("event_type"), col("value"),
          ntile(4).over(w).as("quartile"),
          round(percent_rank().over(w), 6).as("pct_rank"),
          round(cume_dist().over(w), 6).as("cume"))
        .orderBy(col("event_id"))
    },
      """SELECT event_id, event_type, value,
        |  CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        |  ROUND(percent_rank() OVER w, 6) AS pct_rank,
        |  ROUND(cume_dist() OVER w, 6) AS cume
        |FROM events
        |WHERE event_id % 20 = 0
        |WINDOW w AS (PARTITION BY event_type ORDER BY value NULLS FIRST, event_id)
        |ORDER BY event_id""".stripMargin),

    // ----- non-hierarchical GROUPING SETS (rollup/cube cover the
    // hierarchical forms): two independent one-dimension aggregates in a
    // single pass, via the SQL front door — the DataFrame API deliberately
    // has no grouping-sets builder
    Gate("a_grouping_sets", (s, dir) => {
      Tables.orders(s, dir).createOrReplaceTempView("orders")
      s.sql("""SELECT o_orderstatus, o_orderpriority,
              |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
              |  COUNT(*) AS n
              |FROM orders
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
              |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST"""
        .stripMargin)
    },
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS total,
        |  COUNT(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin),

    // ----- ordered funnel analysis: view -> click -> purchase, each step
    // strictly after the previous one for the same user. ONE scan and ONE
    // user_id exchange: the three stage timestamps are stacked window mins
    // over the same partitioning (each referencing the previous stage's
    // result), then a single global distinct-count — no per-stage joins or
    // re-scans at any scale
    Gate("funnel_steps", (s, dir) => {
      val w = Window.partitionBy(col("user_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"))
        .withColumn("t_view",
          min(when(col("event_type") === "view", col("ts"))).over(w))
        .withColumn("t_click",
          min(when(col("event_type") === "click" && col("ts") > col("t_view"),
            col("ts"))).over(w))
        .withColumn("t_purchase",
          min(when(col("event_type") === "purchase" &&
            col("ts") > col("t_click"), col("ts"))).over(w))
        .agg(
          countDistinct(when(col("t_view").isNotNull, col("user_id"))).as("v"),
          countDistinct(when(col("t_click").isNotNull, col("user_id"))).as("c"),
          countDistinct(when(col("t_purchase").isNotNull, col("user_id")))
            .as("p"))
        .select(explode(array(
          struct(lit(1).as("step"), lit("view").as("stage"),
            col("v").as("users")),
          struct(lit(2).as("step"), lit("click").as("stage"),
            col("c").as("users")),
          struct(lit(3).as("step"), lit("purchase").as("stage"),
            col("p").as("users")))).as("r"))
        .select(col("r.step").as("step"), col("r.stage").as("stage"),
          col("r.users").as("users"))
        .orderBy(col("step"))
    },
      // the same stacked-window restatement: each stage's first-timestamp is
      // a per-user window min over the previous stage's result
      """WITH w1 AS (
        |  SELECT user_id, ts, event_type,
        |    MIN(CASE WHEN event_type = 'view' THEN ts END)
        |      OVER (PARTITION BY user_id) AS t_view
        |  FROM events
        |), w2 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts > t_view
        |                     THEN ts END)
        |    OVER (PARTITION BY user_id) AS t_click
        |  FROM w1
        |), w3 AS (
        |  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts > t_click
        |                     THEN ts END)
        |    OVER (PARTITION BY user_id) AS t_purchase
        |  FROM w2
        |), agg AS (
        |  SELECT
        |    COUNT(DISTINCT CASE WHEN t_view IS NOT NULL THEN user_id END) AS v,
        |    COUNT(DISTINCT CASE WHEN t_click IS NOT NULL THEN user_id END) AS c,
        |    COUNT(DISTINCT CASE WHEN t_purchase IS NOT NULL THEN user_id END) AS p
        |  FROM w3
        |)
        |SELECT 1 AS step, 'view' AS stage, v AS users FROM agg
        |UNION ALL
        |SELECT 2 AS step, 'click' AS stage, c AS users FROM agg
        |UNION ALL
        |SELECT 3 AS step, 'purchase' AS stage, p AS users FROM agg
        |ORDER BY step""".stripMargin),

    // ----- time-RANGE window frame (vs w_rolling_avg's ROWS frame): per
    // user, sum of activity in the trailing 10 minutes. Both engines frame
    // over the SAME integer epoch-microseconds order key, so peer-row and
    // boundary semantics are identical by construction
    Gate("w_range_frame", (s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-600L * 1000 * 1000, Window.currentRow)
      Tables.events(s, dir)
        .withColumn("ts_us", unix_micros(col("ts")))
        .select(col("user_id"), col("event_id"), col("ts"),
          sum(col("value").cast("decimal(18,6)")).over(w)
            .cast("double").as("range_sum"),
          count(lit(1)).over(w).as("n_in_range"))
        .orderBy(col("user_id"), col("ts"), col("event_id"))
    },
      """SELECT user_id, event_id, ts,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE) AS range_sum,
        |  COUNT(*) OVER w AS n_in_range
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY user_id, ts, event_id""".stripMargin),

    // ----- gaps-and-islands: maximal runs of CONSECUTIVE active days per
    // user via the row_number offset trick (day - rank is constant within
    // a run) — one window shuffle on the user key, then a metadata-sized
    // island aggregate
    Gate("w_islands", (s, dir) => {
      val days = Tables.events(s, dir)
        .select(col("user_id"), to_date(col("ts")).as("day"))
        .distinct()
      val w = Window.partitionBy(col("user_id")).orderBy(col("day"))
      days
        .withColumn("__grp", datediff(col("day"), lit("2024-01-01").cast("date"))
          - row_number().over(w))
        .groupBy(col("user_id"), col("__grp"))
        .agg(min(col("day")).as("start_day"), max(col("day")).as("end_day"),
          count(lit(1)).as("n_days"))
        .select(col("user_id"), col("start_day"), col("end_day"), col("n_days"))
        .orderBy(col("user_id"), col("start_day"))
    },
      """WITH days AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), marked AS (
        |  SELECT user_id, day,
        |    (day - DATE '2024-01-01')
        |      - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
        |  FROM days
        |)
        |SELECT user_id, MIN(day) AS start_day, MAX(day) AS end_day,
        |  COUNT(*) AS n_days
        |FROM marked GROUP BY user_id, grp
        |ORDER BY user_id, start_day""".stripMargin),

    // ----- dynamic pivot (r2 covers the fixed-column form): the pivot
    // columns are DISCOVERED from the data — a bounded driver-side
    // distinct (languages are metadata-cardinality by contract), then the
    // same one-shuffle pivot aggregate
    Gate("r3_pivot_dynamic", (s, dir) => {
      val docs = Tables.documents(s, dir)
      val langs = docs.select(col("lang")).distinct()
        .limit(100).collect().map(_.getString(0)).sorted.toSeq
      require(langs.length < 100, "pivot width must stay metadata-sized")
      docs.groupBy(col("source"))
        .pivot("lang", langs)
        .agg(count(lit(1)))
        .na.fill(0L, langs)
        .orderBy(col("source"))
    },
      // the oracle enumerates the same columns the engine DISCOVERS — the
      // driver's sorted-column compare then proves the discovery found
      // exactly the fixture's languages
      """SELECT source,
        |  COUNT(*) FILTER (WHERE lang = 'de') AS de,
        |  COUNT(*) FILTER (WHERE lang = 'en') AS en,
        |  COUNT(*) FILTER (WHERE lang = 'es') AS es,
        |  COUNT(*) FILTER (WHERE lang = 'fr') AS fr,
        |  COUNT(*) FILTER (WHERE lang = 'zh') AS zh
        |FROM documents GROUP BY source
        |ORDER BY source""".stripMargin),

    // ----- z-score outlier screen: per-type mean/std from EXACT moment
    // sums (the a_corr_stats determinism contract), outliers flagged at
    // |z| > 2 — group stats broadcast back, so the screen is one narrow
    // pass plus a metadata-sized join
    Gate("a_zscore_outliers", (s, dir) => {
      val x = col("value")
      val n = col("n").cast("double")
      val stats = Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sumExact(x).as("sx"), sumExact(x * x).as("sxx"))
        .select(col("event_type"),
          (col("sx") / n).as("mean"),
          sqrt(col("sxx") / n - (col("sx") / n) * (col("sx") / n)).as("std"))
      Tables.events(s, dir)
        .join(broadcast(stats), Seq("event_type"))
        .select(col("event_type"), col("event_id"),
          round((x - col("mean")) / col("std"), 6).as("z"))
        .filter(abs((x - col("mean")) / col("std")) > 2.0)
        .orderBy(col("event_id"))
    },
      """WITH stats AS (
        |  SELECT event_type,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*) AS mean,
        |    sqrt(CAST(SUM(CAST(value * value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
        |      - (CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*))
        |        * (CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)))
        |      AS std
        |  FROM events GROUP BY event_type
        |)
        |SELECT e.event_type, e.event_id,
        |  ROUND((e.value - s.mean) / s.std, 6) AS z
        |FROM events e JOIN stats s ON e.event_type = s.event_type
        |WHERE abs((e.value - s.mean) / s.std) > 2.0
        |ORDER BY e.event_id""".stripMargin),

    // ----- weighted mean (sum(x*w)/sum(w) per group), both sums through
    // the decimal carrier — one partial-aggregated shuffle
    Gate("a_weighted_avg", (s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(sumExact(col("l_extendedprice") * col("l_quantity")).as("swx"),
          sumExact(col("l_quantity")).as("sw"))
        .select(col("l_returnflag"),
          round(col("swx") / col("sw"), 6).as("weighted_avg_price"))
        .orderBy(col("l_returnflag")),
      """SELECT l_returnflag,
        |  ROUND(CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE)
        |    / CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE), 6)
        |    AS weighted_avg_price
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY l_returnflag""".stripMargin),

    // ----- share-of-total window (ratio_to_report): each order's share of
    // its customer's total spend — an unbounded partition frame over the
    // decimal-exact denominator
    Gate("w_share_of_total", (s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
      Tables.orders(s, dir)
        .filter(col("o_custkey") % 100 === 0)
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("o_totalprice").cast("decimal(18,6)")
            .cast("double") /
            sum(col("o_totalprice").cast("decimal(18,6)")).over(w)
              .cast("double"), 6).as("share"))
        .orderBy(col("o_custkey"), col("o_orderkey"))
    },
      """SELECT o_custkey, o_orderkey,
        |  ROUND(CAST(CAST(o_totalprice AS DECIMAL(18,6)) AS DOUBLE) /
        |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6)))
        |         OVER (PARTITION BY o_custkey) AS DOUBLE), 6) AS share
        |FROM orders
        |WHERE o_custkey % 100 = 0
        |ORDER BY o_custkey, o_orderkey""".stripMargin),

    // ----- equi-DEPTH histogram (a_histogram covers equi-width): quartile
    // buckets via ntile over a total (value, id) order, per-bucket
    // count/min/max — the sort is the one wide step, bucket stats
    // partial-aggregate
    Gate("a_histogram_eqdepth", (s, dir) => {
      val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, dir)
        .filter(col("o_orderkey") % 40 === 0)
        .select(col("o_orderkey"), col("o_totalprice"),
          ntile(4).over(w).as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy(col("bucket"))
    },
      """WITH bucketed AS (
        |  SELECT o_orderkey, o_totalprice,
        |    ntile(4) OVER (ORDER BY o_totalprice, o_orderkey) AS bucket
        |  FROM orders WHERE o_orderkey % 40 = 0
        |)
        |SELECT bucket, COUNT(*) AS n, MIN(o_totalprice) AS lo,
        |  MAX(o_totalprice) AS hi
        |FROM bucketed GROUP BY bucket
        |ORDER BY bucket""".stripMargin),

    // ----- date-spine gap fill: daily per-type counts with missing days
    // materialized as zero rows. The spine is days x event types —
    // metadata cardinality, broadcast side of the left join; the fact side
    // partial-aggregates before its one shuffle
    Gate("r_gap_fill", (s, dir) => {
      val ev = Tables.events(s, dir)
      val daily = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val spine = ev
        .agg(to_date(min(col("ts"))).as("d0"), to_date(max(col("ts"))).as("d1"))
        .select(explode(sequence(col("d0"), col("d1"))).as("day"))
      val types = ev.select(col("event_type")).distinct()
      broadcast(types.crossJoin(spine))
        .join(daily, Seq("event_type", "day"), "left")
        .select(col("event_type"), col("day"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("event_type"), col("day"))
    },
      """WITH span AS (
        |  SELECT CAST(MIN(ts) AS DATE) AS d0, CAST(MAX(ts) AS DATE) AS d1
        |  FROM events
        |), spine AS (
        |  SELECT CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
        |    AS day
        |  FROM span
        |), types AS (
        |  SELECT DISTINCT event_type FROM events
        |), daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS n
        |  FROM events GROUP BY event_type, day
        |)
        |SELECT t.event_type, s.day, COALESCE(d.n, 0) AS n
        |FROM types t CROSS JOIN spine s
        |LEFT JOIN daily d ON d.event_type = t.event_type AND d.day = s.day
        |ORDER BY t.event_type, s.day""".stripMargin),

    // ----- cohort retention: users grouped by signup week, counted in each
    // later activity week. Both sides key on user_id (cohort assignment +
    // activity distinct + join), so one shuffle partitioning serves the
    // whole matrix; the final (cohort, offset) agg is metadata-cardinality
    Gate("cohort_retention", (s, dir) => {
      val ev = Tables.events(s, dir)
      val cohorts = ev.filter(col("event_type") === "signup")
        .groupBy(col("user_id"))
        .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
      val activity = ev.select(col("user_id"),
          date_trunc("week", col("ts")).cast("date").as("activity_week"))
        .distinct()
      cohorts.join(activity, Seq("user_id"))
        .filter(col("activity_week") >= col("cohort_week"))
        .groupBy(col("cohort_week"),
          (datediff(col("activity_week"), col("cohort_week")) / 7)
            .cast("int").as("week_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("cohort_week"), col("week_offset"))
    },
      """WITH cohorts AS (
        |  SELECT user_id,
        |    CAST(date_trunc('week', MIN(ts)) AS DATE) AS cohort_week
        |  FROM events WHERE event_type = 'signup' GROUP BY user_id
        |), activity AS (
        |  SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS activity_week
        |  FROM events
        |)
        |SELECT c.cohort_week,
        |  CAST((a.activity_week - c.cohort_week) // 7 AS INTEGER) AS week_offset,
        |  COUNT(DISTINCT c.user_id) AS n_users
        |FROM cohorts c JOIN activity a ON c.user_id = a.user_id
        |WHERE a.activity_week >= c.cohort_week
        |GROUP BY c.cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin),

    // ----- quality-weighted importance sampling: each document survives
    // with probability equal to its own uniq-token ratio — the corpus
    // resampling step that upweights clean text. The keep decision is a
    // pure function of (doc_id, weight): deterministic across retries,
    // partition counts, and engines (Sampling.weightedHashSample)
    Gate("sample_weighted", (s, dir) => {
      val scored = Tables.documents(s, dir)
        .withColumn("__toks", TextFns.tokens(col("text")))
        .select(col("doc_id"),
          (size(array_distinct(col("__toks"))).cast("double") /
            when(col("__toks").isNotNull, size(col("__toks"))))
            .as("weight"))
      graft.operators.Sampling.weightedHashSample(
          scored, keyCol = "doc_id", weight = col("weight"), seed = "graft-w")
        .orderBy(col("doc_id"))
    },
      {
        val b = graft.operators.Sampling.bucketSql("doc_id", "graft-w")
        """WITH scored AS (
          |  SELECT doc_id,
          |    CAST(len(list_distinct(string_split_regex(trim(text), '\s+'))) AS DOUBLE)
          |      / len(string_split_regex(trim(text), '\s+')) AS weight
          |  FROM documents
          |)
          |SELECT doc_id, weight FROM scored
          |WHERE BUCKET < CAST(floor(weight * 8192) AS BIGINT)
          |ORDER BY doc_id""".stripMargin.replace("BUCKET", b)
      }),

    // ----- exact per-group mode with a deterministic tiebreak (smallest
    // value wins): count-per-(group,value) partial-aggregates map-side, so
    // the shuffle carries one row per distinct pair, then a k-row window
    // picks the winner — no sort of the raw table at any scale
    Gate("a_mode", (s, dir) => {
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(col("n").desc, col("l_quantity").asc)
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("n").as("n_occurrences"))
        .orderBy(col("l_returnflag"))
    },
      """WITH counts AS (
        |  SELECT l_returnflag, l_quantity, COUNT(*) AS n
        |  FROM lineitem GROUP BY l_returnflag, l_quantity
        |), ranked AS (
        |  SELECT l_returnflag, l_quantity, n,
        |    ROW_NUMBER() OVER (PARTITION BY l_returnflag
        |                       ORDER BY n DESC, l_quantity ASC) AS rn
        |  FROM counts
        |)
        |SELECT l_returnflag, l_quantity AS mode_qty, n AS n_occurrences
        |FROM ranked WHERE rn = 1
        |ORDER BY l_returnflag""".stripMargin),

    // ----- higher-order array functions (lambda pipeline, zero explode):
    // per-vector stats via transform/filter/aggregate directly on the
    // embedding array — integer-exact metrics (floor-milli units) so the
    // fold order can't perturb a hash gate. The array never unnests, so
    // the op is a narrow map at any scale.
    Gate("f_higher_order", (s, dir) => {
      val milli = transform(col("embedding"),
        x => floor(abs(x.cast("double")) * 1000).cast("long"))
      Tables.embeddings(s, dir)
        .filter(col("vec_id") % 20 === 0)
        .select(col("vec_id"),
          size(filter(col("embedding"), x => x > 0)).as("n_pos"),
          aggregate(milli, lit(0L), (acc, x) => acc + x).as("l1_milli"),
          array_max(milli).as("max_milli"))
        .orderBy(col("vec_id"))
    },
      """WITH milli AS (
        |  SELECT vec_id,
        |    list_transform(embedding,
        |      x -> CAST(floor(abs(CAST(x AS DOUBLE)) * 1000) AS BIGINT)) AS mv,
        |    embedding
        |  FROM embeddings WHERE vec_id % 20 = 0
        |)
        |SELECT vec_id,
        |  CAST(length(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
        |  list_reduce(list_prepend(CAST(0 AS BIGINT), mv),
        |    (acc, x) -> acc + x) AS l1_milli,
        |  list_max(mv) AS max_milli
        |FROM milli ORDER BY vec_id""".stripMargin),

    // ----- count-min-sketch heavy hitters: frequency estimates from a
    // bounded depth×width grid (fixed memory at ANY key cardinality), MIN
    // over a key's buckets; the gate pins the estimates exactly AND the
    // sketch's one-sided error guarantee (never undercounts)
    Gate("a_heavy_hitters", (s, dir) => {
      val ev = Tables.events(s, dir).select(col("user_id"))
      val grid = graft.operators.CountMin.sketch(ev, "user_id",
        depth = 3, width = 256)
      val top = ev.groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(5)
      graft.operators.CountMin.estimate(top.select(col("user_id")),
          "user_id", grid, depth = 3, width = 256)
        .join(broadcast(top), Seq("user_id"))
        .select(col("user_id"), col("n_exact"), col("cms_estimate"),
          (col("cms_estimate") >= col("n_exact")).as("never_undercounts"))
        .orderBy(col("n_exact").desc, col("user_id"))
    },
      {
        val bucket = graft.functions.SketchOracleSql.fnvFold(
          "'cms-' || CAST(j AS VARCHAR) || '|' || CAST(user_id AS VARCHAR)")
        s"""WITH lanes AS (
           |  SELECT user_id, j,
           |    CAST($bucket % 256 AS BIGINT) AS bucket
           |  FROM (SELECT DISTINCT user_id FROM events) u
           |  CROSS JOIN (SELECT UNNEST(range(0, 3)) AS j)
           |), grid AS (
           |  SELECT l.j, l.bucket, COUNT(*) AS n
           |  FROM events e JOIN lanes l ON e.user_id = l.user_id
           |  GROUP BY l.j, l.bucket
           |), top AS (
           |  SELECT user_id, COUNT(*) AS n_exact
           |  FROM events GROUP BY user_id
           |  ORDER BY n_exact DESC, user_id LIMIT 5
           |), est AS (
           |  SELECT t.user_id, t.n_exact, MIN(g.n) AS cms_estimate
           |  FROM top t
           |  JOIN lanes l ON l.user_id = t.user_id
           |  JOIN grid g ON g.j = l.j AND g.bucket = l.bucket
           |  GROUP BY t.user_id, t.n_exact
           |)
           |SELECT user_id, n_exact, cms_estimate,
           |  cms_estimate >= n_exact AS never_undercounts
           |FROM est ORDER BY n_exact DESC, user_id""".stripMargin
      }),

    // ----- bounded-horizon EWMA (α=0.3 over the last 8 observations): the
    // time-series smoother as ONE partitioned window with 8 stacked lags —
    // exact rational weights 7^j/10^j carried in decimals (no pow(), no
    // libm drift), final IEEE division only at emission
    Gate("w_ewma", (s, dir) => {
      val wspec = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      val base = Tables.events(s, dir)
        .filter(col("event_id") % 20 === 0)
        .select(col("event_type"), col("event_id"),
          col("value").cast("decimal(18,6)").as("v"))
      val terms = (0 until EwmaK).map { j =>
        val lagV = if (j == 0) col("v") else lag(col("v"), j).over(wspec)
        (coalesce(lagV * lit(ewmaWeightNum(j)), lit(0).cast("decimal(18,6)")),
          when(lagV.isNotNull, lit(ewmaWeightNum(j))).otherwise(lit(0L)))
      }
      base.select(col("event_type"), col("event_id"),
          (terms.map(_._1).reduce(_ + _).cast("double") /
            terms.map(_._2).reduce(_ + _).cast("double")).as("ewma"))
        .orderBy(col("event_type"), col("event_id"))
    },
      {
        val num = (0 until EwmaK).map { j =>
          val v = if (j == 0) "v" else s"LAG(v, $j) OVER w"
          s"COALESCE($v * ${ewmaWeightNum(j)}, 0)"
        }.mkString(" + ")
        val den = (0 until EwmaK).map { j =>
          val v = if (j == 0) "v" else s"LAG(v, $j) OVER w"
          s"(CASE WHEN $v IS NOT NULL THEN ${ewmaWeightNum(j)} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH base AS (
           |  SELECT event_type, event_id, CAST(value AS DECIMAL(18,6)) AS v
           |  FROM events WHERE event_id % 20 = 0
           |), lagged AS (
           |  SELECT event_type, event_id,
           |    $num AS num,
           |    $den AS den
           |  FROM base WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
           |)
           |SELECT event_type, event_id,
           |  CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS ewma
           |FROM lagged ORDER BY event_type, event_id""".stripMargin
      }),

    // ----- date-spine resample + linear interpolation: regularize an
    // irregular daily series (planted sparsity: only days 1,4,...,28
    // observed) onto the dense per-type spine — the pre-processing that
    // makes rolling/EWMA spacing assumptions true on real feeds. Daily
    // means via the decimal carrier; interpolation is fixed-shape IEEE
    // arithmetic, bit-identical in DuckDB
    // ----- Holt linear-trend smoothing per event type over the daily
    // series: final level/trend + 3-step forecast; sequential in time,
    // parallel across keys. Fixed-point micro-unit state — exact integer
    // recurrence, engine-identical by construction (TimeSeries
    // .holtLinear scaladoc records the two float restatements that
    // measurably diverged cross-engine); oracle = recursive CTE
    Gate("ts_holt_linear", (s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(sum((col("value").cast("decimal(18,6)") * 1000000)
            .cast("long")).as("__sm"),
          count(col("value")).as("__cnt"))
        // exact floor(micro_sum / count): the daily mean in micro-units
        .select(col("event_type"), col("day"),
          ((col("__sm") - pmod(col("__sm"), col("__cnt"))) / col("__cnt"))
            .cast("long").as("v"))
      graft.operators.TimeSeries.holtLinear(daily)
        .orderBy(col("event_type"))
    },
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS sm,
        |    COUNT(value) AS cnt
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |), dv AS (
        |  SELECT event_type, day,
        |    CAST((sm - (((sm % cnt) + cnt) % cnt)) / cnt AS BIGINT) AS v
        |  FROM daily
        |), seq AS (
        |  SELECT event_type, v,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i
        |  FROM dv
        |), nn AS (
        |  SELECT event_type, MAX(i) AS n FROM seq GROUP BY 1
        |), rec AS (
        |  SELECT s2.event_type, CAST(2 AS BIGINT) AS i,
        |    s2.v AS l, s2.v - s1.v AS b
        |  FROM seq s1 JOIN seq s2
        |    ON s1.event_type = s2.event_type AND s1.i = 1 AND s2.i = 2
        |  UNION ALL
        |  SELECT event_type, i, l,
        |    CAST((l - lo + bo - ((((l - lo + bo) % 2) + 2) % 2)) / 2
        |      AS BIGINT) AS b
        |  FROM (
        |    SELECT r.event_type, r.i + 1 AS i,
        |      CAST((s.v + r.l + r.b
        |            - ((((s.v + r.l + r.b) % 2) + 2) % 2)) / 2 AS BIGINT) AS l,
        |      r.l AS lo, r.b AS bo
        |    FROM rec r JOIN seq s
        |      ON s.event_type = r.event_type AND s.i = r.i + 1)
        |)
        |SELECT r.event_type, CAST(nn.n AS INTEGER) AS n_obs,
        |  CAST(r.l AS DOUBLE) / CAST(1000000 AS DOUBLE) AS level,
        |  CAST(r.b AS DOUBLE) / CAST(1000000 AS DOUBLE) AS trend,
        |  CAST(r.l + 3 * r.b AS DOUBLE) / CAST(1000000 AS DOUBLE)
        |    AS forecast_3
        |FROM rec r JOIN nn ON r.event_type = nn.event_type AND r.i = nn.n
        |WHERE nn.n >= 2
        |ORDER BY r.event_type""".stripMargin),

    // ----- classical additive decomposition of the same daily series:
    // centered-7-day-MA trend + day-of-week seasonal + residual, all in
    // exact micro-unit integer arithmetic (ts_holt_linear's discipline)
    Gate("ts_seasonal_decompose", (s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(sum((col("value").cast("decimal(18,6)") * 1000000)
            .cast("long")).as("__sm"),
          count(col("value")).as("__cnt"))
        .select(col("event_type"), col("day"),
          ((col("__sm") - pmod(col("__sm"), col("__cnt"))) / col("__cnt"))
            .cast("long").as("v"))
      graft.operators.TimeSeries.seasonalDecompose(daily)
        .orderBy(col("event_type"), col("day"))
    },
      // same integer micro-unit pipeline: exact window sums (BIGINT), floor
      // division via the pmod identity, day-of-week as epoch-days mod 7
      // (dayofweek() anchors differ between engines); /1e6 only at emission
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS sm,
        |    COUNT(value) AS cnt
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |), dv AS (
        |  SELECT event_type, day,
        |    CAST((sm - (((sm % cnt) + cnt) % cnt)) / cnt AS BIGINT) AS v
        |  FROM daily
        |), win AS (
        |  SELECT event_type, day, v,
        |    SUM(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
        |    COUNT(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
        |  FROM dv
        |), det AS (
        |  SELECT event_type, day, v,
        |    CAST((s7 - (((s7 % 7) + 7) % 7)) / 7 AS BIGINT) AS trend_m,
        |    v - CAST((s7 - (((s7 % 7) + 7) % 7)) / 7 AS BIGINT) AS detr,
        |    (((CAST(day - DATE '1970-01-01' AS BIGINT) % 7) + 7) % 7) AS dow
        |  FROM win WHERE c7 = 7
        |), sea AS (
        |  SELECT event_type, dow,
        |    CAST((SUM(detr) - (((SUM(detr) % COUNT(*)) + COUNT(*)) % COUNT(*)))
        |      / COUNT(*) AS BIGINT) AS seasonal_m
        |  FROM det GROUP BY 1, 2
        |)
        |SELECT d.event_type, d.day,
        |  CAST(d.v AS DOUBLE) / CAST(1000000 AS DOUBLE) AS value,
        |  CAST(d.trend_m AS DOUBLE) / CAST(1000000 AS DOUBLE) AS trend,
        |  CAST(s.seasonal_m AS DOUBLE) / CAST(1000000 AS DOUBLE) AS seasonal,
        |  CAST(d.detr - s.seasonal_m AS DOUBLE) / CAST(1000000 AS DOUBLE)
        |    AS residual
        |FROM det d JOIN sea s ON d.event_type = s.event_type AND d.dow = s.dow
        |ORDER BY d.event_type, d.day""".stripMargin),

    // ----- ABC / Pareto classification of brands by revenue share: rank
    // by revenue, cumulative share thresholds 80/95% split the catalog
    // into A/B/C — the inventory-policy classifier every warehouse runs.
    // The cumulative sum stays DECIMAL through the window (a double
    // cumsum's addition order is engine-internal — DuckDB's windowed SUM
    // uses segment trees); one IEEE division per row at emission. The
    // global window is |brands|-sized (25 here) — bounded key cardinality
    // by construction, never corpus-sized
    Gate("w_abc_classification", (s, dir) => {
      val rev = Tables.lineitem(s, dir)
        .join(Tables.part(s, dir), col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(18,6)")).as("__rev"))
      val w = Window.orderBy(col("__rev").desc, col("p_brand"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val share = col("__cum").cast("double") / col("__tot").cast("double")
      rev
        .withColumn("__cum", sum(col("__rev")).over(w))
        .crossJoin(broadcast(rev.agg(sum(col("__rev")).as("__tot"))))
        .select(col("p_brand"), col("__rev").cast("double").as("revenue"),
          share.as("cum_share"),
          when(share <= 0.8, "A").when(share <= 0.95, "B").otherwise("C")
            .as("abc_class"))
        .orderBy(col("revenue").desc, col("p_brand"))
    },
      // decimal stays exact through the cumulative window on both engines;
      // the share division and threshold compares are the same IEEE ops
      """WITH rev AS (
        |  SELECT p_brand,
        |    SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6)))
        |      AS r
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  GROUP BY 1
        |), tot AS (SELECT SUM(r) AS t FROM rev),
        |c AS (
        |  SELECT p_brand, r,
        |    SUM(r) OVER (ORDER BY r DESC, p_brand
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rev
        |)
        |SELECT p_brand, CAST(r AS DOUBLE) AS revenue,
        |  CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) AS cum_share,
        |  CASE WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.8 THEN 'A'
        |       WHEN CAST(cum AS DOUBLE) / CAST(t AS DOUBLE) <= 0.95 THEN 'B'
        |       ELSE 'C' END AS abc_class
        |FROM c CROSS JOIN tot
        |ORDER BY revenue DESC, p_brand""".stripMargin),

    // ----- cumulative DISTINCT users per event type over time. A naive
    // COUNT(DISTINCT) OVER (ROWS UNBOUNDED PRECEDING) re-scans growing
    // state per row (and Spark refuses it outright); the scalable
    // restatement is the first-occurrence transform — each user
    // contributes exactly at MIN(day), so the running total of per-day
    // first-seen counts IS the cumulative distinct count. One (type,
    // user) aggregate + one tiny per-day window; no distinct state grows
    // with history at any scale
    Gate("w_cumulative_distinct", (s, dir) => {
      val perDay = Tables.events(s, dir)
        .filter(col("ts").isNotNull && col("user_id").isNotNull)
        .groupBy(col("event_type"), col("user_id"))
        .agg(min(to_date(col("ts"))).as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("new_users"))
      perDay
        .withColumn("cum_users",
          sum(col("new_users")).over(Window.partitionBy(col("event_type"))
            .orderBy(col("day"))
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy(col("event_type"), col("day"))
    },
      // the same first-occurrence restatement; the window SUM is CAST to
      // BIGINT (DuckDB windowed SUM yields HUGEINT, which breaks the
      // driver's value hash — the round-4 lesson)
      """WITH firsts AS (
        |  SELECT event_type, user_id, MIN(CAST(ts AS DATE)) AS day
        |  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
        |  GROUP BY 1, 2
        |), perday AS (
        |  SELECT event_type, day, COUNT(*) AS new_users
        |  FROM firsts GROUP BY 1, 2
        |)
        |SELECT event_type, day, new_users,
        |  CAST(SUM(new_users) OVER (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_users
        |FROM perday ORDER BY event_type, day""".stripMargin),

    // ----- Hampel/MAD robust anomaly flags over the decomposition
    // residuals: 50%-breakdown median/MAD threshold, exact micro-unit
    // residuals, IEEE-exact median interpolation on both engines
    Gate("ts_anomaly_mad", (s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(sum((col("value").cast("decimal(18,6)") * 1000000)
            .cast("long")).as("__sm"),
          count(col("value")).as("__cnt"))
        .select(col("event_type"), col("day"),
          ((col("__sm") - pmod(col("__sm"), col("__cnt"))) / col("__cnt"))
            .cast("long").as("v"))
      graft.operators.TimeSeries.madAnomalies(daily)
        .orderBy(col("event_type"), col("day"))
    },
      // decompose CTE chain + two medians; DuckDB and Spark both define
      // median as the midpoint-interpolated 0.5-percentile in DOUBLE, and
      // the inputs are exact integers/half-integers, so the threshold
      // comparison is bit-identical
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS sm,
        |    COUNT(value) AS cnt
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |), dv AS (
        |  SELECT event_type, day,
        |    CAST((sm - (((sm % cnt) + cnt) % cnt)) / cnt AS BIGINT) AS v
        |  FROM daily
        |), win AS (
        |  SELECT event_type, day, v,
        |    SUM(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS s7,
        |    COUNT(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS c7
        |  FROM dv
        |), det AS (
        |  SELECT event_type, day, v,
        |    v - CAST((s7 - (((s7 % 7) + 7) % 7)) / 7 AS BIGINT) AS detr,
        |    (((CAST(day - DATE '1970-01-01' AS BIGINT) % 7) + 7) % 7) AS dow
        |  FROM win WHERE c7 = 7
        |), sea AS (
        |  SELECT event_type, dow,
        |    CAST((SUM(detr) - (((SUM(detr) % COUNT(*)) + COUNT(*)) % COUNT(*)))
        |      / COUNT(*) AS BIGINT) AS seasonal_m
        |  FROM det GROUP BY 1, 2
        |), res AS (
        |  SELECT d.event_type, d.day, d.detr - s.seasonal_m AS resid
        |  FROM det d JOIN sea s ON d.event_type = s.event_type AND d.dow = s.dow
        |), med AS (
        |  SELECT event_type, median(resid) AS med FROM res GROUP BY 1
        |), dev AS (
        |  SELECT r.event_type, r.day, r.resid, r.resid - m.med AS dev
        |  FROM res r JOIN med m ON r.event_type = m.event_type
        |), mad AS (
        |  SELECT event_type, median(abs(dev)) AS mad FROM dev GROUP BY 1
        |)
        |SELECT d.event_type, d.day,
        |  CAST(d.resid AS DOUBLE) / CAST(1000000 AS DOUBLE) AS residual,
        |  d.dev / CAST(1000000 AS DOUBLE) AS deviation,
        |  m.mad / CAST(1000000 AS DOUBLE) AS mad,
        |  abs(d.dev) > CAST(3 AS DOUBLE) * m.mad AS is_anomaly
        |FROM dev d JOIN mad m ON d.event_type = m.event_type
        |ORDER BY d.event_type, d.day""".stripMargin),

    // ----- offline CUSUM change-point per type over the same daily
    // series: the max-|CUSUM| split restated over the common denominator
    // (D_k = n*P_k - k*T) so the detector is exact BIGINT end-to-end —
    // "when did this series shift" for a drift monitor, ties to the
    // earliest day
    Gate("ts_changepoint", (s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(sum((col("value").cast("decimal(18,6)") * 1000000)
            .cast("long")).as("__sm"),
          count(col("value")).as("__cnt"))
        .select(col("event_type"), col("day"),
          ((col("__sm") - pmod(col("__sm"), col("__cnt"))) / col("__cnt"))
            .cast("long").as("v"))
      graft.operators.TimeSeries.cusumChangePoint(daily)
        .orderBy(col("event_type"))
    },
      // last_value(... IGNORE NULLS) carries (day, value) structs exactly
      // like the Spark windows; the interpolation expression is the same
      // fixed-shape IEEE arithmetic on both engines
      // identical FIXED-POINT recurrence unrolled as a RECURSIVE CTE — NOT
      // list_reduce, whose struct-state lambdas measurably re-order float
      // arithmetic (TimeSeries.holtLinear scaladoc). State is integer
      // micro-units with floor-halving (pmod spelled `((x%2)+2)%2`), so
      // every recursive step is exact BIGINT arithmetic on both engines;
      // doubles appear only at the final /1e6 emission
      // the identical micro-mean daily CTE as ts_holt_linear; the detector
      // itself is integer window arithmetic (BIGINT casts on every window
      // aggregate — the a_ks_test HUGEINT rule)
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    SUM(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT)) AS sm,
        |    COUNT(value) AS cnt
        |  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
        |), dv AS (
        |  SELECT event_type, day,
        |    CAST((sm - (((sm % cnt) + cnt) % cnt)) / cnt AS BIGINT) AS v
        |  FROM daily
        |), seq AS (
        |  SELECT event_type, day, v,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day)
        |      AS BIGINT) AS k,
        |    CAST(SUM(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS p,
        |    CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n,
        |    CAST(SUM(v) OVER (PARTITION BY event_type) AS BIGINT) AS t
        |  FROM dv
        |), scored AS (
        |  SELECT event_type, day, k, p, n, t, abs(n * p - k * t) AS d
        |  FROM seq WHERE k < n
        |), top AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
        |    ORDER BY d DESC, k) AS rn
        |  FROM scored
        |)
        |SELECT event_type, n, k AS cp_idx, day AS cp_day, d AS d_max,
        |  CAST(p // k AS BIGINT) AS mean_before_micro,
        |  CAST((t - p) // (n - k) AS BIGINT) AS mean_after_micro
        |FROM top WHERE rn = 1 ORDER BY event_type""".stripMargin),

    Gate("ts_resample", (s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("ts").isNotNull)
        .withColumn("day", to_date(col("ts")))
        .filter(dayofmonth(col("day")) % 3 === 1)
        .groupBy(col("event_type"), col("day"))
        .agg(avgExact(col("value")).as("v"))
      graft.operators.TimeSeries.resampleLinear(daily)
        .orderBy(col("event_type"), col("day"))
    },
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / COUNT(value) AS v
        |  FROM events WHERE ts IS NOT NULL
        |    AND day(CAST(ts AS DATE)) % 3 = 1
        |  GROUP BY 1, 2
        |), spine AS (
        |  SELECT event_type,
        |    CAST(unnest(generate_series(mn, mx, INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM (SELECT event_type, MIN(day) AS mn, MAX(day) AS mx
        |        FROM daily GROUP BY 1)
        |), j AS (
        |  SELECT s.event_type, s.day, d.v
        |  FROM spine s LEFT JOIN daily d USING (event_type, day)
        |), w AS (
        |  SELECT event_type, day, v,
        |    last_value(CASE WHEN v IS NOT NULL
        |        THEN struct_pack(d := day, v := v) END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY day
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p,
        |    last_value(CASE WHEN v IS NOT NULL
        |        THEN struct_pack(d := day, v := v) END IGNORE NULLS)
        |      OVER (PARTITION BY event_type ORDER BY day DESC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n
        |  FROM j
        |)
        |SELECT event_type, day,
        |  CASE WHEN v IS NOT NULL THEN v
        |    ELSE p.v + (n.v - p.v) *
        |      (CAST(day - p.d AS DOUBLE) / CAST(n.d - p.d AS DOUBLE))
        |  END AS filled,
        |  v IS NULL AS interpolated
        |FROM w ORDER BY event_type, day""".stripMargin),

    // ----- window value-function family: LEAD, running FIRST_VALUE,
    // forward LAST_VALUE, and NTH_VALUE over explicit row frames — pure
    // value picks on a unique order key, so cross-engine determinism needs
    // no carriers
    Gate("w_value_family", (s, dir) => {
      val w = Window.partitionBy(col("event_type")).orderBy(col("event_id"))
      Tables.events(s, dir)
        .filter(col("event_id") % 20 === 0)
        .select(col("event_type"), col("event_id"), col("value"),
          lead(col("value"), 2).over(w).as("lead2"),
          first(col("value")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
            .as("first_cum"),
          last(col("value")).over(
            w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
            .as("last_fwd"),
          nth_value(col("value"), 3).over(
            w.rowsBetween(Window.unboundedPreceding,
              Window.unboundedFollowing)).as("third_of_type"))
        .orderBy(col("event_type"), col("event_id"))
    },
      """SELECT event_type, event_id, value,
        |  LEAD(value, 2) OVER w AS lead2,
        |  FIRST_VALUE(value) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND CURRENT ROW) AS first_cum,
        |  LAST_VALUE(value) OVER (w ROWS BETWEEN CURRENT ROW
        |    AND UNBOUNDED FOLLOWING) AS last_fwd,
        |  NTH_VALUE(value, 3) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
        |    AND UNBOUNDED FOLLOWING) AS third_of_type
        |FROM events WHERE event_id % 20 = 0
        |WINDOW w AS (PARTITION BY event_type ORDER BY event_id)
        |ORDER BY event_type, event_id""".stripMargin),

    // ----- conditional/selective aggregate family: count_if, bool_and,
    // bool_or, max_by/min_by (arg-max on the unique event_id key, so the
    // pick is deterministic) — one agg pass, no self-joins
    Gate("a_agg_family", (s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(count_if(col("value") > 100).as("n_big"),
          bool_and(col("value").isNotNull).as("all_valued"),
          bool_or(col("value") > 900).as("any_huge"),
          max_by(unix_micros(col("ts")), col("event_id")).as("us_of_last"),
          min_by(unix_micros(col("ts")), col("event_id")).as("us_of_first"))
        .orderBy(col("event_type")),
      """SELECT event_type,
        |  COUNT(*) FILTER (WHERE value > 100) AS n_big,
        |  BOOL_AND(value IS NOT NULL) AS all_valued,
        |  BOOL_OR(value > 900) AS any_huge,
        |  MAX_BY(epoch_us(ts), event_id) AS us_of_last,
        |  MIN_BY(epoch_us(ts), event_id) AS us_of_first
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // ----- re-aggregatable sketch partials (the warehouse rollup
    // discipline): per-(type, day) HLL sketches stored as binary state,
    // merged per type with hll_union_agg — distinct-count rollups without
    // re-reading the fact table. Estimate gated by a 5% band around the
    // exact count (same contract as a_approx_distinct: the sketch bytes
    // are engine-internal by design)
    Gate("a_hll_partials", (s, dir) => {
      val partials = Tables.events(s, dir)
        .withColumn("day", to_date(col("ts")))
        .groupBy(col("event_type"), col("day"))
        .agg(hll_sketch_agg(col("user_id")).as("sk"),
          countDistinct(col("user_id")).as("__d"))
      val exact = Tables.events(s, dir).groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("exact_users"))
      partials.groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk")))
          .as("__approx"), count(lit(1)).as("n_partials"))
        .join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_partials"), col("exact_users"),
          (abs(col("__approx") - col("exact_users")).cast("double") /
            col("exact_users") <= 0.05).as("merge_ok"))
        .orderBy(col("event_type"))
    },
      """SELECT event_type,
        |  COUNT(DISTINCT CAST(ts AS DATE)) AS n_partials,
        |  COUNT(DISTINCT user_id) AS exact_users,
        |  TRUE AS merge_ok
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin),

    // ----- theta sketch set algebra (Apache DataSketches): distinct-user
    // union / intersection / difference across behavior segments computed
    // on SKETCH STATE, never re-reading raw keys — the set arithmetic HLL
    // cannot do (HLL unions but never intersects/differences). The
    // audience-overlap primitive at 100 TB: one sketch per segment, set
    // ops compose on the driver-sized state. Estimates gated by the 5%
    // band around the exact rollup (a_hll_partials contract; at gate
    // scale theta runs in exact mode, so the band is tight by design).
    Gate("a_theta_setops", (s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("user_id").isNotNull &&
          col("event_type").isin("click", "purchase"))
      val sk = ev.groupBy(col("event_type"))
        .agg(theta_sketch_agg(col("user_id")).as("sk"),
          countDistinct(col("user_id")).as("exact"))
      val a = sk.filter(col("event_type") === "click")
        .select(col("sk").as("ska"), col("exact").as("n_click_users"))
      val b = sk.filter(col("event_type") === "purchase")
        .select(col("sk").as("skb"), col("exact").as("n_purchase_users"))
      val ex = ev.groupBy(col("user_id")).agg(
          max(when(col("event_type") === "click", 1).otherwise(0)).as("c"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("p"))
        .agg(count(lit(1)).as("exact_union"),
          sum(when(col("c") === 1 && col("p") === 1, 1L).otherwise(0L))
            .as("exact_inter"),
          sum(when(col("c") === 1 && col("p") === 0, 1L).otherwise(0L))
            .as("exact_click_only"))
      // empty-set edge: theta ops over no rows estimate NULL/0 and the
      // relative band is undefined — exact-zero demands estimate zero
      def ok(est: Column, exact: Column) = {
        val e = coalesce(est.cast("double"), lit(0.0))
        when(exact === 0, e === 0.0).otherwise(abs(e - exact) / exact <= 0.05)
      }
      a.crossJoin(b).crossJoin(broadcast(ex))
        .select(col("n_click_users"), col("n_purchase_users"),
          col("exact_union"), col("exact_inter"), col("exact_click_only"),
          ok(theta_sketch_estimate(theta_union(col("ska"), col("skb"))),
            col("exact_union")).as("union_ok"),
          ok(theta_sketch_estimate(theta_intersection(col("ska"), col("skb"))),
            col("exact_inter")).as("inter_ok"),
          ok(theta_sketch_estimate(theta_difference(col("ska"), col("skb"))),
            col("exact_click_only")).as("diff_ok"))
    },
      // exact set cardinalities; the band flags are engine-side assertions
      """WITH seg AS (
        |  SELECT user_id,
        |    MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS p
        |  FROM events
        |  WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
        |  GROUP BY user_id
        |)
        |SELECT
        |  CAST((SELECT COUNT(DISTINCT user_id) FROM events
        |        WHERE user_id IS NOT NULL AND event_type = 'click')
        |    AS BIGINT) AS n_click_users,
        |  CAST((SELECT COUNT(DISTINCT user_id) FROM events
        |        WHERE user_id IS NOT NULL AND event_type = 'purchase')
        |    AS BIGINT) AS n_purchase_users,
        |  CAST(COUNT(*) AS BIGINT) AS exact_union,
        |  CAST(SUM(CASE WHEN c = 1 AND p = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS exact_inter,
        |  CAST(SUM(CASE WHEN c = 1 AND p = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS exact_click_only,
        |  TRUE AS union_ok, TRUE AS inter_ok, TRUE AS diff_ok
        |FROM seg""".stripMargin),

    // ----- built-in session_window sessionization (the declarative twin
    // of the flatMapGroupsWithState path): one groupBy, Spark merges
    // gap-bounded windows internally; oracle is the gaps-and-islands
    // restatement with the >= break matching session_window's exclusive
    // end
    Gate("sessionize_builtin", (s, dir) =>
      Tables.events(s, dir).filter(col("ts").isNotNull)
        .groupBy(col("user_id"),
          session_window(col("ts"), "30 minutes").as("__sw"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          sumExact(col("value")).as("total_value"))
        .select(col("user_id"), col("n_events"), col("session_start"),
          col("session_end"), col("total_value"))
        .orderBy(col("user_id"), col("session_start")),
      """WITH e AS (
        |  SELECT user_id, event_id, ts, value FROM events WHERE ts IS NOT NULL
        |), marked AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= 1800000000
        |         THEN 1 ELSE 0 END AS brk
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), seqd AS (
        |  SELECT user_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS session_seq
        |  FROM marked
        |)
        |SELECT user_id, COUNT(*) AS n_events,
        |  MIN(ts) AS session_start, MAX(ts) AS session_end,
        |  CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
        |FROM seqd
        |GROUP BY user_id, session_seq
        |ORDER BY user_id, session_start""".stripMargin)
  )
}
