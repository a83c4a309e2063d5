package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.GraftExtensions
import graft.core.Tables
import graft.functions.{ExactAgg, WeatherFunctions}
import graft.operators.{AsOfJoin, RangeJoin, Resample, SaltedJoin, Sessionize}
import graft.sources.{GeocodeSource, RegionSource}

/** The relational half of the SURVEY §2 operator inventory, mapped onto the
  * driver's TPC-H-ish tables with DuckDB oracles. Names carry the §2 op ids
  * they exercise.
  */
object RelationalQueries {

  private val sumQty = ExactAgg.sumSql("l_quantity")
  private val sumPrice = ExactAgg.sumSql("l_extendedprice")

  val all: Seq[(String, Q)] = Seq(

    // ---- A1+A3+A4+P7+O2: the reference's daily rollup shape (min/max/sum/
    //      mean per day) on lineitem by ship date.
    "q_a1_daily_rollup" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("ship_date"))
        .agg(
          min("l_quantity").as("qty_min"),
          max("l_quantity").as("qty_max"),
          ExactAgg.sumD(col("l_quantity")).as("qty_sum"),
          ExactAgg.avgD(col("l_extendedprice")).as("price_avg"),
          count(lit(1)).as("n"))
        .orderBy("ship_date"),
      Some(s"""SELECT CAST(l_shipdate AS DATE) AS ship_date,
        | min(l_quantity) AS qty_min, max(l_quantity) AS qty_max,
        | $sumQty AS qty_sum,
        | ${ExactAgg.avgSql("l_extendedprice")} AS price_avg,
        | count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- A2: group-by mean (compare path, web.py:498-503) on events.
    "q_a2_group_mean" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(ExactAgg.avgD(col("value")).as("value_avg"), count(lit(1)).as("n"))
        .orderBy("day", "event_type"),
      Some(s"""SELECT CAST(ts AS DATE) AS day, event_type,
        | ${ExactAgg.avgSql("value")} AS value_avg, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- A5: global summary aggregates (report.py:81-106) on orders.
    "q_a5_global_summary" -> Q(
      (s, d) => Tables.orders(s, d).agg(
        min(to_date(col("o_orderdate"))).as("first_order"),
        max(to_date(col("o_orderdate"))).as("last_order"),
        max("o_totalprice").as("max_price"),
        min("o_totalprice").as("min_price"),
        countDistinct("o_custkey").as("n_cust"),
        count(lit(1)).as("n")),
      Some("""SELECT CAST(min(o_orderdate) AS DATE) AS first_order,
        | CAST(max(o_orderdate) AS DATE) AS last_order,
        | max(o_totalprice) AS max_price, min(o_totalprice) AS min_price,
        | count(DISTINCT o_custkey) AS n_cust, count(*) AS n
        |FROM orders""".stripMargin)),

    // ---- A6+O9: argmax with pandas-idxmax tie semantics (first max by key
    //      order, report.py:93): the single highest-revenue ship day.
    "q_a6_argmax" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .groupBy(to_date(col("l_shipdate")).as("best_day"))
        .agg(ExactAgg.sumD(col("l_extendedprice")).as("rev"))
        .orderBy(desc("rev"), asc("best_day"))
        .limit(1),
      Some(s"""SELECT CAST(l_shipdate AS DATE) AS best_day, $sumPrice AS rev
        |FROM lineitem GROUP BY 1 ORDER BY rev DESC, best_day ASC LIMIT 1""".stripMargin)),

    // ---- A7: conditional count (rainy-days analog, report.py:105).
    "q_a7_conditional_count" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          sum(when(col("l_discount") > 0.05, 1).otherwise(0)).as("discounted"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        | CAST(sum(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS discounted,
        | count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- A9+W4: per-group avg/max ranked desc (app.js:874-883).
    "q_a9_ranked_summary" -> Q(
      (s, d) => Tables.customer(s, d)
        .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(
          ExactAgg.avgD(col("c_acctbal")).as("avg_bal"),
          max("c_acctbal").as("max_bal"),
          count(lit(1)).as("n"))
        .withColumn("rnk", row_number().over(
          Window.orderBy(desc("avg_bal"), asc("n_name"))).cast("bigint"))
        .orderBy("rnk"),
      Some(s"""WITH g AS (
        | SELECT n_name, ${ExactAgg.avgSql("c_acctbal")} AS avg_bal,
        |  max(c_acctbal) AS max_bal, count(*) AS n
        | FROM customer JOIN nation ON c_nationkey = n_nationkey GROUP BY 1)
        |SELECT n_name, avg_bal, max_bal, n,
        | row_number() OVER (ORDER BY avg_bal DESC, n_name ASC) AS rnk
        |FROM g ORDER BY rnk""".stripMargin)),

    // ---- A10: top-vs-second percent difference (app.js:973-986).
    "q_a10_pct_diff" -> Q(
      (s, d) => {
        val seg = Tables.orders(s, d)
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("segment"))
          .agg(ExactAgg.sumD(col("o_totalprice")).as("rev"))
        val w = Window.orderBy(desc("rev"), asc("segment"))
        seg
          .withColumn("rnk", row_number().over(w))
          .withColumn("second_rev", lead("rev", 1).over(w))
          .filter(col("rnk") === 1)
          .select(
            col("segment").as("top_segment"),
            col("rev").as("top_rev"),
            col("second_rev"),
            ((col("rev") - col("second_rev")) / abs(col("second_rev")) * 100.0)
              .as("pct_diff"))
      },
      Some(s"""WITH g AS (
        | SELECT c_mktsegment AS segment, ${ExactAgg.sumSql("o_totalprice")} AS rev
        | FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1),
        |r AS (SELECT segment, rev,
        |  row_number() OVER (ORDER BY rev DESC, segment ASC) AS rnk,
        |  lead(rev) OVER (ORDER BY rev DESC, segment ASC) AS second_rev FROM g)
        |SELECT segment AS top_segment, rev AS top_rev, second_rev,
        | (rev - second_rev) / abs(second_rev) * 100.0 AS pct_diff
        |FROM r WHERE rnk = 1""".stripMargin)),

    // ---- J1+O1: the core full-outer merge of two keyed daily series
    //      (transform.py:77), here order-days vs ship-days.
    "q_j1_full_outer" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
          .groupBy(to_date(col("o_orderdate")).as("day"))
          .agg(count(lit(1)).as("n_orders"),
            ExactAgg.sumD(col("o_totalprice")).as("order_value"))
        val l = Tables.lineitem(s, d)
          .groupBy(to_date(col("l_shipdate")).as("day"))
          .agg(count(lit(1)).as("n_ships"),
            ExactAgg.sumD(col("l_quantity")).as("ship_qty"))
        o.join(l, Seq("day"), "full_outer").orderBy("day")
      },
      Some(s"""WITH o AS (
        | SELECT CAST(o_orderdate AS DATE) AS day, count(*) AS n_orders,
        |  ${ExactAgg.sumSql("o_totalprice")} AS order_value
        | FROM orders GROUP BY 1),
        |l AS (
        | SELECT CAST(l_shipdate AS DATE) AS day, count(*) AS n_ships,
        |  $sumQty AS ship_qty
        | FROM lineitem GROUP BY 1)
        |SELECT coalesce(o.day, l.day) AS day, n_orders, order_value, n_ships, ship_qty
        |FROM o FULL OUTER JOIN l ON o.day = l.day ORDER BY 1""".stripMargin)),

    // ---- J2: left outer join keeping unmatched left rows (web.py:506);
    //      the right side is big orders only, so misses exist.
    "q_j2_left_join" -> Q(
      (s, d) => {
        val big = Tables.orders(s, d)
          .filter(col("o_totalprice") > 400000.0)
          .groupBy("o_custkey")
          .agg(count(lit(1)).as("n_big"),
            ExactAgg.sumD(col("o_totalprice")).as("big_value"))
        Tables.customer(s, d)
          .join(big, col("c_custkey") === col("o_custkey"), "left_outer")
          .select(col("c_custkey"), col("c_mktsegment"),
            coalesce(col("n_big"), lit(0L)).as("n_big"),
            coalesce(col("big_value"), lit(0.0)).as("big_value"))
          .orderBy("c_custkey")
      },
      Some(s"""WITH big AS (
        | SELECT o_custkey, count(*) AS n_big,
        |  ${ExactAgg.sumSql("o_totalprice")} AS big_value
        | FROM orders WHERE o_totalprice > 400000.0 GROUP BY 1)
        |SELECT c_custkey, c_mktsegment,
        | coalesce(n_big, 0) AS n_big, coalesce(big_value, 0.0) AS big_value
        |FROM customer LEFT JOIN big ON c_custkey = o_custkey
        |ORDER BY c_custkey""".stripMargin)),

    // ---- J3: nearest-to-instant as-of lookup (app.js:754-761) per user.
    "q_j3_asof_nearest" -> Q(
      (s, d) => AsOfJoin.nearestTo(
          Tables.events(s, d), "user_id", "ts",
          lit("2024-01-15 00:00:00"))
        .select("user_id", "ts", "event_type", "value")
        .orderBy("user_id"),
      Some("""SELECT user_id, ts, event_type, value FROM (
        | SELECT *, row_number() OVER (PARTITION BY user_id
        |   ORDER BY abs(epoch(ts) - epoch(TIMESTAMP '2024-01-15 00:00:00')), ts) AS rn
        | FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin)),

    // ---- J3 generalized: backward as-of join (latest prior view per
    //      purchase, union+window formulation — one shuffle, no range blowup).
    "q_j3_asof_backward" -> Q(
      (s, d) => {
        val ev = Tables.events(s, d)
        val purchases = ev.filter(col("event_type") === "purchase")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts"), col("value"))
        AsOfJoin.backward(purchases, views, "user_id", "ts", Seq("ts", "value"))
          .select(col("event_id"), col("user_id"), col("ts"),
            col("asof_ts").as("view_ts"), col("asof_value").as("view_value"))
          .orderBy("event_id")
      },
      Some("""SELECT p.event_id, p.user_id, p.ts,
        | v.ts AS view_ts, v.value AS view_value
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
        | ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin)),

    // ---- J4+F15: key normalization (regex prefix strip, web.py:88-90) then
    //      dimension equi-join.
    "q_j4_key_normalize" -> Q(
      (s, d) => Tables.part(s, d)
        .withColumn("brand_code",
          regexp_replace(col("p_brand"), "Brand#", "").cast("int"))
        .join(Tables.nation(s, d), pmod(col("brand_code"), lit(25)) === col("n_nationkey"))
        .groupBy("n_name")
        .agg(count(lit(1)).as("n_parts"), ExactAgg.avgD(col("p_retailprice")).as("avg_price"))
        .orderBy("n_name"),
      Some(s"""SELECT n_name, count(*) AS n_parts,
        | ${ExactAgg.avgSql("p_retailprice")} AS avg_price
        |FROM part JOIN nation
        | ON CAST(regexp_replace(p_brand, 'Brand#', '') AS INT) % 25 = n_nationkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- P2+P4+P10+O8: pushed-down filter + projection + sort + limit.
    "q_p2_projection_filter" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        // match the literal's type to the scanned column (parquet timestamps
        // arrive as NTZ) so the predicate pushes down to the scan unchanged
        val bound = lit("2000-06-01").cast(li.schema("l_shipdate").dataType)
        li.filter(col("l_shipdate") >= bound && col("l_returnflag") === "A")
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
          .orderBy("l_orderkey", "l_linenumber")
          .limit(500)
      },
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '2000-06-01 00:00:00' AND l_returnflag = 'A'
        |ORDER BY l_orderkey, l_linenumber LIMIT 500""".stripMargin)),

    // ---- P6: coercing cast, invalid -> null (pd.to_numeric errors="coerce").
    "q_p6_try_cast" -> Q(
      (s, d) => Tables.orders(s, d)
        .select(col("o_orderkey"),
          expr("try_cast(substring(o_orderpriority, 1, 1) AS INT)").as("prio_num"),
          expr("try_cast(o_orderstatus AS DOUBLE)").as("bogus"))
        .orderBy("o_orderkey")
        .limit(1000),
      Some("""SELECT o_orderkey,
        | TRY_CAST(substr(o_orderpriority, 1, 1) AS INT) AS prio_num,
        | TRY_CAST(o_orderstatus AS DOUBLE) AS bogus
        |FROM orders ORDER BY o_orderkey LIMIT 1000""".stripMargin)),

    // ---- F1: slugify via the native Catalyst expression (ASCII parity with
    //      the SQL oracle; unicode accent folding covered in unit tests).
    "q_f1_slugify" -> Q(
      (s, d) => {
        GraftExtensions.register(s)
        Tables.customer(s, d)
          .select(col("c_custkey"),
            expr("slugify(concat(c_name, ' ', c_mktsegment))").as("slug"))
          .orderBy("c_custkey")
          .limit(1000)
      },
      Some("""SELECT c_custkey,
        | trim(lower(regexp_replace(strip_accents(c_name || ' ' || c_mktsegment),
        |   '[^A-Za-z0-9]+', '-', 'g')), '-') AS slug
        |FROM customer ORDER BY c_custkey LIMIT 1000""".stripMargin)),

    // ---- F2: the 6-level PM2.5 categorizer when-chain (transform.py:32-48)
    //      applied to the events value column (spans all levels).
    "q_f2_pm25_category" -> Q(
      (s, d) => Tables.events(s, d)
        .select(col("event_id"), col("value"),
          WeatherFunctions.pm25Category(col("value")).as("pm25_category"))
        .orderBy("event_id"),
      Some("""SELECT event_id, value,
        | CASE WHEN value IS NULL THEN 'Tidak diketahui'
        |  WHEN value <= 12 THEN 'Baik'
        |  WHEN value <= 35.4 THEN 'Sedang'
        |  WHEN value <= 55.4 THEN 'Tidak sehat (sensitif)'
        |  WHEN value <= 150.4 THEN 'Tidak sehat'
        |  WHEN value <= 250.4 THEN 'Sangat tidak sehat'
        |  ELSE 'Berbahaya' END AS pm25_category
        |FROM events ORDER BY event_id""".stripMargin)),

    // ---- F7: WMO weather-code decoder (app.js:169-185) over synthetic codes.
    "q_f7_wcode_decode" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .select(pmod(col("l_partkey"), lit(100)).cast("int").as("code"))
        .withColumn("label", WeatherFunctions.weatherCodeLabel(col("code")))
        .withColumn("emoji", WeatherFunctions.weatherCodeEmoji(col("code")))
        .groupBy("code", "label", "emoji").agg(count(lit(1)).as("n"))
        .orderBy("code"),
      Some({
        // emoji literals come from the SAME codepoint-built strings as the
        // Spark plan (WeatherFunctions.WeatherEmoji) — no source-literal
        // variation-selector drift between the two engines
        val e = WeatherFunctions.WeatherEmoji
        s"""SELECT code, CASE
        |  WHEN code = 0 THEN 'Clear' WHEN code = 1 THEN 'Mostly Clear'
        |  WHEN code = 2 THEN 'Partly Cloudy' WHEN code = 3 THEN 'Cloudy'
        |  WHEN code IN (45, 48) THEN 'Fog'
        |  WHEN code BETWEEN 51 AND 57 THEN 'Drizzle'
        |  WHEN code BETWEEN 61 AND 67 THEN 'Rain'
        |  WHEN code BETWEEN 71 AND 77 THEN 'Snow'
        |  WHEN code BETWEEN 80 AND 82 THEN 'Showers'
        |  WHEN code IN (85, 86) THEN 'Snow Showers'
        |  WHEN code IN (95, 96, 99) THEN 'Thunderstorms'
        |  ELSE 'Unknown' END AS label, CASE
        |  WHEN code = 0 THEN '${e("sun")}' WHEN code = 1 THEN '${e("sunCld")}'
        |  WHEN code = 2 THEN '${e("partCld")}' WHEN code = 3 THEN '${e("cloud")}'
        |  WHEN code IN (45, 48) THEN '${e("fog")}'
        |  WHEN code BETWEEN 51 AND 57 THEN '${e("drizzle")}'
        |  WHEN code BETWEEN 61 AND 67 THEN '${e("rain")}'
        |  WHEN code BETWEEN 71 AND 77 THEN '${e("snow")}'
        |  WHEN code BETWEEN 80 AND 82 THEN '${e("rain")}'
        |  WHEN code IN (85, 86) THEN '${e("snow")}'
        |  WHEN code IN (95, 96, 99) THEN '${e("storm")}'
        |  ELSE '${e("thermo")}' END AS emoji, count(*) AS n
        |FROM (SELECT CAST(l_partkey % 100 AS INT) AS code FROM lineitem)
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin
      })),

    // ---- F8: 16-point compass label (app.js:187-194) over synthetic degrees.
    "q_f8_compass" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .select(pmod(col("l_partkey"), lit(360)).cast("double").as("deg"))
        .withColumn("compass", WeatherFunctions.compass16(col("deg")))
        .groupBy("compass").agg(count(lit(1)).as("n"))
        .orderBy("compass"),
      Some(s"""SELECT (${compassCaseSql("deg")}) AS compass, count(*) AS n
        |FROM (SELECT CAST(l_partkey % 360 AS DOUBLE) AS deg FROM lineitem)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- F9+F10: date formatting and re-parsing round trip, monthly rollup.
    "q_f9_f10_dates" -> Q(
      (s, d) => Tables.orders(s, d)
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("month_str"),
          to_date(date_format(col("o_orderdate"), "yyyy-MM-dd")).as("day"))
        .groupBy("month_str")
        .agg(min("day").as("first_day"), count(lit(1)).as("n"))
        .orderBy("month_str"),
      Some("""SELECT strftime(o_orderdate, '%Y-%m') AS month_str,
        | min(CAST(strftime(o_orderdate, '%Y-%m-%d') AS DATE)) AS first_day,
        | count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- O5-O9: top-k by value with deterministic tie-break.
    "q_o_topk" -> Q(
      (s, d) => Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10),
      Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin)),

    // ---- U1: schema-aligned union-all with a missing column null-padded
    //      (pd.concat semantics, web.py:558-561).
    "q_u1_union_align" -> Q(
      (s, d) => {
        val a = Tables.customer(s, d)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey").as("id"), col("c_acctbal").as("bal"),
            col("c_mktsegment").as("segment"))
        val b = Tables.supplier(s, d)
          .select(col("s_suppkey").as("id"), col("s_acctbal").as("bal"))
        a.unionByName(b, allowMissingColumns = true)
          .orderBy(col("id").asc, col("segment").asc_nulls_first)
      },
      Some("""SELECT * FROM (
        | SELECT c_custkey AS id, c_acctbal AS bal, c_mktsegment AS segment
        | FROM customer WHERE c_mktsegment = 'BUILDING'
        | UNION ALL
        | SELECT s_suppkey AS id, s_acctbal AS bal, NULL AS segment FROM supplier)
        |ORDER BY id ASC, segment ASC NULLS FIRST""".stripMargin)),

    // ---- U2: distinct (dedup-preserving-order is the row_number variant).
    "q_u2_distinct" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .select("l_returnflag", "l_linestatus")
        .distinct()
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus
        |FROM lineitem ORDER BY 1, 2""".stripMargin)),

    // ---- W1: trailing 7-row moving average with the pandas rolling(7) null
    //      head (viz.py:77), over the daily quantity series. Window sums run
    //      on exact decimals so both engines agree bitwise.
    "q_w1_trailing_ma" -> Q(
      (s, d) => {
        val daily = Tables.lineitem(s, d)
          .groupBy(to_date(col("l_shipdate")).as("day"))
          .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("qty_dec"))
        val w = Window.orderBy("day").rowsBetween(-6, 0)
        daily
          .withColumn("ma7",
            when(count("qty_dec").over(w) === 7,
              sum("qty_dec").over(w).cast("double") / 7.0))
          .select(col("day"), col("qty_dec").cast("double").as("qty"), col("ma7"))
          .orderBy("day")
      },
      Some("""WITH daily AS (
        | SELECT CAST(l_shipdate AS DATE) AS day,
        |  sum(CAST(l_quantity AS DECIMAL(18,2))) AS qty_dec
        | FROM lineitem GROUP BY 1)
        |SELECT day, CAST(qty_dec AS DOUBLE) AS qty,
        | CASE WHEN count(qty_dec) OVER w = 7
        |  THEN CAST(sum(qty_dec) OVER w AS DOUBLE) / 7.0 END AS ma7
        |FROM daily
        |WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY day""".stripMargin)),

    // ---- W2: centered 3-row moving average, shrinking edges (app.js:859-872).
    "q_w2_centered_ma" -> Q(
      (s, d) => {
        val daily = Tables.events(s, d)
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(count(lit(1)).as("n"))
        val w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-1, 1)
        daily
          .withColumn("ma3", sum("n").over(w).cast("double") / count("n").over(w))
          .orderBy("event_type", "day")
      },
      Some("""WITH daily AS (
        | SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS n
        | FROM events GROUP BY 1, 2)
        |SELECT day, event_type, n,
        | CAST(sum(n) OVER w AS DOUBLE) / count(n) OVER w AS ma3
        |FROM daily
        |WINDOW w AS (PARTITION BY event_type ORDER BY day
        |  ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING)
        |ORDER BY event_type, day""".stripMargin)),

    // ---- W3: per-group min-max normalization with zero-range guard
    //      (app.js:851-858).
    "q_w3_minmax_norm" -> Q(
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
        val mn = min("c_acctbal").over(w)
        val mx = max("c_acctbal").over(w)
        val range = when(mx - mn === 0.0, 1.0).otherwise(mx - mn)
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("segment"),
            col("c_acctbal"),
            ((col("c_acctbal") - mn) / range).as("norm_bal"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment AS segment, c_acctbal,
        | (c_acctbal - min(c_acctbal) OVER w) /
        |  (CASE WHEN max(c_acctbal) OVER w - min(c_acctbal) OVER w = 0 THEN 1.0
        |   ELSE max(c_acctbal) OVER w - min(c_acctbal) OVER w END) AS norm_bal
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment)
        |ORDER BY c_custkey""".stripMargin)),

    // ---- W extension: lead/lag/ntile (beyond the reference's windows).
    "q_w_lead_lag_ntile" -> Q(
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val wq = Window.partitionBy("user_id").orderBy("value", "event_id")
        Tables.events(s, d)
          .filter(col("user_id") < 10)
          .select(col("user_id"), col("ts"), col("event_id"), col("value"),
            lag("value", 1).over(w).as("prev_value"),
            lead("value", 1).over(w).as("next_value"),
            ntile(4).over(wq).cast("bigint").as("quartile"))
          .orderBy("user_id", "ts", "event_id")
      },
      Some("""SELECT user_id, ts, event_id, value,
        | lag(value) OVER w AS prev_value,
        | lead(value) OVER w AS next_value,
        | ntile(4) OVER (PARTITION BY user_id ORDER BY value, event_id) AS quartile
        |FROM events WHERE user_id < 10
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |ORDER BY user_id, ts, event_id""".stripMargin)),

    // ---- T/streaming analog: tumbling 1-hour event-time windows.
    "q_t_tumbling_hourly" -> Q(
      (s, d) => Tables.events(s, d)
        .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"), ExactAgg.sumD(col("value")).as("value_sum"))
        .select(col("win.start").as("hour_start"), col("event_type"),
          col("n"), col("value_sum"))
        .orderBy("hour_start", "event_type"),
      Some(s"""SELECT date_trunc('hour', ts) AS hour_start, event_type,
        | count(*) AS n, ${ExactAgg.sumSql("value")} AS value_sum
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- Weekly retention-cohort triangle: cohort = Monday week of a
    //      user's first purchase, retained at age k if they purchased in
    //      cohort_week + k. Distinct-before-join keeps the join
    //      |users x weeks|-bounded, not event-bounded.
    "q_t_retention_cohorts" -> Q(
      (s, d) => Sessionize.retentionCohorts(Tables.events(s, d),
          "user_id", "ts",
          col("event_type") === "purchase", col("event_type") === "purchase")
        .orderBy("cohort_week", "week_age"),
      Some("""WITH c AS (SELECT user_id,
        |  min(CAST(date_trunc('week', ts) AS DATE)) AS cw
        | FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |a AS (SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS aw
        | FROM events WHERE event_type = 'purchase'),
        |sz AS (SELECT cw AS cohort_week, CAST(count(*) AS BIGINT) AS cohort_size
        | FROM c GROUP BY 1),
        |m AS (SELECT cw AS cohort_week,
        |  CAST(date_diff('day', cw, aw) // 7 AS INT) AS week_age,
        |  CAST(count(*) AS BIGINT) AS n_active
        | FROM a JOIN c USING (user_id)
        | WHERE date_diff('day', cw, aw) >= 0 GROUP BY 1, 2)
        |SELECT m.cohort_week, week_age, n_active, cohort_size,
        | CAST(n_active AS DOUBLE) / CAST(cohort_size AS DOUBLE) AS retention
        |FROM m JOIN sz ON sz.cohort_week = m.cohort_week
        |ORDER BY m.cohort_week, week_age""".stripMargin)),

    // ---- Sessionization (gap 30 min) — batch twin of the streaming
    //      mapGroupsWithState operator.
    "q_t_sessionize" -> Q(
      (s, d) => Sessionize.sessions(Tables.events(s, d), "user_id", "ts", 30)
        .orderBy("user_id", "session_id"),
      Some("""WITH e AS (
        | SELECT user_id, ts,
        |  lag(ts) OVER (PARTITION BY user_id ORDER BY ts) AS prev_ts
        | FROM events),
        |st AS (SELECT user_id, ts,
        |  CASE WHEN prev_ts IS NULL OR epoch(ts) - epoch(prev_ts) > 1800
        |   THEN 1 ELSE 0 END AS is_start FROM e),
        |x AS (SELECT user_id, ts,
        |  CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts
        |   ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT) AS session_id FROM st)
        |SELECT user_id, session_id, min(ts) AS session_start,
        | max(ts) AS session_end, count(*) AS n_events
        |FROM x GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // ---- Ordered funnel (round 14): view -> click -> purchase, each step
    //      STRICTLY after the previous step's matched time,
    //      greedy-earliest matching (provably maximal depth). One filtered
    //      partial-agg + user join per step; no windows.
    "q_t_funnel_users" -> Q(
      (s, d) => Sessionize.funnelPerUser(Tables.events(s, d),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase"))
        .orderBy("user_id"),
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t_1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t_2 FROM events e
        |  JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t_1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t_3 FROM events e
        |  JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t_2 GROUP BY 1)
        |SELECT u.user_id, s1.t_1, s2.t_2, s3.t_3,
        |  CAST((CASE WHEN s1.t_1 IS NULL THEN 0 ELSE 1 END)
        |   + (CASE WHEN s2.t_2 IS NULL THEN 0 ELSE 1 END)
        |   + (CASE WHEN s3.t_3 IS NULL THEN 0 ELSE 1 END) AS BIGINT)
        |   AS steps_reached
        |FROM u LEFT JOIN s1 ON s1.user_id = u.user_id
        |LEFT JOIN s2 ON s2.user_id = u.user_id
        |LEFT JOIN s3 ON s3.user_id = u.user_id
        |ORDER BY u.user_id""".stripMargin)),

    "q_t_funnel_report" -> Q(
      (s, d) => Sessionize.funnelReport(
        Sessionize.funnelPerUser(Tables.events(s, d),
          "user_id", "ts", "event_type", Seq("view", "click", "purchase")),
        Seq("view", "click", "purchase")),
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
        |s1 AS (SELECT user_id, min(ts) AS t_1 FROM events
        |  WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(e.ts) AS t_2 FROM events e
        |  JOIN s1 ON s1.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s1.t_1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(e.ts) AS t_3 FROM events e
        |  JOIN s2 ON s2.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s2.t_2 GROUP BY 1),
        |g AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(s1.t_1) AS BIGINT) AS r1,
        |  CAST(count(s2.t_2) AS BIGINT) AS r2,
        |  CAST(count(s3.t_3) AS BIGINT) AS r3
        |  FROM u LEFT JOIN s1 ON s1.user_id = u.user_id
        |  LEFT JOIN s2 ON s2.user_id = u.user_id
        |  LEFT JOIN s3 ON s3.user_id = u.user_id)
        |SELECT 1 AS step, 'view' AS event_type, r1 AS n_users,
        |  CASE WHEN r1 > 0 THEN CAST(r1 AS DOUBLE) / CAST(r1 AS DOUBLE) END
        |    AS conversion_from_head,
        |  CAST(NULL AS DOUBLE) AS conversion_from_prev FROM g
        |UNION ALL
        |SELECT 2, 'click', r2,
        |  CASE WHEN r1 > 0 THEN CAST(r2 AS DOUBLE) / CAST(r1 AS DOUBLE) END,
        |  CASE WHEN r1 > 0 THEN CAST(r2 AS DOUBLE) / CAST(r1 AS DOUBLE) END
        |  FROM g
        |UNION ALL
        |SELECT 3, 'purchase', r3,
        |  CASE WHEN r1 > 0 THEN CAST(r3 AS DOUBLE) / CAST(r1 AS DOUBLE) END,
        |  CASE WHEN r2 > 0 THEN CAST(r3 AS DOUBLE) / CAST(r2 AS DOUBLE) END
        |  FROM g
        |ORDER BY step""".stripMargin)),

    // ---- S6 analog: tolerant semi-structured extraction (JSON props).
    "q_s6_json_extract" -> Q(
      (s, d) => Tables.events(s, d)
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("int").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum("k").as("k_sum"),
          min("k").as("k_min"), max("k").as("k_max"))
        .orderBy("event_type"),
      Some("""SELECT event_type, count(*) AS n,
        | CAST(sum(k) AS BIGINT) AS k_sum, min(k) AS k_min, max(k) AS k_max
        |FROM (SELECT event_type,
        |  TRY_CAST(json_extract_string(props, '$.k') AS INT) AS k FROM events)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- S6 full semantics: polymorphic provinces read — one code path
    //      normalizes a bare list, `provinces`/`data`-keyed dicts with id/name
    //      key aliases (incl. numeric ids), and a plain {id: name} map
    //      (web.py:51-76). Fixture payloads, literal-value oracle.
    "q_s6_polymorphic" -> Q(
      (s, _) => {
        import s.implicits._
        RegionSource.normalize(S6FixturePayloads.toDF("payload"))
          .orderBy("id")
      },
      Some("""SELECT * FROM (
        | SELECT '11' AS id, 'ACEH' AS name
        | UNION ALL SELECT '12', 'SUMATERA UTARA'
        | UNION ALL SELECT '13', 'SUMATERA BARAT'
        | UNION ALL SELECT '14', 'RIAU'
        | UNION ALL SELECT '15', 'JAMBI'
        |) ORDER BY id""".stripMargin)),

    // ---- S5: geocode top-k search over the offline city dimension (derived
    //      from nation so the oracle mirrors the same arithmetic); exact name
    //      ranks first, then alphabetical, k=5 (web.py:123-151).
    "q_s5_geocode_topk" -> Q(
      (s, d) => GeocodeSource.searchTopK(
          GeocodeSource.fromNations(Tables.nation(s, d)), "NATION_1", k = 5)
        .orderBy("name"),
      Some("""WITH dim AS (SELECT n_name AS name,
        |  CAST(-8.0 AS DOUBLE) + n_nationkey * CAST(0.7 AS DOUBLE) AS lat,
        |  CAST(95.0 AS DOUBLE) + n_nationkey * CAST(1.3 AS DOUBLE) AS lon,
        |  'Asia/Jakarta' AS tz FROM nation),
        |hits AS (SELECT * FROM dim
        | WHERE starts_with(lower(name), 'nation_1')
        | ORDER BY (CASE WHEN lower(name) = 'nation_1' THEN 0 ELSE 1 END), name
        | LIMIT 5)
        |SELECT name, lat, lon, tz FROM hits ORDER BY name""".stripMargin)),

    // ---- F13: search-hit highlight over the S5 search results — the
    //      reference's exact UI flow (search then wrap the first
    //      case-insensitive match, app.js:417-421).
    "q_f13_highlight" -> Q(
      (s, d) => GeocodeSource.searchTopK(
          GeocodeSource.fromNations(Tables.nation(s, d)), "NATION_1", k = 5)
        .select(col("name"),
          WeatherFunctions.highlightFirst(col("name"), "nation_1").as("html"))
        .orderBy("name"),
      Some("""WITH dim AS (SELECT n_name AS name FROM nation),
        |hits AS (SELECT name FROM dim
        | WHERE starts_with(lower(name), 'nation_1')
        | ORDER BY (CASE WHEN lower(name) = 'nation_1' THEN 0 ELSE 1 END), name
        | LIMIT 5)
        |SELECT name,
        | regexp_replace(name, '(?is)(nation_1)(.*)',
        |   '<span class="highlight">\1</span>\2') AS html
        |FROM hits ORDER BY name""".stripMargin)),

    // ---- Aggregation extension: ROLLUP grouping sets (absent from the
    //      reference; first-class in the engine).
    "q_a_rollup" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .rollup("l_returnflag", "l_linestatus")
        .agg(ExactAgg.sumD(col("l_quantity")).as("qty"), count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("qty"), col("n"))
        .orderBy("returnflag", "linestatus"),
      Some(s"""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus,
        | $sumQty AS qty, count(*) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin)),

    // ---- Range (interval) join: lineitem ship dates against 3-day order
    //      windows, NO equi key — bucketed into day-grain hash-join keys by
    //      RangeJoin instead of the nested-loop plan Spark would pick.
    "q_j_range_interval" -> Q(
      (s, d) => {
        val w = Tables.orders(s, d).filter(col("o_orderkey") < 200)
          .select(col("o_orderkey"), col("o_orderdate").as("w_start"),
            (col("o_orderdate") + expr("INTERVAL 3 DAYS")).as("w_end"))
        val li = Tables.lineitem(s, d).select("l_shipdate")
        RangeJoin.pointInInterval(li, "l_shipdate", w, "w_start", "w_end",
            bucketSeconds = 86400L)
          .groupBy("o_orderkey")
          .agg(count(lit(1)).as("n_shipped"),
            min("l_shipdate").as("first_ship"), max("l_shipdate").as("last_ship"))
          .orderBy("o_orderkey")
      },
      Some("""SELECT o_orderkey, count(*) AS n_shipped,
        | min(l_shipdate) AS first_ship, max(l_shipdate) AS last_ship
        |FROM (SELECT o_orderkey, o_orderdate AS w_start,
        |   o_orderdate + INTERVAL 3 DAY AS w_end
        |  FROM orders WHERE o_orderkey < 200) w
        |JOIN lineitem ON l_shipdate >= w_start AND l_shipdate <= w_end
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Geo nearest-neighbor join: every customer point matched to its
    //      3 closest nation "stations" by haversine. Broadcast dimension +
    //      map-side-combining per-point top-k (state bounded by
    //      |stations|); distances rounded to mm BEFORE ranking with a name
    //      tie-break, so libm ulp differences between engines cannot flip
    //      a near-tie.
    "q_j_geo_nearest" -> Q(
      (s, d) => {
        val pts = Tables.customer(s, d).select(col("c_custkey").as("id"),
          (lit(-10.0) + (col("c_custkey") % 40) * 0.5).as("lat"),
          (lit(93.0) + (col("c_custkey") % 30) * 0.9).as("lon"))
        val st = GeocodeSource.fromNations(Tables.nation(s, d))
          .select(col("name"), col("lat"), col("lon"))
        graft.operators.GeoJoin.nearestK(pts, "id", st, k = 3)
          .orderBy("id", "rank")
      },
      Some("""WITH pt AS (SELECT c_custkey AS id,
        |  CAST(-10.0 AS DOUBLE) + (c_custkey % 40) * CAST(0.5 AS DOUBLE) AS lat,
        |  CAST(93.0 AS DOUBLE) + (c_custkey % 30) * CAST(0.9 AS DOUBLE) AS lon
        | FROM customer),
        |st AS (SELECT n_name AS st_name,
        |  CAST(-8.0 AS DOUBLE) + n_nationkey * CAST(0.7 AS DOUBLE) AS st_lat,
        |  CAST(95.0 AS DOUBLE) + n_nationkey * CAST(1.3 AS DOUBLE) AS st_lon
        | FROM nation),
        |dd AS (SELECT id,  st_name,
        |  round(CAST(2.0 AS DOUBLE) * CAST(6371.0 AS DOUBLE) * asin(sqrt(
        |    sin(radians(st_lat - lat) / 2) * sin(radians(st_lat - lat) / 2)
        |    + cos(radians(lat)) * cos(radians(st_lat))
        |      * (sin(radians(st_lon - lon) / 2) * sin(radians(st_lon - lon) / 2))
        |  )), 6) AS dist_km
        | FROM pt CROSS JOIN st),
        |rk AS (SELECT id, st_name, dist_km, CAST(row_number() OVER
        |  (PARTITION BY id ORDER BY dist_km, st_name) AS INT) AS rank FROM dd)
        |SELECT id, rank, st_name AS station, dist_km FROM rk
        |WHERE rank <= 3 ORDER BY id, rank""".stripMargin)),

    // ---- Histogram/binning: fixed-width price buckets. The bucket formula
    //      is a plain floor-division (identical double arithmetic on both
    //      engines) rather than width_bucket, whose internal arithmetic
    //      differs across engines at bucket boundaries.
    "q_a_histogram" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .select((least(floor(col("l_extendedprice") / 10000.0), lit(9)) + 1)
          .cast("bigint").as("bucket"), col("l_extendedprice"))
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"),
          min("l_extendedprice").as("lo"), max("l_extendedprice").as("hi"))
        .orderBy("bucket"),
      Some("""SELECT CAST(least(floor(l_extendedprice / 10000.0), 9) + 1 AS BIGINT) AS bucket,
        | count(*) AS n, min(l_extendedprice) AS lo, max(l_extendedprice) AS hi
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Fuzzy key matching: edit-distance join of a probe list (typos
    //      included) against the nation dimension — the J4 key-normalize
    //      family's fallback when normalization alone can't align keys.
    //      Standard Levenshtein is engine-identical; the dim side broadcasts.
    "q_j_fuzzy_levenshtein" -> Q(
      (s, d) => {
        import s.implicits._
        val probes = Seq("NATOIN_3", "nation_12", "NATION_99X", "xyz")
          .toDF("probe")
        probes.join(broadcast(Tables.nation(s, d)),
            levenshtein(upper(col("probe")), col("n_name")) <= 2)
          .select(col("probe"), col("n_name").as("name"),
            levenshtein(upper(col("probe")), col("n_name")).cast("bigint").as("dist"))
          .orderBy("probe", "name")
      },
      Some("""WITH probes(probe) AS (VALUES ('NATOIN_3'), ('nation_12'), ('NATION_99X'), ('xyz'))
        |SELECT probe, n_name AS name,
        | CAST(levenshtein(upper(probe), n_name) AS BIGINT) AS dist
        |FROM probes JOIN nation ON levenshtein(upper(probe), n_name) <= 2
        |ORDER BY probe, name""".stripMargin)),

    // ---- Distinct-count extension.
    "q_a_count_distinct" -> Q(
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderpriority")
        .agg(countDistinct("o_custkey").as("n_cust"), count(lit(1)).as("n"))
        .orderBy("o_orderpriority"),
      Some("""SELECT o_orderpriority, count(DISTINCT o_custkey) AS n_cust,
        | count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Skew lever: salted equi-join — row-identical to the plain join
    //      (the oracle IS the plain join), but the hot key's rows spread over
    //      `factor` reducers instead of one.
    "q_j_salted_skew" -> Q(
      (s, d) => SaltedJoin.inner(
          Tables.lineitem(s, d).select("l_orderkey", "l_partkey", "l_quantity"),
          Tables.part(s, d).select("p_partkey", "p_brand")
            .withColumnRenamed("p_partkey", "l_partkey"),
          Seq("l_partkey"), factor = 8)
        .groupBy("p_brand")
        .agg(count(lit(1)).as("n"), ExactAgg.sumD(col("l_quantity")).as("qty"))
        .orderBy("p_brand"),
      Some(s"""SELECT p_brand, count(*) AS n, $sumQty AS qty
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Grouping-sets extension: CUBE over two dims.
    "q_a_cube" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("n"))
        .orderBy("returnflag", "linestatus"),
      Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        | coalesce(l_linestatus, 'ALL') AS linestatus, count(*) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY 1, 2""".stripMargin)),

    // ---- Exact interpolated percentiles (Spark `percentile` and DuckDB
    //      `quantile_cont` share the linear-interpolation definition; the
    //      inputs are small integers so the arithmetic is bit-identical).
    "q_a_percentile" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"),
          count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        | quantile_cont(l_quantity, 0.25) AS p25,
        | quantile_cont(l_quantity, 0.5) AS p50,
        | quantile_cont(l_quantity, 0.75) AS p75,
        | count(*) AS n
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- HLL sketch count (approximate by design: engines' sketches differ,
    //      so no value oracle — the driver records the weaker rows check).
    "q_a_approx_distinct" -> Q(
      (s, d) => Tables.orders(s, d)
        .groupBy("o_orderpriority")
        // rsd 0.01 (vs the 0.05 default): the sketch is held to <5% relative
        // error against exact counts in OperatorsSpec, so size it for that
        .agg(approx_count_distinct(col("o_custkey"), 0.01).as("approx_cust"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),

    // ---- TPC-H macro-benchmarks (the driver tables are TPC-H-shaped; dates
    //      adapted to the generated 1995-2001 range, o_orderpriority stands
    //      in for the absent o_shippriority). Money arithmetic runs on exact
    //      decimals end-to-end so both engines agree bitwise.
    "q_tpch_q1" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val ep = col("l_extendedprice").cast("decimal(18,2)")
        val disc = col("l_discount").cast("decimal(18,2)")
        val tax = col("l_tax").cast("decimal(18,2)")
        li.filter(col("l_shipdate") <= lit("1998-09-02").cast(li.schema("l_shipdate").dataType))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            ExactAgg.sumD(col("l_quantity")).as("sum_qty"),
            ExactAgg.sumD(col("l_extendedprice")).as("sum_base_price"),
            sum(ep * (lit(1).cast("decimal(18,2)") - disc)).cast("double").as("sum_disc_price"),
            sum(ep * (lit(1).cast("decimal(18,2)") - disc) *
              (lit(1).cast("decimal(18,2)") + tax)).cast("double").as("sum_charge"),
            ExactAgg.avgD(col("l_quantity")).as("avg_qty"),
            ExactAgg.avgD(col("l_extendedprice")).as("avg_price"),
            ExactAgg.avgD(col("l_discount")).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some(s"""SELECT l_returnflag, l_linestatus,
        | $sumQty AS sum_qty,
        | ${ExactAgg.sumSql("l_extendedprice")} AS sum_base_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) *
        |   (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2)))) AS DOUBLE) AS sum_charge,
        | ${ExactAgg.avgSql("l_quantity")} AS avg_qty,
        | ${ExactAgg.avgSql("l_extendedprice")} AS avg_price,
        | ${ExactAgg.avgSql("l_discount")} AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    "q_tpch_q3" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val cutoffL = lit("1999-03-15").cast(li.schema("l_shipdate").dataType)
        val o = Tables.orders(s, d)
        val cutoffO = lit("1999-03-15").cast(o.schema("o_orderdate").dataType)
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .join(o.filter(col("o_orderdate") < cutoffO),
            col("c_custkey") === col("o_custkey"))
          .join(li.filter(col("l_shipdate") > cutoffL),
            col("o_orderkey") === col("l_orderkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(sum(rev).cast("double").as("revenue"))
          .orderBy(desc("revenue"), asc("o_orderdate"), asc("l_orderkey"))
          .limit(10)
      },
      Some("""SELECT l_orderkey, o_orderdate, o_orderpriority,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        | AND o_orderdate < TIMESTAMP '1999-03-15 00:00:00'
        | AND l_shipdate > TIMESTAMP '1999-03-15 00:00:00'
        |GROUP BY 1, 2, 3
        |ORDER BY revenue DESC, o_orderdate ASC, l_orderkey ASC LIMIT 10""".stripMargin)),

    // Q5: local-supplier revenue per nation — the 6-table join exercise
    // (customer ⋈ orders ⋈ lineitem ⋈ supplier ⋈ nation ⋈ region with the
    // customer-and-supplier-same-nation constraint).
    "q_tpch_q5" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
        val dt = o.schema("o_orderdate").dataType
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        Tables.customer(s, d)
          .join(o.filter(col("o_orderdate") >= lit("1997-01-01").cast(dt) &&
              col("o_orderdate") < lit("1998-01-01").cast(dt)),
            col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, d), col("o_orderkey") === col("l_orderkey"))
          .join(Tables.supplier(s, d),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
          .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, d),
            col("n_regionkey") === col("r_regionkey") && col("r_name") === "ASIA")
          .groupBy("n_name")
          .agg(sum(rev).cast("double").as("revenue"))
          .orderBy(desc("revenue"), asc("n_name"))
      },
      Some("""SELECT n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        | JOIN nation ON s_nationkey = n_nationkey
        | JOIN region ON n_regionkey = r_regionkey AND r_name = 'ASIA'
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY 1 ORDER BY revenue DESC, n_name ASC""".stripMargin)),

    // Q7: volume shipping between two nations — the disjunctive
    // nation-pair join (either direction), grouped by year.
    "q_tpch_q7" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val dt = li.schema("l_shipdate").dataType
        val n1 = Tables.nation(s, d)
          .select(col("n_nationkey").as("s_nkey"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d)
          .select(col("n_nationkey").as("c_nkey"), col("n_name").as("cust_nation"))
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        Tables.supplier(s, d)
          .join(li.filter(col("l_shipdate") >= lit("1997-01-01").cast(dt) &&
              col("l_shipdate") < lit("1999-01-01").cast(dt)),
            col("s_suppkey") === col("l_suppkey"))
          .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(n1, col("s_nationkey") === col("s_nkey"))
          .join(n2, col("c_nationkey") === col("c_nkey"))
          .filter(
            (col("supp_nation") === "NATION_1" && col("cust_nation") === "NATION_2") ||
            (col("supp_nation") === "NATION_2" && col("cust_nation") === "NATION_1"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("bigint").as("l_year"))
          .agg(sum(rev).cast("double").as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      Some("""SELECT supp_nation, cust_nation, l_year,
        | CAST(sum(volume) AS DOUBLE) AS revenue
        |FROM (
        | SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
        |  CAST(year(l_shipdate) AS BIGINT) AS l_year,
        |  CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS volume
        | FROM supplier
        |  JOIN lineitem ON s_suppkey = l_suppkey
        |  JOIN orders ON l_orderkey = o_orderkey
        |  JOIN customer ON o_custkey = c_custkey
        |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
        | WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        |     OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        |  AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1999-01-01 00:00:00')
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Q8: national market share — a conditional-sum ratio per year over the
    // full star join (share of ASIA-region revenue supplied by one nation).
    "q_tpch_q8" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
        val dt = o.schema("o_orderdate").dataType
        val vol = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        val suppNation = Tables.supplier(s, d)
          .join(Tables.nation(s, d), col("s_nationkey") === col("n_nationkey"))
          .select(col("s_suppkey"), col("n_name").as("supp_nation"))
        Tables.lineitem(s, d)
          .join(o.filter(col("o_orderdate") >= lit("1997-01-01").cast(dt) &&
              col("o_orderdate") < lit("1999-01-01").cast(dt)),
            col("l_orderkey") === col("o_orderkey"))
          .join(Tables.customer(s, d), col("o_custkey") === col("c_custkey"))
          .join(Tables.nation(s, d).withColumnRenamed("n_name", "cust_nation"),
            col("c_nationkey") === col("n_nationkey"))
          .join(Tables.region(s, d),
            col("n_regionkey") === col("r_regionkey") && col("r_name") === "ASIA")
          .join(suppNation, col("l_suppkey") === col("s_suppkey"))
          .groupBy(year(col("o_orderdate")).cast("bigint").as("o_year"))
          .agg((sum(when(col("supp_nation") === "NATION_3", vol)
              .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
            sum(vol).cast("double")).as("mkt_share"))
          .orderBy("o_year")
      },
      Some("""SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        | CAST(sum(CASE WHEN n1.n_name = 'NATION_3'
        |   THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |   ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |  AS mkt_share
        |FROM lineitem
        | JOIN orders ON l_orderkey = o_orderkey
        | JOIN customer ON o_custkey = c_custkey
        | JOIN nation n2 ON c_nationkey = n2.n_nationkey
        | JOIN region ON n2.n_regionkey = r_regionkey AND r_name = 'ASIA'
        | JOIN supplier ON l_suppkey = s_suppkey
        | JOIN nation n1 ON s_nationkey = n1.n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1999-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q15: top supplier by quarterly revenue (window-max instead of the
    // original's view + subquery; deterministic tie-break by suppkey).
    "q_tpch_q15" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val dt = li.schema("l_shipdate").dataType
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        val revenue = li.filter(col("l_shipdate") >= lit("1997-01-01").cast(dt) &&
            col("l_shipdate") < lit("1997-04-01").cast(dt))
          .groupBy("l_suppkey")
          .agg(sum(rev).cast("double").as("total_revenue"))
        revenue
          .withColumn("rnk", row_number().over(
            Window.orderBy(desc("total_revenue"), asc("l_suppkey"))))
          .filter(col("rnk") === 1)
          .join(Tables.supplier(s, d), col("l_suppkey") === col("s_suppkey"))
          .select("s_suppkey", "s_name", "total_revenue")
      },
      Some("""WITH revenue AS (
        | SELECT l_suppkey, CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS total_revenue
        | FROM lineitem
        | WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1997-04-01 00:00:00'
        | GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY total_revenue DESC, l_suppkey ASC) AS rnk
        | FROM revenue)
        |SELECT s_suppkey, s_name, total_revenue
        |FROM r JOIN supplier ON l_suppkey = s_suppkey
        |WHERE rnk = 1""".stripMargin)),

    // Q10: returned-item reporting — customers who returned the most, one
    // quarter, top 20 (deterministic tie-break by custkey).
    "q_tpch_q10" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
        val dt = o.schema("o_orderdate").dataType
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        Tables.customer(s, d)
          .join(o.filter(col("o_orderdate") >= lit("1997-10-01").cast(dt) &&
              col("o_orderdate") < lit("1998-01-01").cast(dt)),
            col("c_custkey") === col("o_custkey"))
          .join(Tables.lineitem(s, d).filter(col("l_returnflag") === "R"),
            col("o_orderkey") === col("l_orderkey"))
          .join(Tables.nation(s, d), col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
          .agg(sum(rev).cast("double").as("revenue"))
          .orderBy(desc("revenue"), asc("c_custkey"))
          .limit(20)
      },
      Some("""SELECT c_custkey, c_name, c_acctbal, n_name,
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN lineitem ON o_orderkey = l_orderkey
        | JOIN nation ON c_nationkey = n_nationkey
        |WHERE o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        | AND l_returnflag = 'R'
        |GROUP BY 1, 2, 3, 4
        |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin)),

    // Q18: large-volume customers — group-by-having feeding a semi join.
    "q_tpch_q18" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val bigOrders = li.groupBy("l_orderkey")
          .agg(ExactAgg.sumD(col("l_quantity")).as("total_qty"))
          .filter(col("total_qty") > 250.0)
        Tables.customer(s, d)
          .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
          .join(bigOrders, col("o_orderkey") === col("l_orderkey"))
          .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
            col("o_orderdate"), col("o_totalprice"), col("total_qty"))
          .orderBy(desc("o_totalprice"), asc("o_orderkey"))
          .limit(100)
      },
      Some(s"""WITH big AS (
        | SELECT l_orderkey, $sumQty AS total_qty
        | FROM lineitem GROUP BY 1 HAVING total_qty > 250.0)
        |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, total_qty
        |FROM customer
        | JOIN orders ON c_custkey = o_custkey
        | JOIN big ON o_orderkey = l_orderkey
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 100""".stripMargin)),

    // Q17: small-quantity-order revenue. The reference shape is a correlated
    // scalar subquery (per-part avg quantity); the Spark-first decorrelation
    // is a window over the brand-filtered lineitems — ONE shuffle on
    // l_partkey, no self-join, brand dim broadcast. Threshold arithmetic is
    // decimal-exact sum / count so both engines compare against bit-identical
    // doubles. (No p_container in the driver schema; p_brand carries the
    // selective filter.)
    "q_tpch_q17" -> Q(
      (s, d) => {
        val p = Tables.part(s, d).filter(col("p_brand") === "Brand#1")
          .select("p_partkey")
        val w = Window.partitionBy("l_partkey")
        val thresh = lit(0.2) *
          (sum(col("l_quantity").cast("decimal(18,2)")).over(w).cast("double") /
            count(col("l_quantity")).over(w))
        Tables.lineitem(s, d)
          .join(broadcast(p), col("l_partkey") === col("p_partkey"))
          .withColumn("qty_thresh", thresh)
          .filter(col("l_quantity") < col("qty_thresh"))
          .agg((ExactAgg.sumD(col("l_extendedprice")) / 7).as("avg_yearly"),
            count(lit(1)).as("n"))
      },
      Some(s"""WITH f AS (
        | SELECT l_extendedprice, l_quantity,
        |  CAST(0.2 AS DOUBLE) *
        |   (CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (PARTITION BY l_partkey) AS DOUBLE) /
        |    count(l_quantity) OVER (PARTITION BY l_partkey)) AS qty_thresh
        | FROM lineitem JOIN part ON p_partkey = l_partkey
        | WHERE p_brand = 'Brand#1')
        |SELECT ${ExactAgg.sumSql("l_extendedprice")} / 7 AS avg_yearly,
        | count(*) AS n
        |FROM f WHERE l_quantity < qty_thresh""".stripMargin)),

    // Q21: suppliers who kept orders waiting — the EXISTS / NOT EXISTS chain,
    // expressed as left-semi ("some other supplier shipped in this order")
    // then left-anti ("no other supplier was late") joins, all hash joins on
    // l_orderkey so the three lineitem branches co-partition. "Late" is
    // l_shipdate > o_orderdate + 60 days (the driver schema has no
    // receipt/commit dates; same comparison on both engines).
    "q_tpch_q21" -> Q(
      (s, d) => {
        val late = expr("INTERVAL 60 DAYS")
        val li = Tables.lineitem(s, d)
          .select("l_orderkey", "l_suppkey", "l_shipdate")
        val o = Tables.orders(s, d).filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_orderdate")
        val l1 = li.join(o, col("l_orderkey") === col("o_orderkey"))
          .filter(col("l_shipdate") > col("o_orderdate") + late)
          .select(col("l_orderkey").as("lo"), col("l_suppkey").as("ls"),
            col("o_orderdate").as("od"))
        val l2 = li.select(col("l_orderkey").as("lo2"), col("l_suppkey").as("ls2"))
        val l3 = li.select(col("l_orderkey").as("lo3"), col("l_suppkey").as("ls3"),
          col("l_shipdate").as("sd3"))
        val sole = l1
          .join(l2, col("lo") === col("lo2") && col("ls") =!= col("ls2"), "left_semi")
          .join(l3, col("lo") === col("lo3") && col("ls") =!= col("ls3") &&
            col("sd3") > col("od") + late, "left_anti")
        sole
          .join(Tables.supplier(s, d), col("ls") === col("s_suppkey"))
          .join(broadcast(Tables.nation(s, d).filter(col("n_name") === "NATION_3")),
            col("s_nationkey") === col("n_nationkey"))
          .groupBy("s_name")
          .agg(count(lit(1)).as("numwait"))
          .orderBy(desc("numwait"), asc("s_name"))
          .limit(100)
      },
      Some("""SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders, nation
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        | AND o_orderstatus = 'F'
        | AND l1.l_shipdate > o_orderdate + INTERVAL 60 DAY
        | AND EXISTS (SELECT 1 FROM lineitem l2
        |   WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
        | AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |   WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
        |    AND l3.l_shipdate > o_orderdate + INTERVAL 60 DAY)
        | AND s_nationkey = n_nationkey AND n_name = 'NATION_3'
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 100""".stripMargin)),

    // Q4: order-priority checking — EXISTS as a conditional left-semi join
    // (late lineitem in the order window); "late" adapted as in Q21.
    "q_tpch_q4" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
        val dt = o.schema("o_orderdate").dataType
        val li = Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
        o.filter(col("o_orderdate") >= lit("1997-01-01").cast(dt) &&
            col("o_orderdate") < lit("1997-04-01").cast(dt))
          .join(li, col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
            "left_semi")
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("order_count"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        | AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00'
        | AND EXISTS (SELECT 1 FROM lineitem
        |   WHERE l_orderkey = o_orderkey
        |    AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q13: customer order-count distribution — left outer join preserving
    // order-less customers, then a two-level aggregation (the second is tiny
    // post-agg). o_comment NOT LIKE adapted to an o_orderpriority exclusion.
    "q_tpch_q13" -> Q(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d).filter(col("o_orderpriority") =!= "1-URGENT"),
          col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("c_count"))
        .groupBy("c_count")
        .agg(count(lit(1)).as("custdist"))
        .orderBy(desc("custdist"), desc("c_count")),
      Some("""SELECT c_count, count(*) AS custdist FROM (
        | SELECT c_custkey, count(o_orderkey) AS c_count
        | FROM customer LEFT OUTER JOIN orders
        |  ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        | GROUP BY c_custkey)
        |GROUP BY 1 ORDER BY custdist DESC, c_count DESC""".stripMargin)),

    // Q19: discounted revenue under a disjunctive brand/size/quantity
    // predicate — the OR-of-ANDs join filter exercise; part is broadcast so
    // the predicate evaluates stream-side in the scan stage.
    "q_tpch_q19" -> Q(
      (s, d) => {
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        def clause(brand: String, szLo: Int, szHi: Int, qLo: Int, qHi: Int) =
          col("p_brand") === brand && col("p_size").between(szLo, szHi) &&
            col("l_quantity").between(qLo, qHi)
        Tables.lineitem(s, d)
          .join(broadcast(Tables.part(s, d)), col("l_partkey") === col("p_partkey"))
          .filter(clause("Brand#1", 1, 10, 1, 11) ||
            clause("Brand#2", 1, 20, 10, 20) ||
            clause("Brand#3", 1, 30, 20, 30))
          .agg(sum(rev).cast("double").as("revenue"), count(lit(1)).as("n"))
      },
      Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
        | count(*) AS n
        |FROM lineitem JOIN part ON p_partkey = l_partkey
        |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 11)
        | OR (p_brand = 'Brand#2' AND p_size BETWEEN 1 AND 20 AND l_quantity BETWEEN 10 AND 20)
        | OR (p_brand = 'Brand#3' AND p_size BETWEEN 1 AND 30 AND l_quantity BETWEEN 20 AND 30)""".stripMargin)),

    // Q22: global sales opportunity — a scalar subquery (global positive-
    // balance mean, 1 row, broadcast cross join) plus NOT EXISTS as a
    // left-anti join. Phone country codes adapted to nation keys; "no
    // orders" adapted to "no urgent orders" (every sf0.01 customer orders).
    "q_tpch_q22" -> Q(
      (s, d) => {
        val c = Tables.customer(s, d)
        val avgPos = c.filter(col("c_acctbal") > 0.0)
          .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("ab"))
        val urgent = Tables.orders(s, d)
          .filter(col("o_orderpriority") === "1-URGENT").select("o_custkey")
        c.filter(col("c_nationkey") < 10)
          .crossJoin(broadcast(avgPos))
          .filter(col("c_acctbal") > col("ab"))
          .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
          .groupBy(col("c_nationkey").as("cntry"))
          .agg(count(lit(1)).as("numcust"),
            ExactAgg.sumD(col("c_acctbal")).as("totacctbal"))
          .orderBy("cntry")
      },
      Some(s"""WITH pos AS (SELECT ${ExactAgg.sumSql("c_acctbal")} / count(*) AS ab
        | FROM customer WHERE c_acctbal > 0.0)
        |SELECT c_nationkey AS cntry, count(*) AS numcust,
        | ${ExactAgg.sumSql("c_acctbal")} AS totacctbal
        |FROM customer, pos
        |WHERE c_acctbal > ab AND c_nationkey < 10
        | AND NOT EXISTS (SELECT 1 FROM orders
        |   WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Q14: promotion effect — ratio of two exact-decimal sums.
    "q_tpch_q14" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val dt = li.schema("l_shipdate").dataType
        val rev = (col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        li.filter(col("l_shipdate") >= lit("1997-09-01").cast(dt) &&
            col("l_shipdate") < lit("1997-10-01").cast(dt))
          .join(Tables.part(s, d), col("l_partkey") === col("p_partkey"))
          .agg((lit(100.0) *
            sum(when(col("p_type").startsWith("PROMO"), rev)
              .otherwise(lit(0).cast("decimal(18,2)"))).cast("double") /
            sum(rev).cast("double")).as("promo_revenue"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT 100.0 * CAST(sum(CASE WHEN p_type LIKE 'PROMO%'
        |  THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |   (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |  ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE) /
        | CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |  AS promo_revenue,
        | count(*) AS n
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'""".stripMargin)),

    "q_tpch_q6" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val dt = li.schema("l_shipdate").dataType
        li.filter(
            col("l_shipdate") >= lit("1997-01-01").cast(dt) &&
            col("l_shipdate") < lit("1998-01-01").cast(dt) &&
            col("l_discount").cast("decimal(18,2)").between(0.05, 0.07) &&
            col("l_quantity") < 24)
          .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
            col("l_discount").cast("decimal(18,2)")).cast("double").as("revenue"),
            count(lit(1)).as("n"))
      },
      Some("""SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |  CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        | count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        | AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.05 AND 0.07
        | AND l_quantity < 24""".stripMargin)),

    // Q12: shipping-mode priority counts — orders ⋈ lineitem, two
    // conditional counts per mode. Schema adaptation (the synthetic lineitem
    // has no l_shipmode/l_commitdate/l_receiptdate): "mode" is l_returnflag
    // and "late" is the q4/q21 convention, l_shipdate > o_orderdate +
    // 60 days; the receipt-year window becomes a ship-year window. Both
    // sides are fact-scale, so this is a plain shuffle join on the order
    // key with the counts partially aggregated map-side after it.
    "q_tpch_q12" -> Q(
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val dt = li.schema("l_shipdate").dataType
        val hi = col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        Tables.orders(s, d).select("o_orderkey", "o_orderdate", "o_orderpriority")
          .join(li.filter(col("l_shipdate") >= lit("1997-01-01").cast(dt) &&
              col("l_shipdate") < lit("1998-01-01").cast(dt) &&
              col("l_returnflag").isin("A", "R"))
              .select("l_orderkey", "l_returnflag", "l_shipdate"),
            col("o_orderkey") === col("l_orderkey") &&
              col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"))
          .groupBy(col("l_returnflag").as("shipmode"))
          .agg(count(when(hi, 1)).as("high_line_count"),
            count(when(!hi, 1)).as("low_line_count"))
          .orderBy("shipmode")
      },
      Some("""SELECT l_returnflag AS shipmode,
        | count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |   THEN 1 END) AS high_line_count,
        | count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
        |   THEN 1 END) AS low_line_count
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE l_returnflag IN ('A', 'R')
        | AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        | AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
        | AND l_shipdate > o_orderdate + INTERVAL 60 DAY
        |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Time-series regularization: hourly bucket means densified to the
    //      full hour grid per user, gaps forward-filled.
    "q_t_resample_ffill" -> Q(
      (s, d) => {
        val hourly = Tables.events(s, d).filter(col("user_id") < 5)
          .groupBy(col("user_id"), date_trunc("hour", col("ts")).as("hour"))
          .agg(ExactAgg.avgD(col("value")).as("value"))
        Resample.fillForward(hourly, "user_id", "hour", Seq("value"))
          .orderBy("user_id", "hour")
      },
      Some(s"""WITH b AS (
        | SELECT user_id, date_trunc('hour', ts) AS hour,
        |  ${ExactAgg.avgSql("value")} AS value
        | FROM events WHERE user_id < 5 GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(hour) AS t0, max(hour) AS t1 FROM b GROUP BY 1),
        |grid AS (SELECT user_id,
        |  unnest(generate_series(t0, t1, INTERVAL '1 hour')) AS hour FROM bounds),
        |j AS (SELECT g.user_id, g.hour, b.value,
        |  b.user_id IS NOT NULL AS is_observed
        | FROM grid g LEFT JOIN b ON b.user_id = g.user_id AND b.hour = g.hour)
        |SELECT user_id, hour,
        | last_value(value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY hour
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value,
        | is_observed
        |FROM j ORDER BY user_id, hour""".stripMargin)),

    // ---- Semi/anti joins (engine completion; reference has none).
    "q_j_semi" -> Q(
      (s, d) => {
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 400000.0)
        Tables.customer(s, d)
          .join(big, col("c_custkey") === col("o_custkey"), "left_semi")
          .select("c_custkey", "c_mktsegment")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_totalprice > 400000.0)
        |ORDER BY c_custkey""".stripMargin)),

    "q_j_anti" -> Q(
      (s, d) => Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_mktsegment")
        .orderBy("c_custkey"),
      Some("""SELECT c_custkey, c_mktsegment FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin)),

    // ---- Set ops beyond union: intersect / except (distinct semantics).
    "q_u_intersect_except" -> Q(
      (s, d) => {
        val shipped = Tables.lineitem(s, d).select(col("l_orderkey").as("okey")).distinct()
        val big = Tables.orders(s, d).filter(col("o_totalprice") > 200000.0)
          .select(col("o_orderkey").as("okey")).distinct()
        shipped.intersect(big).withColumn("op", lit("both"))
          .unionByName(big.except(shipped).withColumn("op", lit("only_big")))
          .orderBy("op", "okey")
      },
      Some("""SELECT * FROM (
        | SELECT okey, 'both' AS op FROM
        |  (SELECT DISTINCT l_orderkey AS okey FROM lineitem
        |   INTERSECT
        |   SELECT DISTINCT o_orderkey FROM orders WHERE o_totalprice > 200000.0)
        | UNION ALL
        | SELECT okey, 'only_big' FROM
        |  (SELECT DISTINCT o_orderkey AS okey FROM orders WHERE o_totalprice > 200000.0
        |   EXCEPT
        |   SELECT DISTINCT l_orderkey FROM lineitem))
        |ORDER BY op, okey""".stripMargin)),

    // ---- Pivot: wide per-key columns from a tall table.
    "q_a_pivot" -> Q(
      (s, d) => Tables.lineitem(s, d)
        .groupBy("l_returnflag")
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(count(lit(1)))
        .select(col("l_returnflag"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
        | count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS n_f,
        | count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS n_o
        |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin)),

    // ---- Rank-statistics windows: percent_rank / cume_dist.
    "q_w_rank_stats" -> Q(
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
        Tables.customer(s, d)
          .filter(col("c_custkey") <= 300)
          .select(col("c_custkey"), col("c_mktsegment").as("segment"),
            col("c_acctbal"),
            percent_rank().over(w).as("pct_rank"),
            cume_dist().over(w).as("cume"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_mktsegment AS segment, c_acctbal,
        | percent_rank() OVER w AS pct_rank, cume_dist() OVER w AS cume
        |FROM customer WHERE c_custkey <= 300
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin)))

  /** Every payload shape the reference's region endpoints tolerate
    * (web.py:51-76): bare list, keyed dicts with aliased/numeric keys, and a
    * plain id→name map. One per shape, normalized through one code path. */
  val S6FixturePayloads: Seq[String] = Seq(
    """[{"id": "11", "name": "ACEH"}]""",
    """{"provinces": [{"province_id": 12, "province_name": "SUMATERA UTARA"}]}""",
    """{"data": [{"code": "13", "nama": "SUMATERA BARAT"}]}""",
    """{"14": "RIAU", "15": "JAMBI"}""")

  /** F8 compass as a DuckDB CASE over the same arithmetic Spark runs:
    * idx = CAST(round(deg / 22.5) AS INT) % 16 (deg already in [0,360)). */
  private def compassCaseSql(degCol: String): String = {
    val cases = WeatherFunctions.CompassPoints.zipWithIndex.map { case (p, i) =>
      s"WHEN $i THEN '$p'"
    }.mkString(" ")
    s"CASE CAST(round($degCol / 22.5) AS INT) % 16 $cases END"
  }
}
