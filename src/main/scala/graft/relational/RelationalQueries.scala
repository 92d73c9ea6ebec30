package graft.relational

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The standard relational surface (SURVEY.md §2B): scans, filters, joins,
  * aggregation, windows, sort/limit, set ops, JSON/string/date functions.
  * All pure built-ins — Catalyst handles pushdown/pruning/join selection;
  * dimension joins are marked `broadcast` explicitly since at 100 TB the
  * fact side (lineitem/orders/events) dwarfs region/nation/customer/part.
  *
  * Every query is fully deterministic: explicit ORDER BY with a unique
  * tie-break key, aggregates rounded to absorb summation-order ulp drift
  * between Spark and the DuckDB oracle.
  */
object RelationalQueries {
  private def li(s: SparkSession, d: String) = Tables.lineitem(s, d)
  private def ord(s: SparkSession, d: String) = Tables.orders(s, d)
  private def cust(s: SparkSession, d: String) = Tables.customer(s, d)
  private def nat(s: SparkSession, d: String) = Tables.nation(s, d)
  private def reg(s: SparkSession, d: String) = Tables.region(s, d)
  private def prt(s: SparkSession, d: String) = Tables.part(s, d)
  private def sup(s: SparkSession, d: String) = Tables.supplier(s, d)
  private def ev(s: SparkSession, d: String) = Tables.events(s, d)

  /** Epoch seconds (with fractional micros) of a TIMESTAMP_NTZ column;
    * session tz is UTC so the ntz->ltz hop is the identity.
    */
  private def epochS(c: org.apache.spark.sql.Column) =
    c.cast("timestamp").cast("double")

  def defs: Seq[Q] = Seq(
    // ---- q01: full-scan aggregation (TPC-H Q1 pattern): map-side partial
    // aggregation, 6 groups -> tiny shuffle. Filter pushed to parquet.
    Q("q01_pricing_summary",
      (s, d) =>
        li(s, d)
          .filter(col("l_shipdate") <= lit("1999-12-31 00:00:00").cast("timestamp_ntz"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            round(sum("l_quantity"), 2).as("sum_qty"),
            round(sum("l_extendedprice"), 2).as("sum_base_price"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
            round(avg("l_quantity"), 4).as("avg_qty"),
            round(avg("l_extendedprice"), 4).as("avg_price"),
            round(avg("l_discount"), 4).as("avg_disc"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             round(sum(l_quantity),2) AS sum_qty,
             round(sum(l_extendedprice),2) AS sum_base_price,
             round(sum(l_extendedprice*(1-l_discount)),2) AS sum_disc_price,
             round(sum(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
             round(avg(l_quantity),4) AS avg_qty,
             round(avg(l_extendedprice),4) AS avg_price,
             round(avg(l_discount),4) AS avg_disc,
             count(*) AS count_order
             FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-31 00:00:00'
             GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""")),

    // ---- q02: star-schema join chain; all dims broadcast (shuffle only on
    // the lineitem->orders join, which AQE can also skew-split at scale).
    Q("q02_revenue_by_nation",
      (s, d) => {
        val l = li(s, d); val o = ord(s, d); val c = cust(s, d)
        val n = nat(s, d); val r = reg(s, d)
        l.join(o, l("l_orderkey") === o("o_orderkey"))
          .join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
          .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(
            round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
            countDistinct("l_orderkey").as("n_orders"))
          .orderBy("r_name", "n_name")
      },
      Some("""SELECT r_name, n_name,
             round(sum(l_extendedprice*(1-l_discount)),2) AS revenue,
             count(DISTINCT l_orderkey) AS n_orders
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             JOIN customer ON o_custkey = c_custkey
             JOIN nation ON c_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
             GROUP BY r_name, n_name ORDER BY r_name, n_name""")),

    // ---- q03: top-k by aggregate -> TakeOrderedAndProject (no full sort).
    Q("q03_top_orders",
      (s, d) => {
        val l = li(s, d); val o = ord(s, d)
        l.groupBy("l_orderkey")
          .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
          .join(o, col("l_orderkey") === o("o_orderkey"))
          .select(col("o_orderkey"), col("o_orderdate"), col("revenue"))
          .orderBy(col("revenue").desc, col("o_orderkey"))
          .limit(10)
      },
      Some("""SELECT o_orderkey, o_orderdate, revenue FROM (
             SELECT l_orderkey, round(sum(l_extendedprice*(1-l_discount)),2) AS revenue
             FROM lineitem GROUP BY l_orderkey) r
             JOIN orders ON l_orderkey = o_orderkey
             ORDER BY revenue DESC, o_orderkey LIMIT 10""")),

    // ---- q04: EXISTS -> left-semi join.
    Q("q04_priority_semi",
      (s, d) => {
        val o = ord(s, d)
        val big = li(s, d).filter(col("l_quantity") > 45).select("l_orderkey")
        o.join(big, o("o_orderkey") === big("l_orderkey"), "left_semi")
          .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, count(*) AS n FROM orders
             WHERE EXISTS (SELECT 1 FROM lineitem
                           WHERE l_orderkey = o_orderkey AND l_quantity > 45)
             GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- q05: dim-broadcast join + two-key group.
    Q("q05_segment_status",
      (s, d) => {
        val o = ord(s, d); val c = cust(s, d)
        o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
          .groupBy("c_mktsegment", "o_orderstatus")
          .agg(count(lit(1)).as("n"),
            round(avg("o_totalprice"), 4).as("avg_price"),
            round(sum("o_totalprice"), 2).as("total"))
          .orderBy("c_mktsegment", "o_orderstatus")
      },
      Some("""SELECT c_mktsegment, o_orderstatus, count(*) AS n,
             round(avg(o_totalprice),4) AS avg_price,
             round(sum(o_totalprice),2) AS total
             FROM orders JOIN customer ON o_custkey = c_custkey
             GROUP BY c_mktsegment, o_orderstatus
             ORDER BY c_mktsegment, o_orderstatus""")),

    // ---- q06: selective filtered aggregation (all predicates pushed down).
    Q("q06_filtered_revenue",
      (s, d) =>
        li(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp_ntz")
            && col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp_ntz")
            && col("l_discount").between(0.05, 0.07)
            && col("l_quantity") < 24)
          .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
            count(lit(1)).as("n")),
      Some("""SELECT round(sum(l_extendedprice*l_discount),2) AS revenue, count(*) AS n
             FROM lineitem
             WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
               AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
               AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""")),

    // ---- q07: ranking window, top-2 per group.
    Q("q07_top2_orders_per_cust",
      (s, d) => {
        val w = Window.partitionBy("o_custkey")
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        ord(s, d)
          .withColumn("rn", row_number().over(w).cast("long"))
          .filter(col("rn") <= 2)
          .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
          .orderBy("o_custkey", "rn")
      },
      Some("""SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
             SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
             FROM orders) t WHERE rn <= 2 ORDER BY o_custkey, rn""")),

    // ---- q08: running total (prefix-sum window) over the event stream.
    Q("q08_running_total",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev(s, d)
          .withColumn("running", round(sum("value").over(w), 4))
          .select("user_id", "event_id", "running")
          .orderBy("user_id", "event_id")
      },
      Some(s"""WITH ${Tables.evCte}
              SELECT user_id, event_id,
              round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),4) AS running
              FROM ev ORDER BY user_id, event_id""")),

    // ---- q09: lag/lead deltas.
    Q("q09_value_delta",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ev(s, d)
          .withColumn("delta", round(col("value") - lag("value", 1).over(w), 2))
          .filter(col("delta").isNotNull)
          .select("user_id", "event_id", "delta")
          .orderBy("user_id", "event_id")
      },
      Some(s"""WITH ${Tables.evCte}
              SELECT user_id, event_id, delta FROM (
                SELECT user_id, event_id,
                round(value - lag(value) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id),2) AS delta FROM ev) t
              WHERE delta IS NOT NULL ORDER BY user_id, event_id""")),

    // ---- q10: sessionization (30-min inactivity gap) via gaps-and-islands.
    Q("q10_sessionize",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        val cum = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev(s, d)
          .withColumn("prev_ts", lag("ts", 1).over(w))
          .withColumn("is_new",
            when(col("prev_ts").isNull
              || unix_micros(col("ts").cast("timestamp"))
                - unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L, 1L)
              .otherwise(0L))
          .withColumn("session_id", sum("is_new").over(cum))
          .groupBy("user_id", "session_id")
          // exact integer microseconds — float epoch subtraction rounds
          // differently across engines at 1e9-second magnitudes.
          .agg(count(lit(1)).as("n_events"),
            (max(unix_micros(col("ts").cast("timestamp")))
              - min(unix_micros(col("ts").cast("timestamp")))).as("duration_us"))
          .orderBy("user_id", "session_id")
      },
      Some(s"""WITH ${Tables.evCte},
              g AS (SELECT user_id, event_id, ts,
                CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                       OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                     THEN 1 ELSE 0 END AS is_new FROM ev),
              sess AS (SELECT user_id, event_id, ts,
                CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g)
              SELECT user_id, session_id, count(*) AS n_events,
                max(epoch_us(ts)) - min(epoch_us(ts)) AS duration_us
              FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id""")),

    // ---- q11: JSON extraction from events.props.
    Q("q11_json_extract",
      (s, d) =>
        ev(s, d)
          .withColumn("k", from_json(col("props"), lit("k INT")).getField("k"))
          .groupBy("event_type")
          .agg(round(avg("k"), 4).as("avg_k"),
            max("k").cast("int").as("max_k"),
            count(lit(1)).as("n"))
          .orderBy("event_type"),
      Some(s"""WITH ${Tables.evCte}
              SELECT event_type,
              round(avg(CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS INT)),4) AS avg_k,
              max(CAST(regexp_extract(props, '"k": (-?\\d+)', 1) AS INT)) AS max_k,
              count(*) AS n FROM ev GROUP BY event_type ORDER BY event_type""")),

    // ---- q12: date bucketing (month grain).
    Q("q12_monthly_orders",
      (s, d) =>
        ord(s, d)
          .withColumn("month", trunc(col("o_orderdate"), "month"))
          .groupBy("month")
          .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy("month"),
      Some("""SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             count(*) AS n_orders, round(sum(o_totalprice),2) AS total
             FROM orders GROUP BY 1 ORDER BY 1""")),

    // ---- q13: set operations (INTERSECT / EXCEPT / UNION ALL).
    Q("q13_setops_nations",
      (s, d) => {
        val n = nat(s, d)
        val custN = cust(s, d).join(broadcast(n),
          col("c_nationkey") === col("n_nationkey")).select("n_name").distinct()
        val supN = sup(s, d).join(broadcast(n),
          col("s_nationkey") === col("n_nationkey")).select("n_name").distinct()
        custN.intersect(supN).withColumn("tag", lit("both"))
          .unionAll(custN.except(supN).withColumn("tag", lit("cust_only")))
          .orderBy("tag", "n_name")
      },
      Some("""SELECT n_name, 'both' AS tag FROM (
               SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
               INTERSECT
               SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey) t1
             UNION ALL
             SELECT n_name, 'cust_only' AS tag FROM (
               SELECT n_name FROM customer JOIN nation ON c_nationkey = n_nationkey
               EXCEPT
               SELECT n_name FROM supplier JOIN nation ON s_nationkey = n_nationkey) t2
             ORDER BY tag, n_name""")),

    // ---- q14: ROLLUP grouping sets (nulls coalesced for stable ordering).
    Q("q14_rollup_lineitem",
      (s, d) =>
        li(s, d)
          .rollup("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("qty"))
          .select(coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
            coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
            col("n"), col("qty"))
          .orderBy("rf", "ls"),
      Some("""SELECT coalesce(l_returnflag,'ALL') AS rf,
             coalesce(l_linestatus,'ALL') AS ls,
             count(*) AS n, round(sum(l_quantity),2) AS qty
             FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
             ORDER BY rf, ls""")),

    // ---- q15: NOT EXISTS -> left-anti join (customers with no orders
    // before 1996 — non-empty at every scale factor).
    Q("q15_customers_no_orders",
      (s, d) => {
        val c = cust(s, d)
        val o = ord(s, d)
          .filter(col("o_orderdate") < lit("1996-01-01 00:00:00").cast("timestamp_ntz"))
          .select("o_custkey")
        c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
          .select("c_custkey", "c_name")
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_name FROM customer
             WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
               AND o_orderdate < TIMESTAMP '1996-01-01 00:00:00')
             ORDER BY c_custkey""")),

    // ---- q16: correlated scalar subquery -> window aggregate (one pass,
    // no recompute per row; at scale this avoids a second shuffle).
    Q("q16_above_nation_avg",
      (s, d) => {
        val w = Window.partitionBy("c_nationkey")
        val c = cust(s, d)
          .withColumn("nation_avg", avg("c_acctbal").over(w))
        c.filter(col("c_acctbal") > col("nation_avg"))
          .join(broadcast(nat(s, d)), col("c_nationkey") === col("n_nationkey"))
          .select(col("c_custkey"), col("c_acctbal"), col("n_name"))
          .orderBy("c_custkey")
      },
      Some("""SELECT c_custkey, c_acctbal, n_name
             FROM customer JOIN nation ON c_nationkey = n_nationkey
             WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
                                WHERE c2.c_nationkey = customer.c_nationkey)
             ORDER BY c_custkey""")),

    // ---- q17: string functions (upper/substr/like) + group.
    Q("q17_part_strings",
      (s, d) =>
        prt(s, d)
          .filter(col("p_type").like("PROMO%"))
          .withColumn("brand_u", upper(col("p_brand")))
          .withColumn("name_pfx", substring(col("p_name"), 1, 8))
          .groupBy("brand_u")
          .agg(count(lit(1)).as("n"),
            round(avg("p_retailprice"), 4).as("avg_price"),
            min("name_pfx").as("first_pfx"))
          .orderBy("brand_u"),
      Some("""SELECT upper(p_brand) AS brand_u, count(*) AS n,
             round(avg(p_retailprice),4) AS avg_price,
             min(substr(p_name,1,8)) AS first_pfx
             FROM part WHERE p_type LIKE 'PROMO%'
             GROUP BY 1 ORDER BY 1""")),

    // ---- q18: argmax per group via ranking window.
    Q("q18_priciest_part_per_brand",
      (s, d) => {
        val w = Window.partitionBy("p_brand")
          .orderBy(col("p_retailprice").desc, col("p_partkey"))
        prt(s, d)
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("p_brand", "p_name", "p_retailprice")
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand, p_name, p_retailprice FROM (
             SELECT p_brand, p_name, p_retailprice,
             row_number() OVER (PARTITION BY p_brand
               ORDER BY p_retailprice DESC, p_partkey) AS rn FROM part) t
             WHERE rn = 1 ORDER BY p_brand""")),

    // ---- q19: DISTINCT projection.
    Q("q19_distinct_flags",
      (s, d) =>
        li(s, d).select("l_returnflag", "l_linestatus").distinct()
          .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
             ORDER BY l_returnflag, l_linestatus""")),

    // ---- q20: exact percentiles (linear interpolation, both engines).
    Q("q20_value_percentiles",
      (s, d) =>
        ev(s, d)
          .groupBy("event_type")
          .agg(round(expr("percentile(value, 0.5)"), 4).as("p50"),
            round(expr("percentile(value, 0.9)"), 4).as("p90"),
            count(lit(1)).as("n"))
          .orderBy("event_type"),
      Some(s"""WITH ${Tables.evCte}
              SELECT event_type, round(quantile_cont(value, 0.5),4) AS p50,
              round(quantile_cont(value, 0.9),4) AS p90, count(*) AS n
              FROM ev GROUP BY event_type ORDER BY event_type""")),

    // ---- q52: single-pass APPROXIMATE percentiles — the sketch path
    // that replaces q20's exact sort-based percentile at 100 TB
    // (approx_percentile merges bounded-size summaries map-side; exact
    // percentile materializes each group). Sketch internals are
    // engine-specific, so the sketch VALUE can't be oracle-compared —
    // instead the error bound itself is the checked output: exact
    // percentiles (DuckDB-reproducible) plus per-group booleans
    // asserting the sketch lands within 2% (abs floor 0.01). A sketch
    // regression flips a boolean and goes red in CORRECTNESS.
    Q("q52_approx_percentiles",
      (s, d) => {
        def okCol(a: Column, e: Column): Column =
          abs(a - e) <= greatest(abs(e) * 0.02, lit(0.01))
        ev(s, d)
          .groupBy("event_type")
          .agg(round(expr("approx_percentile(value, 0.5, 10000)"), 4).as("a50"),
            round(expr("approx_percentile(value, 0.9, 10000)"), 4).as("a90"),
            round(expr("percentile(value, 0.5)"), 4).as("p50"),
            round(expr("percentile(value, 0.9)"), 4).as("p90"),
            count(lit(1)).as("n"))
          .select(col("event_type"), col("p50"), col("p90"), col("n"),
            okCol(col("a50"), col("p50")).as("ok_p50"),
            okCol(col("a90"), col("p90")).as("ok_p90"))
          .orderBy("event_type")
      },
      Some(s"""WITH ${Tables.evCte}
              SELECT event_type, round(quantile_cont(value, 0.5),4) AS p50,
              round(quantile_cont(value, 0.9),4) AS p90, count(*) AS n,
              TRUE AS ok_p50, TRUE AS ok_p90
              FROM ev GROUP BY event_type ORDER BY event_type""")),

    // ---- q21: as-of lookup: time of latest signup at or before each
    // purchase, per user (running conditional max — no join needed).
    Q("q21_asof_last_signup",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev(s, d)
          .withColumn("last_signup",
            max(when(col("event_type") === "signup", col("ts"))).over(w))
          .filter(col("event_type") === "purchase")
          .select("user_id", "event_id", "ts", "last_signup")
          .orderBy("user_id", "event_id")
      },
      Some(s"""WITH ${Tables.evCte}
              SELECT user_id, event_id, ts, last_signup FROM (
                SELECT user_id, event_id, ts, event_type,
                max(CASE WHEN event_type = 'signup' THEN ts END)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup
                FROM ev) t WHERE event_type = 'purchase'
              ORDER BY user_id, event_id""")),

    // ---- q43: CUBE grouping sets over order attributes.
    Q("q43_cube_orders",
      (s, d) =>
        ord(s, d)
          .cube("o_orderstatus", "o_orderpriority")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
          .select(coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
            coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
            col("n"), col("total"))
          .orderBy("status", "priority"),
      Some("""SELECT coalesce(o_orderstatus,'ALL') AS status,
             coalesce(o_orderpriority,'ALL') AS priority,
             count(*) AS n, round(sum(o_totalprice),2) AS total
             FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
             ORDER BY status, priority""")),

    // ---- q44: RANGE-frame window — trailing 1-hour event-time sum per
    // user (value-based frame, not row-based).
    Q("q44_trailing_hour_sum",
      (s, d) => {
        val withE = ev(s, d)
          .withColumn("e", epochS(col("ts")).cast("long"))
        val w = Window.partitionBy("user_id").orderBy("e")
          .rangeBetween(-3600L, 0L)
        withE
          .withColumn("trailing_sum", round(sum("value").over(w), 4))
          .select("user_id", "event_id", "trailing_sum")
          .orderBy("user_id", "event_id")
      },
      Some(s"""WITH ${Tables.evCte},
              we AS (SELECT user_id, event_id, value,
                     CAST(floor(epoch(ts)) AS BIGINT) AS e FROM ev)
              SELECT user_id, event_id,
              round(sum(value) OVER (PARTITION BY user_id ORDER BY e
                RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW),4) AS trailing_sum
              FROM we ORDER BY user_id, event_id""")),

    // ---- q47: the SQL entry point — temp views + spark.sql text,
    // including our registered native function. Same plan quality as the
    // DataFrame API (both compile through Catalyst).
    Q("q47_sql_api",
      (s, d) => {
        graft.functions.VectorOps.register(s)
        li(s, d).createOrReplaceTempView("lineitem")
        ord(s, d).createOrReplaceTempView("orders")
        s.sql("""
          SELECT o_orderpriority,
                 count(*) AS n,
                 round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
          GROUP BY o_orderpriority
          ORDER BY o_orderpriority""")
      },
      Some("""SELECT o_orderpriority, count(*) AS n,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
             FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             GROUP BY o_orderpriority ORDER BY o_orderpriority""")),

    // ---- q42: HLL sketch distinct counts (approx_count_distinct).
    // Sketch internals differ from DuckDB's, so the HLL VALUE can't be
    // oracle-compared — instead the error bound is the checked output:
    // exact distinct counts plus booleans asserting the rsd=0.02 sketch
    // lands within 5% (2.5 sigma). Both sides run in ONE aggregation
    // (sketch + exact-distinct partial-merge in the same pass); a sketch
    // regression flips a boolean and goes red in CORRECTNESS.
    Q("q42_approx_distinct",
      (s, d) => {
        def okCol(a: Column, e: Column): Column =
          abs(a - e) <= e.cast("double") * 0.05
        li(s, d).agg(
          approx_count_distinct(col("l_orderkey"), 0.02).as("a_o"),
          approx_count_distinct(col("l_partkey"), 0.02).as("a_p"),
          approx_count_distinct(col("l_suppkey"), 0.02).as("a_s"),
          countDistinct(col("l_orderkey")).as("exact_orders"),
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_suppkey")).as("exact_supps"))
          .select(col("exact_orders"), col("exact_parts"), col("exact_supps"),
            okCol(col("a_o"), col("exact_orders")).as("ok_orders"),
            okCol(col("a_p"), col("exact_parts")).as("ok_parts"),
            okCol(col("a_s"), col("exact_supps")).as("ok_supps"))
      },
      Some("""SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS exact_orders,
              CAST(count(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
              CAST(count(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
              TRUE AS ok_orders, TRUE AS ok_parts, TRUE AS ok_supps
              FROM lineitem""")),

    // ---- q56: pivot (long -> wide). Spark's relational pivot with an
    // EXPLICIT value list — never the implicit-distinct scan, which
    // adds a full extra pass and an unbounded column count at scale.
    Q("q56_pivot",
      (s, d) => {
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")
        ord(s, d)
          .groupBy("o_orderstatus")
          .pivot("o_orderpriority", prios)
          .agg(count(lit(1)))
          .select(col("o_orderstatus") +:
            prios.map(v => coalesce(col(s"`$v`"), lit(0L)).as(v)): _*)
          .orderBy("o_orderstatus")
      },
      Some {
        val prios = Seq("1-URGENT", "2-HIGH", "3-MEDIUM",
          "4-NOT SPECIFIED", "5-LOW")
        val cols = prios.map(p =>
          s"""CAST(sum(CASE WHEN o_orderpriority = '$p' THEN 1 ELSE 0 END) AS BIGINT) AS "$p"""")
          .mkString(",\n               ")
        s"""SELECT o_orderstatus,
               $cols
            FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus"""
      }),

    // ---- q57: distribution windows — ntile / percent_rank / cume_dist
    // over account balance per market segment. Fully deterministic
    // ordering (custkey tie-break) so ranks agree across engines.
    Q("q57_distribution_windows",
      (s, d) => {
        val w = Window.partitionBy("c_mktsegment")
          .orderBy(col("c_acctbal").desc, col("c_custkey"))
        cust(s, d).select(col("c_custkey"), col("c_mktsegment"),
            col("c_acctbal"),
            ntile(4).over(w).cast("long").as("quartile"),
            round(percent_rank().over(w), 6).as("pr"),
            round(cume_dist().over(w), 6).as("cd"))
          .orderBy(col("c_mktsegment"), col("c_acctbal").desc, col("c_custkey"))
      },
      Some("""SELECT c_custkey, c_mktsegment, c_acctbal,
             ntile(4) OVER w AS quartile,
             round(percent_rank() OVER w, 6) AS pr,
             round(cume_dist() OVER w, 6) AS cd
             FROM customer
             WINDOW w AS (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey)
             ORDER BY c_mktsegment, c_acctbal DESC, c_custkey""")),

    // ---- q58: GROUPING SETS with grouping_id — the general form that
    // rollup (q14) and cube (q43) specialize. Identical SQL text runs on
    // both engines; ALL placeholders keep NULLs out of the sort keys.
    Q("q58_grouping_sets",
      (s, d) => {
        ord(s, d).createOrReplaceTempView("orders")
        s.sql(groupingSetsSql)
      },
      Some(groupingSetsSql)),

    // ---- q63: custom typed Aggregator (UDAF tier) — quantity-weighted
    // mean price per return flag. The oracle is the BUILT-IN spelling
    // sum(x*w)/sum(w), so the custom buffer must be semantically
    // invisible (and at scale it behaves identically: map-side partial
    // buffers, one merge per group per exchange).
    Q("q63_weighted_avg_udaf",
      (s, d) => {
        graft.functions.Aggregators.register(s)
        li(s, d).groupBy("l_returnflag")
          .agg(expr("round(weighted_avg(l_extendedprice, l_quantity), 4)")
            .as("w_avg_price"))
          .orderBy("l_returnflag")
      },
      Some("""SELECT l_returnflag,
             round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 4)
               AS w_avg_price
             FROM lineitem GROUP BY 1 ORDER BY 1""")),

    // ---- q69: event funnel view -> click -> purchase. Stage anchors are
    // conditional min-aggregations chained by inequality joins (each
    // stage's timestamp must follow the previous stage's) — three
    // shuffles on user_id total, no window over a whole user history.
    Q("q69_funnel",
      (s, d) => {
        val e = ev(s, d).select("user_id", "event_type", "ts")
        val v = e.filter(col("event_type") === "view")
          .groupBy("user_id").agg(min("ts").as("tv"))
        val c = e.filter(col("event_type") === "click")
          .join(v, "user_id").filter(col("ts") >= col("tv"))
          .groupBy("user_id").agg(min("ts").as("tc"))
        val p = e.filter(col("event_type") === "purchase")
          .join(c, "user_id").filter(col("ts") >= col("tc"))
          .groupBy("user_id").agg(min("ts").as("tp"))
        v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
          .agg(count("tv").as("n_view"),
            count("tc").as("n_click"),
            count("tp").as("n_purchase"),
            round(avg(epochS(col("tp")) - epochS(col("tv"))), 3)
              .as("avg_view_to_purchase_s"))
      },
      Some(s"""WITH ${Tables.evCte},
              v AS (SELECT user_id, min(ts) AS tv FROM ev
                    WHERE event_type = 'view' GROUP BY 1),
              c AS (SELECT ev.user_id, min(ts) AS tc FROM ev JOIN v USING (user_id)
                    WHERE event_type = 'click' AND ts >= tv GROUP BY 1),
              p AS (SELECT ev.user_id, min(ts) AS tp FROM ev JOIN c USING (user_id)
                    WHERE event_type = 'purchase' AND ts >= tc GROUP BY 1)
              SELECT count(tv) AS n_view, count(tc) AS n_click,
                     count(tp) AS n_purchase,
                     round(avg(epoch_us(tp - tv) / 1000000.0), 3)
                       AS avg_view_to_purchase_s
              FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""")),

    // ---- q70: fixed-width histogram via width_bucket (25 buckets over
    // [0, 500); bucket 0 / 26 catch out-of-range). Pure map-side
    // arithmetic + a 27-group aggregate — the oracle spells the same
    // bucketing as CASE arithmetic.
    Q("q70_value_histogram",
      (s, d) =>
        ev(s, d)
          .withColumn("bucket", width_bucket(col("value"), lit(0.0),
            lit(500.0), lit(25)))
          .groupBy("bucket")
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("sum_v"),
            round(min("value"), 2).as("min_v"), round(max("value"), 2).as("max_v"))
          .orderBy("bucket"),
      Some(s"""WITH ${Tables.evCte}
              SELECT CASE WHEN value < 0 THEN 0
                          WHEN value >= 500 THEN 26
                          ELSE CAST(floor(value / 20.0) AS BIGINT) + 1 END AS bucket,
                     count(*) AS n, round(sum(value), 2) AS sum_v,
                     round(min(value), 2) AS min_v, round(max(value), 2) AS max_v
              FROM ev GROUP BY 1 ORDER BY 1""")),

    // ---- q72: top-3 orders per priority via the bounded TopK
    // Aggregator — the buffer holds k rows however large the group, so
    // partial aggregation stays map-side (no per-group sort, no
    // collect_list blow-up). The oracle is the window spelling, which
    // the bounded aggregation must reproduce exactly (ties on price
    // break by orderkey).
    Q("q72_topk_agg",
      (s, d) => {
        val topk = udaf(new graft.functions.Aggregators.TopK(3))
        ord(s, d).groupBy("o_orderpriority")
          .agg(topk(-col("o_totalprice"), col("o_orderkey")).as("t"))
          .select(col("o_orderpriority"),
            posexplode(col("t.items")).as(Seq("pos", "r")))
          .select(col("o_orderpriority"), (col("pos") + 1).cast("long").as("rk"),
            col("r.id").as("o_orderkey"), round(-col("r.ord"), 2).as("o_totalprice"))
          .orderBy("o_orderpriority", "rk")
      },
      Some("""SELECT o_orderpriority, rk, o_orderkey, o_totalprice FROM (
               SELECT o_orderpriority,
                      CAST(row_number() OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk,
                      o_orderkey, round(o_totalprice, 2) AS o_totalprice
               FROM orders) t
             WHERE rk <= 3 ORDER BY o_orderpriority, rk""")),

    // ---- q83: grouped exact percentiles — median/p90/p99 of event value
    // per event_type (q20 covers the global distribution). Exact
    // percentile needs the group's values together (a sort per group,
    // spillable); the sketch alternative for huge groups is q52.
    Q("q83_grouped_percentiles",
      (s, d) =>
        ev(s, d).groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            round(expr("percentile(value, 0.5)"), 4).as("p50"),
            round(expr("percentile(value, 0.9)"), 4).as("p90"),
            round(expr("percentile(value, 0.99)"), 4).as("p99"))
          .orderBy("event_type"),
      Some(s"""WITH ${Tables.evCte}
              SELECT event_type, count(*) AS n,
                     round(quantile_cont(value, 0.5), 4) AS p50,
                     round(quantile_cont(value, 0.9), 4) AS p90,
                     round(quantile_cont(value, 0.99), 4) AS p99
              FROM ev GROUP BY 1 ORDER BY 1""")),

    // ---- q84: unpivot/melt — wide -> long, the inverse of q56's pivot.
    // Narrow per-row work (each row emits one row per measure column);
    // no shuffle until the final sort.
    Q("q84_unpivot",
      (s, d) =>
        prt(s, d)
          .select(col("p_partkey"), col("p_size").cast("double").as("size"),
            col("p_retailprice").as("retailprice"))
          .unpivot(Array(col("p_partkey")),
            Array(col("size"), col("retailprice")), "attr", "val")
          .filter(col("p_partkey") < 500)
          .select(col("p_partkey"), col("attr"), round(col("val"), 2).as("val"))
          .orderBy("p_partkey", "attr"),
      Some("""SELECT p_partkey, attr, round(val, 2) AS val FROM (
               SELECT p_partkey, CAST(p_size AS DOUBLE) AS size,
                      p_retailprice AS retailprice
               FROM part WHERE p_partkey < 500) w
             UNPIVOT (val FOR attr IN (size, retailprice))
             ORDER BY p_partkey, attr""")),

    // ---- q77: forward fill (LOCF) — treat 'error' readings as missing
    // and carry the last valid value forward per user. One window pass
    // (last + ignoreNulls over a running frame); no join, no shuffle
    // beyond the per-user partitioning — the standard sensor/telemetry
    // repair shape at any scale.
    Q("q77_forward_fill",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ev(s, d)
          .withColumn("filled",
            round(last(when(col("event_type") =!= "error", col("value")),
              ignoreNulls = true).over(w), 2))
          .select("event_id", "user_id", "filled")
          .orderBy("event_id")
      },
      Some(s"""WITH ${Tables.evCte}
              SELECT event_id, user_id,
                round(last_value(CASE WHEN event_type <> 'error' THEN value END
                    IGNORE NULLS)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  2) AS filled
              FROM ev ORDER BY event_id""")),

    // ---- q88: time-series resample with gap fill — hourly counts per
    // event_type INCLUDING empty hours (zero-filled). The hour spine is
    // generated from the global [min, max] span (one tiny agg) and
    // broadcast against the distinct types; only the per-(type, hour)
    // aggregation shuffles real data. The spine is CLAMPED to 2160 hours
    // (90 days) past the min so one stray far-future timestamp can't
    // inflate the output unboundedly: the resample's contract is "the
    // first 90 days of the span, zero-filled" — hours past the clamp are
    // out of frame (both engines apply the same clamp).
    Q("q88_resample_gapfill",
      (s, d) => {
        val e = ev(s, d).withColumn("hour", date_trunc("hour", col("ts")))
        val hours = e.agg(min("hour").as("h0"), max("hour").as("h1"))
          .select(col("h0"),
            least(col("h1"), col("h0") + expr("INTERVAL 2160 HOURS")).as("h1"))
          .select(explode(sequence(col("h0"), col("h1"),
            expr("INTERVAL 1 HOUR"))).as("hour"))
        val types = e.select("event_type").distinct()
        val counts = e.groupBy("event_type", "hour")
          .agg(count(lit(1)).as("n"), sum("value").as("sv"))
        hours.crossJoin(broadcast(types))
          .join(counts, Seq("event_type", "hour"), "left")
          .select(col("event_type"), col("hour"),
            coalesce(col("n"), lit(0L)).as("n"),
            round(coalesce(col("sv"), lit(0.0)), 2).as("total"))
          .orderBy("event_type", "hour")
      },
      Some(s"""WITH ${Tables.evCte},
              e AS (SELECT event_type, date_trunc('hour', ts) AS hour, value
                    FROM ev),
              span AS (SELECT min(hour) AS h0,
                              least(max(hour), min(hour) + INTERVAL 2160 HOURS) AS h1
                       FROM e),
              hours AS (SELECT unnest(generate_series(h0, h1,
                          INTERVAL 1 HOUR)) AS hour FROM span),
              types AS (SELECT DISTINCT event_type FROM e),
              c AS (SELECT event_type, hour, count(*) AS n, sum(value) AS sv
                    FROM e GROUP BY 1, 2)
              SELECT event_type, hour, coalesce(n, 0) AS n,
                     round(coalesce(sv, 0), 2) AS total
              FROM hours CROSS JOIN types LEFT JOIN c USING (event_type, hour)
              ORDER BY event_type, hour""")),

    // ---- q90: cross-source reconciliation via FULL OUTER join — the
    // ingest integrity check (which keys exist on only one side of two
    // feeds). One shuffle on the join key after a map-side line rollup;
    // the mismatch filter keeps the output at orphan-count scale.
    Q("q90_order_reconcile",
      (s, d) => {
        val la = li(s, d).groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_lines"))
        ord(s, d).select(col("o_orderkey"), col("o_totalprice"))
          .join(la, col("o_orderkey") === col("l_orderkey"), "full_outer")
          .filter(col("o_orderkey").isNull || col("l_orderkey").isNull)
          .select(
            coalesce(col("o_orderkey"), col("l_orderkey")).as("orderkey"),
            col("o_orderkey").isNotNull.as("in_orders"),
            col("l_orderkey").isNotNull.as("in_lineitem"),
            coalesce(col("n_lines"), lit(0L)).as("n_lines"),
            round(col("o_totalprice"), 2).as("totalprice"))
          .orderBy("orderkey")
      },
      Some("""SELECT coalesce(o_orderkey, l_orderkey) AS orderkey,
               o_orderkey IS NOT NULL AS in_orders,
               l_orderkey IS NOT NULL AS in_lineitem,
               coalesce(n_lines, 0) AS n_lines,
               round(o_totalprice, 2) AS totalprice
             FROM orders FULL OUTER JOIN
               (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
                FROM lineitem GROUP BY 1) la ON o_orderkey = l_orderkey
             WHERE o_orderkey IS NULL OR l_orderkey IS NULL
             ORDER BY orderkey""")),

    // ---- q91: z-score outlier detection — per-type mean/stddev (one
    // tiny agg, broadcast back), flag |z| > 2.5. Constant-valued groups
    // (sigma = 0, where z is IEEE NaN/Inf) are excluded up front so the
    // query is well-defined on ANY data; the filter compares the ROUNDED
    // z with a 1e-4 margin (2.5001) so summation-order ulp drift in
    // mu/sigma can't flip row membership at the boundary. The
    // data-quality gate shape: stats pass + broadcast join, no wide
    // shuffle of the fact side.
    Q("q91_anomaly_zscore",
      (s, d) => {
        val e = ev(s, d)
        val st = e.groupBy("event_type")
          .agg(avg("value").as("mu"), stddev_pop("value").as("sigma"))
          .filter(col("sigma") > 0)
        e.join(broadcast(st), "event_type")
          .withColumn("z", round((col("value") - col("mu")) / col("sigma"), 4))
          .filter(abs(col("z")) > 2.5001)
          .select("event_id", "event_type", "z")
          .orderBy("event_id")
      },
      Some(s"""WITH ${Tables.evCte},
              st AS (SELECT event_type, avg(value) AS mu,
                            stddev_pop(value) AS sigma
                     FROM ev GROUP BY 1)
              SELECT event_id, event_type,
                     round((value - mu) / sigma, 4) AS z
              FROM ev JOIN st USING (event_type)
              WHERE sigma > 0
                AND abs(round((value - mu) / sigma, 4)) > 2.5001
              ORDER BY event_id""")),

    // ---- q93: time-weighted average — each reading weighted by its
    // holding time (micros to the next event in the same user's stream).
    // lead + grouped ratio-of-sums; integer microsecond deltas keep the
    // weights exact across engines.
    Q("q93_time_weighted_avg",
      (s, d) => {
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        ev(s, d)
          .withColumn("dt",
            (unix_micros(lead(col("ts"), 1).over(w).cast("timestamp"))
              - unix_micros(col("ts").cast("timestamp"))).cast("double"))
          .filter(col("dt").isNotNull)
          .groupBy("user_id")
          .agg(round(sum(col("value") * col("dt")) / sum(col("dt")), 4).as("twa"),
            count(lit(1)).as("n_intervals"))
          .orderBy("user_id")
      },
      Some(s"""WITH ${Tables.evCte},
              iv AS (SELECT user_id, value,
                       CAST(epoch_us(lead(ts) OVER (PARTITION BY user_id
                              ORDER BY ts, event_id))
                            - epoch_us(ts) AS DOUBLE) AS dt
                     FROM ev)
              SELECT user_id, round(sum(value * dt) / sum(dt), 4) AS twa,
                     count(*) AS n_intervals
              FROM iv WHERE dt IS NOT NULL
              GROUP BY 1 ORDER BY 1""")),

    // ---- q94: cohort retention — customers bucketed by first-order
    // month; distinct actives per (cohort, months-since). Two hash aggs
    // and one equi-join on the customer key: the cohort table is
    // per-customer (small relative to orders) and co-partitions with the
    // fact side on o_custkey.
    Q("q94_cohort_retention",
      (s, d) => {
        // DATE month buckets on both sides: Spark's timestamp is
        // session-tz while DuckDB's is naive, but DATE agrees exactly.
        val o = ord(s, d).select(col("o_custkey"),
          trunc(col("o_orderdate"), "month").as("month"))
        val cohort = o.groupBy("o_custkey").agg(min("month").as("cohort"))
        o.join(cohort, "o_custkey")
          .withColumn("month_offset",
            months_between(col("month"), col("cohort")).cast("long"))
          .groupBy("cohort", "month_offset")
          .agg(countDistinct("o_custkey").as("n_cust"))
          .orderBy("cohort", "month_offset")
      },
      Some("""WITH o AS (SELECT o_custkey,
                           CAST(date_trunc('month', o_orderdate) AS DATE) AS month
                         FROM orders),
              c AS (SELECT o_custkey, min(month) AS cohort FROM o GROUP BY 1)
              SELECT cohort,
                     CAST(datediff('month', cohort, month) AS BIGINT)
                       AS month_offset,
                     count(DISTINCT o_custkey) AS n_cust
              FROM o JOIN c USING (o_custkey)
              GROUP BY 1, 2 ORDER BY 1, 2""")),

    // ---- q98: per-column data profiling — the data-quality gate every
    // ingest runs first (row count, null count, exact distinct, numeric
    // min/max per column). One independent single-column aggregation per
    // profiled column, unioned: each pass prunes the scan to ONE parquet
    // column (no multi-distinct expand multiplying the fact table), so
    // profiling N columns costs N narrow column scans at any scale.
    Q("q98_column_profile",
      (s, d) => {
        val specs = Seq(("l_orderkey", true), ("l_quantity", true),
          ("l_extendedprice", true), ("l_returnflag", false),
          ("l_linestatus", false))
        specs.map { case (c, num) =>
          li(s, d).select(col(c)).agg(
            count(lit(1)).as("n"),
            sum(when(col(c).isNull, 1L).otherwise(0L)).as("n_nulls"),
            countDistinct(col(c)).as("n_distinct"),
            (if (num) round(min(col(c)).cast("double"), 4)
             else lit(null).cast("double")).as("min_v"),
            (if (num) round(max(col(c)).cast("double"), 4)
             else lit(null).cast("double")).as("max_v"))
            .select(lit(c).as("col_name"), col("n"), col("n_nulls"),
              col("n_distinct"), col("min_v"), col("max_v"))
        }.reduce(_ unionAll _).orderBy("col_name")
      },
      Some {
        val parts = Seq(("l_orderkey", true), ("l_quantity", true),
          ("l_extendedprice", true), ("l_returnflag", false),
          ("l_linestatus", false)).map { case (c, num) =>
          val mn = if (num) s"round(CAST(min($c) AS DOUBLE), 4)" else "CAST(NULL AS DOUBLE)"
          val mx = if (num) s"round(CAST(max($c) AS DOUBLE), 4)" else "CAST(NULL AS DOUBLE)"
          s"""SELECT '$c' AS col_name, count(*) AS n,
             CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
             count(DISTINCT $c) AS n_distinct, $mn AS min_v, $mx AS max_v
             FROM lineitem"""
        }
        parts.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
      }),

    // ---- q131: SCD2 HISTORY COMPACTION — build the type-2 dimension
    // of each user's event_type "state" from the raw event log: emit a
    // row per state CHANGE (consecutive repeats collapse), valid from
    // its first event to the next change (open intervals close at a
    // sentinel — no NULL in the output keys). Both windows share one
    // (user_id) hash partitioning, so the plan pays ONE shuffle: lag
    // to detect changes, lead over the filtered changes to close the
    // intervals. The warehouse CDC-to-dimension shape: per-key windows
    // scale out with users; no self-join, no global sort besides the
    // presentation orderBy.
    Q("q131_scd2_history",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
        Tables.events(s, d)
          .select(col("user_id"), col("event_type"), col("ts"),
            col("event_id"))
          .withColumn("prev", lag("event_type", 1).over(w))
          .filter(col("prev").isNull || col("prev") =!= col("event_type"))
          .withColumn("valid_to", coalesce(lead("ts", 1).over(w),
            lit("9999-12-31 00:00:00").cast("timestamp_ntz")))
          .select(col("user_id"), col("event_type"),
            col("ts").as("valid_from"), col("valid_to"))
          .orderBy("user_id", "valid_from")
      },
      Some(s"""WITH ${Tables.evCte},
         o AS (SELECT user_id, event_type, ts, event_id,
             lag(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS prev FROM ev),
         ch AS (SELECT user_id, event_type, ts, event_id FROM o
             WHERE prev IS NULL OR prev <> event_type)
         SELECT user_id, event_type, ts AS valid_from,
           coalesce(lead(ts) OVER (PARTITION BY user_id
             ORDER BY ts, event_id), TIMESTAMP '9999-12-31 00:00:00')
             AS valid_to
         FROM ch ORDER BY user_id, valid_from""")),

    // ---- q133: CO-PURCHASE PAGERANK — iterative fixpoint computation
    // on the relational surface (the grid side's CC solver is the other
    // iterative op; this is the graph-centrality shape: importance
    // propagation for curation/sampling weights). Graph: parts are
    // nodes, an edge (a, b) weighted by the number of ORDERS containing
    // both; edges are symmetric, so every node in the graph has
    // out-weight and the damping term never strands rank mass. Three
    // damped iterations (d = 0.85) from the uniform start — fixed
    // count, so the DuckDB twin just unrolls the same three CTEs.
    // Scale shape: edge generation is an equi-self-join on l_orderkey
    // (per-order groups are basket-sized, so pairs are
    // sum-of-squares-of-basket — linear, never corpus-quadratic); the
    // normalized edge table is built once, cached, and re-shuffled on
    // src each iteration against the node-sized rank table — the
    // canonical PageRank join. At cluster scale you'd bucket edges and
    // ranks on the join key once and every iteration rides the same
    // co-partitioning (sources/Bucketing.scala shows the machinery);
    // iterations are a fixed small constant, not data-dependent.
    Q("q133_copurchase_pagerank",
      (s, d) => copurchasePagerankOf(li(s, d)),
      Some("""WITH op AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
           e AS (SELECT a.pk AS src, b.pk AS dst, CAST(count(*) AS DOUBLE) AS w
                 FROM op a JOIN op b ON a.ok = b.ok AND a.pk <> b.pk
                 GROUP BY 1, 2),
           ow AS (SELECT src, sum(w) AS wout FROM e GROUP BY 1),
           p AS (SELECT e.src, e.dst, e.w / ow.wout AS p
                 FROM e JOIN ow USING (src)),
           nodes AS (SELECT DISTINCT src AS pk FROM e),
           nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
           r0 AS (SELECT pk, 1.0 / nn.n AS r FROM nodes, nn),
           r1 AS (SELECT p.dst AS pk, (1 - 0.85) / nn.n + 0.85 * sum(p.p * r0.r) AS r
                  FROM p JOIN r0 ON p.src = r0.pk, nn GROUP BY p.dst, nn.n),
           r2 AS (SELECT p.dst AS pk, (1 - 0.85) / nn.n + 0.85 * sum(p.p * r1.r) AS r
                  FROM p JOIN r1 ON p.src = r1.pk, nn GROUP BY p.dst, nn.n),
           r3 AS (SELECT p.dst AS pk, (1 - 0.85) / nn.n + 0.85 * sum(p.p * r2.r) AS r
                  FROM p JOIN r2 ON p.src = r2.pk, nn GROUP BY p.dst, nn.n)
           SELECT r3.pk AS part_id, round(r3.r, 8) AS pagerank,
             CAST(ow.wout AS BIGINT) AS copurchase_w
           FROM r3 JOIN ow ON r3.pk = ow.src
           ORDER BY pagerank DESC, part_id LIMIT 20""")),

    // ---- q135: PEAK CONCURRENCY — the sweep-line interval aggregation
    // (max simultaneous open sessions, and when it first happens) over
    // the q10 sessionization. A bare global running sum would funnel
    // the timeline through ONE task; this rides Ranking.globalCumSum —
    // range-exchange + in-partition accumulation + driver-side prefix
    // offsets — so the sweep scales out like a sort. Boundary rule: a
    // session is active on its CLOSED interval [first_ts, last_ts], so
    // at equal timestamps starts (flag 0) order before ends (flag 1)
    // and an instantaneous session still counts. The peak is read off
    // start rows only (concurrency can only peak at a start), which
    // also makes the result invariant to intra-timestamp orderings the
    // (ts, flag, user, session) total order already pins down.
    Q("q135_peak_concurrency",
      (s, d) => peakConcurrencyOf(ev(s, d)),
      Some(s"""WITH ${Tables.evCte},
           g AS (SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800000000
                  THEN 1 ELSE 0 END AS is_new FROM ev),
           sa AS (SELECT user_id, ts,
             CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM g),
           sess AS (SELECT user_id, session_id, min(ts) AS st, max(ts) AS en
                    FROM sa GROUP BY 1, 2),
           b AS (SELECT st AS ts, 0 AS flag, 1 AS delta, user_id, session_id FROM sess
                 UNION ALL
                 SELECT en, 1, -1, user_id, session_id FROM sess),
           c AS (SELECT ts, flag, sum(delta) OVER (ORDER BY ts, flag, user_id, session_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc FROM b),
           st AS (SELECT ts, conc FROM c WHERE flag = 0),
           pk AS (SELECT max(conc) AS peak FROM st)
           SELECT CAST(pk.peak AS BIGINT) AS peak_sessions, min(st.ts) AS at_ts,
             (SELECT count(*) FROM sess) AS n_sessions
           FROM st, pk WHERE st.conc = pk.peak GROUP BY pk.peak""")),

    // ---- q145: JOIN-KEY SKEW PROFILE — the diagnostic you run BEFORE
    // choosing a join strategy at scale (broadcast vs salt vs AQE skew
    // split, the q49 decision): per hottest key its count, share of
    // the table, cumulative share, and x_mean (count over the mean
    // group size — the number a salting width is derived from). Shape:
    // ONE map-side-combined aggregation over the fact table, a
    // metadata-scale scalar (total, n_keys) broadcast, and top-k via
    // TakeOrdered — the rank/cum-share window runs over the K
    // SELECTED rows only, never over the full key space (at 100 TB
    // distinct keys can be billions; a global window there is the
    // exact mistake this operator exists to prevent).
    Q("q145_skew_profile",
      (s, d) => skewProfileOf(ev(s, d), "user_id", SkewTopK),
      Some(s"""WITH ${Tables.evCte},
           g AS (SELECT user_id AS key, count(*) AS cnt FROM ev GROUP BY 1),
           t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                   count(*) AS n_keys FROM g),
           k AS (SELECT key, cnt,
                   row_number() OVER (ORDER BY cnt DESC, key) AS rk,
                   sum(cnt) OVER (ORDER BY cnt DESC, key
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                 FROM g)
           SELECT CAST(rk AS BIGINT) AS rk, key, CAST(cnt AS BIGINT) AS cnt,
             round(100.0 * cnt / total, 4) AS share_pct,
             round(100.0 * cum / total, 4) AS cum_share_pct,
             round(cnt * 1.0 * n_keys / total, 4) AS x_mean
           FROM k, t WHERE rk <= $SkewTopK ORDER BY rk"""))
  )

  /** q145: how many heavy keys to report. */
  val SkewTopK = 20

  /** q145's body over any relation: heaviest `k` values of `key` with
    * share / cumulative-share / times-mean-group-size.
    */
  def skewProfileOf(df: DataFrame, key: String, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val g = graft.CacheScope.retain(
      df.groupBy(key).agg(count(lit(1)).as("cnt")))
    val tot = g.agg(sum("cnt").as("total"), count(lit(1)).as("n_keys"))
    // unpartitioned window, but only ever over the limit(k) frame
    // below (k = SkewTopK rows) — bounded by construction, so the
    // single-task warning Spark emits is noise
    val ord = Window.orderBy(col("cnt").desc, col(key))
    g.orderBy(col("cnt").desc, col(key)).limit(k)
      .crossJoin(broadcast(tot))
      .withColumn("rk", row_number().over(ord).cast("long"))
      .withColumn("cum", sum("cnt").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("rk"), col(key).as("key"), col("cnt"),
        round(lit(100.0) * col("cnt") / col("total"), 4).as("share_pct"),
        round(lit(100.0) * col("cum") / col("total"), 4).as("cum_share_pct"),
        // cnt * 1.0 FIRST: a long*long product overflows exactly at the
        // billion-keys-times-hot-key scale this profiler exists for
        // (and DuckDB would hard-error where Spark silently wraps)
        round(col("cnt") * lit(1.0) * col("n_keys") / col("total"), 4)
          .as("x_mean"))
      .orderBy("rk")
  }

  /** q133's body, parameterized on the lineitem relation. See the q133
    * entry for semantics and the scale rationale of each step.
    */
  private def copurchasePagerankOf(lineitem: DataFrame): DataFrame = {
    val Damp = 0.85; val Iters = 3
    // Edge-build shape note (measured): the mirror alternative —
    // collect each basket's part set, enumerate i<j pairs with two
    // Generates, aggregate the half-sized unordered pair table, union
    // its mirror — was built and benchmarked (subset A/B vs an
    // untouched control): tasks 875 -> 1354, shuffle 120.6 -> 129.7 MB
    // per 3 runs, wall worse. The union doubles every downstream cache
    // scan and adds a stage, which costs more than the halved pair
    // aggregate saves; the self-join here plans with ONE reused
    // exchange for both sides plus a broadcast, so the "two exchanges"
    // it appears to pay are already shared. Kept as the negative
    // result; the win below is nodes-from-outw instead.
    val op = lineitem.select(col("l_orderkey").as("ok"),
      col("l_partkey").as("pk")).distinct()
    // cache the weighted edge table: it feeds the out-weight
    // aggregate, the normalized table, AND the final report join —
    // uncached, the basket self-join would replay for each
    val e = graft.CacheScope.retain(
      op.as("a").join(op.as("b"),
          col("a.ok") === col("b.ok") && col("a.pk") =!= col("b.pk"))
        .groupBy(col("a.pk").as("src"), col("b.pk").as("dst"))
        .agg(count(lit(1)).cast("double").as("w")))
    // outw is also the node set (every node of the symmetric edge
    // table appears as a src), so the separate distinct() exchange
    // the old nodes table paid is gone
    val outw = graft.CacheScope.retain(
      e.groupBy("src").agg(sum("w").as("wout")))
    val p = graft.CacheScope.retain(
      e.join(broadcast(outw), "src")
        .select(col("src"), col("dst"), (col("w") / col("wout")).as("p")))
    // node count: a driver scalar (metadata-scale — it sizes the
    // teleport term, exactly like the classify collect in g19)
    val n = outw.count().toDouble
    var r = outw.select(col("src").as("pk")).withColumn("r", lit(1.0 / n))
    // the rank table is NODE-sized (parts, not baskets) — broadcast
    // it into each iteration so the edge table never re-shuffles
    // (measured at sf0.1: 148 MB of exchange -> the map-side-combined
    // contribution aggregate only); past broadcastable node counts,
    // pre-bucket p and r on the key instead
    for (_ <- 1 to Iters)
      r = p.join(broadcast(r), p("src") === r("pk"))
        .groupBy("dst")
        .agg(sum(col("p") * col("r")).as("acc"))
        .select(col("dst").as("pk"),
          (lit((1 - Damp) / n) + lit(Damp) * col("acc")).as("r"))
    r.join(outw, r("pk") === outw("src"))
      .select(col("pk").as("part_id"), round(col("r"), 8).as("pagerank"),
        col("wout").cast("bigint").as("copurchase_w"))
      .orderBy(col("pagerank").desc, col("part_id")).limit(20)
  }

  /** q135's body, parameterized on the events relation. See the q135
    * entry for the boundary rule and why the sweep rides
    * [[Ranking.globalCumSum]].
    */
  private def peakConcurrencyOf(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val cum = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sess = events
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .withColumn("is_new",
        when(col("prev_ts").isNull
          || unix_micros(col("ts").cast("timestamp"))
            - unix_micros(col("prev_ts").cast("timestamp")) > 1800000000L, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("is_new").over(cum))
      .groupBy("user_id", "session_id")
      .agg(min("ts").as("st"), max("ts").as("en"))
    val sessC = graft.CacheScope.retain(sess)
    val b = sessC.select(col("st").as("ts"), lit(0).as("flag"),
        lit(1L).as("delta"), col("user_id"), col("session_id"))
      .unionAll(sessC.select(col("en").as("ts"), lit(1).as("flag"),
        lit(-1L).as("delta"), col("user_id"), col("session_id")))
    val starts = graft.CacheScope.retain(
      Ranking.globalCumSum(b, "delta", "conc",
          col("ts"), col("flag"), col("user_id"), col("session_id"))
        .filter(col("flag") === 0).select("ts", "conc"))
    val peak = starts.agg(max("conc").as("peak"))
    starts.join(broadcast(peak), col("conc") === col("peak"))
      .agg(max("peak").as("peak_sessions"), min("ts").as("at_ts"))
      .crossJoin(broadcast(sessC.agg(count(lit(1)).as("n_sessions"))))
      .select(col("peak_sessions"), col("at_ts"), col("n_sessions"))
  }

  /** Shared verbatim by the Spark SQL API and the DuckDB oracle. */
  private val groupingSetsSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
       coalesce(o_orderpriority, 'ALL') AS prio,
       CAST(grouping(o_orderstatus) * 2 + grouping(o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS total
       FROM orders
       GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                               (o_orderstatus), (o_orderpriority), ())
       ORDER BY gid, status, prio"""
}
