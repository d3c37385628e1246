package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Tables.load
import graft.util.Exact._
import graft.ops.{AggOps, CleanOps}

/** Reference-parity operator suite over the driver testdata (TPC-H-ish
  * star schema + events), one named query per operator family in
  * SURVEY.md §2. Each query is the Spark-first expression of a shape the
  * reference computes in PySpark/Databricks-SQL; citations inline.
  *
  * Scale notes apply to every query here: filters/projections sit directly
  * on the parquet scan (pushdown + pruning), small dims join via broadcast,
  * fact-fact joins shuffle on their keys, aggregates are two-phase hash
  * (partial map-side), top-k is TakeOrderedAndProject (no full sort).
  */
object Parity {

  private def t(s: SparkSession, dir: String, n: String): DataFrame = load(s, dir, n)

  // ---------------------------------------------------------------------
  // q01 — scan + filter + groupBy multi-aggregate (SURVEY §2.4 A2/A3;
  // pricing-summary shape). Covers P4 predicate, exact sums, avg, count.
  val q01 = Q(
    "q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_quantity) AS avg_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(l_extendedprice) AS avg_price,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .filter(col("l_shipdate") <= lit("1998-09-01 00:00:00").cast(TimestampType))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("sum_disc_price"),
        davg(col("l_quantity")).as("avg_qty"),
        davg(col("l_extendedprice")).as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  // ---------------------------------------------------------------------
  // q02 — fact⋈dim broadcast join + top-k (SURVEY §2.3 J3, §2.6 O1:
  // ORDER BY revenue DESC LIMIT 100 → TakeOrderedAndProject).
  val q02 = Q(
    "q02_top_parts_by_revenue",
    """SELECT p.p_partkey AS part_id, p.p_name AS part_name, p.p_brand AS brand,
      |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty,
      |  COUNT(*) AS n_lines
      |FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |GROUP BY 1, 2, 3
      |ORDER BY revenue DESC, part_id
      |LIMIT 100""".stripMargin) { (s, dir) =>
    // spread: the single-row-group lineitem scan is ONE task; this
    // query's per-row work (join probe + 3-column decimal agg) is heavy
    // enough that fanning the scan wins (~20% at sf0.1, measured both
    // ways; cheap single-pass queries q01/q19 measured the other way)
    val li = graft.util.Tables.loadSpread(s, dir, "lineitem")
    val p = t(s, dir, "part")
    // part scales with SF -> no forced broadcast; Catalyst's size-based
    // auto-broadcast picks BHJ while the dim fits (plan-asserted)
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_partkey").as("part_id"), col("p_name").as("part_name"), col("p_brand").as("brand"))
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        dsum(col("l_quantity")).as("total_qty"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("part_id"))
      .limit(100)
  }

  // ---------------------------------------------------------------------
  // q03 — conditional "pivot-style" counts by day (SURVEY §2.4 A1: exact
  // event-type literals, `03_gold/03_gold_aggregate.py:48-54`).
  val q03 = Q(
    "q03_events_daily",
    """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signups,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errors,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases,
      |  CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS purchase_revenue
      |FROM events
      |GROUP BY 1
      |ORDER BY event_date""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
      .agg(
        countIf(col("event_type") === "view").as("views"),
        countIf(col("event_type") === "click").as("clicks"),
        countIf(col("event_type") === "signup").as("signups"),
        countIf(col("event_type") === "error").as("errors"),
        countIf(col("event_type") === "purchase").as("purchases"),
        dsumIf(col("event_type") === "purchase", col("value")).as("purchase_revenue"))
      .orderBy("event_date")
  }

  // ---------------------------------------------------------------------
  // q04 — FULL OUTER USING-join with coalesced keys + zero-fill measures
  // (SURVEY §2.3 J2 — the load-bearing full_outer coalesce shape,
  // `03_gold/03_gold_aggregate.py:78-88`).
  val q04 = Q(
    "q04_views_purchases_full_outer",
    """SELECT user_id,
      |  COALESCE(v.views, 0) AS views,
      |  COALESCE(p.purchases, 0) AS purchases,
      |  COALESCE(p.revenue, 0.0) AS revenue
      |FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS views
      |      FROM events WHERE event_type = 'view' GROUP BY user_id) v
      |FULL OUTER JOIN
      |     (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS purchases,
      |             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |      FROM events WHERE event_type = 'purchase' GROUP BY user_id) p
      |USING (user_id)
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(count(lit(1)).as("views"))
    val p = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id").agg(count(lit(1)).as("purchases"), dsum(col("value")).as("revenue"))
    v.join(p, Seq("user_id"), "full_outer") // Seq-join coalesces the key — do not use ===
      .select(
        col("user_id"),
        coalesce(col("views"), lit(0L)).as("views"),
        coalesce(col("purchases"), lit(0L)).as("purchases"),
        coalesce(col("revenue"), lit(0.0)).as("revenue"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------------
  // q05 — dedup-keep-latest via row_number window (SURVEY §2.5 W1, the
  // reference's only window function; unique tie-break on event_id).
  val q05 = Q(
    "q05_latest_event_per_user",
    """SELECT user_id, event_id, event_type, value
      |FROM (SELECT user_id, event_id, event_type, value,
      |        ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
      |      FROM events) x
      |WHERE rn = 1
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    CleanOps.dedupLatest(
        t(s, dir, "events"),
        Seq("user_id"),
        Seq(col("ts").desc, col("event_id").desc))
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------------
  // q06 — ID normalization cast chain (SURVEY §2.2 P2: clean_id
  // "1050.0" → "1050", `02_silver/02_silver_transform.py:41-42`).
  // The raw id is synthesized as a float-formatted string, as CSV
  // inference would have produced it.
  val q06 = Q(
    "q06_clean_id",
    """SELECT CAST(CAST(CAST(CAST(CAST(o_custkey AS DOUBLE) AS VARCHAR) AS DOUBLE) AS BIGINT) AS VARCHAR) AS customer_id,
      |  COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY 1
      |ORDER BY customer_id""".stripMargin) { (s, dir) =>
    val rawId = col("o_custkey").cast(DoubleType).cast(StringType) // "123.0"
    t(s, dir, "orders")
      .select(CleanOps.cleanId(rawId).as("customer_id"))
      .groupBy("customer_id")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("customer_id")
  }

  // ---------------------------------------------------------------------
  // q07 — UNION ALL of labeled scalar aggregates: the site-wide funnel
  // (SURVEY §2.7 U1 + §2.4 A8, `analysis/dashboard_queries/03_Site Wide
  // Funnel.sql`).
  val q07 = Q(
    "q07_funnel",
    """SELECT funnel_stage, n FROM (
      |  SELECT '1. Views' AS funnel_stage, COUNT(*) AS n FROM events WHERE event_type = 'view'
      |  UNION ALL
      |  SELECT '2. Clicks' AS funnel_stage, COUNT(*) AS n FROM events WHERE event_type = 'click'
      |  UNION ALL
      |  SELECT '3. Purchases' AS funnel_stage, COUNT(*) AS n FROM events WHERE event_type = 'purchase'
      |) ORDER BY n DESC, funnel_stage""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    def stage(label: String, typ: String): DataFrame =
      ev.filter(col("event_type") === typ)
        .agg(count(lit(1)).as("n"))
        .select(lit(label).as("funnel_stage"), col("n"))
    stage("1. Views", "view")
      .unionByName(stage("2. Clicks", "click"))
      .unionByName(stage("3. Purchases", "purchase"))
      .orderBy(col("n").desc, col("funnel_stage"))
  }

  // ---------------------------------------------------------------------
  // q08 — GROUP BY + HAVING post-agg filter (SURVEY §2.4 A9, the DQ
  // duplicate-detection shape `04_data_quality_checks.py:61-66`).
  val q08 = Q(
    "q08_repeat_customers",
    """SELECT o_custkey AS customer_id, COUNT(*) AS n_orders
      |FROM orders
      |GROUP BY o_custkey
      |HAVING COUNT(*) > 12
      |ORDER BY customer_id""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupBy(col("o_custkey").as("customer_id"))
      .agg(count(lit(1)).as("n_orders"))
      .filter(col("n_orders") > 12)
      .orderBy("customer_id")
  }

  // ---------------------------------------------------------------------
  // q09 — COUNT(DISTINCT) per group (SURVEY §2.4 A7).
  val q09 = Q(
    "q09_status_summary",
    """SELECT o_orderstatus,
      |  COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .groupBy("o_orderstatus")
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        dsum(col("o_totalprice")).as("revenue"))
      .orderBy("o_orderstatus")
  }

  // ---------------------------------------------------------------------
  // q10 — multi-measure session-style rollup (SURVEY §2.4 A4: min/max/
  // count/conditional-sum per key; duration via epoch-micros difference,
  // `03_gold/03_gold_aggregate.py:166-197`). `min` replaces the
  // reference's non-deterministic `first` (SURVEY §5 risk register).
  val q10 = Q(
    "q10_user_activity",
    """SELECT user_id,
      |  MIN(ts) AS first_ts,
      |  MAX(ts) AS last_ts,
      |  epoch_us(MAX(ts)) - epoch_us(MIN(ts)) AS duration_us,
      |  COUNT(*) AS n_events,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
      |  CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        min(col("ts")).as("first_ts"),
        max(col("ts")).as("last_ts"),
        (unix_micros(max(col("ts"))) - unix_micros(min(col("ts")))).as("duration_us"),
        count(lit(1)).as("n_events"),
        countIf(col("event_type") === "purchase").as("n_purchases"),
        dsumIf(col("event_type") === "purchase", col("value")).as("revenue"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------------
  // q11 — customer LTV rollup + dim join + top-k (SURVEY §2.4 A5 + §2.6
  // O4: `03_gold/03_gold_aggregate.py:226-242`, Customer 360 dashboard).
  val q11 = Q(
    "q11_customer_ltv",
    """SELECT c.c_custkey AS customer_id, c.c_name AS name, c.c_mktsegment AS segment,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lifetime_revenue,
      |  COUNT(*) AS n_orders,
      |  strftime(CAST(MIN(o.o_orderdate) AS DATE), '%Y-%m-%d') AS first_order_date,
      |  strftime(CAST(MAX(o.o_orderdate) AS DATE), '%Y-%m-%d') AS last_order_date
      |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |GROUP BY 1, 2, 3
      |ORDER BY lifetime_revenue DESC, customer_id
      |LIMIT 1000""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    // no broadcast hint on customer: it scales with the business; AQE
    // auto-broadcasts while it is small and shuffles when it is not
    o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey").as("customer_id"), col("c_name").as("name"), col("c_mktsegment").as("segment"))
      .agg(
        dsum(col("o_totalprice")).as("lifetime_revenue"),
        count(lit(1)).as("n_orders"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("first_order_date"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("last_order_date"))
      .orderBy(col("lifetime_revenue").desc, col("customer_id"))
      .limit(1000)
  }

  // ---------------------------------------------------------------------
  // q12 — BETWEEN date-range predicate + monthly rollup (SURVEY §2.2 P9,
  // the parameterized-dashboard WHERE shape; params frozen here for the
  // oracle — the parameterized form is Dashboards.monthlySales).
  val q12 = Q(
    "q12_monthly_sales_1996",
    """SELECT strftime(CAST(DATE_TRUNC('month', o_orderdate) AS DATE), '%Y-%m-%d') AS month,
      |  COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_order_value
      |FROM orders
      |WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01 00:00:00' AND TIMESTAMP '1996-12-31 00:00:00'
      |GROUP BY 1
      |ORDER BY month""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderdate").between(
        lit("1996-01-01 00:00:00").cast(TimestampType),
        lit("1996-12-31 00:00:00").cast(TimestampType)))
      .groupBy(date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("month"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        dsum(col("o_totalprice")).as("revenue"),
        (dsum(col("o_totalprice")) / count(lit(1))).as("avg_order_value"))
      .orderBy("month")
  }

  // ---------------------------------------------------------------------
  // q13 — the DQ gate as one labeled result set (SURVEY §2.11): null
  // checks, range checks, and an orphan check via LEFT ANTI join.
  val q13 = Q(
    "q13_dq_summary",
    """SELECT check_name, bad FROM (
      |  SELECT 'null_customer_name' AS check_name, COUNT(*) AS bad FROM customer WHERE c_name IS NULL OR c_mktsegment IS NULL
      |  UNION ALL
      |  SELECT 'nonpositive_quantity' AS check_name, COUNT(*) AS bad FROM lineitem WHERE l_quantity <= 0
      |  UNION ALL
      |  SELECT 'bad_discount' AS check_name, COUNT(*) AS bad FROM lineitem WHERE l_discount < 0 OR l_discount > 1
      |  UNION ALL
      |  SELECT 'orphan_lineitem' AS check_name, COUNT(*) AS bad
      |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey WHERE o.o_orderkey IS NULL
      |) ORDER BY check_name""".stripMargin) { (s, dir) =>
    val cust = t(s, dir, "customer")
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    def check(name: String, bad: DataFrame): DataFrame =
      bad.agg(count(lit(1)).as("bad")).select(lit(name).as("check_name"), col("bad"))
    check("null_customer_name", cust.filter(col("c_name").isNull || col("c_mktsegment").isNull))
      .unionByName(check("nonpositive_quantity", li.filter(col("l_quantity") <= 0)))
      .unionByName(check("bad_discount", li.filter(col("l_discount") < 0 || col("l_discount") > 1)))
      .unionByName(check("orphan_lineitem",
        li.join(o, li("l_orderkey") === o("o_orderkey"), "left_anti")))
      .orderBy("check_name")
  }

  // ---------------------------------------------------------------------
  // q14 — capped conversion percentages with NULL-safe division (SURVEY
  // §2.8 least/when: `03_gold/03_gold_aggregate.py:137-152`, README's
  // ">100% conversion" and "div-by-zero" regression classes).
  val q14 = Q(
    "q14_user_conversion",
    """SELECT user_id, views, clicks, purchases,
      |  CASE WHEN views > 0 THEN LEAST(CAST(100.0 AS DOUBLE), CAST(purchases AS DOUBLE) * CAST(100.0 AS DOUBLE) / views) END AS view_to_purchase_pct,
      |  CASE WHEN clicks > 0 THEN LEAST(CAST(100.0 AS DOUBLE), CAST(purchases AS DOUBLE) * CAST(100.0 AS DOUBLE) / clicks) END AS click_to_purchase_pct
      |FROM (
      |  SELECT user_id,
      |    CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS views,
      |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS clicks,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchases
      |  FROM events GROUP BY user_id)
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy("user_id")
      .agg(
        countIf(col("event_type") === "view").as("views"),
        countIf(col("event_type") === "click").as("clicks"),
        countIf(col("event_type") === "purchase").as("purchases"))
      .select(
        col("user_id"), col("views"), col("clicks"), col("purchases"),
        AggOps.cappedPct(col("purchases").cast(DoubleType), col("views")).as("view_to_purchase_pct"),
        AggOps.cappedPct(col("purchases").cast(DoubleType), col("clicks")).as("click_to_purchase_pct"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------------
  // q15 — "Sales Overview" dashboard shape: daily rollup, date-desc order,
  // preview limit (SURVEY §2.6 O2, `analysis/dashboard_queries/02_Sales
  // Overview.sql`).
  val q15 = Q(
    "q15_sales_overview",
    """SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS order_date,
      |  COUNT(*) AS n_orders,
      |  COUNT(DISTINCT o_custkey) AS n_customers,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS avg_order_value
      |FROM orders
      |WHERE o_orderdate BETWEEN TIMESTAMP '2000-01-01 00:00:00' AND TIMESTAMP '2000-03-31 00:00:00'
      |GROUP BY 1
      |ORDER BY order_date DESC""".stripMargin) { (s, dir) =>
    t(s, dir, "orders")
      .filter(col("o_orderdate").between(
        lit("2000-01-01 00:00:00").cast(TimestampType),
        lit("2000-03-31 00:00:00").cast(TimestampType)))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"))
      .agg(
        count(lit(1)).as("n_orders"),
        countDistinct(col("o_custkey")).as("n_customers"),
        dsum(col("o_totalprice")).as("revenue"),
        (dsum(col("o_totalprice")) / count(lit(1))).as("avg_order_value"))
      .orderBy(col("order_date").desc)
  }

  // ---------------------------------------------------------------------
  // q16 — Customer 360: LEFT join + coalesce zero-fill + datediff against
  // a frozen as-of date + CASE segmentation (SURVEY §2.3 J6, §2.8;
  // `03_gold/03_gold_aggregate.py:245-272` with current_date frozen to
  // 2002-01-01 for determinism per SURVEY §5).
  val q16 = Q(
    "q16_customer_360",
    """SELECT c.c_custkey AS customer_id, c.c_name AS name, c.c_mktsegment AS segment,
      |  COALESCE(o.lifetime_revenue, 0.0) AS lifetime_revenue,
      |  COALESCE(o.n_orders, 0) AS n_orders,
      |  DATE_DIFF('day', o.last_order_date, DATE '2002-01-01') AS days_since_last_order,
      |  CASE WHEN COALESCE(o.lifetime_revenue, 0.0) >= 1500000.0 THEN 'vip'
      |       WHEN COALESCE(o.lifetime_revenue, 0.0) >= 750000.0 THEN 'loyal'
      |       WHEN COALESCE(o.n_orders, 0) > 0 THEN 'active'
      |       ELSE 'prospect' END AS tier
      |FROM customer c
      |LEFT JOIN (SELECT o_custkey,
      |             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS lifetime_revenue,
      |             COUNT(*) AS n_orders,
      |             CAST(MAX(o_orderdate) AS DATE) AS last_order_date
      |           FROM orders GROUP BY o_custkey) o
      |ON c.c_custkey = o.o_custkey
      |ORDER BY lifetime_revenue DESC, customer_id
      |LIMIT 1000""".stripMargin) { (s, dir) =>
    val c = t(s, dir, "customer")
    val oAgg = t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(
        dsum(col("o_totalprice")).as("lifetime_revenue"),
        count(lit(1)).as("n_orders"),
        to_date(max(col("o_orderdate"))).as("last_order_date"))
    val ltv = coalesce(col("lifetime_revenue"), lit(0.0))
    val nOrders = coalesce(col("n_orders"), lit(0L))
    c.join(oAgg, c("c_custkey") === oAgg("o_custkey"), "left")
      .select(
        col("c_custkey").as("customer_id"),
        col("c_name").as("name"),
        col("c_mktsegment").as("segment"),
        ltv.as("lifetime_revenue"),
        nOrders.as("n_orders"),
        datediff(lit("2002-01-01").cast(DateType), col("last_order_date")).as("days_since_last_order"),
        when(ltv >= 1500000.0, "vip")
          .when(ltv >= 750000.0, "loyal")
          .when(nOrders > 0, "active")
          .otherwise("prospect").as("tier"))
      .orderBy(col("lifetime_revenue").desc, col("customer_id"))
      .limit(1000)
  }

  // ---------------------------------------------------------------------
  // q17 — JSON property extraction from a string column (events.props is
  // a JSON blob; extension beyond the reference's scalar-function set).
  val q17 = Q(
    "q17_json_props",
    """SELECT event_type,
      |  CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
      |  COUNT(json_extract_string(props, '$.k')) AS n_with_k
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, dir) =>
    val k = get_json_object(col("props"), "$.k").cast(LongType)
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(sum(k).as("total_k"), count(k).as("n_with_k"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------------
  // q18 — multi-hop dim chain (region ⋈ nation ⋈ customer ⋈ orders):
  // the bounded dims (region/nation) broadcast by hint; the customer-
  // carrying side auto-broadcasts while small (AQE shuffles it at scale)
  // so the fact table never sorts.
  val q18 = Q(
    "q18_revenue_by_nation",
    """SELECT r.r_name AS region, n.n_name AS nation,
      |  COUNT(DISTINCT c.c_custkey) AS n_customers,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM region r
      |JOIN nation n ON n.n_regionkey = r.r_regionkey
      |JOIN customer c ON c.c_nationkey = n.n_nationkey
      |JOIN orders o ON o.o_custkey = c.c_custkey
      |GROUP BY 1, 2
      |ORDER BY region, nation""".stripMargin) { (s, dir) =>
    val r = t(s, dir, "region")
    val n = t(s, dir, "nation")
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    // region/nation are bounded (geography) -> broadcast hints; the
    // customer-carrying dim side scales with the business -> NO forced
    // broadcast (AQE auto-broadcasts while small, shuffles when not)
    val dims = c
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .select(col("c_custkey"), col("r_name").as("region"), col("n_name").as("nation"))
    o.join(dims, o("o_custkey") === dims("c_custkey"))
      .groupBy("region", "nation")
      .agg(
        countDistinct(col("c_custkey")).as("n_customers"),
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("revenue"))
      .orderBy("region", "nation")
  }

  // ---------------------------------------------------------------------
  // q19 — supplier-side fact join: per-nation supplier revenue (completes
  // table coverage: every testdata table is read by some query). Shape:
  // fact shuffles once to the broadcast-joined dim rollup.
  val q19 = Q(
    "q19_supplier_revenue",
    """SELECT n.n_name AS nation, s.s_name AS supplier,
      |  CAST(SUM(CAST(l.l_extendedprice * (1.0 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem l
      |JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |JOIN nation n ON s.s_nationkey = n.n_nationkey
      |GROUP BY 1, 2
      |ORDER BY revenue DESC, supplier
      |LIMIT 100""".stripMargin) { (s, dir) =>
    val li = t(s, dir, "lineitem")
    val sup = t(s, dir, "supplier")
    val n = t(s, dir, "nation")
    // nation is bounded -> hint; the supplier side scales with SF ->
    // let AQE pick (auto-broadcast fires while it fits)
    val dims = sup.join(broadcast(n), sup("s_nationkey") === n("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("nation"), col("s_name").as("supplier"))
    li.join(dims, li("l_suppkey") === dims("s_suppkey"))
      .groupBy("nation", "supplier")
      .agg(
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")), 6).as("revenue"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("revenue").desc, col("supplier"))
      .limit(100)
  }

  // CTE chain shared by q20/q21 and the q31/q33 dashboard-on-gold
  // queries: adapted event stream -> the four silver inputs -> `pm` =
  // the full product_metrics gold relation (reference column set:
  // `03_gold_aggregate.py:93-108`). Declared BEFORE the queries that
  // interpolate it — a forward val reference interpolates "null"
  // silently (see the qs02 val-order incident, SURVEY §8 round 7).
  private val duckProductMetrics =
    """ev AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
      |    json_extract_string(props, '$.k') AS product_id,
      |    CASE event_type WHEN 'view' THEN 'page_view'
      |                    WHEN 'click' THEN 'add_to_cart'
      |                    ELSE event_type END AS event_type,
      |    event_id, value
      |  FROM events),
      |em AS (
      |  SELECT event_date, product_id,
      |    CAST(SUM(CASE WHEN event_type = 'page_view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
      |    CAST(SUM(CASE WHEN event_type = 'add_to_cart' THEN 1 ELSE 0 END) AS BIGINT) AS cart_count
      |  FROM ev GROUP BY 1, 2),
      |om AS (
      |  SELECT event_date, product_id,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
      |    CAST(SUM(1) AS BIGINT) AS purchase_count
      |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
      |pa AS (
      |  SELECT DISTINCT product_id,
      |    'cat_' || CAST(CAST(product_id AS BIGINT) % 5 AS VARCHAR) AS category,
      |    'product_' || product_id AS product_name
      |  FROM ev WHERE product_id IS NOT NULL),
      |rm AS (
      |  SELECT product_id, AVG(CAST(CAST(product_id AS BIGINT) % 5 + 1 AS BIGINT)) AS avg_rating,
      |    COUNT(event_id) AS review_count
      |  FROM ev WHERE event_type = 'signup' GROUP BY 1),
      |pm AS (
      |  SELECT event_date, product_id, pa.product_name, pa.category,
      |    CAST(COALESCE(em.view_count, 0) AS INTEGER) AS view_count,
      |    CAST(COALESCE(em.cart_count, 0) AS INTEGER) AS cart_count,
      |    CAST(COALESCE(om.purchase_count, 0) AS INTEGER) AS purchase_count,
      |    CAST(COALESCE(om.total_revenue, 0.0) AS DOUBLE) AS total_revenue,
      |    ROUND(COALESCE(rm.avg_rating, 0.0), 2) AS avg_rating,
      |    CAST(COALESCE(rm.review_count, 0) AS INTEGER) AS review_count
      |  FROM em FULL OUTER JOIN om USING (event_date, product_id)
      |  LEFT JOIN pa USING (product_id)
      |  LEFT JOIN rm USING (product_id)
      |  WHERE product_id IS NOT NULL)""".stripMargin

  // ---------------------------------------------------------------------
  // q20 — the production Gold.productFunnel model end-to-end over
  // testdata: the funnel derives FROM the product_metrics gold relation
  // (reference `03_gold_aggregate.py:120-152` — purchase_count is
  // order-side units, name/category carry through, percentages emit 0.0
  // on zero denominators and cap at 100), oracle-checking the full
  // silver→gold computation at SF scale.
  val q20 = Q(
    "q20_gold_product_funnel_e2e",
    s"""WITH $duckProductMetrics
       |SELECT event_date, product_id, product_name, category,
       |  view_count, cart_count, purchase_count,
       |  LEAST(CAST(100.0 AS DOUBLE), CASE WHEN view_count > 0
       |    THEN ROUND((CAST(cart_count AS DOUBLE) / view_count) * CAST(100.0 AS DOUBLE), 2)
       |    ELSE 0.0 END) AS view_to_cart_pct,
       |  LEAST(CAST(100.0 AS DOUBLE), CASE WHEN cart_count > 0
       |    THEN ROUND((CAST(purchase_count AS DOUBLE) / cart_count) * CAST(100.0 AS DOUBLE), 2)
       |    ELSE 0.0 END) AS cart_to_purchase_pct,
       |  LEAST(CAST(100.0 AS DOUBLE), CASE WHEN view_count > 0
       |    THEN ROUND((CAST(purchase_count AS DOUBLE) / view_count) * CAST(100.0 AS DOUBLE), 2)
       |    ELSE 0.0 END) AS overall_conversion_pct
       |FROM pm
       |ORDER BY event_date, product_id""".stripMargin) { (s, dir) =>
    goldProductFunnelE2e(s, dir).orderBy("event_date", "product_id")
  }

  /** The production Gold.productFunnel over the e2e product_metrics
    * (shared by q20 and the q33 dashboard-on-gold query).
    */
  private def goldProductFunnelE2e(s: SparkSession, dir: String): DataFrame =
    graft.ecom.Gold.productFunnel(goldProductMetricsE2e(s, dir))

  // ---------------------------------------------------------------------
  // q21 — the production Gold.productMetrics model end-to-end: all four
  // silver inputs adapted deterministically from testdata events, then
  // the REAL gold code (conditional counts ⟗ order rollup USING-join
  // with zero-fill, broadcast dim + review joins, int-cast counts),
  // oracle-checked column-for-column.
  val q21 = Q(
    "q21_gold_product_metrics_e2e",
    s"""WITH $duckProductMetrics
       |SELECT * FROM pm
       |ORDER BY event_date, product_id""".stripMargin) { (s, dir) =>
    goldProductMetricsE2e(s, dir).orderBy("event_date", "product_id")
  }

  /** The production Gold.productMetrics over testdata-adapted silver
    * inputs (shared by q21 and the q31/q33 dashboard-on-gold queries).
    */
  private def goldProductMetricsE2e(s: SparkSession, dir: String): DataFrame = {
    val raw = t(s, dir, "events").select(
      date_format(col("ts"), "yyyy-MM-dd").as("event_date"),
      get_json_object(col("props"), "$.k").as("product_id"),
      when(col("event_type") === "view", "page_view")
        .when(col("event_type") === "click", "add_to_cart")
        .otherwise(col("event_type")).as("event_type"),
      col("event_id"), col("value"))
    val eventsClean = raw.select("event_date", "product_id", "event_type")
    val orderItemsClean = raw.filter(col("event_type") === "purchase")
      .select(col("event_date").as("order_date"), col("product_id"),
        col("value").as("line_total_usd"), lit(1).as("quantity"))
    val productsClean = raw.filter(col("product_id").isNotNull)
      .select(col("product_id")).distinct()
      .select(col("product_id"),
        concat(lit("cat_"), (col("product_id").cast(LongType) % 5).cast(StringType)).as("category"),
        concat(lit("product_"), col("product_id")).as("product_name"))
    val reviewsClean = raw.filter(col("event_type") === "signup")
      .select(col("event_id").as("review_id"), col("product_id"),
        (col("product_id").cast(LongType) % 5 + 1).as("rating"))
    graft.ecom.Gold.productMetrics(eventsClean, orderItemsClean, productsClean, reviewsClean)
  }

  // Shared adapter for q22/q23: testdata events as the reference event
  // stream (user as session), plus a sessions-attribute table covering
  // only EVEN users so the left-join fallback paths are exercised.
  private def adaptedSessionInputs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ev = t(s, dir, "events").select(
      col("user_id").cast(StringType).as("session_id"),
      col("ts").as("event_ts"),
      col("event_id").cast(StringType).as("event_id"),
      to_date(col("ts")).as("event_date"),
      col("event_type"),
      col("value").as("amount_usd"))
    val attrs = t(s, dir, "events")
      .filter(col("user_id") % 2 === 0)
      .groupBy(col("user_id"))
      .agg((min(col("ts")) - expr("INTERVAL 60 SECONDS")).as("session_start_ts"))
      .select(
        col("user_id").cast(StringType).as("session_id"),
        concat(lit("c"), col("user_id")).as("customer_id"),
        col("session_start_ts"),
        lit("web").as("device"), lit("ads").as("source"), lit("US").as("country"))
    (ev, attrs)
  }

  // `sm` is the FINAL gold session_metrics relation (duration-filtered,
  // reference column set `03_gold_aggregate.py:187-211`): has_purchased
  // is the purchase-event COUNT, start-ts coalesce prefers the EVENTS
  // min, customer/device/source/country fall back to 'UNKNOWN'.
  private val duckSessionMetrics =
    """ev AS (
      |  SELECT CAST(user_id AS VARCHAR) AS session_id, ts AS event_ts,
      |    CAST(event_id AS VARCHAR) AS event_id,
      |    CAST(ts AS DATE) AS event_date,
      |    event_type, value AS amount_usd
      |  FROM events),
      |attrs AS (
      |  SELECT CAST(user_id AS VARCHAR) AS session_id,
      |    'c' || CAST(user_id AS VARCHAR) AS customer_id,
      |    MIN(ts) - INTERVAL 60 SECOND AS session_start_ts,
      |    'web' AS device, 'ads' AS source, 'US' AS country
      |  FROM events WHERE user_id % 2 = 0 GROUP BY user_id),
      |sagg AS (
      |  SELECT session_id,
      |    MIN(event_ts) AS events_start_ts, MAX(event_ts) AS events_end_ts,
      |    COUNT(event_id) AS total_events, MIN(event_date) AS session_date,
      |    CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN amount_usd ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS session_revenue,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS has_purchased
      |  FROM ev GROUP BY session_id),
      |sm0 AS (
      |  SELECT sagg.session_id,
      |    COALESCE(attrs.customer_id, 'UNKNOWN') AS customer_id,
      |    sagg.session_date,
      |    COALESCE(sagg.events_start_ts, attrs.session_start_ts) AS session_start_ts,
      |    sagg.events_end_ts AS session_end_ts,
      |    CAST(FLOOR(epoch(sagg.events_end_ts)) AS BIGINT)
      |      - CAST(FLOOR(epoch(COALESCE(sagg.events_start_ts, attrs.session_start_ts))) AS BIGINT) AS session_duration_sec,
      |    sagg.total_events,
      |    COALESCE(attrs.device, 'UNKNOWN') AS device,
      |    COALESCE(attrs.source, 'UNKNOWN') AS source,
      |    COALESCE(attrs.country, 'UNKNOWN') AS country,
      |    sagg.session_revenue,
      |    CAST(sagg.has_purchased AS INTEGER) AS has_purchased
      |  FROM sagg LEFT JOIN attrs USING (session_id)),
      |sm AS (SELECT * FROM sm0
      |       WHERE session_duration_sec IS NOT NULL AND session_duration_sec >= 0)""".stripMargin

  // ---------------------------------------------------------------------
  // q22 — the production Gold.sessionMetrics model end-to-end: batch
  // sessionization (min/max rollup), attribute left join with UNKNOWN
  // fallbacks, events-first start-ts coalesce, purchase-count
  // has_purchased, epoch-second duration — oracle-checked per column.
  val q22 = Q(
    "q22_gold_session_metrics_e2e",
    s"""WITH $duckSessionMetrics
       |SELECT * FROM sm
       |ORDER BY session_id""".stripMargin) { (s, dir) =>
    goldSessionMetricsE2e(s, dir).orderBy("session_id")
  }

  /** The production Gold.sessionMetrics over testdata-adapted inputs
    * (shared by q22, q23 and the q32 dashboard-on-gold query).
    */
  private def goldSessionMetricsE2e(s: SparkSession, dir: String): DataFrame = {
    val (ev, attrs) = adaptedSessionInputs(s, dir)
    graft.ecom.Gold.sessionMetrics(ev, attrs)
  }

  // ---------------------------------------------------------------------
  // q23 — the production Gold.customer360 model end-to-end on top of the
  // q22 session metrics: demographics LEFT join, zero-fill, NULL-safe
  // AOV, frozen as-of datediff and scd_load_ts. Odd users' sessions
  // carry the UNKNOWN customer fallback — that group matches no
  // demographics row, so their customer rows exercise the zero-fill
  // path (reference `:229`: no customer filter before the rollup).
  // CTE chain shared by q23 and the q34 dashboard-on-gold query:
  // demographics + session-metric rollup -> `c360` = the full
  // customer_360 gold relation (reference column set `:245-268`).
  // Builds on duckSessionMetrics' `sm`.
  private val duckCustomer360 =
    s"""cust AS (
      |  SELECT DISTINCT 'c' || CAST(user_id AS VARCHAR) AS customer_id,
      |    'user_' || CAST(user_id AS VARCHAR) AS name,
      |    CAST(user_id AS VARCHAR) || '@x.com' AS email,
      |    'US' AS country, user_id % 80 + 18 AS age,
      |    strftime(DATE '2023-01-01' + CAST(user_id % 365 AS INTEGER), '%Y-%m-%d') AS signup_date,
      |    user_id % 2 = 0 AS marketing_opt_in
      |  FROM events),
      |sa AS (
      |  SELECT customer_id,
      |    CAST(SUM(CAST(session_revenue AS DECIMAL(18,2))) AS DOUBLE) AS customer_total_revenue,
      |    CAST(SUM(has_purchased) AS BIGINT) AS total_orders,
      |    COUNT(DISTINCT session_id) AS total_sessions,
      |    MAX(session_end_ts) AS last_active_ts,
      |    MIN(session_start_ts) AS first_active_ts
      |  FROM sm GROUP BY customer_id),
      |c360 AS (
      |  SELECT cust.customer_id, cust.name, cust.email, cust.country, cust.age,
      |    cust.signup_date, cust.marketing_opt_in,
      |    COALESCE(sa.customer_total_revenue, 0.0) AS customer_total_revenue,
      |    CAST(COALESCE(sa.total_orders, 0) AS INTEGER) AS total_orders,
      |    CAST(COALESCE(sa.total_sessions, 0) AS INTEGER) AS total_sessions,
      |    sa.first_active_ts, sa.last_active_ts,
      |    CASE WHEN COALESCE(sa.total_orders, 0) <> 0
      |      THEN ${duckCentsQuotient("sa.customer_total_revenue", "sa.total_orders")}
      |      END AS average_order_value,
      |    date_diff('day', CAST(cust.signup_date AS DATE), DATE '2025-01-01') AS days_since_signup,
      |    TIMESTAMP '2025-01-01 00:00:00' AS scd_load_ts
      |  FROM cust LEFT JOIN sa USING (customer_id))""".stripMargin

  val q23 = Q(
    "q23_gold_customer_360_e2e",
    s"""WITH $duckSessionMetrics,
       |$duckCustomer360
       |SELECT * FROM c360
       |ORDER BY customer_id""".stripMargin) { (s, dir) =>
    goldCustomer360E2e(s, dir).orderBy("customer_id")
  }

  /** The production Gold.customer360 over testdata-adapted inputs
    * (shared by q23 and the q34 dashboard-on-gold query).
    */
  private def goldCustomer360E2e(s: SparkSession, dir: String): DataFrame = {
    val sm = goldSessionMetricsE2e(s, dir)
    val cust = t(s, dir, "events").select(col("user_id")).distinct().select(
      concat(lit("c"), col("user_id")).as("customer_id"),
      concat(lit("user_"), col("user_id")).as("name"),
      concat(col("user_id").cast(StringType), lit("@x.com")).as("email"),
      lit("US").as("country"),
      (col("user_id") % 80 + 18).as("age"),
      date_format(
        date_add(lit("2023-01-01").cast(DateType), (col("user_id") % 365).cast(IntegerType)),
        "yyyy-MM-dd").as("signup_date"),
      (col("user_id") % 2 === 0).as("marketing_opt_in"))
    graft.ecom.Gold.customer360(cust, sm, java.time.LocalDate.parse("2025-01-01"),
      java.sql.Timestamp.valueOf("2025-01-01 00:00:00"))
  }

  // ---------------------------------------------------------------------
  // q24 — as-of join (operator Spark lacks; graft.ops.TimeOps.asofJoin):
  // attach the latest purchase amount at-or-before each view event per
  // user. Oracle is DuckDB's native ASOF JOIN; the Spark plan is the
  // union+window linear form (one shuffle, no range-join explosion).
  val q24 = Q(
    "q24_asof_join",
    """WITH v AS (SELECT user_id, event_id, ts FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, ts, MAX(value) AS last_purchase
      |      FROM events WHERE event_type = 'purchase' GROUP BY user_id, ts)
      |SELECT v.user_id, v.event_id, p.last_purchase
      |FROM v ASOF LEFT JOIN p ON v.user_id = p.user_id AND v.ts >= p.ts
      |ORDER BY v.user_id, v.event_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select("user_id", "event_id", "ts")
    val purchases = ev.filter(col("event_type") === "purchase")
      .groupBy("user_id", "ts") // unique per (key, ts) — asofJoin contract
      .agg(max(col("value")).as("last_purchase"))
    graft.ops.TimeOps.asofJoin(views, purchases,
        keys = Seq("user_id"), leftTs = "ts", rightTs = "ts",
        valueCols = Seq("last_purchase"))
      .select("user_id", "event_id", "last_purchase")
      .orderBy("user_id", "event_id")
  }

  // ---------------------------------------------------------------------
  // q25 — frame-spec windows (running sum, lag, 3-row moving average):
  // the window family the reference never uses beyond row_number, needed
  // for a complete engine. Exact decimal running sums so the oracle is
  // bit-stable; windows shuffle once on the partition key.
  val q25 = Q(
    "q25_running_totals",
    """SELECT o_custkey AS customer_id, o_orderkey AS order_id,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue,
      |  CAST(LAG(CAST(o_totalprice AS DECIMAL(18,2))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE) AS prev_order_value,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER
      |    (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / LEAST(CAST(ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS DOUBLE), CAST(3.0 AS DOUBLE)) AS moving_avg_3
      |FROM orders
      |ORDER BY customer_id, order_id""".stripMargin) { (s, dir) =>
    val dec = col("o_totalprice").cast(DecimalType(18, 2))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val last3 = w.rowsBetween(-2, Window.currentRow)
    t(s, dir, "orders")
      .select(
        col("o_custkey").as("customer_id"),
        col("o_orderkey").as("order_id"),
        sum(dec).over(running).cast(DoubleType).as("running_revenue"),
        lag(dec, 1).over(w).cast(DoubleType).as("prev_order_value"),
        (sum(dec).over(last3).cast(DoubleType) /
          least(row_number().over(w).cast(DoubleType), lit(3.0))).as("moving_avg_3"))
      .orderBy("customer_id", "order_id")
  }

  // ---------------------------------------------------------------------
  // q26 — ROLLUP multi-level aggregate (region → nation subtotals →
  // grand total): the grouping-sets family, absent from the reference
  // but table stakes for a complete engine. One shuffle; Spark expands
  // grouping sets map-side.
  val q26 = Q(
    "q26_revenue_rollup",
    """SELECT COALESCE(r.r_name, 'ALL') AS region,
      |  CASE WHEN GROUPING(n.n_name) = 1 THEN 'ALL' ELSE n.n_name END AS nation,
      |  CAST(GROUPING(r.r_name) * 2 + GROUPING(n.n_name) AS BIGINT) AS lvl,
      |  COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |GROUP BY ROLLUP (r.r_name, n.n_name)
      |ORDER BY lvl, region, nation""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    // customer scales with the business -> no forced broadcast there;
    // nation/region are bounded -> hints stay
    val joined = o.join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
    joined
      .rollup(col("r_name"), col("n_name"))
      .agg(
        (grouping(col("r_name")) * 2 + grouping(col("n_name"))).cast(LongType).as("lvl"),
        count(lit(1)).as("n_orders"),
        dsum(col("o_totalprice")).as("revenue"))
      .select(
        coalesce(col("r_name"), lit("ALL")).as("region"),
        when(col("lvl") % 2 === 1, "ALL").otherwise(col("n_name")).as("nation"),
        col("lvl"), col("n_orders"), col("revenue"))
      .orderBy("lvl", "region", "nation")
  }

  // ---------------------------------------------------------------------
  // q27 — batch gap-based sessionization: the operator that CREATES the
  // sessions the reference pre-materializes in sessions.csv (SURVEY
  // §2.9: session boundaries there are batch min/max over an existing
  // session_id). A 30-minute inactivity gap starts a new session:
  // lag-over-user detects boundaries, a running sum numbers them, then
  // one aggregate rolls sessions up. Plan: ONE shuffle+sort on user_id
  // feeds both stacked Window operators; the session rollup partially
  // aggregates map-side (rows already clustered by user), so the second
  // exchange carries session rows, not events. This is the linear-plan
  // sessionizer that holds at 100 TB — no self-join, no per-user
  // collect_list.
  val q27 = Q(
    "q27_sessionize",
    """WITH o AS (SELECT user_id, event_id, ts, event_type, value,
      |    CASE WHEN LAG(ts) OVER w IS NULL
      |           OR FLOOR(epoch(ts)) - FLOOR(epoch(LAG(ts) OVER w)) > 1800
      |         THEN 1 ELSE 0 END AS new_sess
      |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |s AS (SELECT user_id, event_id, ts, event_type, value,
      |    SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS session_idx
      |  FROM o)
      |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
      |  COUNT(*) AS n_events,
      |  CAST(FLOOR(epoch(MIN(ts))) AS BIGINT) AS start_epoch,
      |  CAST(FLOOR(epoch(MAX(ts))) AS BIGINT) AS end_epoch,
      |  CAST(FLOOR(epoch(MAX(ts))) - FLOOR(epoch(MIN(ts))) AS BIGINT) AS duration_sec,
      |  CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN value ELSE 0.0 END
      |    AS DECIMAL(18,2))) AS DOUBLE) AS session_revenue
      |FROM s
      |GROUP BY user_id, session_idx
      |ORDER BY user_id, session_idx""".stripMargin) { (s, dir) =>
    graft.ops.TimeOps.sessionize(
        t(s, dir, "events")
          .select(col("user_id"), col("event_id"), col("ts"), col("event_type"), col("value")),
        keys = Seq("user_id"), tsCol = "ts", gapSec = 1800L, tieCols = Seq("event_id"))
      .groupBy("user_id", "session_idx")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).cast(LongType).as("start_epoch"),
        max(col("ts")).cast(LongType).as("end_epoch"),
        (max(col("ts")).cast(LongType) - min(col("ts")).cast(LongType)).as("duration_sec"),
        dsumIf(col("event_type") === "purchase", col("value")).as("session_revenue"))
      .orderBy("user_id", "session_idx")
  }

  // ---------------------------------------------------------------------
  // q28 — semi/anti join cohort: customers with a 1996 order but no 1997
  // order (churned-in-96). LEFT SEMI + LEFT ANTI are the scale-correct
  // EXISTS/NOT EXISTS: the probe side streams once, the build side
  // reduces to distinct keys (no row multiplication, unlike an inner
  // join + distinct). Completes the join-type inventory next to q13's
  // orphan anti-join.
  val q28 = Q(
    "q28_churned_1996_customers",
    """SELECT c.c_custkey AS customer_id, c.c_name AS name, c.c_mktsegment AS segment
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |              AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |              AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00')
      |  AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
      |              AND o.o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
      |              AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
      |ORDER BY customer_id""".stripMargin) { (s, dir) =>
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    def inYear(y: Int) = o.filter(
      col("o_orderdate") >= lit(s"$y-01-01 00:00:00").cast(TimestampType) &&
        col("o_orderdate") < lit(s"${y + 1}-01-01 00:00:00").cast(TimestampType))
      .select(col("o_custkey"))
    c.join(inYear(1996), c("c_custkey") === col("o_custkey"), "left_semi")
      .join(inYear(1997), c("c_custkey") === col("o_custkey"), "left_anti")
      .select(col("c_custkey").as("customer_id"), col("c_name").as("name"),
        col("c_mktsegment").as("segment"))
      .orderBy("customer_id")
  }

  // ---------------------------------------------------------------------
  // q29 — native RelationalGroupedDataset.pivot with an explicit value
  // list (the first-class form of A1's CASE-WHEN "pivot-style" counts;
  // an explicit list keeps the plan deterministic and single-pass —
  // without it Spark runs an extra distinct-values job). Pivot compiles
  // to the same two-phase hash aggregate as the CASE form: one shuffle
  // of (date × type) partial counts.
  val q29 = Q(
    "q29_events_pivot",
    """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
      |  CAST(SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
      |  CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      |  CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      |  CAST(SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      |  CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error
      |FROM events
      |GROUP BY 1
      |ORDER BY event_date""".stripMargin) { (s, dir) =>
    t(s, dir, "events")
      .groupBy(date_format(col("ts"), "yyyy-MM-dd").as("event_date"))
      .pivot("event_type", Seq("view", "click", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L) // absent (date, type) combos count 0, like the CASE form
      .orderBy("event_date")
  }

  // ---------------------------------------------------------------------
  // q30 — INTERSECT / EXCEPT set algebra over user segments (completes
  // §2.7 beyond U1's UNION ALL): converting viewers vs window shoppers
  // vs blind buyers. Spark plans both as hash aggregates + semi/anti
  // joins on the deduped key sets — rows shrink to distinct keys before
  // any shuffle, so each leg is one small exchange at any corpus size.
  val q30 = Q(
    "q30_segment_set_ops",
    """SELECT segment, CAST(n AS BIGINT) AS n FROM (
      |  SELECT 'converting_viewers' AS segment, COUNT(*) AS n FROM (
      |    SELECT user_id FROM events WHERE event_type = 'view'
      |    INTERSECT
      |    SELECT user_id FROM events WHERE event_type = 'purchase') a
      |  UNION ALL
      |  SELECT 'window_shoppers', COUNT(*) FROM (
      |    SELECT user_id FROM events WHERE event_type = 'view'
      |    EXCEPT
      |    SELECT user_id FROM events WHERE event_type = 'purchase') b
      |  UNION ALL
      |  SELECT 'blind_buyers', COUNT(*) FROM (
      |    SELECT user_id FROM events WHERE event_type = 'purchase'
      |    EXCEPT
      |    SELECT user_id FROM events WHERE event_type = 'view') c) u
      |ORDER BY segment""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    def users(kind: String) = ev.filter(col("event_type") === kind).select("user_id")
    def counted(name: String, df: DataFrame) =
      df.agg(count(lit(1)).as("n")).select(lit(name).as("segment"), col("n"))
    counted("converting_viewers", users("view").intersect(users("purchase")))
      .unionByName(counted("window_shoppers", users("view").except(users("purchase"))))
      .unionByName(counted("blind_buyers", users("purchase").except(users("view"))))
      .orderBy("segment")
  }

  // ---------------------------------------------------------------------
  // q31–q34 — the four PRODUCTION Dashboards functions (direct ports of
  // `/root/reference/analysis/dashboard_queries/*.sql`, Dashboards.scala)
  // run over the e2e gold relations with fixed date parameters, so the
  // dashboard code path itself — not just its Parity twins q02/q15/q07/
  // q16 — sits inside the oracle hash gate. The e2e gold carries string
  // dates (the DuckDB CTE chains render them as yyyy-MM-dd); production
  // gold tables carry DATE columns, so the adapter casts before handing
  // the frame to the dashboard function and the oracle casts identically.
  private val dashStart = java.time.LocalDate.parse("2024-01-05")
  private val dashEnd = java.time.LocalDate.parse("2024-01-20")
  // session_date in the e2e adaptation is each user's FIRST event date
  // (one session per user), which clusters on Jan 1 — the sales range
  // starts there so the dashboard selects rows at every SF.
  private val salesStart = java.time.LocalDate.parse("2024-01-01")

  private def datedPm(s: SparkSession, dir: String): DataFrame =
    goldProductMetricsE2e(s, dir).withColumn("event_date", col("event_date").cast(DateType))

  val q31 = Q(
    "q31_dashboard_product_performance",
    s"""WITH $duckProductMetrics
       |SELECT category, product_name,
       |  CAST(SUM(view_count) AS BIGINT) AS total_views,
       |  CAST(SUM(cart_count) AS BIGINT) AS total_carts,
       |  CAST(SUM(purchase_count) AS BIGINT) AS total_purchases,
       |  CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
       |  CASE WHEN SUM(view_count) = 0 THEN 0.0
       |    ELSE ROUND(CAST(SUM(cart_count) AS DOUBLE) * CAST(100.0 AS DOUBLE)
       |      / CAST(SUM(view_count) AS DOUBLE), 2) END AS view_to_cart_rate,
       |  CASE WHEN SUM(cart_count) = 0 THEN 0.0
       |    ELSE ROUND(CAST(SUM(purchase_count) AS DOUBLE) * CAST(100.0 AS DOUBLE)
       |      / CAST(SUM(cart_count) AS DOUBLE), 2) END AS cart_to_purchase_rate,
       |  CASE WHEN SUM(view_count) = 0 THEN 0.0
       |    ELSE ROUND(CAST(SUM(purchase_count) AS DOUBLE) * CAST(100.0 AS DOUBLE)
       |      / CAST(SUM(view_count) AS DOUBLE), 2) END AS overall_conversion_rate
       |FROM pm
       |WHERE CAST(event_date AS DATE) BETWEEN DATE '$dashStart' AND DATE '$dashEnd'
       |GROUP BY 1, 2
       |ORDER BY total_revenue DESC, category, product_name
       |LIMIT 100""".stripMargin) { (s, dir) =>
    graft.ecom.Dashboards.productPerformance(datedPm(s, dir), dashStart, dashEnd)
  }

  val q32 = Q(
    "q32_dashboard_sales_overview",
    s"""WITH $duckSessionMetrics
       |SELECT session_date,
       |  COUNT(DISTINCT session_id) AS total_sessions,
       |  CAST(SUM(has_purchased) AS BIGINT) AS total_orders,
       |  ROUND(CAST(SUM(CAST(session_revenue AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_revenue,
       |  CASE WHEN SUM(has_purchased) = 0 THEN 0.0
       |    ELSE ${duckCentsQuotient("SUM(session_revenue)", "SUM(has_purchased)")}
       |    END AS daily_aov,
       |  CASE WHEN COUNT(DISTINCT session_id) = 0 THEN 0.0
       |    ELSE ROUND(CAST(SUM(has_purchased) AS DOUBLE) * CAST(100.0 AS DOUBLE)
       |      / CAST(COUNT(DISTINCT session_id) AS DOUBLE), 2) END AS session_conversion_rate
       |FROM sm
       |WHERE session_date BETWEEN DATE '$salesStart' AND DATE '$dashEnd'
       |GROUP BY session_date
       |ORDER BY session_date DESC""".stripMargin) { (s, dir) =>
    graft.ecom.Dashboards.salesOverview(goldSessionMetricsE2e(s, dir), salesStart, dashEnd)
  }

  val q33 = Q(
    "q33_dashboard_site_funnel",
    s"""WITH $duckProductMetrics
       |SELECT funnel_stage, "count" FROM (
       |  SELECT '1. Product Views' AS funnel_stage,
       |    COALESCE(CAST(SUM(view_count) AS BIGINT), 0) AS "count"
       |  FROM pm WHERE CAST(event_date AS DATE) BETWEEN DATE '$dashStart' AND DATE '$dashEnd'
       |  UNION ALL
       |  SELECT '2. Add to Carts',
       |    COALESCE(CAST(SUM(cart_count) AS BIGINT), 0)
       |  FROM pm WHERE CAST(event_date AS DATE) BETWEEN DATE '$dashStart' AND DATE '$dashEnd'
       |  UNION ALL
       |  SELECT '3. Purchases',
       |    COALESCE(CAST(SUM(purchase_count) AS BIGINT), 0)
       |  FROM pm WHERE CAST(event_date AS DATE) BETWEEN DATE '$dashStart' AND DATE '$dashEnd') u
       |ORDER BY "count" DESC, funnel_stage""".stripMargin) { (s, dir) =>
    graft.ecom.Dashboards.siteWideFunnel(datedPm(s, dir), dashStart, dashEnd)
  }

  // Wider range than q31–q33 so the last-active window actually filters.
  // Odd users' sessions roll up under the UNKNOWN customer (no
  // demographics match), so those customers carry NULL last_active_ts
  // and are EXCLUDED by the reference's BETWEEN — the dashboard returns
  // only even users (the reference has no signup-date fallback arm).
  private val dashC360Start = java.time.LocalDate.parse("2023-01-05")
  private val dashC360End = java.time.LocalDate.parse("2024-01-31")

  val q34 = Q(
    "q34_dashboard_customer360_top",
    s"""WITH $duckSessionMetrics,
       |$duckCustomer360
       |SELECT customer_id, name, country, total_orders,
       |  ROUND(customer_total_revenue, 2) AS lifetime_revenue,
       |  average_order_value, days_since_signup,
       |  CAST(last_active_ts AS DATE) AS last_active_date,
       |  CASE WHEN customer_total_revenue >= 1000 THEN 'Platinum VIP'
       |       WHEN customer_total_revenue >= 500 THEN 'Gold Member'
       |       WHEN total_orders > 0 THEN 'Standard Customer'
       |       ELSE 'Window Shopper' END AS customer_tier
       |FROM c360
       |WHERE CAST(last_active_ts AS DATE) BETWEEN DATE '$dashC360Start' AND DATE '$dashC360End'
       |ORDER BY lifetime_revenue DESC, customer_id
       |LIMIT 1000""".stripMargin) { (s, dir) =>
    graft.ecom.Dashboards.customer360Top(goldCustomer360E2e(s, dir), dashC360Start, dashC360End)
  }

  // ---------------------------------------------------------------------
  // q36 — interval (range) join (operator Spark lacks;
  // graft.ops.TimeOps.rangeJoin): attribute each view event to every
  // purchase by the same user within the following hour — the classic
  // "touchpoints inside an attribution window" join. The oracle is
  // DuckDB's native inequality join; the Spark plan is the binned
  // equi-join (bin = 1h, matching the window, so each purchase interval
  // explodes into at most 2 bins) — never a nested loop.
  val q36 = Q(
    "q36_range_join",
    """WITH v AS (SELECT user_id, event_id AS view_id, ts FROM events WHERE event_type = 'view'),
      |p AS (SELECT user_id, event_id AS purchase_id, ts AS pts FROM events WHERE event_type = 'purchase')
      |SELECT v.user_id, v.view_id, p.purchase_id
      |FROM v JOIN p ON v.user_id = p.user_id
      |  AND v.ts >= p.pts - INTERVAL 1 HOUR AND v.ts <= p.pts
      |ORDER BY v.user_id, view_id, purchase_id""".stripMargin) { (s, dir) =>
    val ev = t(s, dir, "events")
    val views = ev.filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("ts") - expr("INTERVAL 1 HOUR")).as("w_start"), col("ts").as("w_end"))
    graft.ops.TimeOps.rangeJoin(views, purchases,
        keys = Seq("user_id"), tsCol = "ts",
        startCol = "w_start", endCol = "w_end", binSec = 3600L)
      .select("user_id", "view_id", "purchase_id")
      .orderBy("user_id", "view_id", "purchase_id")
  }

  // ---------------------------------------------------------------------
  // q37 — CUBE completes the grouping-sets family next to q26's ROLLUP:
  // all four (returnflag × linestatus) marginals in one pass. Spark
  // expands the sets map-side into one two-phase aggregate — one
  // shuffle regardless of how many grouping sets, which is why CUBE is
  // fine at 100 TB when the grouped cardinality is low.
  val q37 = Q(
    "q37_lineitem_cube",
    """SELECT COALESCE(l_returnflag, 'ALL') AS returnflag,
      |  COALESCE(l_linestatus, 'ALL') AS linestatus,
      |  CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS lvl,
      |  CAST(COUNT(*) AS BIGINT) AS n_items,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY lvl, returnflag, linestatus""".stripMargin) { (s, dir) =>
    t(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        count(lit(1)).as("n_items"),
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_price"),
        (grouping(col("l_returnflag")) * 2 + grouping(col("l_linestatus")))
          .cast(LongType).as("lvl"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
        col("lvl"), col("n_items"), col("sum_qty"), col("sum_price"))
      .orderBy("lvl", "returnflag", "linestatus")
  }

  // ---------------------------------------------------------------------
  // q38 — ranking-window completeness: dense_rank / percent_rank /
  // cume_dist / first_value / nth_value over a per-customer order
  // history, none of which q25's frame windows exercise. All share ONE
  // window ordering, so the plan is a single shuffle + sort feeding
  // every function; ties are broken by order id to keep ranks
  // deterministic at any parallelism.
  val q38 = Q(
    "q38_order_rank_windows",
    """SELECT o_custkey AS customer_id, o_orderkey AS order_id,
      |  CAST(DENSE_RANK() OVER w AS BIGINT) AS spend_dense_rank,
      |  PERCENT_RANK() OVER w AS spend_pct_rank,
      |  CUME_DIST() OVER w AS spend_cume_dist,
      |  FIRST_VALUE(o_orderkey) OVER w AS top_order_id,
      |  NTH_VALUE(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_order_id
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
      |ORDER BY customer_id, order_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    val full = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    t(s, dir, "orders")
      .select(
        col("o_custkey").as("customer_id"),
        col("o_orderkey").as("order_id"),
        dense_rank().over(w).cast(LongType).as("spend_dense_rank"),
        percent_rank().over(w).as("spend_pct_rank"),
        cume_dist().over(w).as("spend_cume_dist"),
        first_value(col("o_orderkey")).over(w).as("top_order_id"),
        nth_value(col("o_orderkey"), 2).over(full).as("second_order_id"))
      .orderBy("customer_id", "order_id")
  }

  // ---------------------------------------------------------------------
  // q39 — ORDERED funnel (sequence detection): did the user do
  // view → click → purchase in TIME ORDER, and when did each stage
  // first complete? q07's funnel counts stages independently; real
  // funnel analysis requires the sequence constraint (a purchase BEFORE
  // the first view is not a conversion). Plan: one exchange on user_id
  // feeds three stacked window mins — stage k's timestamp is the min
  // event time of its type strictly after stage k-1's — never a
  // per-user sort-and-scan UDF and never a cubic triple join; at 100 TB
  // this is the same single-shuffle shape as q27's sessionization.
  val q39 = Q(
    "q39_funnel_sequence",
    """WITH s1 AS (SELECT user_id, ts, event_type,
      |    MIN(CASE WHEN event_type = 'view' THEN ts END)
      |      OVER (PARTITION BY user_id) AS first_view_ts
      |  FROM events),
      |s2 AS (SELECT *,
      |    MIN(CASE WHEN event_type = 'click' AND ts > first_view_ts THEN ts END)
      |      OVER (PARTITION BY user_id) AS first_click_ts
      |  FROM s1),
      |s3 AS (SELECT *,
      |    MIN(CASE WHEN event_type = 'purchase' AND ts > first_click_ts THEN ts END)
      |      OVER (PARTITION BY user_id) AS first_purchase_ts
      |  FROM s2)
      |SELECT user_id, first_view_ts,
      |  first_click_ts AS first_click_after_view,
      |  first_purchase_ts AS first_purchase_after_click,
      |  first_purchase_ts IS NOT NULL AS completed
      |FROM s3
      |GROUP BY 1, 2, 3, 4, 5
      |ORDER BY user_id""".stripMargin) { (s, dir) =>
    val w = Window.partitionBy(col("user_id"))
    t(s, dir, "events")
      .withColumn("first_view_ts",
        min(when(col("event_type") === "view", col("ts"))).over(w))
      .withColumn("first_click_ts",
        min(when(col("event_type") === "click" && col("ts") > col("first_view_ts"),
          col("ts"))).over(w))
      .withColumn("first_purchase_ts",
        min(when(col("event_type") === "purchase" && col("ts") > col("first_click_ts"),
          col("ts"))).over(w))
      .select(col("user_id"), col("first_view_ts"),
        col("first_click_ts").as("first_click_after_view"),
        col("first_purchase_ts").as("first_purchase_after_click"),
        col("first_purchase_ts").isNotNull.as("completed"))
      .distinct()
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------------
  // q40 — table profiling: one row per column with null and exact
  // distinct counts — the statistics a lakehouse DQ/profiling pass
  // materializes before trusting a new feed (and the input to
  // null-rate/cardinality assertions in §2.11's DQ family). Plan: ONE
  // aggregate over the table computes every column's stats (Spark
  // expands multi-countDistinct map-side — one scan, not one scan per
  // column), then the single stats row unpivots driver-free via stack.
  // Counts only (BIGINT) so the profile is engine-exact; min/max would
  // drag in cross-engine numeric formatting.
  val q40 = Q(
    "q40_table_profile",
    """SELECT column_name, n_nulls, n_distinct FROM (
      |  SELECT 'o_custkey' AS column_name, COUNT(*) - COUNT(o_custkey) AS n_nulls,
      |         COUNT(DISTINCT o_custkey) AS n_distinct FROM orders
      |  UNION ALL SELECT 'o_orderdate', COUNT(*) - COUNT(o_orderdate),
      |         COUNT(DISTINCT o_orderdate) FROM orders
      |  UNION ALL SELECT 'o_orderkey', COUNT(*) - COUNT(o_orderkey),
      |         COUNT(DISTINCT o_orderkey) FROM orders
      |  UNION ALL SELECT 'o_orderpriority', COUNT(*) - COUNT(o_orderpriority),
      |         COUNT(DISTINCT o_orderpriority) FROM orders
      |  UNION ALL SELECT 'o_orderstatus', COUNT(*) - COUNT(o_orderstatus),
      |         COUNT(DISTINCT o_orderstatus) FROM orders
      |  UNION ALL SELECT 'o_totalprice', COUNT(*) - COUNT(o_totalprice),
      |         COUNT(DISTINCT o_totalprice) FROM orders) p
      |ORDER BY column_name""".stripMargin) { (s, dir) =>
    val o = t(s, dir, "orders")
    val cols = o.columns.sorted
    val aggs = cols.flatMap(c => Seq(
      // count(when(...)) not a SUM: COUNT semantics return 0 on an empty
      // table, matching the oracle's COUNT(*) - COUNT(col)
      count(when(col(c).isNull, lit(1))).as(s"_n_$c"),
      countDistinct(col(c)).as(s"_d_$c")))
    val stacked = cols.map(c => s"'$c', _n_$c, _d_$c").mkString(", ")
    o.agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${cols.length}, $stacked) as (column_name, n_nulls, n_distinct)"))
      .orderBy("column_name")
  }

  val all: Seq[Q] = Seq(
    q01, q02, q03, q04, q05, q06, q07, q08, q09,
    q10, q11, q12, q13, q14, q15, q16, q17, q18, q19,
    q20, q21, q22, q23, q24, q25, q26, q27, q28, q29, q30,
    q31, q32, q33, q34, q36, q37, q38, q39, q40)
}
