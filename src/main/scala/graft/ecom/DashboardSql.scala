package graft.ecom

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The four dashboards as PARAMETERIZED SQL TEXT — the reference's
  * actual entry shape (the `analysis/dashboard_queries/` SQL files run
  * by Databricks SQL with `:start_date` / `:end_date` named parameters;
  * SURVEY §3 EP3). Spark 4's named parameter markers execute the same
  * text over the registered gold views (`Lakehouse.registerViews`), so
  * a user can paste the reference dashboards and run them verbatim.
  *
  * The text mirrors each reference file with two deliberate, documented
  * adjustments (both shared with the DataFrame ports in [[Dashboards]],
  * so the two surfaces agree row-for-row — spec-pinned):
  *  - money re-aggregates go through the exact-decimal house rule
  *    (`SUM(CAST(x AS DECIMAL(18,2)))` cast back to DOUBLE): a plain
  *    double SUM depends on partition order, so the same query could
  *    return different last-bit cents run-to-run at scale;
  *  - ORDER BYs gain a unique trailing tiebreak so LIMIT results are
  *    deterministic under any parallelism.
  */
object DashboardSql {

  private val window =
    "BETWEEN TRY_CAST(:start_date AS DATE) AND TRY_CAST(:end_date AS DATE)"

  /** 01_product_performance.sql over the `product_metrics` view. */
  val productPerformance: String =
    s"""SELECT
       |  category,
       |  product_name,
       |  SUM(view_count) AS total_views,
       |  SUM(cart_count) AS total_carts,
       |  SUM(purchase_count) AS total_purchases,
       |  CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
       |  CASE WHEN SUM(view_count) = 0 THEN 0.0D
       |    ELSE ROUND(CAST(SUM(cart_count) AS DOUBLE) * 100.0D / CAST(SUM(view_count) AS DOUBLE), 2)
       |  END AS view_to_cart_rate,
       |  CASE WHEN SUM(cart_count) = 0 THEN 0.0D
       |    ELSE ROUND(CAST(SUM(purchase_count) AS DOUBLE) * 100.0D / CAST(SUM(cart_count) AS DOUBLE), 2)
       |  END AS cart_to_purchase_rate,
       |  CASE WHEN SUM(view_count) = 0 THEN 0.0D
       |    ELSE ROUND(CAST(SUM(purchase_count) AS DOUBLE) * 100.0D / CAST(SUM(view_count) AS DOUBLE), 2)
       |  END AS overall_conversion_rate
       |FROM product_metrics
       |WHERE event_date $window
       |GROUP BY 1, 2
       |ORDER BY total_revenue DESC, category, product_name
       |LIMIT 100""".stripMargin

  /** 02_Sales Overview.sql over the `session_metrics` view. */
  val salesOverview: String =
    s"""SELECT
       |  session_date,
       |  COUNT(DISTINCT session_id) AS total_sessions,
       |  SUM(has_purchased) AS total_orders,
       |  ROUND(CAST(SUM(CAST(session_revenue AS DECIMAL(18,2))) AS DOUBLE), 2) AS total_revenue,
       |  CASE WHEN SUM(has_purchased) = 0 THEN 0.0D
       |    ELSE CAST(ROUND(CAST(SUM(CAST(session_revenue AS DECIMAL(18,2))) AS DECIMAL(18,2))
       |      / CAST(SUM(has_purchased) AS DECIMAL(18,0)), 2) AS DOUBLE)
       |  END AS daily_aov,
       |  CASE WHEN COUNT(DISTINCT session_id) = 0 THEN 0.0D
       |    ELSE ROUND(CAST(SUM(has_purchased) AS DOUBLE) * 100.0D
       |      / CAST(COUNT(DISTINCT session_id) AS DOUBLE), 2)
       |  END AS session_conversion_rate
       |FROM session_metrics
       |WHERE session_date $window
       |GROUP BY 1
       |ORDER BY 1 DESC""".stripMargin

  /** 03_Site Wide Funnel.sql over the `product_metrics` view. */
  val siteWideFunnel: String =
    s"""SELECT '1. Product Views' AS funnel_stage, COALESCE(SUM(view_count), 0L) AS `count`
       |FROM product_metrics WHERE event_date $window
       |UNION ALL
       |SELECT '2. Add to Carts' AS funnel_stage, COALESCE(SUM(cart_count), 0L) AS `count`
       |FROM product_metrics WHERE event_date $window
       |UNION ALL
       |SELECT '3. Purchases' AS funnel_stage, COALESCE(SUM(purchase_count), 0L) AS `count`
       |FROM product_metrics WHERE event_date $window
       |ORDER BY `count` DESC, funnel_stage""".stripMargin

  /** 04_Customer 360.sql over the `customer_360` view. */
  val customer360Top: String =
    s"""SELECT
       |  customer_id,
       |  name,
       |  country,
       |  total_orders,
       |  ROUND(customer_total_revenue, 2) AS lifetime_revenue,
       |  average_order_value,
       |  days_since_signup,
       |  CAST(last_active_ts AS DATE) AS last_active_date,
       |  CASE
       |    WHEN customer_total_revenue >= 1000 THEN 'Platinum VIP'
       |    WHEN customer_total_revenue >= 500 THEN 'Gold Member'
       |    WHEN total_orders > 0 THEN 'Standard Customer'
       |    ELSE 'Window Shopper'
       |  END AS customer_tier
       |FROM customer_360
       |WHERE CAST(last_active_ts AS DATE) $window
       |ORDER BY lifetime_revenue DESC, customer_id
       |LIMIT 1000""".stripMargin

  /** Every dashboard by name, for iteration in specs/tools. */
  val all: Map[String, String] = Map(
    "product_performance" -> productPerformance,
    "sales_overview" -> salesOverview,
    "site_wide_funnel" -> siteWideFunnel,
    "customer_360_top" -> customer360Top)

  /** Execute a dashboard's SQL text with bound date parameters —
    * `spark.sql(text, args)` substitutes the `:start_date`/`:end_date`
    * markers exactly as Databricks SQL binds its query parameters.
    */
  def run(spark: SparkSession, sqlText: String,
      start: LocalDate, end: LocalDate): DataFrame =
    spark.sql(sqlText, Map(
      "start_date" -> start.toString, "end_date" -> end.toString))
}
