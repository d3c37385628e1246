package graft.ecom

import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Exact.{centsQuotient, dsum}

/** The four parameterized BI queries (reference:
  * `/root/reference/analysis/dashboard_queries/` SQL files),
  * column-for-column faithful to the SQL select-lists (pinned by
  * ReferenceParitySpec). The Databricks `:start_date` / `:end_date`
  * named parameters become typed LocalDate arguments (SURVEY §3 EP3;
  * the parameterized-SQL surface itself is exercised by
  * DashboardSqlSpec). Each runs over a gold DataFrame; the date BETWEEN
  * predicate partition-prunes when the gold table is written
  * date-partitioned (Lakehouse does).
  *
  * Deliberate deviations (determinism only, each noted inline): the
  * reference ORDER BYs are refined with a unique tiebreak column so
  * LIMIT results are stable under any parallelism — the reference
  * ordering is preserved as the leading sort key.
  */
object Dashboards {

  private def between(c: Column, start: LocalDate, end: LocalDate) =
    c.between(lit(start.toString).cast(DateType), lit(end.toString).cast(DateType))

  // reference dashboard rate (01/02): 0.0 when the denominator is zero,
  // ROUND(num * 100.0 / den, 2) otherwise — no cap (unlike the gold
  // funnel percentages, which least() at 100)
  private def refRate(num: Column, den: Column): Column =
    when(den === 0, lit(0.0))
      .otherwise(round(num.cast(DoubleType) * lit(100.0) / den.cast(DoubleType), 2))

  /** 01_product_performance.sql: per (category, product_name) totals and
    * three conversion rates in a date range, top 100 by revenue.
    */
  def productPerformance(productMetrics: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    productMetrics
      .filter(between(col("event_date"), start, end))
      .groupBy(col("category"), col("product_name"))
      .agg(
        sum(col("view_count")).as("total_views"),
        sum(col("cart_count")).as("total_carts"),
        sum(col("purchase_count")).as("total_purchases"),
        // money re-aggregates stay exact-decimal (house rule, see Exact):
        // order-independent under any shuffle, bit-stable vs the oracle
        dsum(col("total_revenue")).as("total_revenue"))
      .select(
        col("category"), col("product_name"),
        col("total_views"), col("total_carts"), col("total_purchases"),
        col("total_revenue"),
        refRate(col("total_carts"), col("total_views")).as("view_to_cart_rate"),
        refRate(col("total_purchases"), col("total_carts")).as("cart_to_purchase_rate"),
        refRate(col("total_purchases"), col("total_views")).as("overall_conversion_rate"))
      // tiebreak (category, product_name) appended for determinism
      .orderBy(col("total_revenue").desc, col("category"), col("product_name"))
      .limit(100)

  /** 02_Sales Overview.sql: daily sessions/orders/revenue, AOV and
    * session conversion rate (both 0.0 on zero denominators), date-desc.
    */
  def salesOverview(sessionMetrics: DataFrame, start: LocalDate, end: LocalDate): DataFrame =
    sessionMetrics
      .filter(between(col("session_date"), start, end))
      .groupBy(col("session_date"))
      .agg(
        countDistinct(col("session_id")).as("total_sessions"),
        sum(col("has_purchased")).cast(LongType).as("total_orders"),
        dsum(col("session_revenue")).as("rev"))
      .select(
        col("session_date"), col("total_sessions"), col("total_orders"),
        round(col("rev"), 2).as("total_revenue"),
        // AOV divides the UNROUNDED revenue sum, as the reference does
        when(col("total_orders") === 0, lit(0.0))
          .otherwise(centsQuotient(col("rev"), col("total_orders"))).as("daily_aov"),
        refRate(col("total_orders"), col("total_sessions")).as("session_conversion_rate"))
      .orderBy(col("session_date").desc)

  /** 03_Site Wide Funnel.sql: three labeled grand totals over
    * product_metrics, UNION ALL, count-desc. The reference's SUM yields
    * NULL on an empty window; the coalesce to 0 is a deliberate
    * robustness deviation (a BI funnel reads both as "no traffic").
    */
  def siteWideFunnel(productMetrics: DataFrame, start: LocalDate, end: LocalDate): DataFrame = {
    def stage(label: String, measure: String): DataFrame =
      productMetrics.filter(between(col("event_date"), start, end))
        .agg(coalesce(sum(col(measure)), lit(0L)).as("count"))
        .select(lit(label).as("funnel_stage"), col("count"))
    stage("1. Product Views", "view_count")
      .unionByName(stage("2. Add to Carts", "cart_count"))
      .unionByName(stage("3. Purchases", "purchase_count"))
      // tiebreak funnel_stage appended for determinism
      .orderBy(col("count").desc, col("funnel_stage"))
  }

  /** 04_Customer 360.sql: top customers by lifetime revenue whose last
    * activity (cast to date) falls in the range — customers with no
    * session activity (NULL last_active_ts) are excluded, exactly as
    * the reference's BETWEEN predicate excludes them.
    */
  def customer360Top(customer360: DataFrame, start: LocalDate, end: LocalDate): DataFrame = {
    val lastActiveDate = col("last_active_ts").cast(DateType)
    customer360
      .filter(between(lastActiveDate, start, end))
      .select(
        col("customer_id"), col("name"), col("country"), col("total_orders"),
        round(col("customer_total_revenue"), 2).as("lifetime_revenue"),
        col("average_order_value"),
        col("days_since_signup"),
        lastActiveDate.as("last_active_date"),
        // tiering reads the UNROUNDED revenue, as the reference does
        when(col("customer_total_revenue") >= 1000, "Platinum VIP")
          .when(col("customer_total_revenue") >= 500, "Gold Member")
          .when(col("total_orders") > 0, "Standard Customer")
          .otherwise("Window Shopper").as("customer_tier"))
      // tiebreak customer_id appended for determinism
      .orderBy(col("lifetime_revenue").desc, col("customer_id"))
      .limit(1000)
  }
}
