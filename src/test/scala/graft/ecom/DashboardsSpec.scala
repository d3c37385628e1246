package graft.ecom

import java.time.LocalDate

import graft.SparkSuite

/** The four reference BI queries (analysis/dashboard_queries SQL) run
  * over the golden-pipeline gold tables: parameter windows, 0.0-on-zero
  * rates (uncapped, unlike the gold funnel), date-desc ordering, and
  * the last-active-only customer window.
  */
class DashboardsSpec extends SparkSuite {

  private lazy val gold = EcomFixtures.gold(spark)
  private val start = LocalDate.parse("2025-01-01")
  private val end = LocalDate.parse("2025-01-31")

  test("productPerformance: (category, name) rollup with uncapped 0.0-on-zero rates") {
    val out = Dashboards.productPerformance(gold("product_metrics"), start, end)
      .collect().map(r => r.getAs[String]("product_name") -> r).toMap
    val widget = out("Widget")
    assert(widget.getAs[String]("category") == "Electronics")
    assert(widget.getAs[Double]("total_revenue") == 50.0)
    assert(widget.getAs[Long]("total_views") == 2 && widget.getAs[Long]("total_carts") == 1)
    assert(widget.getAs[Long]("total_purchases") == 1)
    assert(widget.getAs[Double]("view_to_cart_rate") == 50.0)
    assert(widget.getAs[Double]("cart_to_purchase_rate") == 100.0)
    assert(widget.getAs[Double]("overall_conversion_rate") == 50.0)
    // Gadget: zero views -> 0.0 rates (reference CASE, not NULL), and the
    // cart->purchase rate is UNCAPPED here (3 units / 1 cart = 300%),
    // unlike the gold funnel's least(100) — exactly the reference split
    val gadget = out("Gadget")
    assert(gadget.getAs[Double]("view_to_cart_rate") == 0.0)
    assert(gadget.getAs[Double]("cart_to_purchase_rate") == 300.0)
    assert(gadget.getAs[Double]("overall_conversion_rate") == 0.0)
    // revenue tie (50.0 vs 50.0) breaks deterministically by category
    val ordered = Dashboards.productPerformance(gold("product_metrics"), start, end)
      .collect().map(_.getAs[String]("product_name")).toSeq
    assert(ordered == Seq("Widget", "Gadget"))
  }

  test("productPerformance: out-of-range window is empty (partition-prunable predicate)") {
    val out = Dashboards.productPerformance(gold("product_metrics"),
      LocalDate.parse("2030-01-01"), LocalDate.parse("2030-12-31"))
    assert(out.isEmpty)
  }

  test("salesOverview: daily orders count purchases; conversion can exceed 100%") {
    val rows = Dashboards.salesOverview(gold("session_metrics"), start, end).collect()
    assert(rows.length == 2)
    // date DESC: Jan 7 first
    val d7 = rows(0)
    assert(d7.getAs[java.sql.Date]("session_date").toString == "2025-01-07")
    assert(d7.getAs[Long]("total_sessions") == 1)
    assert(d7.getAs[Long]("total_orders") == 2, "multi-purchase session counts both orders")
    assert(d7.getAs[Double]("total_revenue") == 30.0)
    assert(d7.getAs[Double]("daily_aov") == 15.0)
    assert(d7.getAs[Double]("session_conversion_rate") == 200.0)
    val d5 = rows(1)
    assert(d5.getAs[Long]("total_sessions") == 2 && d5.getAs[Long]("total_orders") == 2)
    assert(d5.getAs[Double]("total_revenue") == 80.0)
    assert(d5.getAs[Double]("daily_aov") == 40.0)
    assert(d5.getAs[Double]("session_conversion_rate") == 100.0)
  }

  test("siteWideFunnel: three labeled stages from product_metrics, count desc") {
    val rows = Dashboards.siteWideFunnel(gold("product_metrics"), start, end).collect()
    assert(rows.map(r => r.getAs[String]("funnel_stage") -> r.getAs[Long]("count")).toSeq ==
      Seq("3. Purchases" -> 4L, "1. Product Views" -> 2L, "2. Add to Carts" -> 2L))
  }

  test("customer360Top: last-activity window only, tier and AOV columns") {
    val rows = Dashboards.customer360Top(gold("customer_360"), start, end).collect()
    // Bob has no sessions -> NULL last_active_ts -> EXCLUDED (the
    // reference has no signup-date fallback arm)
    assert(rows.map(_.getAs[String]("customer_id")).toSeq == Seq("1"))
    val ada = rows.head
    assert(ada.getAs[Double]("lifetime_revenue") == 80.0)
    assert(ada.getAs[Int]("total_orders") == 3)
    assert(ada.getAs[Double]("average_order_value") == 26.67)
    assert(ada.getAs[String]("customer_tier") == "Standard Customer")
    assert(ada.getAs[java.sql.Date]("last_active_date").toString == "2025-01-07")
  }
}
