package graft.ecom

import java.time.LocalDate

import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** The parameterized-SQL dashboard surface (DashboardSql — the
  * reference's Databricks-SQL entry shape with `:start_date` /
  * `:end_date` named parameters) must agree with the DataFrame ports
  * (Dashboards) row-for-row, column-for-column, over the
  * golden-pipeline gold tables.
  */
class DashboardSqlSpec extends SparkSuite {

  private lazy val gold = EcomFixtures.gold(spark)
  private val start = LocalDate.parse("2025-01-01")
  private val end = LocalDate.parse("2025-01-31")

  private def assertSame(sql: DataFrame, df: DataFrame, what: String): Unit = {
    assert(sql.columns.toSeq == df.columns.toSeq, s"$what: column sets differ")
    assert(sql.collect().toSeq == df.collect().toSeq, s"$what: rows differ")
  }

  test("all four dashboards run as parameterized SQL text and match the DataFrame ports") {
    Lakehouse(spark, "unused").registerViews(gold)
    assertSame(
      DashboardSql.run(spark, DashboardSql.productPerformance, start, end),
      Dashboards.productPerformance(gold("product_metrics"), start, end),
      "01 product_performance")
    assertSame(
      DashboardSql.run(spark, DashboardSql.salesOverview, start, end),
      Dashboards.salesOverview(gold("session_metrics"), start, end),
      "02 sales_overview")
    assertSame(
      DashboardSql.run(spark, DashboardSql.siteWideFunnel, start, end),
      Dashboards.siteWideFunnel(gold("product_metrics"), start, end),
      "03 site_wide_funnel")
    assertSame(
      DashboardSql.run(spark, DashboardSql.customer360Top, start, end),
      Dashboards.customer360Top(gold("customer_360"), start, end),
      "04 customer_360_top")
  }

  test("sales overview: daily AOV is the exact quotient rounded half up, on both surfaces") {
    import spark.implicits._
    // 1526.35 / 14 = 109.025 (109.02499999999999 as a double quotient)
    // and 262.90 / 4 = 65.725: half-cent ties, both rounded up
    val sessions = (
      (1 to 14).map(i => ("2025-01-10", s"a$i", 1, if (i == 14) 226.35 else 100.00)) ++
        (1 to 4).map(i => ("2025-01-11", s"b$i", 1, if (i == 4) 67.90 else 65.00)))
      .toDF("session_date", "session_id", "has_purchased", "session_revenue")
      .withColumn("session_date", $"session_date".cast("date"))
    def aov(df: DataFrame): Seq[Double] = df.collect().map(_.getAs[Double]("daily_aov")).toSeq
    sessions.createOrReplaceTempView("session_metrics")
    try {
      assert(aov(DashboardSql.run(spark, DashboardSql.salesOverview, start, end)) ==
        Seq(65.73, 109.03))
      assert(aov(Dashboards.salesOverview(sessions, start, end)) == Seq(65.73, 109.03))
    } finally Lakehouse(spark, "unused").registerViews(gold)
  }

  test("the named parameters actually bind: shifting the window changes the result") {
    Lakehouse(spark, "unused").registerViews(gold)
    val jan7 = DashboardSql.run(spark, DashboardSql.salesOverview,
      LocalDate.parse("2025-01-07"), LocalDate.parse("2025-01-07"))
    assert(jan7.collect().length == 1, "single-day window selects one daily row")
    val none = DashboardSql.run(spark, DashboardSql.productPerformance,
      LocalDate.parse("2030-01-01"), LocalDate.parse("2030-12-31"))
    assert(none.collect().isEmpty, "out-of-range window is empty")
    // an unparseable date parameter nulls under TRY_CAST -> empty, not a crash
    val bad = spark.sql(DashboardSql.salesOverview,
      Map("start_date" -> "not-a-date", "end_date" -> "also-not"))
    assert(bad.collect().isEmpty)
  }
}
