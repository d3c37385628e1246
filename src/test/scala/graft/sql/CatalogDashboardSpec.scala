package graft.sql

import java.time.LocalDate

import org.apache.spark.sql.DataFrame

import graft.SparkSuite
import graft.ecom.{Dashboards, DashboardSql, EcomFixtures, VersionedTable}

/** The reference-platform workflow end to end: the gold models live in
  * ACID versioned tables registered in a SQL catalog, and the four
  * dashboard SQL texts run UNCHANGED against them by name — exactly how
  * `analysis/dashboard_queries/` executes over `ecom_catalog.gold.*` on
  * Databricks. `USE <catalog>.gold` supplies the name resolution; no
  * views, no Graft API in the query path.
  */
class CatalogDashboardSpec extends SparkSuite {

  // own catalog name: catalog instances are cached per session with the
  // warehouse they were initialized with, so suites must not share one
  private val warehouse: String = {
    val dir = tempDir("graft-ecom-warehouse")
    spark.conf.set("spark.sql.catalog.ecom", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ecom.warehouse", dir)
    new java.io.File(s"$dir/gold").mkdirs()
    dir
  }

  private val start = LocalDate.parse("2025-01-01")
  private val end = LocalDate.parse("2025-01-31")

  private def assertSame(sql: DataFrame, df: DataFrame, what: String): Unit = {
    assert(sql.columns.toSeq == df.columns.toSeq, s"$what: column sets differ")
    assert(sql.collect().toSeq == df.collect().toSeq, s"$what: rows differ")
  }

  test("the four dashboard texts run unchanged against catalog-registered versioned gold tables") {
    val gold = EcomFixtures.gold(spark)
    Seq("product_metrics", "session_metrics", "customer_360").foreach { t =>
      VersionedTable(spark, s"$warehouse/gold/$t").commitOverwrite(gold(t))
    }
    spark.sql("USE ecom.gold")
    try {
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
    } finally spark.sql("USE spark_catalog.default")
  }

  test("a gold refresh is one atomic versioned commit; the dashboard can pin the pre-refresh version") {
    val gold = EcomFixtures.gold(spark)
    val vt = VersionedTable(spark, s"$warehouse/gold/product_metrics")
    val before = spark.sql("SELECT count(*) AS n FROM ecom.gold.product_metrics")
      .collect().head.getLong(0)
    // refresh = overwrite commit (the medallion gold publish shape)
    vt.commitOverwrite(gold("product_metrics").limit(1))
    assert(spark.sql("SELECT count(*) AS n FROM ecom.gold.product_metrics")
      .collect().head.getLong(0) == 1L)
    // yesterday's dashboard numbers are one VERSION AS OF away
    assert(spark.sql(
      "SELECT count(*) AS n FROM ecom.gold.product_metrics VERSION AS OF 1")
      .collect().head.getLong(0) == before)
    vt.commitOverwrite(gold("product_metrics")) // restore for other tests
  }
}
