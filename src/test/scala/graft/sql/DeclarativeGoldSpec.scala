package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ecom.{EcomFixtures, Gold, Silver, VersionedTable}

/** The reference's product_metrics gold model declared ENTIRELY in SQL
  * over the REAL silver tables — the r16 end-state of the declarative
  * surface: three `CREATE MATERIALIZED VIEW` statements (event metrics,
  * order metrics, review metrics — `03_gold/03_gold_aggregate.py:38-74`)
  * plus one `CREATE VIEW` carrying the reference's FULL OUTER + dim-join
  * compose (`:78-108`), column-for-column equal to [[Gold.productMetrics]]
  * — and still equal after a DML storm plus three bare REFRESHes, each
  * O(rows changed). A SQL user now declares and maintains this gold
  * model with zero Scala.
  */
class DeclarativeGoldSpec extends SparkSuite {

  private val warehouse: String = {
    val dir = tempDir("graft-declgold-wh")
    spark.conf.set("spark.sql.catalog.gdg", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gdg.warehouse", dir)
    new java.io.File(s"$dir/db").mkdirs()
    dir
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("product_metrics as three SQL MVs + one SQL view == Gold.productMetrics, through a storm") {
    val silvers = Silver.transformAll(EcomFixtures.bronze(spark))
    def land(name: String, df: DataFrame, cdf: Boolean): VersionedTable = {
      val t = VersionedTable(spark, s"$warehouse/db/$name")
      t.commitAppend(df)
      if (cdf) t.setTableProperty("graft.enableChangeDataFeed", "true")
      t
    }
    val events = land("events_clean", silvers("events_clean"), cdf = true)
    val items = land("order_items_clean", silvers("order_items_clean"), cdf = true)
    val reviews = land("reviews_clean", silvers("reviews_clean"), cdf = true)
    val products = land("products_clean", silvers("products_clean"), cdf = false)

    // the three maintained aggregates — the reference's exact algebra,
    // null grouping dates carried through a chr(0)-sentinel derived key
    // (merge keys cannot be null; the real date rides a MIN column)
    spark.sql(
      """CREATE MATERIALIZED VIEW gdg.db.em AS
        |SELECT coalesce(cast(event_date AS string), chr(0)) AS date_key,
        |  product_id, COUNT(*) AS n_events,
        |  SUM(CASE WHEN event_type = 'page_view' THEN 1 ELSE 0 END) AS view_count,
        |  SUM(CASE WHEN event_type = 'add_to_cart' THEN 1 ELSE 0 END) AS cart_count,
        |  MIN(event_date) AS event_date_e
        |FROM gdg.db.events_clean
        |WHERE product_id IS NOT NULL
        |GROUP BY date_key, product_id""".stripMargin)
    spark.sql(
      """CREATE MATERIALIZED VIEW gdg.db.om AS
        |SELECT coalesce(cast(order_date AS string), chr(0)) AS date_key,
        |  product_id, COUNT(*) AS n_items,
        |  SUM(cast(line_total_usd AS decimal(18,2))) AS total_revenue,
        |  SUM(cast(quantity AS bigint)) AS purchase_count,
        |  MIN(order_date) AS event_date_o
        |FROM gdg.db.order_items_clean
        |WHERE product_id IS NOT NULL
        |GROUP BY date_key, product_id""".stripMargin)
    spark.sql(
      """CREATE MATERIALIZED VIEW gdg.db.rm AS
        |SELECT product_id, COUNT(*) AS review_count,
        |  SUM(coalesce(cast(rating AS bigint), 0)) AS rating_sum,
        |  SUM(CASE WHEN rating IS NOT NULL THEN 1 ELSE 0 END) AS rating_cnt
        |FROM gdg.db.reviews_clean
        |WHERE product_id IS NOT NULL
        |GROUP BY product_id""".stripMargin)
    // the compose-at-read view: the reference's FULL OUTER + zero-fill +
    // dim joins + AVG rewrite, always as fresh as the MVs under it
    spark.sql(
      """CREATE VIEW gdg.db.product_metrics AS
        |SELECT coalesce(event_date_e, event_date_o) AS event_date,
        |  product_id, product_name, category,
        |  CAST(coalesce(view_count, 0) AS INT) AS view_count,
        |  CAST(coalesce(cart_count, 0) AS INT) AS cart_count,
        |  CAST(coalesce(purchase_count, 0) AS INT) AS purchase_count,
        |  CAST(coalesce(CAST(total_revenue AS DOUBLE), 0.0) AS DOUBLE) AS total_revenue,
        |  round(coalesce(CASE WHEN rating_cnt > 0
        |    THEN CAST(rating_sum AS DOUBLE) / rating_cnt END, 0.0), 2) AS avg_rating,
        |  CAST(coalesce(review_count, 0) AS INT) AS review_count
        |FROM gdg.db.em FULL OUTER JOIN gdg.db.om USING (date_key, product_id)
        |LEFT JOIN gdg.db.products_clean USING (product_id)
        |LEFT JOIN gdg.db.rm USING (product_id)""".stripMargin)

    def declared(): Set[String] =
      rows(spark.sql("SELECT * FROM gdg.db.product_metrics"))
    def library(): Set[String] =
      rows(Gold.productMetrics(events.read(), items.read(),
        products.read(), reviews.read()))
    assert(declared() == library(),
      "the declared gold must equal the library compose after bootstrap")

    // storm on all three facts, then three bare refreshes — the view
    // itself needs no maintenance
    spark.sql("DELETE FROM gdg.db.events_clean WHERE event_id = '10'")
    spark.sql("UPDATE gdg.db.order_items_clean SET quantity = quantity + 1 " +
      "WHERE product_id = '8'")
    spark.sql("UPDATE gdg.db.reviews_clean SET rating = 1 " +
      "WHERE rating IS NOT NULL")
    spark.sql("REFRESH MATERIALIZED VIEW gdg.db.em")
    spark.sql("REFRESH MATERIALIZED VIEW gdg.db.om")
    spark.sql("REFRESH MATERIALIZED VIEW gdg.db.rm")
    assert(declared() == library(),
      "the declared gold must track the storm through bare refreshes")
  }

  test("customer_360 as a two-level SQL MV cascade + dim + view == Gold.customer360, through a storm") {
    val loadTs = java.sql.Timestamp.valueOf("2025-02-01 00:00:00")
    val silvers = Silver.transformAll(EcomFixtures.bronze(spark))
    def land(name: String, df: DataFrame, cdf: Boolean): VersionedTable = {
      val t = VersionedTable(spark, s"$warehouse/db/$name")
      t.commitAppend(df)
      if (cdf) t.setTableProperty("graft.enableChangeDataFeed", "true")
      t
    }
    val events = land("c360_events", silvers("events_clean"), cdf = true)
    val customers = land("c360_customers", silvers("customers_clean"), cdf = false)
    // the unique-per-session attrs DIMENSION (what the incremental
    // lakehouse maintains as _session_attrs), columns renamed so the
    // level-2 derived key can alias `customer_id` without colliding
    val attrs = land("c360_attrs",
      graft.streaming.Sinks.latestWins(
        silvers("sessions_clean").filter(col("session_id").isNotNull),
        Seq("session_id"), struct(col("_ingest_ts"), col("session_start_ts")))
        .select(col("session_id"),
          col("customer_id").as("attr_customer_id"),
          col("session_start_ts").as("attr_start_ts")),
      cdf = false)

    // LEVEL 1: the per-session rollup (null session ids ride a chr(0)
    // sentinel key; the real id is recovered via MIN and becomes the
    // level-2 join key)
    spark.sql(
      """CREATE MATERIALIZED VIEW gdg.db.c360l1 AS
        |SELECT coalesce(cast(session_id AS string), chr(0)) AS session_key,
        |  COUNT(*) AS total_events,
        |  SUM(CASE WHEN event_type = 'purchase'
        |      THEN cast(amount_usd AS decimal(18,2))
        |      ELSE cast(0 AS decimal(18,2)) END) AS session_revenue,
        |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS has_purchased,
        |  MIN(session_id) AS session_id,
        |  MIN(event_ts) AS session_start_ts_events,
        |  MAX(event_ts) AS session_end_ts
        |FROM gdg.db.c360_events
        |GROUP BY session_key""".stripMargin)
    // LEVEL 2: an aggregate over LEVEL 1 (the cascade) + the attrs
    // dimension + the duration filter + the UNKNOWN fallback — the
    // reference's exact attribution pipeline, all declared
    spark.sql(
      """CREATE MATERIALIZED VIEW gdg.db.c360l2 AS
        |SELECT coalesce(attr_customer_id, 'UNKNOWN') AS customer_id,
        |  COUNT(*) AS total_sessions,
        |  SUM(session_revenue) AS customer_total_revenue,
        |  SUM(has_purchased) AS total_orders,
        |  MIN(coalesce(session_start_ts_events, attr_start_ts)) AS first_active_ts,
        |  MAX(session_end_ts) AS last_active_ts
        |FROM gdg.db.c360l1 LEFT JOIN gdg.db.c360_attrs USING (session_id)
        |WHERE cast(session_end_ts AS bigint) -
        |  cast(coalesce(session_start_ts_events, attr_start_ts) AS bigint) >= 0
        |GROUP BY customer_id""".stripMargin)
    // the compose-at-read view: demographics join, zero-fills, NULL-safe
    // AOV, as-of datediff, scd load stamp
    spark.sql(
      """CREATE VIEW gdg.db.customer_360 AS
        |SELECT customer_id, name, email, country, age, signup_date,
        |  marketing_opt_in,
        |  coalesce(CAST(customer_total_revenue AS DOUBLE), 0.0)
        |    AS customer_total_revenue,
        |  CAST(coalesce(total_orders, 0) AS INT) AS total_orders,
        |  CAST(coalesce(total_sessions, 0) AS INT) AS total_sessions,
        |  first_active_ts, last_active_ts,
        |  round(CASE WHEN coalesce(total_orders, 0) <> 0
        |    THEN coalesce(CAST(customer_total_revenue AS DOUBLE), 0.0) /
        |      total_orders END, 2) AS average_order_value,
        |  datediff(DATE '2025-02-01', signup_date) AS days_since_signup,
        |  TIMESTAMP '2025-02-01 00:00:00' AS scd_load_ts
        |FROM gdg.db.c360_customers LEFT JOIN gdg.db.c360l2 USING (customer_id)
        |WHERE customer_id IS NOT NULL""".stripMargin)

    def sessionsTwin: DataFrame = attrs.read().select(
      col("session_id"), col("attr_customer_id").as("customer_id"),
      col("attr_start_ts").as("session_start_ts"),
      lit(null).cast("string").as("device"),
      lit(null).cast("string").as("source"),
      lit(null).cast("string").as("country"))
    def declared(): Set[String] =
      rows(spark.sql("SELECT * FROM gdg.db.customer_360"))
    def library(): Set[String] =
      rows(Gold.customer360(customers.read(),
        Gold.sessionMetrics(events.read(), sessionsTwin),
        EcomFixtures.asOf, loadTs))
    assert(declared() == library(),
      "the declared customer_360 must equal the library compose after bootstrap")

    // storm: base events change (a purchase delete retires a level-1
    // extreme AND a level-2 extreme) AND the DIMENSION migrates a
    // session to another customer — ONE bare refresh of LEVEL 2 repairs
    // the dimension, cascades into level 1, then applies both feeds
    spark.sql("DELETE FROM gdg.db.c360_events WHERE event_id = '18'")
    spark.sql("UPDATE gdg.db.c360_attrs SET attr_customer_id = '2' " +
      "WHERE session_id = '100'")
    spark.sql("REFRESH MATERIALIZED VIEW gdg.db.c360l2")
    assert(declared() == library(),
      "the declared customer_360 must track base + dimension storms " +
        "through one bare level-2 refresh")
  }
}
