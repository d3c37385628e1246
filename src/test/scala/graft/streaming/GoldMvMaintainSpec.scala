package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ecom.VersionedTable

/** Composition pin: the CDC stream ([[Sinks.mvMaintain]]) driving the
  * REFERENCE gold model's maintenance ([[graft.ecom.GoldIvm]]'s
  * eventMetrics shape) — silver DML lands, the stream trigger fires,
  * the maintained aggregate equals the recompute; nobody calls refresh
  * by hand, and a restart with nothing pending lands no version.
  */
class GoldMvMaintainSpec extends SparkSuite {
  import spark.implicits._

  test("CDC-stream-triggered gold maintenance follows a silver DML storm") {
    val dir = tempDir("graft-gold-mv")
    val silver = VersionedTable(spark, s"$dir/events_clean")
    silver.commitAppend(Seq(
      (1L, "2024-01-01", "101", "page_view", 1.0),
      (2L, "2024-01-01", "101", "add_to_cart", 2.0),
      (3L, "2024-01-01", "102", "page_view", 3.0),
      (4L, "2024-01-02", "101", "purchase", 4.0),
      (5L, "2024-01-02", "102", "page_view", 5.0))
      .toDF("event_id", "event_date", "product_id", "event_type", "amount_usd"))
    silver.setTableProperty(VersionedTable.CdcEnabledProp, "true")

    val ivm = graft.ecom.GoldIvm(spark, dir)
    def doRefresh(): Unit = graft.ops.IncrementalAgg.refresh(
      ivm.eventMetricsMv, silver,
      keys = Seq("date_key", "product_id"), countCol = "n_events",
      sums = Map(
        "view_count" -> when(col("event_type") === "page_view", 1L).otherwise(0L),
        "cart_count" -> when(col("event_type") === "add_to_cart", 1L).otherwise(0L)),
      mins = Map("event_date" -> col("event_date")),
      prepare = _.filter(col("product_id").isNotNull)
        .withColumn("date_key", col("event_date")),
      netKeys = Seq("event_id")): Unit
    def recompute(): Set[(String, Long, Long, Long)] = silver.read()
      .filter(col("product_id").isNotNull)
      .groupBy(col("event_date"), col("product_id"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "page_view", 1L).otherwise(0L)).as("v"),
        sum(when(col("event_type") === "add_to_cart", 1L).otherwise(0L)).as("c"))
      .select(concat(col("event_date"), lit("|"), col("product_id")),
        col("n"), col("v"), col("c"))
      .as[(String, Long, Long, Long)].collect().toSet
    def maintained(): Set[(String, Long, Long, Long)] =
      ivm.eventMetricsMv.read()
        .select(concat(col("date_key"), lit("|"), col("product_id")),
          col("n_events"), col("view_count"), col("cart_count"))
        .as[(String, Long, Long, Long)].collect().toSet

    def run(): Unit = {
      val q = Sinks.mvMaintain(spark, silver, s"$dir/ckpt")(doRefresh)
      q.processAllAvailable(); q.stop()
    }
    run() // bootstrap via the stream trigger
    assert(maintained() == recompute())

    // the storm: delete a product's rows, retype an event, append a day
    silver.delete(col("product_id") === "102" && col("event_id") =!= 5L)
    silver.update(col("event_id") === 1L, Map("event_type" -> lit("add_to_cart")))
    silver.commitAppend(Seq((6L, "2024-01-03", "103", "page_view", 6.0))
      .toDF("event_id", "event_date", "product_id", "event_type", "amount_usd"))
    run()
    assert(maintained() == recompute(), "post-storm maintained == recompute")

    // idle restart: triggers fire, the marker absorbs them
    val before = ivm.eventMetricsMv.currentVersion()
    run()
    assert(ivm.eventMetricsMv.currentVersion() == before)
  }

  test("the streaming maintainer serves a DDL-created AVG view; the catalog face derives the ratio") {
    val wh = tempDir("graft-gold-mv-avg")
    spark.conf.set("spark.sql.catalog.gsm", "graft.sql.GraftCatalog")
    spark.conf.set("spark.sql.catalog.gsm.warehouse", wh)
    new java.io.File(s"$wh/db").mkdirs()
    val src = VersionedTable(spark, s"$wh/db/ratings")
    src.commitAppend((1L to 30L).map(i =>
        (i, i % 4, if (i % 6 == 0) None else Some((i % 5).toInt)))
      .toDF("id", "grp", "rating"))
    src.setTableProperty(VersionedTable.CdcEnabledProp, "true")
    // the DDL writes the decomposed spec; the maintainer loads THAT
    // stored spec — avgs ride through as plain maintained sums
    spark.sql(
      """CREATE MATERIALIZED VIEW gsm.db.ravg AS
        |SELECT grp, COUNT(*) AS n, AVG(rating) AS avg_r
        |FROM gsm.db.ratings GROUP BY grp""".stripMargin)
    val view = VersionedTable(spark, s"$wh/db/ravg")
    def run(): Unit = {
      val q = Sinks.mvMaintainStored(spark, view, s"$wh/ckpt")
      q.processAllAvailable(); q.stop()
    }
    def expect(): Set[(Long, Long, Option[Double])] = src.read().groupBy("grp")
      .agg(count(lit(1)).as("n"), avg("rating").as("a"))
      .as[(Long, Long, Option[Double])].collect().toSet
    def got(): Set[(Long, Long, Option[Double])] = spark.sql(
      "SELECT grp, n, CAST(avg_r AS DOUBLE) FROM gsm.db.ravg")
      .as[(Long, Long, Option[Double])].collect().toSet
    assert(got() == expect(), "DDL bootstrap must serve the ratio face")
    // storm through the STREAM trigger only — nobody refreshes by hand
    src.delete(col("id") <= 5L)
    src.update(col("grp") === 2, Map("rating" -> lit(null)))
    run()
    assert(got() == expect(),
      "stream-maintained AVG view must equal the recompute after the storm")
  }
}
