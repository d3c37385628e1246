package graft.ecom

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** [[GoldIvm]] equals the full-recompute [[Gold]] models on data the
  * oracle queries can't craft: NULL grouping keys (session_id,
  * product_id, event_date — the reference groups nulls like any key;
  * the MVs route them through the NUL sentinel), null measures, all-
  * null-timestamp sessions (duration-filtered), and sessions attrs
  * fallbacks — through bootstrap AND a DML storm with one refresh.
  */
class GoldIvmSpec extends SparkSuite {
  import spark.implicits._

  private val AsOf = java.time.LocalDate.parse("2025-01-01")
  private val LoadTs = Timestamp.valueOf("2025-01-01 00:00:00")

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  // events rows: (event_id, session_id, event_ts, event_type, product_id, amount_usd)
  private def eventsDf(rows: Seq[(String, String, Timestamp, String, String, java.lang.Double)]): DataFrame =
    rows.toDF("event_id", "session_id", "event_ts", "event_type", "product_id", "amount_usd")
      .withColumn("event_date", to_date(col("event_ts")))

  private val baseEvents = eventsDf(Seq(
    ("e1", "s1", ts("2024-01-01 10:00:00"), "page_view", "p1", null),
    ("e2", "s1", ts("2024-01-01 10:05:00"), "add_to_cart", "p1", null),
    ("e3", "s1", ts("2024-01-01 10:10:00"), "purchase", "p1", 19.99),
    ("e4", "s2", ts("2024-01-02 09:00:00"), "page_view", "p2", null),
    ("e5", "s2", ts("2024-01-02 09:30:00"), "purchase", "p2", 5.50),
    ("e6", null, ts("2024-01-02 11:00:00"), "page_view", "p1", null), // null session
    ("e7", null, ts("2024-01-02 11:30:00"), "purchase", "p2", 7.25),  // null session
    ("e8", "s3", null, "page_view", null, null),                      // null ts + null product
    ("e9", "s4", ts("2024-01-03 08:00:00"), "page_view", "p3", null),
    ("e10", "s4", ts("2024-01-03 08:01:00"), "purchase", "p3", 100.00)))

  private val attrs = Seq(
    ("s1", "c1", ts("2024-01-01 09:59:00")),
    ("s3", "c3", ts("2024-01-02 00:00:00")), // all-null-ts session: filtered
    ("s4", "c4", ts("2024-01-03 07:59:00")),
    ("s5", "c5", ts("2024-01-09 07:59:00")),
    ("s6", "c6", ts("2024-01-09 07:59:00")))
    .toDF("session_id", "customer_id", "session_start_ts")
    .withColumn("device", lit("web")).withColumn("source", lit("ads"))
    .withColumn("country", lit("US"))

  private val customers = Seq(
    ("c1", "alice", "a@x.com", "US", 30, "2023-05-01", true),
    ("c3", "carol", "c@x.com", "US", 41, "2023-06-01", false),
    ("c4", "dave", "d@x.com", "US", 28, "2023-07-01", true),
    ("c5", "fred", "f@x.com", "US", 33, "2023-09-01", true),
    ("c6", "gina", "g@x.com", "US", 47, "2023-10-01", false),
    ("c9", "erin", "e@x.com", "US", 55, "2023-08-01", false)) // no sessions
    .toDF("customer_id", "name", "email", "country", "age", "signup_date",
      "marketing_opt_in")
    .withColumn("signup_date", col("signup_date").cast(DateType))

  private def itemsFrom(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase").select(
      col("event_id").as("order_id"),
      col("event_date").as("order_date"),
      col("product_id"),
      col("amount_usd").as("line_total_usd"),
      lit(1).as("quantity"))

  private val reviews = Seq(
    ("r1", "p1", Integer.valueOf(5)),
    ("r2", "p1", Integer.valueOf(4)),
    ("r3", "p2", null.asInstanceOf[Integer]), // null rating: count, no avg
    ("r4", null, Integer.valueOf(3)))         // null product: never joins
    .toDF("review_id", "product_id", "rating")

  private val products = Seq(
    ("p1", "catA", "one"), ("p2", "catB", "two"), ("p3", "catA", "three"))
    .toDF("product_id", "category", "product_name")

  private def asSet(df: DataFrame): Set[Row] = df.collect().toSet

  test("product_metrics: maintained == Gold recompute through nulls and a storm") {
    val wh = tempDir("graft-givm")
    def vt(name: String, df: DataFrame): VersionedTable = {
      val t = VersionedTable(spark, s"$wh/$name")
      t.commitOverwrite(df)
      t.setTableProperty(VersionedTable.CdcEnabledProp, "true")
      t
    }
    val events = vt("events", baseEvents)
    val items = vt("items", itemsFrom(baseEvents))
    val revs = vt("reviews", reviews)
    val ivm = GoldIvm(spark, wh)
    def refresh(): Unit =
      assert(ivm.refreshProductMetrics(events, items, revs).forall(_.isDefined))
    def expected: Set[Row] = asSet(Gold.productMetrics(
      events.read(), items.read(), products, revs.read()))

    refresh()
    assert(asSet(ivm.productMetrics(products)) == expected)

    // storm: drop a whole (date, product) group, move an event across
    // types, revise a line item, kill a review — one refresh
    events.delete(col("product_id") === "p3")
    events.update(col("event_id") === "e1", Map("event_type" -> lit("add_to_cart")))
    events.merge(eventsDf(Seq(
      ("e20", "s9", ts("2024-01-05 12:00:00"), "page_view", "p2", null),
      ("e21", null, ts("2024-01-05 12:01:00"), "page_view", null, null)))
      .select(events.read().columns.map(col).toIndexedSeq: _*), Seq("event_id"))
    items.update(col("order_id") === "e5",
      Map("line_total_usd" -> lit(6.60), "quantity" -> lit(3)))
    items.delete(col("order_id") === "e10")
    revs.delete(col("review_id") === "r2")
    refresh()
    assert(asSet(ivm.productMetrics(products)) == expected)
  }

  test("customer_360: two-level cascade == Gold recompute through nulls and a storm") {
    val wh = tempDir("graft-givm")
    val events = VersionedTable(spark, s"$wh/events")
    events.commitOverwrite(baseEvents)
    events.setTableProperty(VersionedTable.CdcEnabledProp, "true")
    val ivm = GoldIvm(spark, wh)
    def refresh(): Unit = {
      val (l1, l2) = ivm.refreshCustomer360(events, attrs)
      assert(l1.isDefined && l2.isDefined)
    }
    def expected: Set[Row] = asSet(Gold.customer360(
      customers, Gold.sessionMetrics(events.read(), attrs), AsOf, LoadTs))

    refresh()
    assert(asSet(ivm.customer360(customers, AsOf, LoadTs)) == expected)
    // the customer with no sessions zero-fills
    assert(ivm.customer360(customers, AsOf, LoadTs)
      .filter(col("customer_id") === "c9").select("total_sessions")
      .head().getInt(0) == 0)

    // storm: delete s4's LAST event (last_active_ts shrinks — dirty
    // recompute at both levels), kill s2 entirely, raise an amount,
    // append a late event for s1 and a brand-new session + a null-
    // session event
    events.delete(col("event_id") === "e10")
    events.delete(col("session_id") === "s2")
    events.update(col("event_id") === "e3", Map("amount_usd" -> lit(25.00)))
    events.commitAppend(eventsDf(Seq(
      ("e30", "s1", ts("2024-01-09 10:00:00"), "purchase", "p1", 3.00),
      ("e31", "s7", ts("2024-01-09 11:00:00"), "page_view", "p1", null),
      ("e32", null, ts("2024-01-09 12:00:00"), "purchase", "p2", 1.25))))
    // half-cent AOV ties: 1526.35 / 14 = 109.025 (109.02499999999999 as
    // a double quotient) and 262.90 / 4 = 65.725, both rounded half up
    def purchases(s: String, amounts: Seq[Double]) = amounts.zipWithIndex.map { case (a, i) =>
      (s"$s-$i", s, ts(f"2024-01-09 10:$i%02d:00"), "purchase", "p1", java.lang.Double.valueOf(a))
    }
    events.commitAppend(eventsDf(
      purchases("s5", Seq.fill(13)(100.00) :+ 226.35) ++
        purchases("s6", Seq.fill(3)(65.00) :+ 67.90)))
    refresh()
    assert(asSet(ivm.customer360(customers, AsOf, LoadTs)) == expected)
    def aov(df: DataFrame): Map[String, Double] =
      df.filter(col("customer_id").isin("c5", "c6")).collect()
        .map(r => r.getAs[String]("customer_id") -> r.getAs[Double]("average_order_value")).toMap
    val pinned = Map("c5" -> 109.03, "c6" -> 65.73)
    assert(aov(ivm.customer360(customers, AsOf, LoadTs)) == pinned)
    assert(aov(Gold.customer360(
      customers, Gold.sessionMetrics(events.read(), attrs), AsOf, LoadTs)) == pinned)

    // idempotence: nothing new -> no commits on either level
    val v1 = ivm.sessionRollupMv.versions()
    val v2 = ivm.customerRollupMv.versions()
    val (l1, l2) = ivm.refreshCustomer360(events, attrs)
    assert(l1.isEmpty && l2.isEmpty)
    assert(ivm.sessionRollupMv.versions() == v1)
    assert(ivm.customerRollupMv.versions() == v2)
  }
}
