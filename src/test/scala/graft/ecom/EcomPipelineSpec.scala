package graft.ecom

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Golden-pipeline test: tiny reference-shaped fixtures exercising every
  * edge case pinned in SURVEY.md §5 — float-formatted IDs, non-numeric
  * IDs (dropped), duplicate PKs with differing _ingest_ts, zero-view
  * products, "quick add" carts exceeding views, AOV-null customers —
  * run bronze → silver → gold → DQ end-to-end.
  */
class EcomPipelineSpec extends SparkSuite {
  import spark.implicits._

  private lazy val bronze: Map[String, DataFrame] = EcomFixtures.bronze(spark)
  private lazy val gold: Map[String, DataFrame] = EcomFixtures.gold(spark)

  test("silver: clean_id + dedup-keep-latest semantics") {
    val silver = Silver.transformAll(bronze)
    val customers = silver("customers_clean").orderBy("customer_id")
      .select("customer_id", "name", "email").as[(String, String, String)].collect().toSeq
    // "1.0" and "1" collapse; latest _ingest_ts row wins; "junk" dropped; email lowercased+trimmed
    assert(customers == Seq(("1", "Ada Latest", "ada@x.com"), ("2", "Bob", "bob@x.com")))
    assert(silver("events_clean").count() == 8)       // dup event dropped
    assert(silver("order_items_clean").count() == 3)  // qty<=0 dropped
    val orphanDate = silver("order_items_clean").filter(col("order_id") === "999")
      .select("order_date").as[java.sql.Date].head()
    assert(orphanDate.toString == "2025-01-01")       // ingest-date fallback
  }

  private def key(r: Row): (String, String) =
    (r.getAs[java.sql.Date]("event_date").toString, r.getAs[String]("product_id"))

  test("gold product_metrics: full-outer zero-fill, int counts, carried dims") {
    val pm = gold("product_metrics")
    val byKey = pm.collect().map(r => key(r) -> r).toMap
    // product 7 on Jan 5: views=1 carts=1 purchase units=1 revenue=50,
    // avg_rating=3.0, reviews=2, dims carried from products_clean
    val p7 = byKey(("2025-01-05", "7"))
    assert(p7.getAs[Int]("view_count") == 1 && p7.getAs[Int]("cart_count") == 1)
    assert(p7.getAs[Double]("total_revenue") == 50.0 && p7.getAs[Int]("purchase_count") == 1)
    assert(p7.getAs[Double]("avg_rating") == 3.0 && p7.getAs[Int]("review_count") == 2)
    assert(p7.getAs[String]("product_name") == "Widget" && p7.getAs[String]("category") == "Electronics")
    // product 7 on Jan 7: event-side only -> order measures zero-fill
    val p7b = byKey(("2025-01-07", "7"))
    assert(p7b.getAs[Int]("purchase_count") == 0 && p7b.getAs[Double]("total_revenue") == 0.0)
    // product 8 orphan order-side row lands on the ingest-fallback date
    val p8b = byKey(("2025-01-01", "8"))
    assert(p8b.getAs[Int]("view_count") == 0 && p8b.getAs[Int]("purchase_count") == 1)
    assert(p8b.getAs[Double]("avg_rating") == 0.0 && p8b.getAs[Int]("review_count") == 0)
    // product 9 appears on no side (qty<=0 dropped, no events) -> absent entirely
    assert(!byKey.keys.exists(_._2 == "9"))
  }

  test("gold product_funnel: derives from product_metrics, 0.0 on zero denominators, capped") {
    val pf = gold("product_funnel")
    val byKey = pf.collect().map(r => key(r) -> r).toMap
    assert(pf.count() == gold("product_metrics").count(), "funnel rows == product_metrics rows")
    // 2 purchased units vs 1 cart event -> raw 200% capped at 100
    val p8 = byKey(("2025-01-05", "8"))
    assert(p8.getAs[Int]("view_count") == 0 && p8.getAs[Int]("cart_count") == 1
      && p8.getAs[Int]("purchase_count") == 2)
    assert(p8.getAs[Double]("view_to_cart_pct") == 0.0)         // 0 views -> 0.0, not NULL
    assert(p8.getAs[Double]("cart_to_purchase_pct") == 100.0)   // least() cap
    assert(p8.getAs[Double]("overall_conversion_pct") == 0.0)
    assert(p8.getAs[String]("product_name") == "Gadget")        // dims carried through
    val p7 = byKey(("2025-01-05", "7"))
    assert(p7.getAs[Double]("view_to_cart_pct") == 100.0)
    assert(p7.getAs[Double]("overall_conversion_pct") == 100.0)
  }

  test("gold session_metrics: events-first start-ts, UNKNOWN fallbacks, purchase counts") {
    val sm = gold("session_metrics")
    val s100 = sm.filter(col("session_id") === "100").head()
    assert(s100.getAs[String]("customer_id") == "1")
    // the EVENTS min (10:00) wins the coalesce over the sessions-table
    // start (09:59) — reference `:192-197`; reverting flips this pin
    assert(s100.getAs[Timestamp]("session_start_ts").toString.contains("10:00"))
    assert(s100.getAs[Long]("session_duration_sec") == 10 * 60)
    assert(s100.getAs[Double]("session_revenue") == 50.0)
    assert(s100.getAs[Int]("has_purchased") == 1)
    assert(s100.getAs[String]("device") == "desktop")
    // no sessions row at all -> every attribute falls back to UNKNOWN
    val s101 = sm.filter(col("session_id") === "101").head()
    assert(s101.getAs[String]("customer_id") == "UNKNOWN")
    assert(s101.getAs[String]("device") == "UNKNOWN"
      && s101.getAs[String]("source") == "UNKNOWN"
      && s101.getAs[String]("country") == "UNKNOWN")
    assert(s101.getAs[Long]("session_duration_sec") == 60)
    // attributed session with NULL device/country -> partial fallbacks,
    // and has_purchased COUNTS the two purchase events (not 0/1)
    val s102 = sm.filter(col("session_id") === "102").head()
    assert(s102.getAs[String]("customer_id") == "1")
    assert(s102.getAs[Int]("has_purchased") == 2)
    assert(s102.getAs[String]("device") == "UNKNOWN" && s102.getAs[String]("source") == "ads"
      && s102.getAs[String]("country") == "UNKNOWN")
    assert(s102.getAs[Timestamp]("session_start_ts").toString.contains("09:00"))
    assert(s102.getAs[Long]("session_duration_sec") == 10 * 60)
  }

  test("gold customer_360: multi-purchase total_orders, AOV null when no orders") {
    val c360 = gold("customer_360")
    val ada = c360.filter(col("customer_id") === "1").head()
    assert(ada.getAs[Double]("customer_total_revenue") == 80.0)
    // 1 purchase in session 100 + 2 in session 102: a binarized
    // has_purchased would report 2 here — the reference counts 3
    assert(ada.getAs[Int]("total_orders") == 3)
    assert(ada.getAs[Int]("total_sessions") == 2)
    assert(ada.getAs[Double]("average_order_value") == 26.67) // round(80/3, 2)
    assert(ada.getAs[Int]("days_since_signup") == 397) // 2024-01-01 -> 2025-02-01
    val bob = c360.filter(col("customer_id") === "2").head()
    assert(bob.getAs[Double]("customer_total_revenue") == 0.0)
    assert(bob.getAs[Int]("total_sessions") == 0 && bob.getAs[Int]("total_orders") == 0)
    assert(bob.getAs[Any]("average_order_value") == null)
    assert(bob.getAs[Timestamp]("scd_load_ts") != null)
  }

  test("DQ gate passes on the pipeline output and catches planted violations") {
    DqChecks.enforceAll(gold) // must not throw
    // plant each reference violation shape: a null dim attribute and a
    // negative session revenue
    val badDim = gold + ("product_metrics" ->
      gold("product_metrics").withColumn("product_name", lit(null).cast("string")))
    val e1 = intercept[IllegalStateException](DqChecks.enforceAll(badDim))
    assert(e1.getMessage.contains("product_metrics_null_dims"))
    val badSess = gold + ("session_metrics" ->
      gold("session_metrics").withColumn("session_revenue", lit(-1.0)))
    val e2 = intercept[IllegalStateException](DqChecks.enforceAll(badSess))
    assert(e2.getMessage.contains("session_metrics_nonneg"))
  }

  test("incremental silver via upsert equals full recompute; gold agrees") {
    val t3 = java.sql.Timestamp.valueOf("2025-01-03 00:00:00")
    // day-2 delta: a corrected event (same pk, newer ingest), a new event
    // in an existing session/date, and a new event on a NEW date
    val deltaRaw = EcomFixtures.raw(spark, "events", Seq(
      Seq("12", "100", "2025-01-05 10:10:00", "purchase", "7", "1", "1", "card", "0", "60.0"),
      Seq("15", "101", "2025-01-05 11:30:00", "page_view", "8", "1", "0", "", "0", "0"),
      Seq("16", "102", "2025-01-06 09:00:00", "purchase", "7", "1", "1", "card", "0", "20.0")
    ), t3)
    val baseRaw = EcomFixtures.bronze(spark)("events")
    val dir = tempDir("graft-incr")
    val lh = Lakehouse(spark, dir)
    // incremental: land day 1, then MERGE day 2's silver delta
    lh.write("events_clean", Silver.events(baseRaw))
    lh.upsert("events_clean", Silver.events(deltaRaw), Seq("event_id"), "_ingest_ts")
    val incremental = lh.read("events_clean")
    // full recompute over the union of all raw data
    val full = Silver.events(baseRaw.unionByName(deltaRaw))
    assert(incremental.exceptAll(full).isEmpty && full.exceptAll(incremental).isEmpty,
      "incremental silver must equal the full recompute")
    // and the gold model built on either silver agrees
    val sessions = Silver.sessions(EcomFixtures.bronze(spark)("sessions"))
    val gIncr = Gold.sessionMetrics(incremental, sessions)
    val gFull = Gold.sessionMetrics(full, sessions)
    assert(gIncr.exceptAll(gFull).isEmpty && gFull.exceptAll(gIncr).isEmpty)
    // the corrected amount actually took effect
    assert(gIncr.filter(col("session_id") === "100").collect()
      .head.getAs[Double]("session_revenue") == 60.0)
  }
}
