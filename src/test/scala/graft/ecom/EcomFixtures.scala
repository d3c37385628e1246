package graft.ecom

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Shared reference-shaped fixture data (SURVEY §5 edge cases: float-
  * formatted IDs, non-numeric IDs, duplicate PKs across ingests,
  * zero-view products, quick-add carts, AOV-null customers) and the
  * gold tables produced by running the full pipeline over it once per
  * test JVM.
  */
object EcomFixtures {

  val t1: Timestamp = Timestamp.valueOf("2025-01-01 00:00:00")
  val t2: Timestamp = Timestamp.valueOf("2025-01-02 00:00:00")
  val asOf: LocalDate = LocalDate.parse("2025-02-01")

  def raw(spark: SparkSession, table: String, rows: Seq[Seq[String]],
      ingestTs: Timestamp): DataFrame = {
    val schema = Schemas.all(table)
    val rdd = spark.sparkContext.parallelize(rows.map(Row.fromSeq(_)))
    Bronze.stampAt(spark.createDataFrame(rdd, schema), s"$table.csv", ingestTs)
  }

  def bronze(spark: SparkSession): Map[String, DataFrame] = Map(
    "customers" -> raw(spark, "customers", Seq(
      Seq("1.0", " Ada ", " ADA@X.COM ", "JP", "30", "2024-01-01", "true"),
      Seq("1", "Ada Newer", "ada@x.com", "JP", "31", "2024-01-01", "true"), // dup PK after clean_id
      Seq("2", "Bob", "bob@x.com", "US", "40", "2024-02-01", "false"),      // no sessions -> AOV null
      Seq("junk", "Eve", "eve@x.com", "DE", "50", "2024-03-01", "true")     // non-numeric id -> dropped
    ), t1).unionByName(raw(spark, "customers", Seq(
      Seq("1", "Ada Latest", "ada@x.com", "JP", "31", "2024-01-01", "true") // latest ingest wins
    ), t2)),
    "events" -> raw(spark, "events", Seq(
      //        ev  sess ts                     type          prod  qty cart pay   disc amt
      Seq("10", "100", "2025-01-05 10:00:00", "page_view",   "7.0", "1", "0", "",     "0", "0"),
      Seq("11", "100", "2025-01-05 10:05:00", "add_to_cart", "7",   "1", "1", "",     "0", "0"),
      Seq("12", "100", "2025-01-05 10:10:00", "purchase",    "7",   "1", "1", "card", "0", "50.0"),
      Seq("13", "101", "2025-01-05 11:00:00", "add_to_cart", "8",   "2", "1", "",     "0", "0"), // quick add
      Seq("14", "101", "2025-01-05 11:01:00", "purchase",    "8",   "1", "1", "card", "0", "30.0"),
      Seq("12", "100", "2025-01-05 10:10:00", "purchase",    "7",   "1", "1", "card", "0", "50.0"), // dup event_id
      // session 102: a MULTI-purchase session (has_purchased must COUNT,
      // not binarize — reverting that reference fix flips these pins)
      Seq("17", "102", "2025-01-07 09:00:00", "purchase",    "7",   "1", "1", "card", "0", "10.0"),
      Seq("18", "102", "2025-01-07 09:05:00", "purchase",    "7",   "1", "1", "card", "0", "20.0"),
      Seq("19", "102", "2025-01-07 09:10:00", "page_view",   "7",   "1", "0", "",     "0", "0")
    ), t1),
    "orders" -> raw(spark, "orders", Seq(
      Seq("500", "1", "2025-01-05 10:12:00", "card", "0", "50", "50", "JP", "desktop", "organic")
    ), t1),
    "order_items" -> raw(spark, "order_items", Seq(
      Seq("500", "7", "50", "1", "50"),
      Seq("500", "8", "10", "2", "20"),  // 2 units vs 1 cart event -> funnel cap fires
      Seq("500", "9", "10", "0", "0"),   // quantity<=0 -> dropped
      Seq("999", "8", "30", "1", "30")   // orphan order -> order_date falls back to ingest date
    ), t1),
    "products" -> raw(spark, "products", Seq(
      Seq("7", "Electronics", "Widget", "50", "30", "20"),
      Seq("8", "Toys", "Gadget", "30", "10", "20"),
      Seq("9", "Books", "NeverViewed", "10", "5", "5") // zero events, zero valid orders
    ), t1),
    "reviews" -> raw(spark, "reviews", Seq(
      Seq("r1", "500", "7", "4", "good", "2025-01-06 00:00:00"), // non-numeric review_id -> dropped
      Seq("300", "500", "7", "4", "good", "2025-01-06 00:00:00"),
      Seq("301", "500", "7", "2", "meh", "2025-01-06 00:00:00")
    ), t1),
    "sessions" -> raw(spark, "sessions", Seq(
      // both start-ts present: events min (10:00) must win the coalesce
      // over this table's 09:59 (reference `:192-197`)
      Seq("100", "1", "2025-01-05 09:59:00", "desktop", "organic", "JP"),
      // session 101 missing entirely -> customer/device/source/country
      // all fall back to 'UNKNOWN'
      // session 102 present but with NULL device/country -> partial
      // UNKNOWN fallbacks on an attributed session
      Seq("102", "1", "2025-01-07 08:59:00", null, "ads", null)
    ), t1))

  @volatile private var cachedGold: Map[String, DataFrame] = null

  /** Gold tables from one pipeline run over the fixture (memoized per
    * JVM; tests share the session).
    */
  def gold(spark: SparkSession): Map[String, DataFrame] = synchronized {
    if (cachedGold == null) {
      val dir = graft.SparkSuite.tempDir("graft-lakehouse")
      cachedGold = Lakehouse(spark, dir).runAll(bronze(spark), asOf)
    }
    cachedGold
  }
}
