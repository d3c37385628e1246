package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.graft.shims.tempDir

import graft.ecom.{Bronze, DqChecks, Gold, Lakehouse, Silver, VersionedPipe, VersionedTable}
import graft.util.Exact.dsum
import graft.util.Tables.load

/** The full production pipeline as ONE benchable, oracle-checkable
  * query: testdata events adapted to the reference's seven raw sources →
  * Bronze audit stamping → Silver clean/dedup → partitioned Lakehouse
  * writes → Gold models read back from disk → the four DQ checks — the
  * same path `Lakehouse.runAll` takes in production (reference:
  * `README.md:26-33`, the four notebooks in order). The per-operator
  * queries time operators; this times the MEDALLION, writes included.
  *
  * The result is a fingerprint row per gold table (row count, exact-
  * decimal money sum, unit count) plus one DQ row, so the oracle pins
  * the actual content of every gold model produced by the end-to-end
  * run — not just that it ran.
  */
object Medallion {

  private val IngestTs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
  private val AsOf = java.time.LocalDate.parse("2025-01-01")

  /** Adapt the testdata event stream into the seven raw bronze sources
    * (same deterministic derivations as the q20–q23 e2e adapters, except
    * ids stay NUMERIC strings so Silver's clean_id keeps them).
    */
  def bronzeFromEvents(s: SparkSession, dir: String): Map[String, DataFrame] =
    bronzeSources(rawEvents(s, dir))

  /** The shared projected/JSON-parsed event frame all seven source
    * derivations read. Exposed separately so q35 can persist it: the
    * seven silver writes otherwise each re-scan the events parquet and
    * re-parse the props JSON (an adapter artifact — the reference's
    * seven sources are separate files; only here are they all derived
    * from one stream).
    */
  def rawEvents(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events").select(
      col("event_id"), col("user_id"), col("ts"), col("value"),
      get_json_object(col("props"), "$.k").as("product_id"),
      when(col("event_type") === "view", "page_view")
        .when(col("event_type") === "click", "add_to_cart")
        .otherwise(col("event_type")).as("event_type"))

  def bronzeSources(raw: DataFrame): Map[String, DataFrame] = {

    val events = raw.select(
      col("event_id"),
      col("user_id").cast(StringType).as("session_id"),
      col("ts").as("timestamp"),
      col("event_type"),
      col("product_id"),
      lit(1).as("qty"),
      lit(null).cast(IntegerType).as("cart_size"),
      lit("card").as("payment"),
      lit(0.0).as("discount_pct"),
      col("value").as("amount_usd"))

    val purchases = raw.filter(col("event_type") === "purchase")
    val orders = purchases.select(
      col("event_id").as("order_id"),
      col("user_id").cast(StringType).as("customer_id"),
      col("ts").as("order_time"),
      lit("card").as("payment_method"),
      lit(0.0).as("discount_pct"),
      col("value").as("subtotal_usd"),
      col("value").as("total_usd"),
      lit("US").as("country"), lit("web").as("device"), lit("ads").as("source"))
    val orderItems = purchases.select(
      col("event_id").as("order_id"),
      col("product_id"),
      col("value").as("unit_price_usd"),
      lit(1).as("quantity"),
      col("value").as("line_total_usd"))

    val products = raw.filter(col("product_id").isNotNull)
      .select(col("product_id")).distinct()
      .select(col("product_id"),
        concat(lit("cat_"), (col("product_id").cast(LongType) % 5).cast(StringType)).as("category"),
        concat(lit("product_"), col("product_id")).as("name"),
        col("product_id").cast(DoubleType).as("price_usd"),
        lit(0.0).as("cost_usd"), lit(0.0).as("margin_usd"))

    val reviews = raw.filter(col("event_type") === "signup").select(
      col("event_id").as("review_id"),
      lit(null).cast(StringType).as("order_id"),
      col("product_id"),
      (col("product_id").cast(LongType) % 5 + 1).cast(IntegerType).as("rating"),
      lit("ok").as("review_text"),
      col("ts").as("review_time"))

    val sessions = raw.filter(col("user_id") % 2 === 0)
      .groupBy(col("user_id"))
      .agg((min(col("ts")) - expr("INTERVAL 60 SECONDS")).as("start_time"))
      .select(
        col("user_id").cast(StringType).as("session_id"),
        col("user_id").cast(StringType).as("customer_id"),
        col("start_time"),
        lit("web").as("device"), lit("ads").as("source"), lit("US").as("country"))

    val customers = raw.select(col("user_id")).distinct().select(
      col("user_id").cast(StringType).as("customer_id"),
      concat(lit("user_"), col("user_id")).as("name"),
      concat(col("user_id").cast(StringType), lit("@x.com")).as("email"),
      lit("US").as("country"),
      (col("user_id") % 80 + 18).as("age"),
      date_format(
        date_add(lit("2023-01-01").cast(DateType), (col("user_id") % 365).cast(IntegerType)),
        "yyyy-MM-dd").as("signup_date"),
      (col("user_id") % 2 === 0).as("marketing_opt_in"))

    Map(
      "customers" -> customers, "events" -> events, "orders" -> orders,
      "order_items" -> orderItems, "products" -> products,
      "reviews" -> reviews, "sessions" -> sessions)
      .map { case (n, df) => n -> Bronze.stampAt(df, s"$n.synthetic", IngestTs) }
  }

  // one fingerprint row: relation name, row count, exact-decimal money
  // sum (2-dec values -> order-independent under any shuffle), unit sum
  private def fp(name: String, df: DataFrame, money: Column, units: Column): DataFrame =
    df.agg(
        count(lit(1)).as("n_rows"),
        dsum(money).as("total_money"),
        sum(units).cast(LongType).as("total_units"))
      .select(lit(name).as("relation"), col("n_rows"),
        col("total_money"), col("total_units"))

  // ONE oracle for both medallion variants: q35 (parquet overwrite
  // sinks) and q41 (versioned-table commits) must produce identical
  // gold CONTENT — the storage format is not allowed to change a single
  // fingerprint bit.
  private val medallionOracle =
    """WITH ev AS (
      |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS event_date,
      |    json_extract_string(props, '$.k') AS product_id,
      |    CASE event_type WHEN 'view' THEN 'page_view'
      |                    WHEN 'click' THEN 'add_to_cart'
      |                    ELSE event_type END AS event_type,
      |    event_id, user_id, ts, value
      |  FROM events),
      |em AS (
      |  SELECT event_date, product_id,
      |    CAST(SUM(CASE WHEN event_type = 'page_view' THEN 1 ELSE 0 END) AS BIGINT) AS view_count,
      |    CAST(SUM(CASE WHEN event_type = 'add_to_cart' THEN 1 ELSE 0 END) AS BIGINT) AS cart_count
      |  FROM ev GROUP BY 1, 2),
      |om AS (
      |  SELECT event_date, product_id,
      |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_revenue,
      |    CAST(SUM(1) AS BIGINT) AS purchase_count
      |  FROM ev WHERE event_type = 'purchase' GROUP BY 1, 2),
      |pm AS (
      |  SELECT event_date, product_id,
      |    COALESCE(em.view_count, 0) AS view_count,
      |    COALESCE(em.cart_count, 0) AS cart_count,
      |    COALESCE(om.purchase_count, 0) AS purchase_count,
      |    COALESCE(om.total_revenue, 0.0) AS total_revenue
      |  FROM em FULL OUTER JOIN om USING (event_date, product_id)
      |  WHERE product_id IS NOT NULL),
      |pfx AS (
      |  SELECT view_count, cart_count, purchase_count,
      |    LEAST(CAST(100.0 AS DOUBLE), CASE WHEN view_count > 0
      |      THEN ROUND((CAST(purchase_count AS DOUBLE) / view_count) * CAST(100.0 AS DOUBLE), 2)
      |      ELSE 0.0 END) AS overall_conversion_pct
      |  FROM pm),
      |sev AS (
      |  SELECT CAST(user_id AS VARCHAR) AS session_id, ts AS event_ts,
      |    CAST(event_id AS VARCHAR) AS event_id, event_date, event_type,
      |    value AS amount_usd
      |  FROM ev),
      |attrs AS (
      |  SELECT CAST(user_id AS VARCHAR) AS session_id,
      |    CAST(user_id AS VARCHAR) AS customer_id,
      |    MIN(ts) - INTERVAL 60 SECOND AS session_start_ts
      |  FROM events WHERE user_id % 2 = 0 GROUP BY user_id),
      |sagg AS (
      |  SELECT session_id,
      |    MIN(event_ts) AS events_start_ts, MAX(event_ts) AS events_end_ts,
      |    COUNT(event_id) AS total_events,
      |    CAST(SUM(CAST(CASE WHEN event_type = 'purchase' THEN amount_usd ELSE 0.0 END AS DECIMAL(18,2))) AS DOUBLE) AS session_revenue,
      |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS has_purchased
      |  FROM sev GROUP BY session_id),
      |sm AS (
      |  SELECT sagg.session_id,
      |    COALESCE(attrs.customer_id, 'UNKNOWN') AS customer_id,
      |    COALESCE(sagg.events_start_ts, attrs.session_start_ts) AS session_start_ts,
      |    sagg.events_end_ts AS session_end_ts,
      |    sagg.total_events, sagg.session_revenue, sagg.has_purchased,
      |    CAST(FLOOR(epoch(sagg.events_end_ts)) AS BIGINT)
      |      - CAST(FLOOR(epoch(COALESCE(sagg.events_start_ts, attrs.session_start_ts))) AS BIGINT) AS session_duration_sec
      |  FROM sagg LEFT JOIN attrs USING (session_id)),
      |smf AS (SELECT * FROM sm
      |        WHERE session_duration_sec IS NOT NULL AND session_duration_sec >= 0),
      |cust AS (SELECT DISTINCT CAST(user_id AS VARCHAR) AS customer_id FROM events),
      |sa AS (
      |  SELECT customer_id,
      |    CAST(SUM(CAST(session_revenue AS DECIMAL(18,2))) AS DOUBLE) AS customer_total_revenue,
      |    CAST(SUM(has_purchased) AS BIGINT) AS total_orders
      |  FROM smf GROUP BY customer_id),
      |c360 AS (
      |  SELECT cust.customer_id,
      |    COALESCE(sa.customer_total_revenue, 0.0) AS customer_total_revenue,
      |    COALESCE(sa.total_orders, 0) AS total_orders
      |  FROM cust LEFT JOIN sa USING (customer_id))
      |SELECT relation, n_rows, total_money, total_units FROM (
      |  SELECT 'customer_360' AS relation, COUNT(*) AS n_rows,
      |    CAST(SUM(CAST(customer_total_revenue AS DECIMAL(18,2))) AS DOUBLE) AS total_money,
      |    CAST(SUM(total_orders) AS BIGINT) AS total_units
      |  FROM c360
      |  UNION ALL
      |  SELECT 'dq', CAST(4 AS BIGINT), CAST(0.0 AS DOUBLE), CAST(0 AS BIGINT)
      |  UNION ALL
      |  SELECT 'product_funnel', COUNT(*),
      |    CAST(SUM(CAST(overall_conversion_pct AS DECIMAL(18,2))) AS DOUBLE),
      |    CAST(SUM(view_count + cart_count + purchase_count) AS BIGINT)
      |  FROM pfx
      |  UNION ALL
      |  SELECT 'product_metrics', COUNT(*),
      |    CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) AS DOUBLE),
      |    CAST(SUM(view_count + cart_count + purchase_count) AS BIGINT)
      |  FROM pm
      |  UNION ALL
      |  SELECT 'session_metrics', COUNT(*),
      |    CAST(SUM(CAST(session_revenue AS DECIMAL(18,2))) AS DOUBLE),
      |    CAST(SUM(total_events) AS BIGINT)
      |  FROM smf) u
      |ORDER BY relation""".stripMargin

  private val LoadTs = java.sql.Timestamp.valueOf("2025-01-01 00:00:00")

  /** The shared result shape: one fingerprint row per gold model plus
    * the DQ summary row, identical for q35 and q41 by construction.
    */
  private def fingerprints(s: SparkSession, gold: Map[String, DataFrame]): DataFrame = {
    import s.implicits._
    // every gold relation feeds TWO consumers — its DQ check and its
    // fingerprint aggregate — and in the MV-composed variants each
    // consumer re-runs the whole compose-at-read join chain. Persist
    // the four relations (computed once, read twice); the DQ actions
    // below populate the cache and the returned fingerprint plan reads
    // it. Bench/Verify clear the cache between queries (the qd04
    // caller-owns-the-cache discipline).
    val cached = gold.map { case (n, df) => n -> df.persist() }
    val dq = DqChecks.runAll(cached)
    val dqRow = Seq(("dq", dq.count(_.passed).toLong, 0.0, dq.map(_.badCount).sum))
      .toDF("relation", "n_rows", "total_money", "total_units")
    fp("product_metrics", cached("product_metrics"),
        col("total_revenue"), col("view_count") + col("cart_count") + col("purchase_count"))
      .unionByName(fp("product_funnel", cached("product_funnel"),
        col("overall_conversion_pct"), col("view_count") + col("cart_count") + col("purchase_count")))
      .unionByName(fp("session_metrics", cached("session_metrics"),
        col("session_revenue"), col("total_events")))
      .unionByName(fp("customer_360", cached("customer_360"),
        col("customer_total_revenue"), col("total_orders")))
      .unionByName(dqRow)
      .orderBy("relation")
  }

  val q35 = Q("q35_medallion_e2e", medallionOracle) { (s, dir) =>
    // a fresh throwaway warehouse per invocation: the bench reps each
    // pay the full write cost (that IS what this query times)
    val wh = tempDir("graft-medallion")
    // persist the shared adapter frame: the seven silver writes all
    // derive from it, and without the cache each re-scans the events
    // parquet and re-parses the props JSON (adapter cost, not pipeline
    // cost — see rawEvents). Released before return: gold frames are
    // disk-backed reads with no lineage to raw (CacheContractSpec).
    val raw = rawEvents(s, dir).persist()
    val gold = Lakehouse(s, wh).runAll(bronzeSources(raw), AsOf,
      loadTs = LoadTs, enforceDq = false)
    val out = fingerprints(s, gold)
    raw.unpersist(blocking = false)
    out
  }

  /** The medallion through the VERSIONED table format — the reference's
    * "Delta ACID" claim exercised by the flagship e2e pipeline, not only
    * by the qv micro-queries. Same bronze adaptation, same gold content,
    * same oracle as q35, but:
    *  - events land in a versioned SOURCE in two batches and flow to the
    *    silver events stream through [[graft.ecom.VersionedPipe]] — two
    *    exactly-once incremental steps of the stateless projection (the
    *    manifest marker IS the checkpoint); the keep-latest dedup (not
    *    batch-distributive) runs over the accumulated stream at read;
    *  - every other silver table and all four gold models are ATOMIC
    *    versioned commits read back via snapshot — a crash mid-write
    *    leaves the previous version live, and each model is
    *    time-travelable for free.
    * Bench contract (vs q35): the format's overhead is manifest I/O +
    * one extra events write (source + projected stream), amortized at
    * scale where data dwarfs metadata.
    */
  val q41 = Q("q41_medallion_versioned", medallionOracle) { (s, dir) =>
    val wh = tempDir("graft-medallion-vt")
    val lh = Lakehouse(s, wh)
    val raw = rawEvents(s, dir).persist()
    val bronze = bronzeSources(raw)

    // incremental silver: two source batches, two pipe steps
    val evSrc = VersionedTable(s, s"$wh/events_src", "parquet", None)
    val events = bronze("events")
    val inFirst = to_date(col("timestamp")) <= lit("2024-01-15").cast(DateType)
    evSrc.commitOverwrite(events.filter(coalesce(inFirst, lit(false))))
    val evStream = lh.versioned("events_clean")
    // the silver commits are independent table-sized writes — overlap
    // them on a small pool (guide §2.6; capped at 3, the bulk-load rule)
    // with the one real order kept: orders BEFORE items (the items'
    // date fallback reads the committed orders snapshot). The events
    // pipe runs on its own future beside them. Same commits, same
    // versions per table; only the false serialization is gone.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
    implicit val q41Ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    val fEvents = Future {
      VersionedPipe.step(evSrc, evStream, Silver.eventsProjected)
      evSrc.commitAppend(events.filter(coalesce(!inFirst, lit(true))))
      VersionedPipe.step(evSrc, evStream, Silver.eventsProjected)
      Silver.eventsDedup(evStream.read())
    }
    val ordersVt = lh.versioned("orders_clean")
    val itemsVt = lh.versioned("order_items_clean")
    val fItems = Future {
      ordersVt.commitOverwrite(Silver.orders(bronze("orders")))
      itemsVt.commitOverwrite(Silver.orderItems(bronze("order_items"), ordersVt.read()))
    }
    val productsVt = lh.versioned("products_clean")
    val fProducts = Future(
      productsVt.commitOverwrite(Silver.products(bronze("products"))))
    val reviewsVt = lh.versioned("reviews_clean")
    val fReviews = Future(
      reviewsVt.commitOverwrite(Silver.reviews(bronze("reviews"))))
    val sessionsVt = lh.versioned("sessions_clean")
    val fSessions = Future(
      sessionsVt.commitOverwrite(Silver.sessions(bronze("sessions"))))
    val customersVt = lh.versioned("customers_clean")
    val fCustomers = Future(
      customersVt.commitOverwrite(Silver.customers(bronze("customers"))))

    // gold: staged versioned commits in reference notebook order — the
    // two families are independent chains, each gated on exactly the
    // silver futures it reads
    val pmVt = lh.versioned("product_metrics")
    val pfVt = lh.versioned("product_funnel")
    val fProductGold = for {
      eventsClean <- fEvents; _ <- fItems; _ <- fProducts; _ <- fReviews
    } yield {
      pmVt.commitOverwrite(Gold.productMetrics(
        eventsClean, itemsVt.read(), productsVt.read(), reviewsVt.read()))
      pfVt.commitOverwrite(Gold.productFunnel(pmVt.read()))
    }
    val smVt = lh.versioned("session_metrics")
    val c360Vt = lh.versioned("customer_360")
    val fSessionGold = for {
      eventsClean <- fEvents; _ <- fSessions; _ <- fCustomers
    } yield {
      smVt.commitOverwrite(Gold.sessionMetrics(eventsClean, sessionsVt.read()))
      c360Vt.commitOverwrite(Gold.customer360(customersVt.read(), smVt.read(), AsOf, LoadTs))
    }
    try Await.result(
      Future.sequence(Seq(fProductGold, fSessionGold)), Duration.Inf): Unit
    finally pool.shutdown()

    val gold = Map(
      "product_metrics" -> pmVt.read(), "product_funnel" -> pfVt.read(),
      "session_metrics" -> smVt.read(), "customer_360" -> c360Vt.read())
    val out = fingerprints(s, gold)
    raw.unpersist(blocking = false)
    out
  }

  /** The medallion run INCREMENTALLY — [[graft.ecom.IncrementalLakehouse]]
    * fed the same raw stream as TWO date-split waves: silvers advance by
    * latest-wins merges, gold by [[graft.ecom.GoldIvm]] refreshes, and
    * the final gold content must be bit-identical to the batch runs —
    * the SAME oracle as q35 (parquet batch) and q41 (versioned batch),
    * so the three execution strategies are pinned to one hash.
    * Sessions are delivered on first sight of their user (the
    * reference's shape: the session row precedes its events); everything
    * else splits naturally because events are disjoint across waves.
    *
    * Waves 3–4 are an attrs-dimension STORM through the bounded
    * re-attribution path: a slice of already-rolled-up sessions migrates
    * to a DIFFERENT customer (retract + re-add across rollup groups,
    * extremes included), then migrates back — so the final state equals
    * the batch runs bit-for-bit and the oracle stays shared, while the
    * churn itself is maintained in O(changed sessions), never a gold
    * rebuild (through r13 this wave shape REFUSED and forced a
    * re-bootstrap).
    */
  val q44 = Q("q44_medallion_incremental", medallionOracle) { (s, dir) =>
    val wh = tempDir("graft-medallion-inc")
    val raw = rawEvents(s, dir).persist()
    val inFirst = to_date(col("ts")) <= lit("2024-01-15").cast(DateType)
    val waves = Seq(
      raw.filter(coalesce(inFirst, lit(false))),
      raw.filter(coalesce(!inFirst, lit(true))))
    val inc = graft.ecom.IncrementalLakehouse(s, wh)
    var gold: Map[String, DataFrame] = Map.empty
    var seen: Option[DataFrame] = None
    waves.zipWithIndex.foreach { case (w, i) =>
      val b0 = bronzeSources(w)
      // sessions deliver once, on the wave of their user's FIRST event
      // (ascending waves -> that wave already holds the global min ts)
      val b = seen.fold(b0)(sc => b0.updated("sessions",
        b0("sessions").join(sc, Seq("session_id"), "left_anti")))
      gold = inc.step(b, i + 1L, AsOf, LoadTs)
      val users = w.select(col("user_id").cast(StringType).as("session_id"))
        .distinct()
      seen = Some(seen.fold(users)(_.unionByName(users).distinct()))
    }
    // attrs storm: sessions of every 20th even user re-attribute to the
    // NEXT customer id (same start_time — the stored value, so only the
    // attribution changes), then re-attribute back. Ingest stamps
    // ascend so latest-wins lands each wave deterministically.
    def stormSessions(customer: Column, stamp: java.sql.Timestamp): DataFrame =
      Bronze.stampAt(
        raw.filter(col("user_id") % 20 === 0)
          .groupBy(col("user_id"))
          .agg((min(col("ts")) - expr("INTERVAL 60 SECONDS")).as("start_time"))
          .select(
            col("user_id").cast(StringType).as("session_id"),
            customer.cast(StringType).as("customer_id"),
            col("start_time"),
            lit("web").as("device"), lit("ads").as("source"),
            lit("US").as("country")),
        "sessions.reattr", stamp)
    val emptyBronze = bronzeSources(raw.limit(0))
    gold = inc.step(emptyBronze.updated("sessions",
        stormSessions(col("user_id") + 1,
          java.sql.Timestamp.valueOf("2024-02-02 00:00:00"))),
      3L, AsOf, LoadTs)
    gold = inc.step(emptyBronze.updated("sessions",
        stormSessions(col("user_id"),
          java.sql.Timestamp.valueOf("2024-02-03 00:00:00"))),
      4L, AsOf, LoadTs)
    val out = fingerprints(s, gold)
    raw.unpersist(blocking = false)
    out
  }

  /** The medallion as ONE CONTINUOUS STREAM — the same two raw waves as
    * q44, but landed into the versioned bronze tables ([[graft.ecom
    * .IncrementalLakehouse.landWave]]) and consumed by the wave-signal
    * stream ([[graft.ecom.IncrementalLakehouse.streamed]]): each trigger
    * pulls the newly signaled waves (file-skipped via the wave-column
    * stats) and runs the full step — latest-wins silver merges, repair,
    * re-attribution, gold refreshes. Wave 2 lands LIVE while the stream
    * runs. Hash-pinned to the SAME oracle as q35/q41/q44, making the
    * FOURTH execution strategy of the identical pipeline: parquet batch,
    * versioned batch, incremental waves, continuous stream.
    */
  val q45 = Q("q45_medallion_streamed", medallionOracle) { (s, dir) =>
    val wh = tempDir("graft-medallion-str")
    val raw = rawEvents(s, dir).persist()
    val inFirst = to_date(col("ts")) <= lit("2024-01-15").cast(DateType)
    val waves = Seq(
      raw.filter(coalesce(inFirst, lit(false))),
      raw.filter(coalesce(!inFirst, lit(true))))
    val inc = graft.ecom.IncrementalLakehouse(s, wh)
    // wave 1 lands before the stream starts (a source needs v1); wave 2
    // lands while the stream is live — its signal row drives the step
    inc.landWave(bronzeSources(waves(0)), 1L)
    val q = inc.streamed(s"$wh/_ckpt", AsOf, LoadTs)
    try {
      q.processAllAvailable()
      // sessions deliver once, on the wave of their user's first event
      val seen = waves(0).select(col("user_id").cast(StringType).as("session_id"))
        .distinct()
      val b2 = bronzeSources(waves(1))
      inc.landWave(b2.updated("sessions",
        b2("sessions").join(seen, Seq("session_id"), "left_anti")), 2L)
      q.processAllAvailable()
    } finally q.stop()
    val out = fingerprints(s, inc.goldRelations(AsOf, LoadTs))
    raw.unpersist(blocking = false)
    out
  }

  /** The medallion with gold maintained ENTIRELY by DECLARED SQL
    * (r17): silvers advance through the incremental engine exactly as
    * q44 (same waves, same attrs storm), but the four gold models are
    * `CREATE MATERIALIZED VIEW` / `CREATE VIEW` statements over the
    * silver CATALOG — the em/om/rm aggregates (rm through the r17 AVG
    * decomposition), the session rollup, the customer cascade over its
    * change feed with the attrs DIMENSION declared (its storm repairs
    * via the generic retract/re-add dim rule), and four compose-at-read
    * views — maintained by bare `REFRESH MATERIALIZED VIEW` statements
    * per wave. Zero GoldIvm wiring; hash-pinned to the SAME oracle as
    * q35/q41/q44/q45 — the FIFTH execution strategy of the identical
    * pipeline.
    */
  val q46 = Q("q46_medallion_declared_gold", medallionOracle) { (s, dir) =>
    val tmp = tempDir("graft-medallion-dcl")
    val wh = s"$tmp/lake"
    new java.io.File(s"$tmp/gold").mkdirs()
    val cat = s"g46c${q46Counter.incrementAndGet()}"
    s.conf.set(s"spark.sql.catalog.$cat", "graft.sql.GraftCatalog")
    s.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp)
    val raw = rawEvents(s, dir).persist()
    val inFirst = to_date(col("ts")) <= lit("2024-01-15").cast(DateType)
    val waves = Seq(
      raw.filter(coalesce(inFirst, lit(false))),
      raw.filter(coalesce(!inFirst, lit(true))))
    val inc = graft.ecom.IncrementalLakehouse(s, wh)

    def refreshDeclared(): Unit = {
      // independent MV families refresh CONCURRENTLY (guide §2.6 —
      // overlap independent jobs so one refresh's driver/commit latency
      // backfills another's idle cores): em/om/rm/attrs_dim maintain
      // disjoint view tables from disjoint feeds. The cascade's ONE
      // bare top refresh chains srl1 itself and repairs the attrs
      // dimension — so its only real dependency is attrs_dim, and it
      // runs CONCURRENTLY with em/om/rm (r18: waiting on all four
      // serialized the most expensive statement behind three unrelated
      // ones). Same statements, same commits, same exactly-once
      // markers; only the false serialization is gone.
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration.Duration
      def refresh(v: String): Unit =
        s.sql(s"REFRESH MATERIALIZED VIEW $cat.gold.$v").collect(): Unit
      val fCascade = Future { refresh("attrs_dim"); refresh("crl2") }
      val fRest = Seq("em", "om", "rm").map(v => Future(refresh(v)))
      Await.result(Future.sequence(fCascade +: fRest), Duration.Inf): Unit
    }

    // wave 1 (silver only), then DECLARE the whole gold layer in SQL
    var seen: Option[DataFrame] = None
    def silverStep(b: Map[String, DataFrame], waveId: Long): Unit = {
      inc.step(b, waveId, AsOf, LoadTs, refreshGold = false)
      ()
    }
    silverStep(bronzeSources(waves(0)), 1L)
    seen = Some(waves(0)
      .select(col("user_id").cast(StringType).as("session_id")).distinct())
    declareGold(s, cat)
    // waves 2–4: silver steps + bare declared refreshes (wave 3–4 are
    // the q44 attrs storm — sessions migrate customer and back, repaired
    // by the declared dimension rule, never a rebuild)
    val b0 = bronzeSources(waves(1))
    silverStep(b0.updated("sessions",
      b0("sessions").join(seen.get, Seq("session_id"), "left_anti")), 2L)
    refreshDeclared()
    def stormSessions(customer: Column, stamp: java.sql.Timestamp): DataFrame =
      Bronze.stampAt(
        raw.filter(col("user_id") % 20 === 0)
          .groupBy(col("user_id"))
          .agg((min(col("ts")) - expr("INTERVAL 60 SECONDS")).as("start_time"))
          .select(
            col("user_id").cast(StringType).as("session_id"),
            customer.cast(StringType).as("customer_id"),
            col("start_time"),
            lit("web").as("device"), lit("ads").as("source"),
            lit("US").as("country")),
        "sessions.reattr", stamp)
    val emptyBronze = bronzeSources(raw.limit(0))
    silverStep(emptyBronze.updated("sessions",
      stormSessions(col("user_id") + 1,
        java.sql.Timestamp.valueOf("2024-02-02 00:00:00"))), 3L)
    refreshDeclared()
    silverStep(emptyBronze.updated("sessions",
      stormSessions(col("user_id"),
        java.sql.Timestamp.valueOf("2024-02-03 00:00:00"))), 4L)
    refreshDeclared()

    val gold = Map(
      "product_metrics" -> s.sql(s"SELECT * FROM $cat.gold.product_metrics"),
      "product_funnel" -> s.sql(s"SELECT * FROM $cat.gold.product_funnel"),
      "session_metrics" -> s.sql(s"SELECT * FROM $cat.gold.session_metrics"),
      "customer_360" -> s.sql(s"SELECT * FROM $cat.gold.customer_360"))
    val out = fingerprints(s, gold)
    raw.unpersist(blocking = false)
    out
  }

  private val q46Counter = new java.util.concurrent.atomic.AtomicInteger()

  /** The reference's four gold models as pure SQL DDL over the silver
    * catalog (`cat.lake.*` are the engine-maintained silver tables;
    * `cat.gold.*` is the declared layer). Mirrors GoldIvm's algebra
    * statement-for-statement — the DDL is the product surface, GoldIvm
    * the library one; `DeclarativeGoldSpec` pins the per-model parity,
    * q46 pins the end-to-end hash.
    */
  private def declareGold(s: SparkSession, cat: String): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // The five BASE materialized views bootstrap from disjoint silver
    // sources into disjoint view dirs — create them CONCURRENTLY
    // (guide §2.6: overlap independent jobs); crl2 then sources srl1
    // with the attrs_dim dimension (both must exist first), and the
    // four plain CREATE VIEW statements are metadata-only. Statement
    // texts are byte-identical to the sequential form.
    val baseMvs = Seq(
      // product_metrics family (03_gold_aggregate.py:38-108)
      s"""CREATE MATERIALIZED VIEW $cat.gold.em AS
         |SELECT coalesce(cast(event_date AS string), chr(0)) AS date_key,
         |  product_id, COUNT(*) AS n_events,
         |  SUM(CASE WHEN event_type = 'page_view' THEN 1 ELSE 0 END) AS view_count,
         |  SUM(CASE WHEN event_type = 'add_to_cart' THEN 1 ELSE 0 END) AS cart_count,
         |  MIN(event_date) AS event_date_e
         |FROM $cat.lake.events_clean
         |WHERE product_id IS NOT NULL
         |GROUP BY date_key, product_id""".stripMargin,
      s"""CREATE MATERIALIZED VIEW $cat.gold.om AS
         |SELECT coalesce(cast(order_date AS string), chr(0)) AS date_key,
         |  product_id, COUNT(*) AS n_items,
         |  SUM(cast(line_total_usd AS decimal(18,2))) AS total_revenue,
         |  SUM(cast(quantity AS bigint)) AS purchase_count,
         |  MIN(order_date) AS event_date_o
         |FROM $cat.lake.order_items_clean
         |WHERE product_id IS NOT NULL
         |GROUP BY date_key, product_id""".stripMargin,
      // review metrics through the r17 AVG decomposition — the DDL
      // states the reference's avg(rating) directly
      s"""CREATE MATERIALIZED VIEW $cat.gold.rm AS
         |SELECT product_id, COUNT(*) AS review_count,
         |  AVG(cast(rating AS bigint)) AS avg_rating
         |FROM $cat.lake.reviews_clean
         |WHERE product_id IS NOT NULL
         |GROUP BY product_id""".stripMargin,
      // customer_360 family: per-session rollup and the
      // unique-per-session attrs DIMENSION (renamed so the level-2
      // derived key can alias customer_id)
      s"""CREATE MATERIALIZED VIEW $cat.gold.srl1 AS
         |SELECT coalesce(cast(session_id AS string), chr(0)) AS session_key,
         |  COUNT(*) AS total_events,
         |  SUM(CASE WHEN event_type = 'purchase'
         |      THEN cast(amount_usd AS decimal(18,2))
         |      ELSE cast(0 AS decimal(18,2)) END) AS session_revenue,
         |  SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |    AS has_purchased,
         |  MIN(session_id) AS session_id,
         |  MIN(event_ts) AS session_start_ts_events,
         |  MIN(event_date) AS session_date,
         |  MAX(event_ts) AS session_end_ts
         |FROM $cat.lake.events_clean
         |GROUP BY session_key""".stripMargin,
      s"""CREATE MATERIALIZED VIEW $cat.gold.attrs_dim AS
         |SELECT session_id, COUNT(*) AS n_attr,
         |  MIN(customer_id) AS attr_customer_id,
         |  MIN(session_start_ts) AS attr_start_ts
         |FROM $cat.lake.`_session_attrs`
         |GROUP BY session_id""".stripMargin)
    Await.result(
      Future.sequence(baseMvs.map(q => Future(s.sql(q).collect()))),
      Duration.Inf): Unit
    // the cascade's level 2 — needs srl1 (its source) and attrs_dim
    // (its declared dimension) committed above
    s.sql(
      s"""CREATE MATERIALIZED VIEW $cat.gold.crl2 AS
         |SELECT coalesce(attr_customer_id, 'UNKNOWN') AS customer_id,
         |  COUNT(*) AS total_sessions,
         |  SUM(session_revenue) AS customer_total_revenue,
         |  SUM(has_purchased) AS total_orders,
         |  MIN(coalesce(session_start_ts_events, attr_start_ts))
         |    AS first_active_ts,
         |  MAX(session_end_ts) AS last_active_ts
         |FROM $cat.gold.srl1 LEFT JOIN $cat.gold.attrs_dim USING (session_id)
         |WHERE cast(session_end_ts AS bigint) -
         |  cast(coalesce(session_start_ts_events, attr_start_ts) AS bigint) >= 0
         |GROUP BY customer_id""".stripMargin).collect()
    // compose-at-read views (metadata-only): the product family over
    // em/om/rm, the session/customer faces over srl1/attrs/crl2
    s.sql(
      s"""CREATE VIEW $cat.gold.product_metrics AS
         |SELECT coalesce(event_date_e, event_date_o) AS event_date,
         |  product_id, product_name, category,
         |  CAST(coalesce(view_count, 0) AS INT) AS view_count,
         |  CAST(coalesce(cart_count, 0) AS INT) AS cart_count,
         |  CAST(coalesce(purchase_count, 0) AS INT) AS purchase_count,
         |  CAST(coalesce(CAST(total_revenue AS DOUBLE), 0.0) AS DOUBLE)
         |    AS total_revenue,
         |  round(coalesce(avg_rating, 0.0), 2) AS avg_rating,
         |  CAST(coalesce(review_count, 0) AS INT) AS review_count
         |FROM $cat.gold.em FULL OUTER JOIN $cat.gold.om
         |  USING (date_key, product_id)
         |LEFT JOIN $cat.lake.products_clean USING (product_id)
         |LEFT JOIN $cat.gold.rm USING (product_id)
         |WHERE product_id IS NOT NULL""".stripMargin).collect()
    s.sql(
      s"""CREATE VIEW $cat.gold.product_funnel AS
         |SELECT event_date, product_id, product_name, category,
         |  view_count, cart_count, purchase_count,
         |  least(CAST(100.0 AS DOUBLE), CASE WHEN view_count > 0
         |    THEN round(CAST(cart_count AS DOUBLE) / view_count * 100.0, 2)
         |    ELSE 0.0 END) AS view_to_cart_pct,
         |  least(CAST(100.0 AS DOUBLE), CASE WHEN cart_count > 0
         |    THEN round(CAST(purchase_count AS DOUBLE) / cart_count * 100.0, 2)
         |    ELSE 0.0 END) AS cart_to_purchase_pct,
         |  least(CAST(100.0 AS DOUBLE), CASE WHEN view_count > 0
         |    THEN round(CAST(purchase_count AS DOUBLE) / view_count * 100.0, 2)
         |    ELSE 0.0 END) AS overall_conversion_pct
         |FROM $cat.gold.product_metrics""".stripMargin).collect()
    s.sql(
      s"""CREATE VIEW $cat.gold.session_metrics AS
         |SELECT r.session_id,
         |  coalesce(sa.customer_id, 'UNKNOWN') AS customer_id,
         |  r.session_date,
         |  coalesce(r.session_start_ts_events, sa.session_start_ts)
         |    AS session_start_ts,
         |  r.session_end_ts,
         |  CAST(r.session_end_ts AS BIGINT) -
         |    CAST(coalesce(r.session_start_ts_events, sa.session_start_ts)
         |      AS BIGINT) AS session_duration_sec,
         |  r.total_events,
         |  coalesce(sa.device, 'UNKNOWN') AS device,
         |  coalesce(sa.source, 'UNKNOWN') AS source,
         |  coalesce(sa.country, 'UNKNOWN') AS country,
         |  CAST(r.session_revenue AS DOUBLE) AS session_revenue,
         |  CAST(r.has_purchased AS INT) AS has_purchased
         |FROM $cat.gold.srl1 r
         |LEFT JOIN $cat.lake.`_session_attrs` sa USING (session_id)
         |WHERE CAST(r.session_end_ts AS BIGINT) -
         |  CAST(coalesce(r.session_start_ts_events, sa.session_start_ts)
         |    AS BIGINT) >= 0""".stripMargin).collect()
    s.sql(
      s"""CREATE VIEW $cat.gold.customer_360 AS
         |SELECT customer_id, name, email, country, age, signup_date,
         |  marketing_opt_in,
         |  coalesce(CAST(customer_total_revenue AS DOUBLE), 0.0)
         |    AS customer_total_revenue,
         |  CAST(coalesce(total_orders, 0) AS INT) AS total_orders,
         |  CAST(coalesce(total_sessions, 0) AS INT) AS total_sessions,
         |  first_active_ts, last_active_ts,
         |  CASE WHEN coalesce(total_orders, 0) <> 0
         |    THEN CAST(round(CAST(coalesce(customer_total_revenue, 0) AS DECIMAL(18,2)) /
         |      CAST(total_orders AS DECIMAL(18,0)), 2) AS DOUBLE) END AS average_order_value,
         |  datediff(DATE '$AsOf', signup_date) AS days_since_signup,
         |  TIMESTAMP '$LoadTs' AS scd_load_ts
         |FROM $cat.lake.customers_clean LEFT JOIN $cat.gold.crl2
         |  USING (customer_id)
         |WHERE customer_id IS NOT NULL""".stripMargin).collect()
  }

  val all: Seq[Q] = Seq(q35, q41, q44, q45, q46)
}
