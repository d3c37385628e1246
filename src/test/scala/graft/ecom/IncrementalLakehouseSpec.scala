package graft.ecom

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType}

import graft.SparkSuite
import graft.queries.Medallion

/** The incremental medallion vs the batch one: silvers maintained by
  * latest-wins merges must equal `Silver.transformAll` over the
  * accumulated bronze, gold maintained by GoldIvm must equal `Gold.*`
  * over those silvers — wave-split-independent, replay-safe, with the
  * two cross-table seams (order-date repair, stale-attr guard)
  * exercised explicitly.
  */
class IncrementalLakehouseSpec extends SparkSuite {
  import spark.implicits._

  private val AsOf = LocalDate.parse("2025-01-01")
  private val LoadTs = Timestamp.valueOf("2025-01-01 00:00:00")

  private def fresh(): String =
    tempDir("graft-inc-lh")

  /** Toy raw stream (Medallion adapter shape): users 1-6, two waves by
    * date; user 6 appears only in wave 2.
    */
  private def rawWaves: Seq[DataFrame] = {
    def ts(d: String) = Timestamp.valueOf(d)
    val rows = Seq(
      // (event_id, user_id, ts, value, product_id, event_type) — wave 1
      (1L, 1L, ts("2024-01-02 10:00:00"), 5.0, "101", "page_view"),
      (2L, 1L, ts("2024-01-02 10:05:00"), 7.5, "101", "purchase"),
      (3L, 2L, ts("2024-01-03 09:00:00"), 3.0, "102", "page_view"),
      (4L, 2L, ts("2024-01-03 09:30:00"), 9.0, "103", "signup"),
      (5L, 3L, ts("2024-01-04 12:00:00"), 4.0, null, "purchase"),
      (6L, 4L, ts("2024-01-05 08:00:00"), 2.0, "104", "add_to_cart"),
      // wave 2 (later dates; user 6 new)
      (7L, 1L, ts("2024-02-02 11:00:00"), 6.0, "101", "purchase"),
      (8L, 4L, ts("2024-02-03 13:00:00"), 8.0, "104", "purchase"),
      (9L, 6L, ts("2024-02-04 14:00:00"), 1.5, "105", "page_view"),
      (10L, 6L, ts("2024-02-04 14:30:00"), 2.5, "105", "purchase"),
      (11L, 2L, ts("2024-02-05 15:00:00"), 3.5, "102", "signup"))
      .toDF("event_id", "user_id", "ts", "value", "product_id", "event_type")
    val cut = to_date(col("ts")) <= lit("2024-01-31").cast(DateType)
    Seq(rows.filter(cut), rows.filter(!cut))
  }

  private def stepWaves(inc: IncrementalLakehouse,
      waves: Seq[DataFrame]): Map[String, DataFrame] = {
    var gold: Map[String, DataFrame] = Map.empty
    var seen: Option[DataFrame] = None
    waves.zipWithIndex.foreach { case (w, i) =>
      val b0 = Medallion.bronzeSources(w)
      val b = seen.fold(b0)(sc => b0.updated("sessions",
        b0("sessions").join(sc, Seq("session_id"), "left_anti")))
      gold = inc.step(b, i + 1L, AsOf, LoadTs)
      val users = w.select(col("user_id").cast(StringType).as("session_id"))
        .distinct()
      seen = Some(seen.fold(users)(_.unionByName(users).distinct()))
    }
    gold
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.mkString("|")).toSet

  test("silvers and gold equal the batch recompute after two waves; replay is a no-op") {
    val wh = fresh()
    val inc = IncrementalLakehouse(spark, wh)
    val waves = rawWaves
    val gold = stepWaves(inc, waves)

    // batch twin over the accumulated bronze (sessions delivered once)
    val cumulative = waves.reduce(_ unionByName _)
    val silverBatch = Silver.transformAll(Medallion.bronzeSources(cumulative))

    for ((name, t) <- Seq(
        "customers_clean" -> inc.customersClean,
        "events_clean" -> inc.eventsClean,
        "orders_clean" -> inc.ordersClean,
        "products_clean" -> inc.productsClean,
        "reviews_clean" -> inc.reviewsClean,
        "sessions_clean" -> inc.sessionsClean)) {
      assert(rows(t.read().drop(IncrementalLakehouse.ItemPkCol)) ==
        rows(silverBatch(name)), s"silver $name diverged from batch")
    }
    assert(rows(inc.orderItemsClean.read()
        .drop(IncrementalLakehouse.ItemPkCol)) ==
      rows(silverBatch("order_items_clean")),
      "order_items_clean diverged from batch")

    // gold: maintained == Gold.* over the batch silvers
    val pmB = Gold.productMetrics(silverBatch("events_clean"),
      silverBatch("order_items_clean"), silverBatch("products_clean"),
      silverBatch("reviews_clean"))
    assert(rows(gold("product_metrics")) == rows(pmB))
    assert(rows(gold("product_funnel")) == rows(Gold.productFunnel(pmB)))
    val smB = Gold.sessionMetrics(silverBatch("events_clean"),
      silverBatch("sessions_clean"))
    assert(rows(gold("session_metrics")) == rows(smB))
    assert(rows(gold("customer_360")) ==
      rows(Gold.customer360(silverBatch("customers_clean"), smB, AsOf, LoadTs)))

    // replay of the last wave: every commit is a marker no-op
    val versionsBefore = inc.eventsClean.currentVersion()
    val goldBefore = inc.gold.customerRollupMv.currentVersion()
    val b2 = Medallion.bronzeSources(waves(1)).updated("sessions",
      Medallion.bronzeSources(waves(1))("sessions")
        .join(waves(0).select(col("user_id").cast(StringType).as("session_id"))
          .distinct(), Seq("session_id"), "left_anti"))
    inc.step(b2, 2L, AsOf, LoadTs)
    assert(inc.eventsClean.currentVersion() == versionsBefore,
      "replayed wave must not land a new events version")
    assert(inc.gold.customerRollupMv.currentVersion() == goldBefore,
      "replayed wave must not land a new gold version")
  }

  test("a late-arriving order repairs its items' fallback date") {
    val wh = fresh()
    val inc = IncrementalLakehouse(spark, wh)
    val stamp1 = Timestamp.valueOf("2024-03-01 00:00:00")
    val stamp2 = Timestamp.valueOf("2024-03-02 00:00:00")

    def bronzeWith(orders: DataFrame, items: DataFrame,
        stamp: Timestamp): Map[String, DataFrame] = {
      val empty = Medallion.bronzeSources(
        Seq.empty[(Long, Long, Timestamp, Double, String, String)]
          .toDF("event_id", "user_id", "ts", "value", "product_id", "event_type"))
      empty ++ Map(
        "orders" -> Bronze.stampAt(orders, "orders.late", stamp),
        "order_items" -> Bronze.stampAt(items, "items.late", stamp))
    }
    val itemsW1 = Seq(("500", "101", 5.0, 1, 5.0))
      .toDF("order_id", "product_id", "unit_price_usd", "quantity", "line_total_usd")
    val noOrders = Seq.empty[(String, String, Timestamp, String, Double, Double, Double, String, String, String)]
      .toDF("order_id", "customer_id", "order_time", "payment_method",
        "discount_pct", "subtotal_usd", "total_usd", "country", "device", "source")
    inc.step(bronzeWith(noOrders, itemsW1, stamp1), 1L, AsOf, LoadTs)
    // no order yet: the ingest-date fallback
    assert(inc.orderItemsClean.read().select("order_date")
      .as[java.sql.Date].collect().toSeq ==
      Seq(java.sql.Date.valueOf("2024-03-01")))

    // wave 2: the order arrives with a real date — the repair must
    // rewrite the already-landed item
    val ordersW2 = Seq(("500", "9", Timestamp.valueOf("2024-01-20 10:00:00"),
      "card", 0.0, 5.0, 5.0, "US", "web", "ads"))
      .toDF("order_id", "customer_id", "order_time", "payment_method",
        "discount_pct", "subtotal_usd", "total_usd", "country", "device", "source")
    val noItems = Seq.empty[(String, String, Double, Int, Double)]
      .toDF("order_id", "product_id", "unit_price_usd", "quantity", "line_total_usd")
    inc.step(bronzeWith(ordersW2, noItems, stamp2), 2L, AsOf, LoadTs)
    assert(inc.orderItemsClean.read().select("order_date")
      .as[java.sql.Date].collect().toSeq ==
      Seq(java.sql.Date.valueOf("2024-01-20")),
      "the late order's date must repair the stored fallback")
  }

  /** One attrs-only wave: bronze is empty except the sessions source. */
  private def attrsWave(rows: Seq[(String, String, Timestamp, String, String, String)],
      stamp: Timestamp): Map[String, DataFrame] =
    Medallion.bronzeSources(
      Seq.empty[(Long, Long, Timestamp, Double, String, String)]
        .toDF("event_id", "user_id", "ts", "value", "product_id", "event_type"))
      .updated("sessions", Bronze.stampAt(
        rows.toDF("session_id", "customer_id", "start_time", "device",
          "source", "country"),
        "sessions.changed", stamp))

  private def c360Recompute(inc: IncrementalLakehouse): DataFrame =
    Gold.customer360(inc.customersClean.read(),
      Gold.sessionMetrics(inc.eventsClean.read(), inc.sessionAttrs.read()),
      AsOf, LoadTs)

  test("changed attrs for rolled-up sessions re-attribute in-place (no rebootstrap)") {
    val wh = fresh()
    val inc = IncrementalLakehouse(spark, wh)
    stepWaves(inc, rawWaves)
    val emBefore = inc.gold.eventMetricsMv.currentVersion()

    // wave 3: session "2" migrates from customer 2 to customer 4 (who
    // already owns session "4" — the target group gains a second
    // member), and session "1" — an ODD user, previously UNKNOWN-
    // attributed (no attrs row) — late-delivers attrs pointing at
    // customer 1. Both sessions' events are already aggregated.
    val gold3 = inc.step(attrsWave(Seq(
      ("2", "4", Timestamp.valueOf("2024-01-03 08:59:00"), "web", "ads", "US"),
      ("1", "1", Timestamp.valueOf("2024-01-02 09:59:00"), "web", "ads", "US")),
      Timestamp.valueOf("2024-04-01 00:00:00")), 3L, AsOf, LoadTs)
    assert(rows(gold3("customer_360")) == rows(c360Recompute(inc)),
      "maintained customer_360 must equal the recompute after migration")
    assert(rows(gold3("session_metrics")) ==
      rows(Gold.sessionMetrics(inc.eventsClean.read(), inc.sessionAttrs.read())),
      "session_metrics must reflect the new attrs")

    // wave 4: session "2" migrates AWAY from customer 4 — it holds
    // customer 4's min(first_active_ts), so the retract must trigger
    // the bounded dirty-group recompute, not a stale extreme
    val gold4 = inc.step(attrsWave(Seq(
      ("2", "9", Timestamp.valueOf("2024-01-03 08:59:00"), "web", "ads", "US")),
      Timestamp.valueOf("2024-04-02 00:00:00")), 4L, AsOf, LoadTs)
    assert(rows(gold4("customer_360")) == rows(c360Recompute(inc)),
      "maintained customer_360 must survive losing a group's extreme")

    // the product-metrics family was never touched: re-attribution is
    // bounded repair, not a rebootstrap
    assert(inc.gold.eventMetricsMv.currentVersion() == emBefore,
      "attrs churn must not touch the product-metrics aggregates")

    // replaying wave 4 lands nothing anywhere
    val rollupBefore = inc.gold.customerRollupMv.currentVersion()
    val attrsBefore = inc.sessionAttrs.currentVersion()
    inc.step(attrsWave(Seq(
      ("2", "9", Timestamp.valueOf("2024-01-03 08:59:00"), "web", "ads", "US")),
      Timestamp.valueOf("2024-04-02 00:00:00")), 4L, AsOf, LoadTs)
    assert(inc.gold.customerRollupMv.currentVersion() == rollupBefore &&
      inc.sessionAttrs.currentVersion() == attrsBefore,
      "a replayed attrs wave must be a marker no-op end to end")
  }

  test("a PURE-insert attrs wave: new-session inserts skip via the manifest gate, a late insert for a rolled-up session still repairs") {
    val wh = fresh()
    val inc = IncrementalLakehouse(spark, wh)
    val w1 = rawWaves(0)
    val b1 = Medallion.bronzeSources(w1)
    // user 3's session row is WITHHELD: its events roll up as UNKNOWN
    inc.step(b1.updated("sessions",
      b1("sessions").filter(col("session_id") =!= "3")), 1L, AsOf, LoadTs)
    val unknownBefore = inc.goldRelations(AsOf, LoadTs)("customer_360")
      .filter(col("customer_id") === "3").select("total_sessions")
      .collect().map(_.getInt(0)).headOption.getOrElse(0)
    assert(unknownBefore == 0, "user 3 must start UNKNOWN-attributed")

    // wave 2: ONLY user 3's late session row — an INSERT-ONLY attrs
    // window whose inserted session ALREADY has materialized
    // contributions; the manifest fast path must detect that and run
    // the full repair, not skip
    inc.step(attrsWave(Seq(
      ("3", "3", Timestamp.valueOf("2024-01-04 11:59:00"), "web", "ads", "US")),
      Timestamp.valueOf("2024-05-01 00:00:00")), 2L, AsOf, LoadTs)
    assert(rows(inc.goldRelations(AsOf, LoadTs)("customer_360")) ==
      rows(c360Recompute(inc)),
      "late insert-only attrs must re-attribute the UNKNOWN contributions")

    // wave 3: a BRAND-NEW session (no contributions anywhere) — the
    // fast path's probe misses and only the cursor advances; the gold
    // stays equal to the recompute and the rollup's ROWS are untouched
    val rollupBefore = rows(inc.gold.customerRollupMv.read())
    inc.step(attrsWave(Seq(
      ("999", "5", Timestamp.valueOf("2024-01-05 10:00:00"), "web", "ads", "US")),
      Timestamp.valueOf("2024-05-02 00:00:00")), 3L, AsOf, LoadTs)
    assert(rows(inc.goldRelations(AsOf, LoadTs)("customer_360")) ==
      rows(c360Recompute(inc)))
    assert(rows(inc.gold.customerRollupMv.read()) == rollupBefore,
      "a no-contribution insert wave must not rewrite rollup rows")
  }

  test("audit-only attrs re-delivery is a provable no-op for the rollup") {
    val wh = fresh()
    val inc = IncrementalLakehouse(spark, wh)
    stepWaves(inc, rawWaves)
    val rollupBefore = inc.gold.customerRollupMv.currentVersion()

    // re-deliver session "4" with IDENTICAL values, newer audit: the
    // attrs merge advances _ingest_ts (so a later-but-older delivery
    // cannot win), but the re-attribution delta nets to nothing — the
    // rollup must not pay a single file rewrite (the cursor commit is
    // an empty marker version, tolerated below)
    val gold = inc.step(attrsWave(Seq(
      ("4", "4", Timestamp.valueOf("2024-01-05 07:59:00"), "web", "ads", "US")),
      Timestamp.valueOf("2024-05-01 00:00:00")), 3L, AsOf, LoadTs)
    assert(rows(gold("customer_360")) == rows(c360Recompute(inc)))
    val landed = inc.gold.customerRollupMv.currentVersion()
    assert(landed.get <= rollupBefore.get + 1,
      s"an audit-only re-delivery must cost at most the cursor marker " +
        s"(rollup went $rollupBefore -> $landed)")
  }

  test("an older attrs re-delivery and a null-session attrs row leave _session_attrs and customer_360 unchanged") {
    val inc = IncrementalLakehouse(spark, fresh())
    stepWaves(inc, rawWaves)
    val attrsBefore = rows(inc.sessionAttrs.read())
    val c360Before = rows(inc.goldRelations(AsOf, LoadTs)("customer_360"))

    // wave 3: session "2" re-delivered with a CHANGED customer but an
    // audit older than the stored row's (the adapter stamps 2024-02-01)
    // — it loses the latest-wins compare, so nothing re-attributes
    inc.step(attrsWave(Seq(
      ("2", "9", Timestamp.valueOf("2024-01-03 08:59:00"), "app", "email", "DE")),
      Timestamp.valueOf("2024-01-15 00:00:00")), 3L, AsOf, LoadTs)
    assert(rows(inc.sessionAttrs.read()) == attrsBefore,
      "an older re-delivery must not replace the stored attrs")
    assert(rows(inc.goldRelations(AsOf, LoadTs)("customer_360")) == c360Before,
      "an older re-delivery must not move customer_360")

    // wave 4: a session row with a null session_id reaches the
    // append-only sessions silver but never the attrs table
    inc.step(attrsWave(Seq(
      (null, "4", Timestamp.valueOf("2024-01-05 07:00:00"), "app", "email", "DE")),
      Timestamp.valueOf("2024-05-01 00:00:00")), 4L, AsOf, LoadTs)
    assert(inc.sessionsClean.read().filter(col("session_id").isNull).count() == 1L,
      "the null-session row must land in sessions_clean")
    assert(rows(inc.sessionAttrs.read()) == attrsBefore,
      "a null session_id must never land in _session_attrs")
    assert(rows(inc.goldRelations(AsOf, LoadTs)("customer_360")) == c360Before,
      "a null-session attrs row must not move customer_360")
  }

  test("bounded-auth shape (forced via conf) re-attributes identically to the full join") {
    // the size gate keeps toy tables on the plain full-join recompute;
    // forcing the threshold to 0 drives the BOUNDED shape — dimension
    // slice probe + session-set restriction on both join sides — through
    // the same storms the default path takes above, including the
    // dirty-customer migration and the UNKNOWN-dirty fallback
    spark.conf.set(GoldIvm.BoundedAuthMinBytesKey, "0")
    try {
      val inc = IncrementalLakehouse(spark, fresh())
      stepWaves(inc, rawWaves)
      // session "2" migrates c2 -> c4 (dirty customers, bounded branch);
      // session "1" was UNKNOWN-attributed and gains attrs (UNKNOWN
      // dirty -> full-join fallback) — both inside one wave
      val gold3 = inc.step(attrsWave(Seq(
        ("2", "4", Timestamp.valueOf("2024-01-03 08:59:00"), "web", "ads", "US"),
        ("1", "1", Timestamp.valueOf("2024-01-02 09:59:00"), "web", "ads", "US")),
        Timestamp.valueOf("2024-04-01 00:00:00")), 3L, AsOf, LoadTs)
      assert(rows(gold3("customer_360")) == rows(c360Recompute(inc)),
        "bounded-shape re-attribution must equal the recompute")
      // migrate AWAY from a group whose extreme it holds: the retract
      // dirties customer 4 and the bounded recompute must also see its
      // UNTOUCHED member (session "4")
      val gold4 = inc.step(attrsWave(Seq(
        ("2", "9", Timestamp.valueOf("2024-01-03 08:59:00"), "web", "ads", "US")),
        Timestamp.valueOf("2024-04-02 00:00:00")), 4L, AsOf, LoadTs)
      assert(rows(gold4("customer_360")) == rows(c360Recompute(inc)),
        "bounded recompute must include a dirty customer's untouched sessions")
    } finally spark.conf.unset(GoldIvm.BoundedAuthMinBytesKey)
  }

  test("streamed medallion == explicit batch waves; replayed trigger and idle restart land nothing") {
    // batch twin: the explicit-wave path
    val incB = IncrementalLakehouse(spark, fresh())
    val goldB = stepWaves(incB, rawWaves)

    // streamed twin: land wave 1, stream it, land wave 2 LIVE, stream on
    val whS = fresh()
    val incS = IncrementalLakehouse(spark, whS)
    def bronzeFor(w: DataFrame, seen: Option[DataFrame]): Map[String, DataFrame] = {
      val b0 = Medallion.bronzeSources(w)
      seen.fold(b0)(sc => b0.updated("sessions",
        b0("sessions").join(sc, Seq("session_id"), "left_anti")))
    }
    val waves = rawWaves
    incS.landWave(bronzeFor(waves(0), None), 1L)
    val q = incS.streamed(s"$whS/_ckpt", AsOf, LoadTs)
    q.processAllAvailable()
    incS.landWave(bronzeFor(waves(1),
      Some(waves(0).select(col("user_id").cast(StringType).as("session_id"))
        .distinct())), 2L)
    q.processAllAvailable(); q.stop()

    val goldS = incS.goldRelations(AsOf, LoadTs)
    for (name <- Seq("product_metrics", "product_funnel", "session_metrics",
        "customer_360"))
      assert(rows(goldS(name)) == rows(goldB(name)),
        s"streamed gold $name diverged from the batch waves")
    assert(rows(incS.eventsClean.read()) == rows(incB.eventsClean.read()),
      "streamed silver diverged from the batch waves")

    // idle restart on the same checkpoint: the recovery trigger replays,
    // every marker no-ops — zero new versions anywhere in the chain
    val before = (incS.eventsClean.currentVersion(),
      incS.gold.customerRollupMv.currentVersion(),
      incS.gold.eventMetricsMv.currentVersion())
    val q2 = incS.streamed(s"$whS/_ckpt", AsOf, LoadTs)
    q2.processAllAvailable(); q2.stop()
    assert((incS.eventsClean.currentVersion(),
      incS.gold.customerRollupMv.currentVersion(),
      incS.gold.eventMetricsMv.currentVersion()) == before,
      "an idle streamed restart must land nothing")
  }

  test("file-arrival medallion: raw CSV drops drive autoLand + streamed == batch waves; idle restart lands nothing") {
    // batch twin: the explicit-wave path
    val incB = IncrementalLakehouse(spark, fresh())
    val goldB = stepWaves(incB, rawWaves)

    val whS = fresh()
    val rawDir = s"$whS/_rawdrop"
    val incS = IncrementalLakehouse(spark, whS)
    val waves = rawWaves
    // one CSV file per source per wave (a multi-part drop's files can
    // straddle trigger boundaries), raw bronze shape (no audit columns
    // — autoLand stamps path + mtime itself)
    def dropWave(w: DataFrame, seen: Option[DataFrame], tag: String): Unit = {
      val b0 = Medallion.bronzeSources(w)
      val b = seen.fold(b0)(sc => b0.updated("sessions",
        b0("sessions").join(sc, Seq("session_id"), "left_anti")))
      b.foreach { case (n, df) =>
        val tmp = tempDir("graft-csvdrop")
        df.drop("_ingest_ts", "_source_file").coalesce(1)
          .write.option("header", "true").mode("overwrite").csv(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".csv")).get
        val dstDir = new java.io.File(s"$rawDir/$n")
        dstDir.mkdirs()
        java.nio.file.Files.move(part.toPath,
          new java.io.File(dstDir, s"$tag.csv").toPath)
        ()
      }
    }

    dropWave(waves(0), None, "w1")
    val qLand = incS.autoLand(rawDir, s"$whS/_ckpt_land")
    qLand.processAllAvailable()
    val qStep = incS.streamed(s"$whS/_ckpt_step", AsOf, LoadTs)
    qStep.processAllAvailable()
    // wave 2 arrives LIVE; a beat of mtime separation keeps latest-wins
    // ordering aligned with arrival order
    Thread.sleep(1100)
    dropWave(waves(1),
      Some(waves(0).select(col("user_id").cast(StringType).as("session_id"))
        .distinct()), "w2")
    qLand.processAllAvailable()
    qStep.processAllAvailable()
    qLand.stop(); qStep.stop()

    val goldS = incS.goldRelations(AsOf, LoadTs)
    for (name <- Seq("product_metrics", "product_funnel", "session_metrics",
        "customer_360"))
      assert(rows(goldS(name)) == rows(goldB(name)),
        s"file-driven gold $name diverged from the batch waves")
    // silvers match modulo the audit columns (mtime-stamped here)
    assert(rows(incS.eventsClean.read().drop("_ingest_ts", "_source_file")) ==
      rows(incB.eventsClean.read().drop("_ingest_ts", "_source_file")),
      "file-driven events_clean diverged from the batch waves")

    // idle restarts on the same checkpoints: no new files, no new waves,
    // zero new versions anywhere in the chain
    val before = (incS.eventsClean.currentVersion(),
      incS.waveSignal.currentVersion(),
      incS.gold.customerRollupMv.currentVersion())
    val q2 = incS.autoLand(rawDir, s"$whS/_ckpt_land")
    q2.processAllAvailable(); q2.stop()
    val q3 = incS.streamed(s"$whS/_ckpt_step", AsOf, LoadTs)
    q3.processAllAvailable(); q3.stop()
    assert((incS.eventsClean.currentVersion(),
      incS.waveSignal.currentVersion(),
      incS.gold.customerRollupMv.currentVersion()) == before,
      "an idle file-driven restart must land nothing")
  }

  test("autoLand quarantines malformed CSV lines instead of null-filling them") {
    val wh = fresh()
    val inc = IncrementalLakehouse(spark, wh)
    val rawDir = s"$wh/_raw"
    new java.io.File(s"$rawDir/reviews").mkdirs()
    val csv = Seq(
      "review_id,order_id,product_id,rating,review_text,review_time",
      "r1,o1,101,4,ok,2024-01-02T10:00:00.000Z",
      // too many fields: the raw line must land in quarantine whole
      "r2,o2,102,5,extra,field,count,broken,overflow").mkString("\n")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$rawDir/reviews/d1.csv"),
      csv.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val q = inc.autoLand(rawDir, s"$wh/_ckpt")
    q.processAllAvailable(); q.stop()
    // the clean row landed in bronze, WITHOUT the capture column
    val landed = inc.bronzeWave("reviews").read()
    assert(landed.count() == 1)
    assert(landed.select("review_id").head().getString(0) == "r1")
    assert(!landed.columns.contains(Bronze.CorruptCol))
    // the malformed line landed in quarantine with its raw text + audit
    val quar = inc.quarantine("reviews").read()
    assert(quar.count() == 1)
    assert(quar.select(Bronze.CorruptCol).head().getString(0).startsWith("r2,o2"))
    assert(quar.columns.contains("_source_file"))

    // idle restart: no new files, zero new versions on either table
    val before = (inc.bronzeWave("reviews").currentVersion(),
      inc.quarantine("reviews").currentVersion())
    val q2 = inc.autoLand(rawDir, s"$wh/_ckpt")
    q2.processAllAvailable(); q2.stop()
    assert((inc.bronzeWave("reviews").currentVersion(),
      inc.quarantine("reviews").currentVersion()) == before)
  }

  test("autoLand schema drift: additive column evolves bronze and silver; non-additive quarantines loudly") {
    val wh = fresh()
    val inc = IncrementalLakehouse(spark, wh)
    val rawDir = s"$wh/_raw"
    new java.io.File(s"$rawDir/reviews").mkdirs()
    def drop(name: String, lines: Seq[String]): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$rawDir/reviews/$name"),
        lines.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    // wave 1: the declared raw schema
    drop("w1.csv", Seq(
      "review_id,order_id,product_id,rating,review_text,review_time",
      "1,11,101,4,ok,2024-01-02T10:00:00.000Z"))
    val q = inc.autoLand(rawDir, s"$wh/_ckpt")
    q.processAllAvailable()
    // wave 2 (live): ADDITIVE drift — the feed gained `verified`
    Thread.sleep(1100)
    drop("w2.csv", Seq(
      "review_id,order_id,product_id,rating,review_text,review_time,verified",
      "2,12,102,5,fine,2024-01-03T10:00:00.000Z,true"))
    q.processAllAvailable()
    val landed = inc.bronzeWave("reviews").read()
    assert(landed.columns.contains("verified"),
      "additive drift must evolve the bronze landing table")
    assert(landed.count() == 2)
    val byId = landed.collect()
      .map(r => r.getString(r.fieldIndex("review_id")) ->
        Option(r.getString(r.fieldIndex("verified")))).toMap
    assert(byId("1").isEmpty, "pre-drift rows null-fill the new column")
    assert(byId("2").contains("true"))
    // the silver table evolves too, through the streamed step's
    // rescued-column passthrough + merge-side additive evolution
    val qs = inc.streamed(s"$wh/_ckpt_step", AsOf, LoadTs)
    qs.processAllAvailable(); qs.stop()
    val silver = inc.reviewsClean.read()
    assert(silver.columns.contains("verified"),
      "additive drift must evolve the silver table")
    val sById = silver.collect()
      .map(r => r.getString(r.fieldIndex("review_id")) ->
        Option(r.getString(r.fieldIndex("verified")))).toMap
    assert(sById("1").isEmpty && sById("2").contains("true"))

    // wave 3 (live): NON-ADDITIVE drift — `rating` renamed to `stars`;
    // the file's rows quarantine with the drift NAMED, nothing lands clean
    Thread.sleep(1100)
    // ...including a DATA row byte-identical to the header line: exactly
    // one header-equal line per file is the header; the other is data
    // and must be preserved as a raw quarantine line
    drop("w3.csv", Seq(
      "review_id,order_id,product_id,stars,review_text,review_time",
      "3,13,103,2,bad,2024-01-04T10:00:00.000Z",
      "review_id,order_id,product_id,stars,review_text,review_time"))
    q.processAllAvailable(); q.stop()
    assert(inc.bronzeWave("reviews").read().count() == 2,
      "non-additive drift rows must never reach the clean landing")
    val drift = inc.quarantine("reviews").read()
      .filter(col(IncrementalLakehouse.DriftCol).isNotNull)
    assert(drift.count() == 2,
      "both data lines (one header-identical) must quarantine")
    val msg = drift.select(IncrementalLakehouse.DriftCol).head().getString(0)
    assert(msg.contains("rating"), s"the drift message must name the missing column, got: $msg")
    val rawLines = drift.select(Bronze.CorruptCol).collect()
      .map(_.getString(0)).toSet
    assert(rawLines.exists(_.startsWith("3,13")),
      "the raw line must survive intact in quarantine")
    assert(rawLines.contains(
      "review_id,order_id,product_id,stars,review_text,review_time"),
      "a data row byte-identical to the header must survive in quarantine")

    // signal committed last every wave; an idle restart lands nothing
    val before = (inc.bronzeWave("reviews").currentVersion(),
      inc.waveSignal.currentVersion(),
      inc.quarantine("reviews").currentVersion())
    val q2 = inc.autoLand(rawDir, s"$wh/_ckpt")
    q2.processAllAvailable(); q2.stop()
    assert((inc.bronzeWave("reviews").currentVersion(),
      inc.waveSignal.currentVersion(),
      inc.quarantine("reviews").currentVersion()) == before,
      "an idle restart must land nothing")
  }

  test("streamed survives a first wave missing sources that never landed") {
    val wh = fresh()
    val inc = IncrementalLakehouse(spark, wh)
    val b = Medallion.bronzeSources(rawWaves(0))
    // only two of the seven feeds produce in wave 1 — the others are
    // late or legitimately sparse; the step must not crash-loop on them
    inc.landWave(Map("events" -> b("events"), "sessions" -> b("sessions")), 1L)
    val q = inc.streamed(s"$wh/_ckpt", AsOf, LoadTs)
    q.processAllAvailable()
    assert(inc.eventsClean.read().count() > 0,
      "the landed feed must flow to silver")
    assert(inc.ordersClean.read().count() == 0,
      "a never-landed feed reads as an empty silver, not a crash")
    val gold1 = inc.goldRelations(AsOf, LoadTs)
    assert(gold1("customer_360").count() == 0, "no customers landed yet")
    // the late feeds arrive in wave 2 and the medallion catches up
    inc.landWave(b - "events" - "sessions", 2L)
    q.processAllAvailable(); q.stop()
    assert(inc.ordersClean.read().count() > 0,
      "a late feed's first wave must land normally")
    assert(inc.goldRelations(AsOf, LoadTs)("customer_360").count() > 0)
  }

  test("rebootstrapGold still recovers as the out-of-band escape hatch") {
    val wh = fresh()
    val inc = IncrementalLakehouse(spark, wh)
    stepWaves(inc, rawWaves)
    inc.rebootstrapGold()
    // next wave rebuilds the aggregates from the silvers' snapshots
    val gold = inc.step(attrsWave(Seq(
      ("2", "7", Timestamp.valueOf("2024-01-03 08:59:00"), "web", "ads", "US")),
      Timestamp.valueOf("2024-06-01 00:00:00")), 3L, AsOf, LoadTs)
    assert(rows(gold("customer_360")) == rows(c360Recompute(inc)),
      "post-rebootstrap gold must equal the recompute over current dims")
  }
}
