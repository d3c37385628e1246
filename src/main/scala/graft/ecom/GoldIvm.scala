package graft.ecom

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.IncrementalAgg

/** The reference's gold models maintained INCREMENTALLY from the
  * change data feed of the versioned silver tables — what
  * `03_gold/03_gold_aggregate.py` recomputes from a full silver scan
  * every run, this refreshes in O(rows changed): the payoff of the
  * versioned format + CDF + [[IncrementalAgg]] on the reference's own
  * workload, not just on synthetic aggregates (qv15).
  *
  * Decomposition — each gold model splits into its IVM-maintainable
  * aggregate core(s), persisted as versioned tables under
  * `<warehouseDir>/_mv/`, plus the compose step that lives in [[Gold]]
  * (`Gold.composeProductMetrics`, `composeSessionMetrics`,
  * `composeCustomer360`): the relations here only project the maintained
  * aggregates into the shape the recompute's aggregation produces and
  * call it, so the reference's final select list is written once:
  *
  *  - '''product_metrics''' (`03_gold_aggregate.py:38-110`): three
  *    maintained aggregates — event metrics (conditional view/cart
  *    counts per date×product), order metrics (revenue/unit sums per
  *    date×product), review metrics (rating sum+counts per product;
  *    AVG derives as sum/count at compose, the standard IVM rewrite) —
  *    composed with the reference's FULL OUTER + dim joins and
  *    zero-fill coalesces. The compose joins aggregate-sized inputs,
  *    never the fact tables.
  *  - '''session_metrics''' (`:163-211`): the level-1 rollup below already
  *    has the per-session aggregation's columns.
  *  - '''customer_360''' (`:226-272`): a TWO-LEVEL cascade. Level 1
  *    maintains the per-session rollup of events (min/max timestamps,
  *    purchase counts, exact-decimal revenue) as a CDC-ENABLED
  *    versioned table; level 2 consumes LEVEL 1's OWN change feed —
  *    `countDistinct(session_id)` becomes a plain row count over the
  *    one-row-per-session level-1 view, and the session attrs join +
  *    duration filter ride the `prepare` hook (delta propagation
  *    through a static dimension), built from [[Gold]]'s start-ts,
  *    duration and UNKNOWN expressions. `first/last_active_ts` are min/max
  *    under session deletes — exactly [[IncrementalAgg]]'s bounded
  *    dirty-group recompute.
  *
  * Contracts (all standard for materialized-view maintenance):
  *  - sources must be CDF-enabled [[VersionedTable]]s; dimension inputs
  *    (products, sessions attrs, customers) are treated as STATIC
  *    between refreshes — a dimension change requires re-bootstrap
  *    (fresh `_mv` dirs), exactly as Delta MV engines document;
  *  - the sessions attrs relation must be unique per session_id (the
  *    adapter data is; a duplicate would fan the left join out);
  *  - merge keys cannot be null, so nullable grouping keys (event_date,
  *    session_id — the reference groups nulls like any key) are mapped
  *    through a NUL sentinel and recovered via a constant-per-group
  *    min() column: no rows are dropped, no key collides (NUL
  *    never occurs in cleaned ids or date strings).
  *
  * Numeric discipline: money sums maintain as DECIMAL(18,2) inside the
  * MVs (order-independent, exactly re-playable under any window
  * split) and cast to DOUBLE only on the way into the compose, which
  * is the same value `Exact.dsum` produces in the full-recompute gold.
  */
final case class GoldIvm(spark: SparkSession, warehouseDir: String) {

  import GoldIvm.NullKey

  private def mv(name: String): VersionedTable =
    VersionedTable(spark, s"$warehouseDir/_mv/$name")

  /** view/cart counts per (event_date, product_id) over events_clean. */
  val eventMetricsMv: VersionedTable = mv("event_metrics")
  /** revenue/unit sums per (order_date, product_id) over order_items_clean. */
  val orderMetricsMv: VersionedTable = mv("order_metrics")
  /** rating sum + counts per product_id over reviews_clean. */
  val reviewMetricsMv: VersionedTable = mv("review_metrics")
  /** per-session event rollup (level 1 of customer_360) — CDC-enabled,
    * because level 2 consumes ITS feed. session_id is BLOOM-indexed
    * (recorded per file at commit, atomic with the data): the
    * steady-wave re-attribution gate answers "does any inserted attrs
    * session already have materialized contributions?" from the
    * MANIFEST blooms alone instead of scanning the rollup — 2^18 bits
    * holds ~25k sessions per file at <1e-4 false positives; a
    * saturated bloom only costs the fallback probe, never correctness.
    */
  val sessionRollupMv: VersionedTable = VersionedTable(
    spark, s"$warehouseDir/_mv/session_rollup",
    bloomColumns = Seq("session_id"), bloomBits = 1 << 18)
  /** per-customer rollup (level 2 of customer_360). */
  val customerRollupMv: VersionedTable = mv("customer_rollup")

  // sentinel-keyed grouping: a null key round-trips as (key_col = NUL,
  // real column recovered via min() — constant within its group)
  private def keyed(c: String): Column =
    coalesce(col(c).cast(StringType), lit(NullKey))

  // ---- product_metrics --------------------------------------------------

  /** One incremental pass for each of the three product_metrics
    * aggregates. Returns the MV versions landed (None = already
    * current). Bootstraps on first call. The three MVs maintain
    * INDEPENDENT tables from independent sources, so their refreshes
    * run concurrently — Spark's scheduler interleaves the three job
    * chains, hiding each other's driver-side commit latency (the
    * standard maintenance-fleet shape).
    */
  def refreshProductMetrics(eventsClean: VersionedTable,
      orderItemsClean: VersionedTable,
      reviewsClean: VersionedTable): Seq[Option[Long]] = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    Await.result(
      Future.sequence(refreshProductMetricsTasks(
        eventsClean, orderItemsClean, reviewsClean)
        .map(t => Future(t()))), Duration.Inf)
  }

  private def refreshProductMetricsTasks(eventsClean: VersionedTable,
      orderItemsClean: VersionedTable,
      reviewsClean: VersionedTable): Seq[() => Option[Long]] = Seq(
    // event metrics (`03_gold_aggregate.py:48-56`): conditional counts
    () => IncrementalAgg.refresh(eventMetricsMv, eventsClean,
      keys = Seq("date_key", "product_id"), countCol = "n_events",
      sums = Map(
        "view_count" -> when(col("event_type") === "page_view", 1L).otherwise(0L),
        "cart_count" -> when(col("event_type") === "add_to_cart", 1L).otherwise(0L)),
      mins = Map("event_date" -> col("event_date")),
      prepare = _.filter(col("product_id").isNotNull)
        .withColumn("date_key", keyed("event_date")),
      netKeys = Seq("event_id")),
    // order metrics (`:59-67`): exact-decimal revenue + unit sums
    () => IncrementalAgg.refresh(orderMetricsMv, orderItemsClean,
      keys = Seq("date_key", "product_id"), countCol = "n_items",
      sums = Map(
        "total_revenue" -> col("line_total_usd").cast(DecimalType(18, 2)),
        "purchase_count" -> col("quantity").cast(LongType)),
      mins = Map("event_date" -> col("order_date")),
      prepare = _.filter(col("product_id").isNotNull)
        .withColumn("date_key", keyed("order_date")),
      netKeys = Seq("order_id", "product_id")),
    // review metrics (`:70-74`): AVG(rating) maintains as
    // (rating_sum, rating_cnt) — null ratings contribute to neither
    () => IncrementalAgg.refresh(reviewMetricsMv, reviewsClean,
      keys = Seq("product_id"), countCol = "review_count",
      sums = Map(
        "rating_sum" -> coalesce(col("rating").cast(LongType), lit(0L)),
        "rating_cnt" -> when(col("rating").isNotNull, 1L).otherwise(0L)),
      prepare = _.filter(col("product_id").isNotNull)))

  /** The product_metrics gold relation: the maintained aggregates in
    * [[Gold.composeProductMetrics]]'s input shape (the fact tables are
    * never touched), composed by it.
    */
  def productMetrics(productsClean: DataFrame): DataFrame = {
    val em = eventMetricsMv.read().select(
      col("date_key"), col("product_id"), col("event_date").as("_ed_e"),
      col("view_count"), col("cart_count"))
    val om = orderMetricsMv.read().select(
      col("date_key"), col("product_id"), col("event_date").as("_ed_o"),
      col("total_revenue"), col("purchase_count"))
    val rm = reviewMetricsMv.read().select(
      col("product_id"),
      // AVG rewrite: exact sum over non-null count (null when none —
      // the compose's zero-fill then applies, as it does to avg() itself)
      when(col("rating_cnt") > 0L,
        col("rating_sum").cast(DoubleType) / col("rating_cnt")).as("avg_rating"),
      col("review_count"))
    Gold.composeProductMetrics(
      em.join(om, Seq("date_key", "product_id"), "full_outer").select(
        coalesce(col("_ed_e"), col("_ed_o")).as("event_date"), col("product_id"),
        col("view_count"), col("cart_count"), col("purchase_count"),
        col("total_revenue").cast(DoubleType).as("total_revenue")),
      productsClean, rm)
  }

  // ---- customer_360 (two-level) -----------------------------------------

  /** customer_360's level-2 aggregate spec — ONE definition shared by
    * the feed refresh and the dimension re-attribution, so the two
    * maintenance paths cannot drift.
    */
  private object L2 {
    val keys: Seq[String] = Seq("customer_id")
    val countCol: String = "total_sessions"
    val sums: Map[String, Column] = Map(
      "customer_total_revenue" -> col("session_revenue"),
      "total_orders" -> col("has_purchased"))
    val mins: Map[String, Column] = Map("first_active_ts" -> col("session_start_ts"))
    val maxes: Map[String, Column] = Map("last_active_ts" -> col("session_end_ts"))
    val netKeys: Seq[String] = Seq("session_key")
  }

  /** The session-attrs dimension in level-2's prepare shape. */
  private def attrsFor(sessionsClean: DataFrame): DataFrame =
    sessionsClean.select(
      col("session_id"), col("customer_id").as("_attr_customer_id"),
      col("session_start_ts").as("_attr_start_ts"))

  /** Level-2 prepare: the reference's attrs join + start-ts coalesce +
    * duration filter + UNKNOWN fallback (`03_gold_aggregate.py:
    * 187-209`, the expressions [[Gold.composeSessionMetrics]] uses),
    * applied uniformly to level-1 change rows and recompute scans — the
    * delta-through-static-dimension rule.
    */
  private def sessionToCustomer(attrs: DataFrame)(df: DataFrame): DataFrame = {
    val start = Gold.sessionStartTs(col("_attr_start_ts"))
    df.join(attrs, Seq("session_id"), "left")
      .withColumn("session_start_ts", start)
      .withColumn("session_duration_sec", Gold.sessionDurationSec(start))
      .filter(Gold.validDuration)
      .withColumn("customer_id", Gold.orUnknown(col("_attr_customer_id")))
  }

  /** One incremental pass for the customer_360 cascade: level 1
    * (events → per-session rollup), then level 2 (level-1 feed → per-
    * customer rollup). Returns (level1, level2) versions landed.
    */
  def refreshCustomer360(eventsClean: VersionedTable,
      sessionsClean: DataFrame): (Option[Long], Option[Long]) = {
    val bootstrap = sessionRollupMv.currentVersion().isEmpty
    // heal a crash between the level-1 bootstrap commit and the CDC
    // property commit below: without this, the next level-1 merge would
    // commit feed-less and every future level-2 refresh of that window
    // would refuse (recoverable only by re-bootstrap). Idempotent —
    // one manifest read per refresh, a metadata commit only when absent.
    if (!bootstrap) sessionRollupMv.ensureChangeFeed()
    // level 1: the session rollup of `Gold.sessionMetrics`'s agg
    // (`03_gold_aggregate.py:163-176`) — session_id recovered from the
    // sentinel key via the constant-per-group min()
    val l1 = IncrementalAgg.refresh(sessionRollupMv, eventsClean,
      keys = Seq("session_key"), countCol = "total_events",
      sums = Map(
        "session_revenue" -> when(col("event_type") === "purchase",
          col("amount_usd")).otherwise(lit(0.0)).cast(DecimalType(18, 2)),
        "has_purchased" -> when(col("event_type") === "purchase", 1L).otherwise(0L)),
      mins = Map(
        "session_id" -> col("session_id"),
        "session_start_ts_events" -> col("event_ts"),
        "session_date" -> col("event_date")),
      maxes = Map("session_end_ts" -> col("event_ts")),
      prepare = _.withColumn("session_key", keyed("session_id")),
      netKeys = Seq("event_id"))
    // level 2 consumes level 1's feed: enable CDF right after the
    // bootstrap append so every DML version it ever takes is recorded
    if (bootstrap) sessionRollupMv.ensureChangeFeed()
    val prep = sessionToCustomer(attrsFor(sessionsClean)) _
    val l2 = IncrementalAgg.refresh(customerRollupMv, sessionRollupMv,
      keys = L2.keys, countCol = L2.countCol, sums = L2.sums,
      mins = L2.mins, maxes = L2.maxes,
      prepare = prep,
      netKeys = L2.netKeys,
      boundedAuth = Some((head, dirty) =>
        boundedCustomerAuth(head, sessionsClean)(dirty)))
    (l1, l2)
  }

  /** Bounded dimension-change repair for customer_360 — the classic
    * delta rule for a dimension update under an aggregate that joined
    * it: for every session whose attrs row changed, RETRACT its level-1
    * contribution as prepared under the OLD attrs snapshot and RE-ADD
    * it under the NEW one (a first-delivered attrs row retracts the
    * UNKNOWN-attributed contribution the left-join miss produced; a
    * deleted one re-adds it). The retract/re-add pair rides
    * [[IncrementalAgg.applyChanges]] as update pre/post images sharing
    * a commit version, so sessions whose attrs VALUES did not actually
    * change (audit-only re-deliveries) net out before they cost
    * anything, a customer-migrating change correctly moves count, sums
    * AND extremes between groups, and a retired extreme triggers the
    * same bounded dirty-group recompute facts get. Cost: O(changed
    * sessions) + O(dirty customers) — never O(rollup), which is what
    * replaces the re-bootstrap this event used to force.
    *
    * Level-1 rows read AT THE VERSION the level-2 marker records — the
    * snapshot whose contributions are actually materialized (the head
    * may already hold level-1 changes a crashed run never propagated).
    *
    *  - `touched`: one `session_id` column, the sessions whose attrs
    *    changed (wave-bounded — broadcast);
    *  - `attrsBefore`/`attrsAfter`: the attrs DIMENSION restricted to
    *    the touched sessions, as of the last attributed version and the
    *    target version;
    *  - `attrsAfterFull`: the FULL attrs dimension at the target
    *    version — the dirty-customer recompute must re-attribute every
    *    session of a dirty customer, not only the touched ones;
    *  - `txn`: (cursor app, attrs version) — exactly-once; a replayed
    *    wave is a marker no-op.
    */
  def reattributeCustomer360(touched: DataFrame, attrsBefore: DataFrame,
      attrsAfter: DataFrame, attrsAfterFull: DataFrame,
      txn: (String, Long)): Option[Long] = {
    if (customerRollupMv.currentVersion().isEmpty) return None
    if (customerRollupMv.currentBatchId(txn._1).exists(_ >= txn._2)) return None
    val applied = customerRollupMv
      .currentBatchId(IncrementalAgg.appFor(sessionRollupMv))
      .getOrElse(return None) // no contributions materialized yet
    // the generic retract/re-add core ([[IncrementalAgg.reattribute]]):
    // it persists the bounded fact frame, advances the cursor with an
    // empty marker commit when nothing is materialized (the common
    // wave shape — attrs arrive at visit start, before any event
    // reaches the rollup), and nets value-unchanged pairs by L2's row
    // key before they cost anything
    val level1 = sessionRollupMv.readAt(applied)
      .join(broadcast(touched.select("session_id")), Seq("session_id"), "left_semi")
    IncrementalAgg.reattribute(customerRollupMv, level1,
      attrs => sessionToCustomer(attrsFor(attrs)),
      dimBefore = attrsBefore, dimAfter = attrsAfter,
      keys = L2.keys, countCol = L2.countCol, sums = L2.sums,
      mins = L2.mins, maxes = L2.maxes, netKeys = L2.netKeys, txn = txn,
      authoritative = boundedCustomerAuth(applied, attrsAfterFull))
  }

  /** Bounded post-change source for level 2's dirty-customer recompute.
    * The customer key is CREATED by the attribution join, so the
    * recompute's dirty-key semi-join cannot push below it — naively the
    * recompute re-joins the FULL rollup with the FULL dimension to then
    * keep a handful of customers. But the sessions attributed to a
    * dirty customer are exactly the dimension rows whose STORED
    * customer_id is dirty (a scan-side probe on `attrs`), and the
    * attribution of those sessions only needs those same dimension rows
    * — so BOTH join sides restrict to that session set first:
    * O(dirty customers' sessions), never O(rollup). UNKNOWN-attributed
    * sessions have no such dimension row (left-join miss or stored
    * null), so when UNKNOWN itself is dirty — a formerly-unattributed
    * session's extreme retired — fall back to the full join; the
    * recompute's own semi-join still bounds the aggregation.
    *
    * Gated on the rollup's manifest-recorded byte size (zero filesystem
    * calls): under [[GoldIvm.BoundedAuthMinBytes]] the full join is the
    * cheaper PLAN (the bounding trades a small shuffle for an extra
    * dimension scan + probe stages — pure overhead when the whole
    * rollup shuffles in one wave), so small tables keep the naive
    * shape; a table large enough to carry a stats sidecar instead of
    * inline sizes is by construction past the threshold.
    */
  private def boundedCustomerAuth(rollupVersion: Long, attrs: DataFrame)(
      dirty: DataFrame): DataFrame = {
    val full = sessionToCustomer(attrsFor(attrs)) _
    def level1At = sessionRollupMv.readAt(rollupVersion)
    val meta = sessionRollupMv.snapshotMeta(rollupVersion)
    val minBytes = spark.conf
      .getOption(GoldIvm.BoundedAuthMinBytesKey).map(_.toLong)
      .getOrElse(GoldIvm.BoundedAuthMinBytes)
    // a legacy manifest may record files with NO inline sizes and no
    // sidecar — unknown size is NOT small (assuming small would keep a
    // large rollup on the naive full-join recompute silently)
    val small = meta.statsSidecar.isEmpty &&
      (meta.files.isEmpty || meta.files.forall(meta.sizes.contains)) &&
      meta.sizes.valuesIterator.map(_._1).sum < minBytes
    if (small) return full(level1At)
    val unknownDirty = dirty
      .filter(col("customer_id").isNull || col("customer_id") === Gold.Unknown)
      .limit(1).count() > 0
    if (unknownDirty) full(level1At)
    else {
      val attrsDirty = attrs
        .join(dirty.select("customer_id"), Seq("customer_id"), "left_semi")
      val sess = attrsDirty.select("session_id")
      // attrs is unique per session_id, so joining the bounded rollup
      // against the dirty dimension slice attributes those sessions
      // exactly as the full join would
      sessionToCustomer(attrsFor(attrsDirty))(
        level1At.join(sess, Seq("session_id"), "left_semi"))
    }
  }

  /** The session_metrics gold relation: [[Gold.composeSessionMetrics]]
    * over the maintained level-1 rollup, which already carries the
    * per-session aggregation's columns. `sessionsAttrs` must be unique
    * per session_id (the [[IncrementalLakehouse]] maintains exactly
    * that table).
    */
  def sessionMetrics(sessionsAttrs: DataFrame): DataFrame =
    Gold.composeSessionMetrics(sessionRollupMv.read(), sessionsAttrs)

  /** The customer_360 gold relation: the maintained level-2 rollup in
    * [[Gold.composeCustomer360]]'s input shape, composed by it.
    */
  def customer360(customersClean: DataFrame, asOf: LocalDate,
      loadTs: Timestamp): DataFrame =
    Gold.composeCustomer360(customersClean,
      customerRollupMv.read().select(
        col("customer_id"),
        col("customer_total_revenue").cast(DoubleType).as("customer_total_revenue"),
        col("total_orders"), col("total_sessions"),
        col("first_active_ts"), col("last_active_ts")),
      asOf, loadTs)
}

object GoldIvm {
  /** Sentinel standing in for a NULL grouping key inside an MV's merge
    * key column (merge keys cannot be null). NUL occurs in no
    * cleaned id and no date string; the real (nullable) value is
    * recovered from the constant-per-group companion column.
    */
  val NullKey: String = "\u0000"

  /** Below this rollup size (manifest-recorded bytes) the dirty-group
    * recompute keeps the plain full-join plan: the whole rollup
    * shuffles in one stage wave, so the bounded shape's extra scan and
    * probe stages are pure overhead. 1 GiB is far above any test/bench
    * table and far below any table whose fact-x-dimension shuffle
    * hurts a cluster.
    */
  val BoundedAuthMinBytes: Long = 1L << 30

  /** Runtime override of [[BoundedAuthMinBytes]] (a LONG, bytes) — the
    * spec seam that forces the bounded shape onto toy tables, and the
    * operator knob for clusters whose shuffle/scan cost ratio differs.
    */
  val BoundedAuthMinBytesKey: String = "graft.ivm.boundedAuthMinBytes"
}
