package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, count, lit, max, min, sum}

import graft.SparkSuite
import graft.ecom.VersionedTable

/** MIN/MAX maintenance in [[IncrementalAgg]]: inserts merge extremes
  * without touching the table; removals mark groups dirty and those
  * groups (only) re-derive extremes from the source head — after every
  * storm the maintained gold equals the full recompute exactly,
  * including the adversarial case where the removed row WAS the
  * extreme. Plus the `prepare` hook: deltas propagate through a
  * row-local transform (static-dimension join + filter) applied
  * uniformly to change frames and recompute scans.
  */
class IncrementalAggMinMaxSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(): String = tempDir("graft-ivmx")

  // silver rows: (id, grp, amt) — amt strictly increasing in id, so the
  // max of a group is always its largest id (easy to delete on purpose)
  private def rows(r: Range): DataFrame =
    r.map(i => (i.toLong, i.toLong % 4L, i.toLong * 10L)).toDF("id", "grp", "amt")

  private def recompute(silver: VersionedTable): Set[Row] =
    silver.read().groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("amt").as("total"),
        min("amt").as("lo"), max("amt").as("hi"))
      .collect().toSet

  private def goldState(gold: VersionedTable): Set[Row] =
    gold.read().select("grp", "n", "total", "lo", "hi").collect().toSet

  private def doRefresh(gold: VersionedTable, silver: VersionedTable) =
    IncrementalAgg.refresh(gold, silver, Seq("grp"), "n",
      Map("total" -> col("amt")),
      mins = Map("lo" -> col("amt")), maxes = Map("hi" -> col("amt")))

  test("append-only windows merge extremes; delete-the-max triggers the bounded recompute") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(rows(0 until 40))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))

    // append-only window: new global maxes arrive by pure merge
    silver.commitAppend(rows(40 until 60))
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))

    // the adversarial case: delete exactly the rows holding group 0's
    // max and group 1's min — stored extremes are no longer attained
    silver.delete(col("id") === 56L || col("id") === 1L)
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
  }

  test("update that LOWERS the max / RAISES the min converges (preimage dirties the group)") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(rows(0 until 20))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")
    assert(doRefresh(gold, silver).isDefined)
    // id 19 holds grp 3's max (190) — rewrite it BELOW the runner-up
    silver.update(col("id") === 19L, Map("amt" -> lit(5L)))
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
    // and an update raising a min
    silver.update(col("id") === 0L, Map("amt" -> lit(999L)))
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
  }

  test("group killed and reborn within one window; new group born dirty") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(rows(0 until 12))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")
    assert(doRefresh(gold, silver).isDefined)
    // one window: kill group 2 entirely, then merge part of it back,
    // plus insert-and-partially-delete a brand-new group 9
    silver.delete(col("grp") === 2L)
    silver.merge(Seq((2L, 2L, 7L), (90L, 9L, 900L), (91L, 9L, 910L))
      .toDF("id", "grp", "amt"), Seq("id"))
    silver.delete(col("id") === 91L)
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
    // a group fully inserted AND fully deleted inside the window never
    // lands
    silver.merge(Seq((200L, 77L, 1L)).toDF("id", "grp", "amt"), Seq("id"))
    silver.delete(col("grp") === 77L)
    assert(doRefresh(gold, silver).isDefined)
    assert(!goldState(gold).exists(_.getLong(0) == 77L))
    assert(goldState(gold) == recompute(silver))
  }

  test("prepare: deltas propagate through a static-dimension join + filter") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    // static dimension: grp -> region (grp 3 unmapped -> filtered out)
    val dim = Seq((0L, "east"), (1L, "east"), (2L, "west")).toDF("grp", "region")
    def prep(df: DataFrame): DataFrame =
      df.join(dim, Seq("grp")).filter(col("amt") >= 0L)
    def refresh() = IncrementalAgg.refresh(gold, silver, Seq("region"), "n",
      Map("total" -> col("amt")), maxes = Map("hi" -> col("amt")),
      prepare = prep)
    def expected: Set[Row] = prep(silver.read()).groupBy("region")
      .agg(count(lit(1)).as("n"), sum("amt").as("total"), max("amt").as("hi"))
      .collect().toSet

    silver.commitAppend(rows(0 until 24))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")
    assert(refresh().isDefined)
    assert(gold.read().select("region", "n", "total", "hi").collect().toSet
      == expected)
    // delete the east max; update a west row below the filter threshold
    // (transforms away -> retracted); merge new rows incl. unmapped grp
    val eastMaxId = prep(silver.read()).filter(col("region") === "east")
      .orderBy(col("amt").desc).select("id").head().getLong(0)
    silver.delete(col("id") === eastMaxId)
    silver.update(col("id") === 2L, Map("amt" -> lit(-5L)))
    silver.merge(Seq((300L, 2L, 77L), (301L, 3L, 5000L))
      .toDF("id", "grp", "amt"), Seq("id"))
    assert(refresh().isDefined)
    assert(gold.read().select("region", "n", "total", "hi").collect().toSet
      == expected)
  }

  test("phantom churn: insert-below-min-then-delete in ONE window must not poison the extreme") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    // group 0: amts {50, 90} -> lo=50, hi=90
    silver.commitAppend(Seq((100L, 0L, 50L), (101L, 0L, 90L)).toDF("id", "grp", "amt"))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")
    assert(doRefresh(gold, silver).isDefined)
    // one window: insert amt=3 (below the stored min), then delete it —
    // the inserted extreme is a PHANTOM; a naive least(stored, insMin)
    // would set lo=3. The threat analysis must scan (remMin < curMin).
    silver.merge(Seq((200L, 0L, 3L)).toDF("id", "grp", "amt"), Seq("id"))
    silver.delete(col("id") === 200L)
    // plus the tie-with-equal-reinsert trap: group 1 {7, 7}; remove one
    // attainer and insert amt=7 again — min stays 7 only because OTHER
    // attainment survives; then remove BOTH and re-add higher
    silver.commitAppend(Seq((300L, 1L, 7L), (301L, 1L, 7L)).toDF("id", "grp", "amt"))
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
    silver.delete(col("id") === 300L)
    silver.merge(Seq((302L, 1L, 7L)).toDF("id", "grp", "amt"), Seq("id"))
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
    silver.delete(col("id").isin(301L, 302L)) // both attainers of 7 gone
    silver.merge(Seq((303L, 1L, 11L)).toDF("id", "grp", "amt"), Seq("id"))
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
  }

  test("strictly-interior removals merge WITHOUT a source scan (threat analysis)") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(rows(0 until 40))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")
    assert(doRefresh(gold, silver).isDefined)
    // update rows whose amt sits strictly INSIDE every group's [lo, hi]
    // (ids 4..7 -> amts 40..70; group extremes are 0..30 and 360..390):
    // preimages threaten nothing, so the refresh must stay correct via
    // the pure merge path — and converge identically
    silver.update(col("id").between(4L, 7L), Map("amt" -> (col("amt") + 1L)))
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
    // and a whole-group delete takes the count-to-zero path (no scan,
    // group vanishes)
    silver.delete(col("grp") === 2L)
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
    assert(!goldState(gold).exists(_.getLong(0) == 2L))
  }

  test("monotone update (dominating same-window insert) defuses the threat — no recompute") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(rows(0 until 12))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")
    assert(doRefresh(gold, silver).isDefined)
    // the streaming-aggregate shape: every window RAISES a group's max
    // (update preimage retracts the stored max, postimage inserts a
    // higher value) and LOWERS another's min. The dominating insert
    // makes the clean least/greatest merge provably exact, so the
    // bounded recompute must never fire — pinned by a poisoned
    // authoritative() that throws if evaluated.
    silver.update(col("id") === 11L, Map("amt" -> lit(500L))) // grp 3 max 110->500
    silver.update(col("id") === 0L, Map("amt" -> lit(-50L))) // grp 0 min 0->-50
    // pin on a TWIN gold (applyChanges has its own txn marker; applying
    // the same window to the refresh-managed gold would double-count)
    val goldPin = VersionedTable(spark, s"$dir/goldpin")
    assert(IncrementalAgg.applyChanges(goldPin,
      silver.readAt(1L).withColumn(VersionedTable.CdcTypeCol, lit("insert")),
      Seq("grp"), "n", Map("total" -> col("amt")),
      mins = Map("lo" -> col("amt")), maxes = Map("hi" -> col("amt")),
      netKeys = Seq("id"), txn = ("spec-mono", 1L),
      authoritative = _ => sys.error("bootstrap recomputed")).isDefined)
    val head = silver.currentVersion().get
    val changes = silver.changeFeed(2L, head)
    assert(IncrementalAgg.applyChanges(goldPin, changes, Seq("grp"), "n",
      Map("total" -> col("amt")),
      mins = Map("lo" -> col("amt")), maxes = Map("hi" -> col("amt")),
      netKeys = Seq("id"), txn = ("spec-mono", head),
      authoritative =
        (_: org.apache.spark.sql.DataFrame) => sys.error("recompute fired for a defused threat")).isDefined)
    assert(goldState(goldPin) == recompute(silver))
    // and the refresh path converges over a longer monotone storm
    (1 to 3).foreach { k =>
      silver.update(col("id") === 11L, Map("amt" -> (col("amt") + 100L)))
      silver.update(col("id") === 0L, Map("amt" -> (col("amt") - 100L)))
      if (k % 2 == 0) {
        assert(doRefresh(gold, silver).isDefined)
        assert(goldState(gold) == recompute(silver), s"diverged at storm $k")
      }
    }
    doRefresh(gold, silver)
    assert(goldState(gold) == recompute(silver))
  }

  test("randomized DML storms always converge to the recompute") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(rows(0 until 50))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")
    assert(doRefresh(gold, silver).isDefined)
    val rnd = new scala.util.Random(13)
    (1 to 6).foreach { round =>
      rnd.nextInt(4) match {
        case 0 => silver.delete(col("id") % (2L + rnd.nextInt(5)) === 0L)
        case 1 => silver.update(col("id") % (2L + rnd.nextInt(4)) === 1L,
          Map("amt" -> (col("amt") * 2L - 500L)))
        case 2 => silver.commitAppend(
          rows(1000 * round until 1000 * round + 10))
        case 3 => silver.merge(
          Seq((round * 7L, round % 4L, round * 1000L)).toDF("id", "grp", "amt"),
          Seq("id"))
      }
      if (round % 2 == 0) { // refresh every other round: multi-version windows
        assert(doRefresh(gold, silver).isDefined)
        assert(goldState(gold) == recompute(silver), s"diverged at round $round")
      }
    }
    doRefresh(gold, silver)
    assert(goldState(gold) == recompute(silver))
  }
}
