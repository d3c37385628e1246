package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit, sum}

import graft.SparkSuite
import graft.ecom.VersionedTable

/** Incremental view maintenance over the change data feed: after any
  * mix of appends/deletes/updates/merges on the source, `refresh`
  * brings the gold aggregate to EXACTLY the full-recompute state while
  * reading only the changed window; groups vanish when their last row
  * does; replays and no-op refreshes commit nothing.
  */
class IncrementalAggSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(): String = tempDir("graft-ivm")

  // silver rows: (id, grp, amt); gold: grp -> (n, total)
  private def rows(r: Range): DataFrame =
    r.map(i => (i.toLong, i.toLong % 5L, i.toLong * 10L)).toDF("id", "grp", "amt")

  private def recompute(silver: VersionedTable): Set[(Long, Long, Long)] =
    silver.read().groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("amt").as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def goldState(gold: VersionedTable): Set[(Long, Long, Long)] =
    gold.read().select("grp", "n", "total")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  private def doRefresh(gold: VersionedTable, silver: VersionedTable) =
    IncrementalAgg.refresh(gold, silver, Seq("grp"), "n",
      Map("total" -> col("amt")))

  test("bootstrap + DML rounds converge to the full recompute; groups die with their last row") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(rows(0 until 40))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")

    // bootstrap: full snapshot as inserts, marker at the silver head
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
    assert(gold.currentBatchId(IncrementalAgg.appFor(silver)).contains(2L))

    // DML storm: delete part of one group, update another, merge in new
    silver.delete(col("id") % 10L === 3L)
    silver.update(col("id") < 5L, Map("amt" -> (col("amt") + 100L)))
    silver.merge(Seq((100L, 7L, 1L), (2L, 2L, 0L)).toDF("id", "grp", "amt"),
      Seq("id")) // insert a NEW group (7) + update a row
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))

    // kill group 7 entirely: its gold row must VANISH (count-to-zero)
    silver.delete(col("grp") === 7L)
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
    assert(!goldState(gold).exists(_._1 == 7L))

    // refresh with nothing new: no commit, marker unchanged
    val before = gold.versions()
    assert(doRefresh(gold, silver).isEmpty)
    assert(gold.versions() == before)
  }

  test("a pre-populated gold WITHOUT a marker refuses (no silent double-count)") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(rows(0 until 10))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")
    gold.commitAppend(Seq((0L, 5L, 100L)).toDF("grp", "n", "total")) // foreign rows
    val e = intercept[IllegalArgumentException](doRefresh(gold, silver))
    assert(e.getMessage.contains("no") && e.getMessage.contains("marker"))
  }

  test("a zero-net window (update that changes nothing) commits no gold version") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(rows(0 until 10))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")
    assert(doRefresh(gold, silver).isDefined)
    // pre and post images cancel exactly: amt -> amt + 0
    silver.update(col("id") < 5L, Map("amt" -> (col("amt") + 0L)))
    val before = goldState(gold)
    doRefresh(gold, silver) // may land an empty merge or skip — state must hold
    assert(goldState(gold) == before)
    assert(goldState(gold) == recompute(silver))
    // and the marker still advanced past the window (no rescan forever)
    assert(gold.currentBatchId(IncrementalAgg.appFor(silver))
      .contains(silver.currentVersion().get))
  }

  test("update moving rows BETWEEN groups shifts both groups' counts and sums") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(rows(0 until 20))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")
    assert(doRefresh(gold, silver).isDefined)
    // group migration: preimage decrements grp 1, postimage increments grp 0
    silver.update(col("grp") === 1L, Map("grp" -> lit(0L)))
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
    assert(!goldState(gold).exists(_._1 == 1L), "migrated-away group vanishes")
  }

  test("continuous maintenance: the CDC stream drives refresh per trigger") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(rows(0 until 30))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")

    // the stream is the SCHEDULER; refresh stays the one maintenance
    // entry (its own marker keeps exactly-once even if a trigger
    // replays, and a batch carrying several versions applies as one)
    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .load(silver.tableDir)
        .writeStream.foreachBatch { (_: org.apache.spark.sql.Dataset[
          org.apache.spark.sql.Row], _: Long) =>
          doRefresh(gold, silver): Unit
        }
        .option("checkpointLocation", s"$dir/ckpt").start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(goldState(gold) == recompute(silver))
    silver.delete(col("grp") === 2L)
    silver.update(col("id") < 3L, Map("amt" -> (col("amt") + 7L)))
    run()
    assert(goldState(gold) == recompute(silver))
    assert(!goldState(gold).exists(_._1 == 2L))
    // replayed trigger: marker blocks a double-apply
    val before = gold.versions()
    run()
    assert(gold.versions() == before)
  }

  test("incremental refresh reads the window, not the table (many-version source)") {
    val dir = fresh()
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(rows(0 until 10))
    silver.setTableProperty("graft.enableChangeDataFeed", "true")
    (1 to 8).foreach(i => silver.commitAppend(rows(i * 10 until i * 10 + 10)))
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
    // one more DML version; the refresh window is exactly [head, head]
    val lastApplied = gold.currentBatchId(IncrementalAgg.appFor(silver)).get
    silver.delete(col("id") === 0L)
    assert(silver.currentVersion().get == lastApplied + 1L,
      "window is the single new version")
    assert(doRefresh(gold, silver).isDefined)
    assert(goldState(gold) == recompute(silver))
  }
}
