package graft.streaming

import org.apache.spark.sql.functions.{col, count, min, sum}

import graft.SparkSuite
import graft.ecom.VersionedTable
import graft.ops.IncrementalAgg

/** Continuous MV maintenance: the CDC stream as change SIGNAL, each
  * micro-batch one self-windowing [[IncrementalAgg.refresh]] — the
  * gold aggregate follows the silver table through a DML storm without
  * anyone calling refresh by hand, and restarts/replays are marker
  * no-ops.
  */
class MvMaintainSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(name: String): String =
    tempDir(name)

  test("gold follows silver through a DML storm; restart is a no-op") {
    val dir = fresh("graft-mv-maintain")
    val silver = VersionedTable(spark, s"$dir/silver")
    val gold = VersionedTable(spark, s"$dir/gold")
    silver.commitAppend(Seq((1L, "a", 5L), (2L, "a", 7L), (3L, "b", 1L),
      (4L, "b", 9L)).toDF("id", "k", "v"))
    silver.setTableProperty(VersionedTable.CdcEnabledProp, "true")

    def doRefresh(): Unit = IncrementalAgg.refresh(gold, silver,
      keys = Seq("k"), countCol = "n", sums = Map("s" -> col("v")),
      mins = Map("v_min" -> col("v")), netKeys = Seq("id")): Unit
    def recompute(): Set[(String, Long, Long, Long)] = silver.read()
      .groupBy("k").agg(count(lit1).as("n"), sum("v").as("s"),
        min("v").as("v_min"))
      .as[(String, Long, Long, Long)].collect().toSet
    def goldRows(): Set[(String, Long, Long, Long)] = gold.read()
      .select("k", "n", "s", "v_min")
      .as[(String, Long, Long, Long)].collect().toSet

    def run(): Unit = {
      val q = Sinks.mvMaintain(spark, silver, s"$dir/ckpt")(doRefresh)
      q.processAllAvailable(); q.stop()
    }

    run() // bootstrap trigger
    assert(goldRows() == recompute(), "bootstrap must equal full recompute")

    // the storm, mid-stream lifecycle: delete a group's last row path,
    // move a min (dirty-group recompute), append a new group
    val storm = () => {
      silver.delete(col("id") === 3L) // b loses its min row
      silver.update(col("id") === 1L, Map("v" -> (col("v") + 100L)))
      silver.commitAppend(Seq((5L, "c", 2L)).toDF("id", "k", "v"))
    }
    storm()
    run() // triggers fire per pending version; refresh self-windows
    assert(goldRows() == recompute(), "post-storm gold must equal recompute")

    // restart with nothing new: the trigger replays/fires, the marker
    // makes every refresh a no-op — same gold version, same rows
    val before = gold.currentVersion()
    run()
    assert(gold.currentVersion() == before,
      "an idle restart must not land a new gold version")
    assert(goldRows() == recompute())
  }

  test("mvMaintainStored drives the maintainer from the view's own stored spec") {
    val dir = fresh("graft-mv-stored")
    val silver = VersionedTable(spark, s"$dir/silver")
    val view = VersionedTable(spark, s"$dir/view")
    silver.commitAppend(Seq((1L, "a", 5L), (2L, "a", 7L), (3L, "b", 1L))
      .toDF("id", "k", "v"))
    silver.setTableProperty(VersionedTable.CdcEnabledProp, "true")

    // no spec yet: the maintainer refuses by name
    val e = intercept[IllegalArgumentException](
      Sinks.mvMaintainStored(spark, view, s"$dir/ckpt"))
    assert(e.getMessage.contains("create_mv"), e.getMessage)

    val spec = graft.ops.MvSpec(s"$dir/silver", Seq("k"), "n",
      sums = Seq("s" -> "v"), mins = Seq("v_min" -> "v"),
      maxes = Nil, netKeys = Seq("id"))
    spec.refresh(spark, view) // bootstrap
    graft.ops.MvSpec.store(view, spec)

    silver.delete(col("id") === 3L)
    silver.commitAppend(Seq((4L, "c", 2L)).toDF("id", "k", "v"))
    val q = Sinks.mvMaintainStored(spark, view, s"$dir/ckpt")
    q.processAllAvailable(); q.stop()
    val recompute = silver.read().groupBy("k")
      .agg(count(lit1).as("n"), sum("v").as("s"), min("v").as("v_min"))
      .as[(String, Long, Long, Long)].collect().toSet
    assert(view.read().select("k", "n", "s", "v_min")
      .as[(String, Long, Long, Long)].collect().toSet == recompute,
      "the stored-spec maintainer must track the recompute")
  }

  private def lit1 = org.apache.spark.sql.functions.lit(1)
}
