package graft.ecom

import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSuite

/** Pins column mapping on [[VersionedTable]] (Delta's rename/drop
  * without rewrite): renames and drops are metadata-only (no data file
  * touched), files keep physical names and reads alias them back,
  * appends after a rename write physically-consistent files, time
  * travel keeps per-version logical names, tombstones block column
  * rebirth that would resurrect orphaned data, and configuration
  * columns / referenced constraints refuse the change.
  */
class VersionedColmapSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-vtcolmap")

  private def table(): VersionedTable = {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 30L, "c"))
      .toDF("id", "score", "tag"))
    vt
  }

  test("rename is metadata-only; reads alias the physical column back") {
    val vt = table()
    val before = vt.read().inputFiles.toSet
    vt.renameColumn("score", "points")
    assert(vt.read().inputFiles.toSet == before, "no data file may be rewritten")
    assert(vt.read().columns.toSeq == Seq("id", "points", "tag"))
    assert(vt.read().select("points").as[Long].collect().sorted.toSeq == Seq(10L, 20L, 30L))
    // time travel: v1 still shows the old logical name
    assert(vt.readAt(1L).columns.toSeq == Seq("id", "score", "tag"))
    assert(vt.history().map(_.op) == Seq("overwrite", "renameColumn"))
  }

  test("appends after a rename write physical names; all epochs read as one") {
    val vt = table()
    vt.renameColumn("score", "points")
    vt.commitAppend(Seq((4L, 40L, "d")).toDF("id", "points", "tag"))
    assert(vt.read().select("points").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 30L, 40L))
    // COW ops keep working across the mapping
    vt.update(col("points") === 20L, Map("points" -> lit(21L)))
    vt.delete(col("points") === 40L)
    assert(vt.read().select("points").as[Long].collect().sorted.toSeq ==
      Seq(10L, 21L, 30L))
    // rename again: physical stays the original birth name
    vt.renameColumn("points", "pts")
    assert(vt.read().select("pts").as[Long].collect().sorted.toSeq ==
      Seq(10L, 21L, 30L))
  }

  test("a new column may not collide with a live physical name or tombstone") {
    val vt = table()
    vt.renameColumn("score", "points")
    // "score" is still the physical name under "points": rebirth blocked
    val ex = intercept[IllegalArgumentException] {
      vt.commitAppend(Seq((5L, 50L, "e", 1L)).toDF("id", "points", "tag", "score"))
    }
    assert(ex.getMessage.contains("physical name"))
    // and renaming something else onto it is blocked too
    intercept[IllegalArgumentException] { vt.renameColumn("tag", "score") }
    // dropColumn tombstones its physical name
    vt.dropColumn("points")
    assert(vt.read().columns.toSeq == Seq("id", "tag"))
    intercept[IllegalArgumentException] {
      vt.commitAppend(Seq((6L, "f", 7L)).toDF("id", "tag", "score"))
    }
    // an unrelated new column is fine
    vt.commitAppend(Seq((7L, "g", 9L)).toDF("id", "tag", "rank"))
    assert(vt.read().columns.toSeq == Seq("id", "tag", "rank"))
    // time travel still shows the dropped column's data
    assert(vt.readAt(2L).select("points").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 30L))
  }

  test("renaming back to the birth name is the safe identity-restoring inverse") {
    val vt = table()
    vt.renameColumn("score", "points")
    vt.renameColumn("points", "score")
    assert(vt.read().columns.toSeq == Seq("id", "score", "tag"))
    assert(vt.read().select("score").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 30L))
    // and a fresh column named after ANOTHER column's physical stays blocked
    vt.renameColumn("score", "points")
    intercept[IllegalArgumentException] { vt.renameColumn("tag", "score") }
  }

  test("drop is metadata-only and restore resurrects the column") {
    val vt = table()
    val before = vt.read().inputFiles.toSet
    vt.dropColumn("score")
    assert(vt.read().inputFiles.toSet == before)
    assert(vt.read().columns.toSeq == Seq("id", "tag"))
    vt.restore(1L)
    assert(vt.read().select("score").as[Long].collect().sorted.toSeq ==
      Seq(10L, 20L, 30L))
  }

  test("configuration columns and constrained columns refuse rename/drop") {
    val dir = freshDir()
    val vt = VersionedTable(spark, dir, statsColumns = Seq("id"))
    vt.commitOverwrite(Seq((1L, 10L)).toDF("id", "score"))
    intercept[IllegalArgumentException] { vt.renameColumn("id", "key") }
    intercept[IllegalArgumentException] { vt.dropColumn("id") }
    vt.addCheckConstraint("score_nonneg", "score >= 0")
    val ex = intercept[IllegalArgumentException] { vt.renameColumn("score", "points") }
    assert(ex.getMessage.contains("score_nonneg"))
    intercept[IllegalArgumentException] { vt.dropColumn("score") }
    vt.dropCheckConstraint("score_nonneg")
    vt.renameColumn("score", "points")
    assert(vt.read().columns.toSeq == Seq("id", "points"))
  }

  test("overwrite resets mapping and tombstones with the new schema") {
    val vt = table()
    vt.renameColumn("score", "points")
    vt.dropColumn("tag")
    // overwrite replaces content wholesale: old physicals are irrelevant
    vt.commitOverwrite(Seq((9L, "t", 5L)).toDF("id", "tag", "score"))
    assert(vt.read().columns.toSeq == Seq("id", "tag", "score"))
    assert(vt.read().select("score").as[Long].collect().toSeq == Seq(5L))
    // and a fresh rename works from the clean slate
    vt.renameColumn("score", "points")
    assert(vt.read().select("points").as[Long].collect().toSeq == Seq(5L))
  }

  test("rename composes with deletion vectors and stats-range reads") {
    val vt = VersionedTable(spark, freshDir(), statsColumns = Seq("id"))
    vt.commitOverwrite(spark.range(0, 1000).toDF("id")
      .withColumn("v", col("id") * 7L).repartitionByRange(4, col("id")))
    vt.deleteMoR(col("v") === 70L)
    vt.renameColumn("v", "val")
    assert(vt.read().filter(col("val") === 70L).count() == 0, "DV applies post-rename")
    assert(vt.readRange("id", 10L, 20L).select("val").as[Long].collect().sorted.toSeq ==
      (11L to 20L).map(_ * 7), "range read post-rename: id=10's row is DV-deleted")
  }

  test("a column physically named _graft_pos survives rename + MoR delete + purge") {
    // born _graft_pos, renamed: files keep the physical name, so the
    // scratch row-position column's avoid-set must cover colmap.values
    // — a collision would overwrite the data column before the alias
    // select, corrupting both reads and DV coordinates
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq((1L, 100L), (2L, 200L), (3L, 300L))
      .toDF("id", "_graft_pos"))
    vt.renameColumn("_graft_pos", "pos")
    vt.deleteMoR(col("id") === 2L)
    assert(vt.read().select("pos").as[Long].collect().sorted.toSeq == Seq(100L, 300L))
    vt.purgeDeletes()
    assert(vt.read().select("pos").as[Long].collect().sorted.toSeq == Seq(100L, 300L))
  }
}
