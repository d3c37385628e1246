package graft.ecom

import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSuite

/** Pins the merge-on-read deletion-vector surface of [[VersionedTable]]
  * (Delta's DV feature): deleteMoR touches NO data file, readers apply
  * the sidecar everywhere (plain reads, time travel, stats-pruned range
  * reads, change feeds, and the COW ops' own snapshot scans — no
  * resurrection), purgeDeletes folds DVs back into rewritten files and
  * drops the sidecars, and vacuum retains a sidecar exactly as long as
  * a kept manifest references it.
  */
class VersionedDvSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-vtdv")

  /** ids 0..3999 spread over 4 range-disjoint files, stats on id. */
  private def rangedTable(dir: String): VersionedTable = {
    val vt = VersionedTable(spark, dir, statsColumns = Seq("id"))
    vt.commitOverwrite(spark.range(0, 4000).toDF("id")
      .withColumn("v", col("id") * 7L)
      .repartitionByRange(4, col("id")))
    vt
  }

  test("deleteMoR hides matching rows without touching any data file") {
    val vt = rangedTable(freshDir())
    val before = vt.read().inputFiles.toSet
    vt.deleteMoR(col("id").between(100L, 200L))
    val after = vt.read()
    // every original data file is still referenced — nothing rewritten
    assert(before.subsetOf(after.inputFiles.toSet),
      "merge-on-read delete must not rewrite data files")
    assert(after.as[(Long, Long)].collect().map(_._1).sorted.toSeq ==
      ((0L until 100L) ++ (201L until 4000L)))
    assert(vt.history().map(h => (h.op, h.numDvFiles > 0)) ==
      Seq(("overwrite", false), ("delete", true)))
    // time travel: pre-delete snapshot still complete, post-delete pinned
    assert(vt.readAt(1L).count() == 4000)
    assert(vt.readAt(2L).count() == 4000 - 101)
  }

  test("null-valued predicate keeps the row; empty match commits nothing") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("id", "score"))
    vt.deleteMoR(col("score") > 10L) // null > 10 is null -> row 2 survives
    assert(vt.read().as[(Long, Option[Long])].collect().sortBy(_._1).toSeq ==
      Seq((1L, Some(5L)), (2L, None)))
    assert(vt.deleteMoR(col("id") > 100L) == 2L, "no match -> same version")
    assert(vt.versions() == Seq(1L, 2L))
  }

  test("stacked MoR deletes compose; appended files are untouched by older DVs") {
    val vt = rangedTable(freshDir())
    vt.deleteMoR(col("id") % 5L === 0L)
    // append AFTER the delete: multiples of 5 in the new batch survive
    vt.commitAppend(spark.range(4000, 5000).toDF("id").withColumn("v", col("id") * 7L))
    vt.deleteMoR(col("id") % 7L === 0L)
    val ids = vt.read().as[(Long, Long)].collect().map(_._1).toSet
    (0L until 4000L).foreach { i =>
      assert(ids.contains(i) == (i % 5 != 0 && i % 7 != 0), s"id $i (base slice)")
    }
    (4000L until 5000L).foreach { i =>
      assert(ids.contains(i) == (i % 7 != 0), s"id $i (appended after first delete)")
    }
  }

  test("readRange prunes files by stats AND still applies the DV on top") {
    val vt = rangedTable(freshDir())
    vt.deleteMoR(col("id").between(3000L, 3004L))
    val pruned = vt.readRange("id", 2990L, 3010L)
    assert(pruned.inputFiles.length < vt.read().inputFiles.length,
      "stats pruning must still drop non-overlapping files")
    assert(pruned.as[(Long, Long)].collect().map(_._1).sorted.toSeq ==
      ((2990L to 2999L) ++ (3005L to 3010L)))
  }

  test("COW ops after a MoR delete never resurrect deleted rows") {
    val vt = rangedTable(freshDir())
    vt.deleteMoR(col("id").between(100L, 110L))
    // update whose predicate also covers deleted ids: they must stay gone
    vt.update(col("id").between(100L, 120L), Map("v" -> lit(-1L)))
    val got = vt.read().as[(Long, Long)].collect().toMap
    assert((100L to 110L).forall(i => !got.contains(i)), "deleted ids stay deleted")
    assert((111L to 120L).forall(i => got(i) == -1L), "alive ids updated")
    // merge on a deleted key: the row is invisible, so the source INSERTS
    vt.merge(Seq((105L, 42L)).toDF("id", "v"), Seq("id"))
    val merged = vt.read().filter(col("id") === 105L).as[(Long, Long)].collect()
    assert(merged.toSeq == Seq((105L, 42L)), "merge treats a deleted key as unmatched")
    // COW delete over a region with DV'd rows keeps both deletions
    vt.delete(col("id").between(115L, 130L))
    val ids = vt.read().as[(Long, Long)].collect().map(_._1).toSet
    assert((100L to 104L).forall(!ids.contains(_)) && (106L to 110L).forall(!ids.contains(_)),
      "MoR-deleted ids stay gone after the COW delete")
    assert((111L to 114L).forall(ids.contains), "never-deleted ids survive")
    assert((115L to 130L).forall(!ids.contains(_)), "COW-deleted ids gone")
    assert(ids.contains(105L) && ids.contains(131L))
  }

  test("purgeDeletes rewrites only DV'd files, drops sidecars, preserves history") {
    val vt = rangedTable(freshDir())
    val before = vt.read().inputFiles.toSet
    vt.deleteMoR(col("id").between(100L, 200L)) // one range file
    val v2 = vt.read().as[(Long, Long)].collect().sortBy(_._1).toSeq
    val purged = vt.purgeDeletes()
    assert(purged == 3L)
    val after = vt.read()
    assert(before.intersect(after.inputFiles.toSet).size == 3,
      "purge must rewrite only the file with live DV entries")
    assert(after.as[(Long, Long)].collect().sortBy(_._1).toSeq == v2,
      "purge is data-identical")
    assert(vt.history().last.numDvFiles == 0, "sidecars dropped from the manifest")
    // pre-purge version still reads through its DV (sidecar retained)
    assert(vt.readAt(2L).count() == 4000 - 101)
    // purge with no DVs is a no-op
    assert(vt.purgeDeletes() == 3L)
    assert(vt.versions() == Seq(1L, 2L, 3L))
  }

  test("purge after a COW rewrite of every DV'd file is metadata-only") {
    val vt = rangedTable(freshDir())
    vt.deleteMoR(col("id") === 150L)
    // COW update rewrites the file holding id=150 -> the DV entry is inert
    vt.update(col("id") === 160L, Map("v" -> lit(-1L)))
    // NB inputFiles of a DV-applied read includes the sidecar parquet
    // (the anti-join's right side), so "metadata-only" shows as the
    // after-set being a SUBSET of before (sidecars dropped, no new
    // commit dir) — a rewriting purge would mint fresh file names
    val files = vt.read().inputFiles.toSet
    assert(vt.purgeDeletes() == 4L)
    val after = vt.read().inputFiles.toSet
    assert(after.subsetOf(files) && after.size < files.size,
      "purge of inert DVs must drop the sidecar and write nothing")
    assert(vt.history().last.numDvFiles == 0)
    assert(vt.read().filter(col("id") === 150L).count() == 0)
  }

  test("vacuum keeps sidecars referenced by kept manifests, reclaims them after purge") {
    val dir = freshDir()
    val vt = rangedTable(dir)
    vt.deleteMoR(col("id") < 10L)
    vt.vacuum(keepVersions = 1, unreferencedGraceMs = 0) // head references the sidecar -> must survive
    assert(vt.read().count() == 3990)
    vt.purgeDeletes()
    vt.vacuum(keepVersions = 1, unreferencedGraceMs = 0) // head has no DVs -> sidecar dir reclaimed
    assert(vt.read().count() == 3990)
    // every remaining commit dir is referenced by the head's data files
    val head = vt.read().inputFiles.map(f =>
      "data/c-" + f.split("/data/c-")(1).split("/")(0)).toSet
    val onDisk = new java.io.File(s"$dir/data").listFiles().map("data/" + _.getName).toSet
    assert(onDisk == head, s"unreferenced commit dirs must be gone: $onDisk vs $head")
  }

  test("a full rewrite (optimize zorder) sheds sidecars without a manual purge") {
    val vt = rangedTable(freshDir())
    vt.deleteMoR(col("id").between(0L, 9L))
    assert(vt.history().last.numDvFiles > 0)
    vt.optimizeZOrder(Seq("id", "v"))
    assert(vt.history().last.numDvFiles == 0,
      "no surviving file can carry a DV entry after a full rewrite")
    assert(vt.read().count() == 3990)
  }

  test("restore to a DV version replays the sidecar; changes feed applies head DVs") {
    val vt = rangedTable(freshDir())
    vt.deleteMoR(col("id") < 100L)           // v2
    vt.delete(col("id") >= 3900L)            // v3 (COW)
    vt.restore(2L)                           // v4 = v2's files + sidecar
    assert(vt.read().count() == 3900)
    assert(vt.history().last.numDvFiles > 0)
    // change feed: files added after v1 under the head's DVs
    vt.commitAppend(spark.range(5000, 5010).toDF("id").withColumn("v", lit(0L)))
    vt.deleteMoR(col("id") === 5005L)
    val changed = vt.readChangesSince(4L).as[(Long, Long)].collect().map(_._1).sorted
    assert(changed.toSeq == ((5000L to 5004L) ++ (5006L to 5009L)))
  }
}
