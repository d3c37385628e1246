package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.ecom.VersionedTable

/** The 100×-scale manifest contract: a LARGE snapshot's per-file
  * skipping metadata (min/max stats, bloom bits — the heavy part) lives
  * in a parquet sidecar and is pruned by a DISTRIBUTED Spark job over
  * that sidecar, so the driver holds file names and sizes only — never
  * per-file stats for the bulk of the table. Small tables and the
  * delta tail since the last full manifest keep pruning driver-side
  * from the in-memory maps, composed with the sidecar bulk.
  *
  * Also pins the zero-stat planning contract: file (length, mtime) are
  * recorded in the manifest at commit time (Delta's AddFile shape), so
  * query planning issues no per-file filesystem calls, and legacy
  * manifests without recorded sizes still plan via a batched listing.
  */
class StatsSidecarSpec extends SparkSuite {
  import spark.implicits._

  private val warehouse: String = {
    val dir = tempDir("graft-sidecar-wh")
    spark.conf.set("spark.sql.catalog.graftsc", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftsc.warehouse", dir)
    new java.io.File(s"$dir/b").mkdirs()
    dir
  }

  private def scanFiles(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.map(_.metrics("numFiles").value).sum
  }

  /** Exactly 8 files with DISJOINT id ranges (i*100 until (i+1)*100),
    * so pruning assertions are exact: an 8-slice range is 8 contiguous
    * no-shuffle partitions — nothing for AQE to coalesce.
    */
  private def commitEightDisjointFiles(vt: VersionedTable): Unit =
    vt.commitOverwrite(spark.range(0L, 800L, 1L, 8)
      .selectExpr("id", "concat('k', id) AS k"))

  private def withThreshold[T](n: Int)(body: => T): T = {
    spark.conf.set("spark.graft.statsSidecarThreshold", n.toString)
    try body finally spark.conf.unset("spark.graft.statsSidecarThreshold")
  }

  test("large snapshots spill stats/blooms to a parquet sidecar and prune distributedly") {
    withThreshold(6) {
      val vt = VersionedTable(spark, s"$warehouse/b/side",
        statsColumns = Seq("id"), bloomColumns = Seq("k"))
      commitEightDisjointFiles(vt)

      val meta = vt.snapshotMeta(vt.currentVersion().get)
      assert(meta.statsSidecar.isDefined, "8 files >= threshold 6 must spill")
      assert(meta.stats.isEmpty && meta.blooms.isEmpty,
        "after a spill the driver-held metadata maps are EMPTY — that is the point")
      assert(meta.sizes.keySet == meta.files.toSet,
        "commit-time size recording must cover every live file")

      val all = spark.sql("SELECT * FROM graftsc.b.side")
      assert(scanFiles(all) == 8)

      val pruned = spark.sql("SELECT id FROM graftsc.b.side WHERE id >= 750")
      assert(pruned.as[Long].collect().sorted.toSeq == (750L to 799L))
      assert(GraftFileIndex.lastPruneMode == "sidecar-distributed",
        "a spilled snapshot must prune via the distributed sidecar scan")
      assert(scanFiles(pruned) == 1, "min/max stats from the sidecar prune 7 of 8 files")

      val hit = spark.sql("SELECT k FROM graftsc.b.side WHERE k = 'k442'")
      assert(hit.as[String].collect().toSeq == Seq("k442"))
      assert(GraftFileIndex.lastPruneMode == "sidecar-distributed")
      assert(scanFiles(hit) <= 2, "bloom bits from the sidecar prune non-candidates")

      val miss = spark.sql("SELECT k FROM graftsc.b.side WHERE k = 'absent'")
      assert(miss.count() == 0)
      assert(scanFiles(miss) <= 1)
    }
  }

  test("the delta tail prunes in-memory, composed with the sidecar bulk") {
    withThreshold(6) {
      val vt = VersionedTable(spark, s"$warehouse/b/tail",
        statsColumns = Seq("id"), bloomColumns = Seq("k"))
      commitEightDisjointFiles(vt)
      // delta manifest: the new file's metadata stays INLINE (small),
      // overriding nothing in the sidecar
      vt.commitAppend(spark.range(800L, 900L)
        .selectExpr("id", "concat('k', id) AS k").repartition(1))

      val meta = vt.snapshotMeta(vt.currentVersion().get)
      assert(meta.statsSidecar.isDefined)
      assert(meta.stats.keySet.size == 1, "only the delta tail is driver-held")

      assert(spark.sql("SELECT count(*) AS n FROM graftsc.b.tail")
        .as[Long].head() == 900L)
      val tail = spark.sql("SELECT id FROM graftsc.b.tail WHERE id >= 850")
      assert(tail.as[Long].collect().sorted.toSeq == (850L to 899L))
      assert(GraftFileIndex.lastPruneMode == "sidecar-distributed")
      assert(scanFiles(tail) == 1,
        "the in-memory tail entry AND the sidecar bulk must both prune")
    }
  }

  test("copy-on-write after a spill: stale sidecar rows are ignored; time travel intact") {
    withThreshold(6) {
      val vt = VersionedTable(spark, s"$warehouse/b/cow",
        statsColumns = Seq("id"))
      commitEightDisjointFiles(vt)
      // partial-file delete: the rewritten file keeps rows 50..99 (and
      // fresh stats) — a full-file delete would leave an empty,
      // stats-less rewrite that is conservatively kept by every scan
      vt.delete(col("id") < 50L)

      assert(spark.sql("SELECT count(*) AS n FROM graftsc.b.cow")
        .as[Long].head() == 750L)
      val pruned = spark.sql("SELECT id FROM graftsc.b.cow WHERE id >= 750")
      assert(pruned.as[Long].collect().sorted.toSeq == (750L to 799L))
      assert(scanFiles(pruned) == 1)
      // the deleted file's sidecar row is stale — it must NOT resurrect
      assert(spark.sql("SELECT count(*) AS n FROM graftsc.b.cow WHERE id < 50")
        .as[Long].head() == 0L)
      // the pre-delete snapshot still reads through its own metadata
      assert(vt.readAt(1L).count() == 800L)
    }
  }

  test("vacuum keeps the referenced sidecar; queries stay green after reclamation") {
    withThreshold(6) {
      val vt = VersionedTable(spark, s"$warehouse/b/vac",
        statsColumns = Seq("id"))
      commitEightDisjointFiles(vt)
      vt.delete(col("id") < 50L)
      vt.vacuum(keepVersions = 1, unreferencedGraceMs = 0L)

      val meta = vt.snapshotMeta(vt.currentVersion().get)
      assert(meta.statsSidecar.isDefined, "the live sidecar must survive vacuum")
      val pruned = spark.sql("SELECT id FROM graftsc.b.vac WHERE id >= 750")
      assert(pruned.as[Long].collect().sorted.toSeq == (750L to 799L))
      assert(GraftFileIndex.lastPruneMode == "sidecar-distributed")
      assert(scanFiles(pruned) == 1)
    }
  }

  test("shrinking below the threshold folds the sidecar back inline (driver pruning)") {
    withThreshold(6) {
      val vt = VersionedTable(spark, s"$warehouse/b/shrink",
        statsColumns = Seq("id"))
      commitEightDisjointFiles(vt)
      assert(vt.snapshotMeta(vt.currentVersion().get).statsSidecar.isDefined)
      // compacting 8 files to ~1 writes a full manifest (a delta would
      // cost more action lines than the rewrite) below the threshold
      vt.optimize()
      val meta = vt.snapshotMeta(vt.currentVersion().get)
      assert(meta.statsSidecar.isEmpty, "a small table carries its stats inline again")
      assert(meta.stats.nonEmpty, "the compacted file's stats fold back in-memory")
      assert(spark.sql("SELECT count(*) AS n FROM graftsc.b.shrink")
        .as[Long].head() == 800L)
      val q = spark.sql("SELECT id FROM graftsc.b.shrink WHERE id >= 750")
      assert(q.as[Long].collect().sorted.toSeq == (750L to 799L))
      assert(GraftFileIndex.lastPruneMode == "driver")
    }
  }

  test("optimizeRange scopes via the SIDECAR on spilled tables (driver never sees stats)") {
    withThreshold(6) {
      val vt = VersionedTable(spark, s"$warehouse/b/optrange",
        statsColumns = Seq("id"), bloomColumns = Seq("k"))
      commitEightDisjointFiles(vt) // 8 disjoint 100-id files, spilled
      val meta = vt.snapshotMeta(vt.currentVersion().get)
      assert(meta.statsSidecar.isDefined && meta.stats.isEmpty,
        "precondition: stats live ONLY in the sidecar")
      val before = vt.read().inputFiles.toSet
      // ids 0..199 live in exactly two files: only they may compact —
      // the scope must come from the distributed sidecar scan, because
      // the manifest's inline stats map is empty
      vt.optimizeRange("id", 0L, 199L, targetFileBytes = 1L << 20)
      val after = vt.read().inputFiles.toSet
      assert(before.intersect(after).size == 6,
        "the six out-of-range files must carry forward untouched")
      assert(after.size == 7, "two in-range files pack into one")
      assert(vt.read().count() == 800L)
      assert(spark.sql("SELECT count(*) FROM graftsc.b.optrange WHERE id < 200")
        .collect().head.getLong(0) == 200L)
    }
  }

  test("legacy manifests without recorded sizes plan via a batched listing") {
    val dir = tempDir("graft-legacy-sizes")
    val vt = VersionedTable(spark, dir, statsColumns = Seq("id"))
    commitEightDisjointFiles(vt)
    // simulate a pre-size manifest: strip the length/mtime fields off
    // every file line (the legacy on-disk form)
    val mf = java.nio.file.Paths.get(s"$dir/_graft_log/v00000001.manifest")
    val legacy = new String(java.nio.file.Files.readAllBytes(mf), "UTF-8")
      .linesIterator.map { l =>
        if (l.startsWith("file:")) l.split('\t').head else l
      }.mkString("", "\n", "\n")
    java.nio.file.Files.write(mf, legacy.getBytes("UTF-8"))
    // the local FS keeps a .crc sidecar; the out-of-band rewrite must
    // drop it or Hadoop's checksummed open refuses the manifest
    java.nio.file.Files.deleteIfExists(
      mf.getParent.resolve("." + mf.getFileName.toString + ".crc"))

    val vt2 = VersionedTable(spark, dir, statsColumns = Seq("id"))
    val meta = vt2.snapshotMeta(vt2.currentVersion().get)
    assert(meta.sizes.isEmpty, "the rewritten manifest must carry no sizes")
    val index = new GraftFileIndex(spark, vt2, meta)
    assert(index.sizeInBytes > 0L, "fallback listing must recover real lengths")
    assert(index.inputFiles.length == 8)
    assert(vt2.read().count() == 800L)
  }
}
