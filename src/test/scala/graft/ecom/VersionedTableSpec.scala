package graft.ecom

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSuite

/** Filesystem that refuses to publish manifests: every rename whose
  * destination ends in `.manifest` returns false (the HDFS-style failure
  * contract — no exception). Data-file and tmp renames pass through.
  * This is the commit-time twin of CompactFaultSpec's FaultySwapFs.
  */
class FaultyManifestFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faultyman:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (dst.getName.endsWith(".manifest")) false
    else super.rename(src, dst)
}

/** Refuses only the FIRST manifest publish, then passes everything —
  * the transient-failure shape (quota race, FS hiccup) the CAS loop's
  * retry exists for.
  */
class FlakyManifestFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("flakyman:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (dst.getName.endsWith(".manifest") && FlakyManifestFs.refusals.getAndDecrement() > 0) false
    else super.rename(src, dst)
}
object FlakyManifestFs {
  val refusals = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** Pins the versioned table format's three Delta-observable properties:
  * atomic publish (a refused commit leaves the previous snapshot live),
  * snapshot isolation (a pinned reader survives a concurrent
  * overwrite), and byte-identical time travel.
  */
class VersionedTableSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-vt")

  test("overwrite commits bump versions; readAt replays history byte-identically") {
    val vt = VersionedTable(spark, freshDir())
    val v1Rows = (1L to 50L).map(i => (i, s"a$i"))
    val v2Rows = (100L to 120L).map(i => (i, s"b$i"))
    assert(vt.commitOverwrite(v1Rows.toDF("id", "v")) == 1L)
    assert(vt.commitOverwrite(v2Rows.toDF("id", "v")) == 2L)
    assert(vt.currentVersion().contains(2L))
    assert(vt.read().as[(Long, String)].collect().sortBy(_._1).toSeq == v2Rows)
    // time travel: v1 comes back exactly, after being overwritten
    assert(vt.readAt(1L).as[(Long, String)].collect().sortBy(_._1).toSeq == v1Rows)
    assert(vt.readAt(2L).schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("a reader pinned to a snapshot survives a concurrent overwrite") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite((1L to 30L).toDF("id"))
    val pinned = vt.read() // resolves v1's file list at plan time
    vt.commitOverwrite((1000L to 1001L).toDF("id"))
    // the pinned plan still reads v1's immutable files...
    assert(pinned.as[Long].collect().sorted.toSeq == (1L to 30L))
    // ...while a fresh read sees v2
    assert(vt.read().as[Long].collect().sorted.toSeq == Seq(1000L, 1001L))
  }

  test("append carries prior files forward; evolved schema null-fills old commits") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq((1L, "x")).toDF("id", "v"))
    // appended batch adds a column; old rows read back with it null
    vt.commitAppend(Seq((2L, "y", 7L)).toDF("id", "v", "extra"))
    val got = vt.read().as[(Long, String, Option[Long])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "x", None), (2L, "y", Some(7L))))
    // v1 is unchanged by the append
    assert(vt.readAt(1L).columns.toSeq == Seq("id", "v"))
    assert(vt.readAt(1L).count() == 1)
  }

  test("refused manifest publish aborts the commit and leaves the previous snapshot live") {
    spark.sparkContext.hadoopConfiguration
      .setClass("fs.faultyman.impl", classOf[FaultyManifestFs], classOf[FileSystem])
    val local = freshDir()
    val vt = VersionedTable(spark, s"faultyman:$local")
    // bootstrap v1 through a healthy fs (same local dir, default scheme)
    val healthy = VersionedTable(spark, local)
    assert(healthy.commitOverwrite((1L to 10L).toDF("id")) == 1L)

    val ex = intercept[IllegalArgumentException] {
      vt.commitOverwrite((99L to 99L).toDF("id"))
    }
    assert(ex.getMessage.contains("previous snapshot v1 is still live"),
      s"wrong failure surfaced: ${ex.getMessage}")
    // the previous version is untouched and still what read() returns
    assert(healthy.currentVersion().contains(1L))
    assert(healthy.read().as[Long].collect().sorted.toSeq == (1L to 10L))
    // the aborted commit's files exist but are invisible; vacuum reclaims
    // (grace 0: both writers in this test have completed)
    healthy.vacuum(keepVersions = 1, unreferencedGraceMs = 0)
    assert(healthy.read().count() == 10)
  }

  test("maintenance commits carry the batch marker (exactly-once survives optimize)") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite((1L to 5L).toDF("id"))
    assert(vt.commitAppendBatch((6L to 8L).toDF("id"), batchId = 7L).isDefined)
    // maintenance between a batch commit and its replay must NOT erase
    // the marker — a replayed micro-batch would land twice
    (0 until 2).foreach(_ => vt.commitAppend((100L to 120L).toDF("id").repartition(4)))
    vt.optimize()
    vt.delete(col("id") > 200L) // no-op, and even a landing op keeps it
    assert(vt.currentBatchId().contains(7L),
      "batch marker must survive maintenance commits")
    assert(vt.commitAppendBatch((6L to 8L).toDF("id"), batchId = 7L).isEmpty,
      "replayed batch must still be a no-op")
  }

  test("case-variant append columns are rejected, not silently merged") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq((1L, 10L)).toDF("id", "score"))
    val ex = intercept[IllegalArgumentException] {
      vt.commitAppend(Seq((2L, 20L)).toDF("id", "SCORE"))
    }
    assert(ex.getMessage.contains("case"))
    assert(vt.read().count() == 1)
  }

  test("readAsOf tolerates non-monotonic manifest mtimes") {
    val dir = freshDir()
    val vt = VersionedTable(spark, dir)
    vt.commitOverwrite(Seq(1L).toDF("id"))
    vt.commitOverwrite(Seq(2L).toDF("id"))
    vt.commitOverwrite(Seq(3L).toDF("id"))
    // simulate a clock step: v2's manifest looks newer than v3's
    val m2 = new java.io.File(s"$dir/_graft_log/v00000002.manifest")
    val m3 = new java.io.File(s"$dir/_graft_log/v00000003.manifest")
    assert(m2.setLastModified(m3.lastModified() + 60000))
    // as-of "after v3 landed": v3 is the newest qualifying version even
    // though v2's (stepped) mtime disqualifies itself
    assert(vt.readAsOf(m3.lastModified() + 1).as[Long].collect().toSeq == Seq(3L))
  }

  test("a transient manifest-rename refusal is retried and the commit still lands") {
    spark.sparkContext.hadoopConfiguration
      .setClass("fs.flakyman.impl", classOf[FlakyManifestFs], classOf[FileSystem])
    val local = freshDir()
    val vt = VersionedTable(spark, s"flakyman:$local")
    FlakyManifestFs.refusals.set(1) // exactly one refusal, then healthy
    assert(vt.commitOverwrite((1L to 5L).toDF("id")) == 1L)
    assert(vt.read().as[Long].collect().sorted.toSeq == (1L to 5L))
    // no stray version landed from the refused attempt
    assert(vt.versions() == Seq(1L))
  }

  test("partitioned versioned table via Lakehouse: partition column round-trips") {
    val lh = Lakehouse(spark, freshDir())
    val vt = lh.versioned("orders_clean") // partitioned by order_date
    val rows = Seq(
      (1L, java.sql.Date.valueOf("2020-01-01"), 10.0),
      (2L, java.sql.Date.valueOf("2020-01-02"), 20.0))
    vt.commitOverwrite(rows.toDF("order_id", "order_date", "amount"))
    val got = vt.read()
    assert(got.columns.toSeq == Seq("order_id", "order_date", "amount"))
    assert(got.as[(Long, java.sql.Date, Double)].collect().sortBy(_._1).toSeq == rows)
  }

  test("vacuum drops old versions and unreferenced commit dirs, keeps the live snapshot") {
    val dir = freshDir()
    val vt = VersionedTable(spark, dir)
    vt.commitOverwrite((1L to 5L).toDF("id"))
    vt.commitOverwrite((6L to 9L).toDF("id"))
    vt.commitOverwrite((10L to 12L).toDF("id"))
    vt.vacuum(keepVersions = 1, unreferencedGraceMs = 0)
    assert(vt.versions() == Seq(3L))
    // live snapshot intact; history is gone
    assert(vt.read().as[Long].collect().sorted.toSeq == (10L to 12L))
    intercept[IllegalArgumentException] { vt.readAt(1L) }
    // only the referenced commit dir remains on disk
    val dataDirs = new java.io.File(s"$dir/data").listFiles().filter(_.isDirectory)
    assert(dataDirs.length == 1, s"expected 1 commit dir, found ${dataDirs.length}")
  }

  test("versionedAppend: one atomic version per trigger; a replayed batch commits nothing") {
    import org.apache.spark.sql.types._
    val dir = freshDir()
    val vt = VersionedTable(spark, s"$dir/tbl")
    val in = s"$dir/in"
    val schema = StructType(Seq(StructField("id", LongType), StructField("v", StringType)))
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.mode("append").parquet(in)
    val q = graft.streaming.Sinks.versionedAppend(
      spark.readStream.schema(schema).parquet(in), vt, s"$dir/ckpt")
    q.processAllAvailable()
    Seq((3L, "c")).toDF("id", "v").write.mode("append").parquet(in)
    q.processAllAvailable()
    q.stop()
    assert(vt.versions().size == 2, s"one version per trigger, got ${vt.versions()}")
    assert(vt.read().as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // foreachBatch replay: the SAME batch id must be a no-op…
    val last = vt.currentBatchId().get
    assert(vt.commitAppendBatch(Seq((3L, "c")).toDF("id", "v"), last).isEmpty)
    assert(vt.versions().size == 2 && vt.read().count() == 3, "replay must not duplicate")
    // …while the next batch id commits normally
    assert(vt.commitAppendBatch(Seq((4L, "d")).toDF("id", "v"), last + 1).isDefined)
    assert(vt.read().count() == 4)
  }

  test("medallion gold refresh through versioned tables: yesterday's model stays readable") {
    import org.apache.spark.sql.functions._
    val lh = Lakehouse(spark, freshDir())
    val silver = Silver.transformAll(EcomFixtures.bronze(spark))
    val asOf = java.time.LocalDate.parse("2025-01-10")
    val vt = lh.versioned("product_metrics") // date-partitioned gold model

    // day-1 publish
    val day1 = Gold.aggregateAll(silver, asOf, java.sql.Timestamp.valueOf("2025-01-10 00:00:00"))("product_metrics")
    vt.commitOverwrite(day1)
    val pinned = vt.read() // a dashboard session holding the snapshot
    val day1Rows = pinned.count()
    assert(day1Rows > 0)

    // day-2 recompute: one more event day lands in silver
    val shifted = silver("events_clean")
      .withColumn("event_id", concat(lit("9"), col("event_id")))
      .withColumn("event_ts", col("event_ts") + expr("INTERVAL 1 DAY"))
      .withColumn("event_date", to_date(col("event_ts")))
    val silver2 = silver.updated("events_clean",
      silver("events_clean").unionByName(shifted))
    vt.commitOverwrite(Gold.aggregateAll(silver2, asOf, java.sql.Timestamp.valueOf("2025-01-10 00:00:00"))("product_metrics"))

    // the pinned dashboard still reads day 1; a fresh read sees day 2;
    // readAt(1) replays day 1 for an audit
    assert(pinned.count() == day1Rows)
    assert(vt.read().count() > day1Rows)
    assert(vt.readAt(1L).count() == day1Rows)
    // the gold partition column survives the versioned round-trip
    assert(vt.read().select("event_date").distinct().count() >
      vt.readAt(1L).select("event_date").distinct().count())
  }

  test("readRange prunes files by committed min/max stats, never rows") {
    val vt = VersionedTable(spark, freshDir(), statsColumns = Seq("id"))
    // 4 range-partitioned files -> disjoint committed id ranges
    val data = spark.range(0, 4000).toDF("id")
      .withColumn("v", col("id") * 7L)
      .repartitionByRange(4, col("id"))
    vt.commitOverwrite(data)
    val all = vt.read()
    assert(all.inputFiles.length == 4)

    // a range inside one file's span must touch ~1 file, not 4
    val pruned = vt.readRange("id", 100L, 200L)
    assert(pruned.inputFiles.length < 4,
      s"stats pruning must drop files: read ${pruned.inputFiles.length} of 4")
    // and pruning removes IO only — rows match the unpruned filter exactly
    val want = all.filter(col("id").between(100L, 200L))
      .collect().map(_.toSeq).toSet
    assert(pruned.collect().map(_.toSeq).toSet == want)

    // append WITHOUT overlapping ids: old files' stats carry forward
    vt.commitAppend(spark.range(10000, 10100).toDF("id").withColumn("v", lit(0L)))
    val pruned2 = vt.readRange("id", 100L, 200L)
    assert(pruned2.inputFiles.length < vt.read().inputFiles.length)
    assert(pruned2.collect().map(_.toSeq).toSet == want)
    // the appended range is itself reachable
    assert(vt.readRange("id", 10000L, 10050L).count() == 51L)
  }

  test("bloomDisjoint: manifest-only membership gate") {
    val vt = VersionedTable(spark, freshDir(), bloomColumns = Seq("k"))
    vt.commitAppend(Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"))
    val v = vt.currentVersion().get
    assert(vt.bloomDisjoint(v, "k", Seq("x", "y").toDF("k")).contains(true),
      "absent keys must prove disjoint from the manifest blooms alone")
    assert(vt.bloomDisjoint(v, "k", Seq("a", "x").toDF("k")).contains(false),
      "a present key must register a bloom hit")
    // a column without a bloom index is undecidable, never guessed
    assert(vt.bloomDisjoint(v, "v", Seq(99L).toDF("v")).isEmpty)
    // more distinct keys than the cap: undecidable (collect stays bounded)
    assert(vt.bloomDisjoint(v, "k",
      Seq("p", "q", "r").toDF("k"), cap = 2).isEmpty)
    // null keys match nothing and never constrain
    assert(vt.bloomDisjoint(v, "k",
      Seq[Option[String]](None).toDF("k")).contains(true))
  }

  test("empty-table commit round-trips schema") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq.empty[(Long, String)].toDF("id", "v"))
    val got = vt.read()
    assert(got.count() == 0)
    assert(got.schema.fieldNames.toSeq == Seq("id", "v"))
  }

  test("insertOnlyWindow classifies windows from manifests alone") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v")) // v1
    vt.commitAppend(Seq((21L, "v21")).toDF("id", "v"))                    // v2 append
    vt.commitAppend(Seq((22L, "v22")).toDF("id", "v"))                    // v3 append
    assert(vt.insertOnlyWindow(2L, 3L), "pure appends are insert-only")
    // an UPDATE rewrites the file holding the old row — not insert-only
    vt.update(col("id") === 1L, Map("v" -> lit("x")))                     // v4
    assert(!vt.insertOnlyWindow(2L, 4L))
    assert(!vt.insertOnlyWindow(4L, 4L))
    vt.commitAppend(Seq((23L, "v23")).toDF("id", "v"))                    // v5
    assert(vt.insertOnlyWindow(5L, 5L))
    // a DELETE removes (or DV-masks) a file — not insert-only
    vt.delete(col("id") === 2L)                                           // v6
    assert(!vt.insertOnlyWindow(5L, 6L))
    // rowsPreserved maintenance inside a window is IGNORED by op
    vt.commitAppend(Seq((24L, "v24")).toDF("id", "v"))                    // v7
    vt.optimize()                                                         // v8 (maybe)
    val head = vt.currentVersion().get
    assert(vt.insertOnlyWindow(7L, head),
      "append + optimize must classify insert-only")
    // an OVERWRITE can remove rows — never insert-only, even from empty
    vt.commitOverwrite(Seq((1L, "o")).toDF("id", "v"))
    val ow = vt.currentVersion().get
    assert(!vt.insertOnlyWindow(ow, ow))
    // a RESTORE reverts rows (delete+insert in the change feed) — it is
    // a data change, and one that drops files classifies non-additive
    vt.commitAppend(Seq((3L, "q")).toDF("id", "v"))
    val beforeRestore = vt.currentVersion().get
    vt.restore(ow)
    val rv = vt.currentVersion().get
    assert(!vt.insertOnlyWindow(rv, rv),
      s"restore to v$ow from v$beforeRestore removed files — not insert-only")
    // a vacuumed predecessor makes the classification unknowable → false
    vt.commitAppend(Seq((2L, "p")).toDF("id", "v"))
    val last = vt.currentVersion().get
    vt.vacuum(keepVersions = 1, unreferencedGraceMs = 0L)
    assert(!vt.insertOnlyWindow(last, last),
      "a window whose predecessor manifest is gone must classify false")
  }
}
