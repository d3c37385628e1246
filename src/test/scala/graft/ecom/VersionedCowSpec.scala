package graft.ecom

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSuite

/** Gates the FIRST tmp-manifest create: signals `arrived`, then blocks
  * on `proceed` — so a test can deterministically interleave a competing
  * commit between a copy-on-write op's snapshot scan and its publish.
  * (Gating the create, not the rename: RawLocalFileSystem renames
  * CLOBBER an existing destination, so a rename parked past its exists
  * pre-check would overwrite the competing commit instead of losing the
  * race — the exact local-fs hole the pre-check narrows.)
  */
class GatedManifestFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("gatedman:///")
  private def gate(f: Path): Unit =
    if (f.getName.startsWith(".tmp-") && GatedManifestFs.armed.compareAndSet(true, false)) {
      GatedManifestFs.arrived.countDown()
      require(GatedManifestFs.proceed.await(60, TimeUnit.SECONDS), "gate timed out")
    }
  // fs.create(path, overwrite) routes through the permission-less
  // overload on RawLocalFileSystem; override both to be version-proof
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    gate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    gate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}
object GatedManifestFs {
  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var arrived: CountDownLatch = _
  @volatile var proceed: CountDownLatch = _
}

/** Pins the copy-on-write write surface of [[VersionedTable]]: row-level
  * delete/update/merge rewrite ONLY the files containing affected rows,
  * schema enforcement rejects type drift before anything lands, optimize
  * bin-packs without changing data, history records every operation, and
  * a competing commit between scan and publish surfaces as a conflict
  * instead of silently dropping either write.
  */
class VersionedCowSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-vtcow")

  /** ids 0..3999 spread over 4 range-disjoint files, stats on id. */
  private def rangedTable(dir: String): VersionedTable = {
    val vt = VersionedTable(spark, dir, statsColumns = Seq("id"))
    val data = spark.range(0, 4000).toDF("id")
      .withColumn("v", col("id") * 7L)
      .repartitionByRange(4, col("id"))
    vt.commitOverwrite(data)
    vt
  }

  test("delete rewrites only the files containing matches; the rest carry forward") {
    val vt = rangedTable(freshDir())
    val beforeFiles = vt.read().inputFiles.toSet
    assert(beforeFiles.size == 4)
    // ids 100..200 live in exactly one range file
    vt.delete(col("id").between(100L, 200L))
    val after = vt.read()
    // 3 of the 4 original files must still be referenced verbatim
    assert(beforeFiles.intersect(after.inputFiles.toSet).size == 3,
      "untouched files must carry forward, not be rewritten")
    assert(after.as[(Long, Long)].collect().map(_._1).sorted.toSeq ==
      ((0L until 100L) ++ (201L until 4000L)))
    // time travel: the pre-delete snapshot still has every row
    assert(vt.readAt(1L).count() == 4000)
    assert(vt.history().map(_.op) == Seq("overwrite", "delete"))
  }

  test("delete with a null-valued predicate keeps the row (SQL semantics)") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq((1L, Some(5L)), (2L, None), (3L, Some(50L)))
      .toDF("id", "score"))
    vt.delete(col("score") > 10L) // null > 10 is null -> row 2 survives
    assert(vt.read().as[(Long, Option[Long])].collect().sortBy(_._1).toSeq ==
      Seq((1L, Some(5L)), (2L, None)))
  }

  test("delete matching nothing commits no version") {
    val vt = rangedTable(freshDir())
    assert(vt.delete(col("id") > 1000000L) == 1L)
    assert(vt.versions() == Seq(1L))
  }

  test("deleteRange prunes the discovery scan by stats and deletes exactly the range") {
    val vt = rangedTable(freshDir())
    val before = vt.read().inputFiles.toSet
    vt.deleteRange("id", 100L, 200L)
    val after = vt.read()
    assert(before.intersect(after.inputFiles.toSet).size == 3)
    assert(after.count() == 4000 - 101)
    assert(after.filter(col("id").between(100L, 200L)).count() == 0)
    // stats survive the rewrite: a later range read still prunes files
    assert(vt.readRange("id", 3000L, 3010L).inputFiles.length < after.inputFiles.length)
  }

  test("update rewrites matching rows only; untouched files carry forward byte-identical") {
    val vt = rangedTable(freshDir())
    val beforeFiles = vt.read().inputFiles.toSet
    vt.update(col("id").between(100L, 110L), Map("v" -> lit(-1L)))
    val after = vt.read()
    assert(beforeFiles.intersect(after.inputFiles.toSet).size == 3)
    val got = after.as[(Long, Long)].collect().toMap
    assert(got.size == 4000)
    (100L to 110L).foreach(i => assert(got(i) == -1L, s"row $i must be updated"))
    assert(got(99L) == 99L * 7 && got(111L) == 111L * 7, "non-matching rows unchanged")
    assert(vt.history().map(_.op) == Seq("overwrite", "update"))
    // unknown column rejected before anything lands
    intercept[IllegalArgumentException] {
      vt.update(col("id") === 1L, Map("nope" -> lit(0L)))
    }
    assert(vt.versions().size == 2)
  }

  test("merge: null-keyed source rows insert freely; type drift is rejected loudly") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq((Some(1L), 10L)).toDF("id", "v"))
    // two null-keyed rows are NOT duplicates of each other: null keys
    // match nothing, so both deterministically insert
    vt.merge(Seq((Option.empty[Long], 7L), (Option.empty[Long], 8L), (Some(1L), 11L))
      .toDF("id", "v"), Seq("id"))
    val got = vt.read().as[(Option[Long], Long)].collect().sortBy(_._2)
    assert(got.toSeq == Seq((None, 7L), (None, 8L), (Some(1L), 11L)))
    // a source column under a different type must fail loudly — the old
    // silent cast turned uncastable keys into null inserts
    val ex = intercept[IllegalArgumentException] {
      vt.merge(Seq(("12x", 9L)).toDF("id", "v"), Seq("id"))
    }
    assert(ex.getMessage.contains("cast the source explicitly"))
  }

  test("merge replaces matched rows, inserts the rest, carries untouched files") {
    val vt = rangedTable(freshDir())
    val beforeFiles = vt.read().inputFiles.toSet
    // 150 matches one file's range; 99999 is a pure insert
    val src = Seq((150L, 0L), (99999L, 1L)).toDF("id", "v")
    vt.merge(src, Seq("id"))
    val after = vt.read()
    assert(beforeFiles.intersect(after.inputFiles.toSet).size == 3,
      "only the file containing id=150 may be rewritten")
    val got = after.as[(Long, Long)].collect().toMap
    assert(got.size == 4001)
    assert(got(150L) == 0L, "matched row must take the source value")
    assert(got(99999L) == 1L, "unmatched source row must insert")
    assert(got(151L) == 151L * 7, "neighbor rows unchanged")
    assert(vt.history().map(_.op) == Seq("overwrite", "merge"))
  }

  test("merge into an empty-match source set still inserts; bad sources are rejected") {
    val vt = rangedTable(freshDir())
    // pure-insert merge touches NO existing file
    val beforeFiles = vt.read().inputFiles.toSet
    vt.merge(Seq((50000L, 5L)).toDF("id", "v"), Seq("id"))
    assert(beforeFiles.subsetOf(vt.read().inputFiles.toSet))
    assert(vt.read().count() == 4001)
    // duplicate source keys are order-dependent -> rejected
    val ex = intercept[IllegalArgumentException] {
      vt.merge(Seq((1L, 1L), (1L, 2L)).toDF("id", "v"), Seq("id"))
    }
    assert(ex.getMessage.contains("duplicate keys"))
    // column drift rejected
    intercept[IllegalArgumentException] {
      vt.merge(Seq((1L, 1L)).toDF("id", "other"), Seq("id"))
    }
    assert(vt.versions().size == 2, "failed merges must commit nothing")
  }

  test("append schema enforcement: type drift throws and commits nothing; new columns evolve") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    // same column name, different type -> rejected before any files land
    val ex = intercept[IllegalArgumentException] {
      vt.commitAppend(Seq((2, "b")).toDF("id", "v")) // id is INT here, BIGINT in table
    }
    assert(ex.getMessage.contains("schema enforcement"))
    assert(vt.versions() == Seq(1L))
    assert(new java.io.File(s"${vt.tableDir}/data").listFiles().count(_.isDirectory) == 1,
      "a rejected append must not leave a commit dir behind")
    // a batch MISSING a column appends fine (old column null for new rows)
    vt.commitAppend(Seq(3L).toDF("id"))
    assert(vt.read().as[(Long, Option[String])].collect().sortBy(_._1).toSeq ==
      Seq((1L, Some("a")), (3L, None)))
    // a batch ADDING a column extends the schema additively
    vt.commitAppend(Seq((4L, "d", 9L)).toDF("id", "v", "extra"))
    assert(vt.read().columns.toSeq == Seq("id", "v", "extra"))
    assert(vt.read().count() == 3)
  }

  test("optimize bin-packs small files into fewer, data stays identical, history pinned") {
    val vt = VersionedTable(spark, freshDir(), statsColumns = Seq("id"))
    // 6 tiny appends = 6+ small files (the streaming-sink sliver shape)
    (0 until 6).foreach(i =>
      vt.commitAppend(spark.range(i * 10L, i * 10L + 10L).toDF("id")))
    val beforeFiles = vt.read().inputFiles.length
    assert(beforeFiles >= 6)
    val before = vt.read().as[Long].collect().sorted.toSeq
    vt.optimize(targetFileBytes = 128L << 20, smallFileBytes = 64L << 20)
    assert(vt.read().inputFiles.length < beforeFiles,
      s"optimize must shrink the file count from $beforeFiles")
    assert(vt.read().as[Long].collect().sorted.toSeq == before, "optimize must not change data")
    assert(vt.history().last.op == "optimize")
    // stats recollected for the compacted files: range reads still prune-safe
    assert(vt.readRange("id", 0L, 5L).as[Long].collect().sorted.toSeq == (0L to 5L))
    // pre-optimize snapshot still readable (old files retained until vacuum)
    assert(vt.readAt(6L).as[Long].collect().sorted.toSeq == before)
    // a second optimize on the already-packed table is a no-op
    val v = vt.currentVersion().get
    assert(vt.optimize(128L << 20, 64L << 20) == v)
  }

  test("optimizeZOrder compacts AND re-clusters: range reads prune on both dims after") {
    val vt = VersionedTable(spark, freshDir(), statsColumns = Seq("x", "y"))
    def bitrev12(v: Int): Int =
      (0 until 12).foldLeft(0)((acc, b) => acc | (((v >> b) & 1) << (11 - b)))
    val rows = (0 until 4096).map(i => (i.toLong, bitrev12(i).toLong))
    // arrival-order appends: NO locality in either dimension
    rows.grouped(1024).foreach(g => vt.commitAppend(g.toDF("x", "y")))
    val before = vt.read().inputFiles.length
    assert(vt.readRange("y", 0L, 255L).inputFiles.length == before,
      "arrival-order files must not prune on y (that is the point of the test)")
    vt.optimizeZOrder(Seq("x", "y"), targetFileBytes = 4L << 10)
    val after = vt.read()
    assert(after.as[(Long, Long)].collect().sorted.toSeq == rows.sorted,
      "optimizeZOrder must not change data")
    val total = after.inputFiles.length
    assert(total > 4, s"target size must yield multiple files, got $total")
    assert(vt.readRange("x", 0L, 255L).inputFiles.length < total)
    assert(vt.readRange("y", 0L, 255L).inputFiles.length < total,
      "z-ordered compaction must restore locality on BOTH dimensions")
    assert(vt.history().last.op == "optimize")
  }

  test("vacuumOlderThan drops versions by age but always keeps the newest") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(spark.range(0, 10).toDF("id"))
    vt.commitAppend(spark.range(10, 20).toDF("id"))
    Thread.sleep(50)
    val cut = System.currentTimeMillis()
    Thread.sleep(50)
    vt.commitAppend(spark.range(20, 30).toDF("id"))
    vt.vacuumOlderThan(cut)
    assert(vt.versions() == Seq(3L), s"got ${vt.versions()}")
    assert(vt.read().count() == 30)
    // a cutoff in the future still retains the newest version
    vt.vacuumOlderThan(System.currentTimeMillis() + 1000000)
    assert(vt.versions() == Seq(3L))
    assert(vt.read().count() == 30)
  }

  test("restore makes the head a zero-copy replay of an old version; vacuum keeps its files") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(spark.range(0, 100).toDF("id"))
    vt.commitAppend(spark.range(100, 120).toDF("id"))
    vt.delete(col("id") < 50L) // the mistake to undo
    assert(vt.read().count() == 70)
    val v = vt.restore(2L)
    assert(v == 4L)
    // the head replays v2 exactly, referencing v2's files verbatim
    assert(vt.read().as[Long].collect().sorted.toSeq == (0L until 120L))
    assert(vt.read().inputFiles.toSet == vt.readAt(2L).inputFiles.toSet,
      "restore must reference the old files, not copy them")
    // the bad head stays in history below the restored one
    assert(vt.readAt(3L).count() == 70)
    assert(vt.history().map(_.op) == Seq("overwrite", "append", "delete", "restore"))
    // restoring to the current state is a no-op
    assert(vt.restore(4L) == 4L)
    // vacuum to the head alone: the restored (old) files must survive
    vt.vacuum(keepVersions = 1)
    assert(vt.read().as[Long].collect().sorted.toSeq == (0L until 120L))
  }

  test("readChangesSince returns exactly the rows appended after the version") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(spark.range(0, 100).toDF("id"))
    vt.commitAppend(spark.range(100, 150).toDF("id"))
    vt.commitAppend(spark.range(150, 160).toDF("id"))
    assert(vt.readChangesSince(1L).as[Long].collect().sorted.toSeq == (100L until 160L))
    assert(vt.readChangesBetween(1L, 2L).as[Long].collect().sorted.toSeq == (100L until 150L))
    assert(vt.readChangesSince(3L).count() == 0)
    intercept[IllegalArgumentException] { vt.readChangesBetween(3L, 1L) }
  }

  /** Park a gated COW op between its snapshot scan and its publish, run
    * `interleave` through a healthy handle, release, and return the
    * gated op's outcome.
    */
  private def gatedCow[T](local: String, cow: VersionedTable => T)(
      interleave: => Unit): scala.util.Try[T] = {
    spark.sparkContext.hadoopConfiguration
      .setClass("fs.gatedman.impl", classOf[GatedManifestFs], classOf[FileSystem])
    val gated = VersionedTable(spark, s"gatedman:$local")
    GatedManifestFs.arrived = new CountDownLatch(1)
    GatedManifestFs.proceed = new CountDownLatch(1)
    GatedManifestFs.armed.set(true)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val fut = Future(cow(gated))
    assert(GatedManifestFs.arrived.await(60, TimeUnit.SECONDS),
      "the COW op never reached its publish")
    try interleave
    finally GatedManifestFs.proceed.countDown()
    scala.util.Try(Await.result(fut, 120.seconds))
  }

  test("a concurrent blind append REBASES under a COW delete: both commits land") {
    val local = freshDir()
    val healthy = VersionedTable(spark, local)
    healthy.commitOverwrite(spark.range(0, 100).toDF("id"))
    val res = gatedCow(local, _.delete(col("id") < 10L)) {
      healthy.commitAppend(spark.range(100, 110).toDF("id"))
    }
    // WriteSerializable: the delete re-applies on top of the append's
    // manifest — NEITHER write is lost and no retry is needed
    assert(res.isSuccess, s"the delete must rebase over a blind append: $res")
    assert(res.get == 3L, "append v2, rebased delete v3")
    assert(healthy.read().as[Long].collect().sorted.toSeq == (10L until 110L))
    assert(healthy.history().map(_.op).takeRight(2) == Seq("append", "delete"))
  }

  test("two COW deletes on DISJOINT files both land; same-file deletes conflict") {
    val local = freshDir()
    val vt = rangedTable(local) // 4 range-disjoint files, 0..3999
    // disjoint: gated delete touches the low file, concurrent the high
    val res = gatedCow(local, _.delete(col("id") < 500L)) {
      vt.delete(col("id") >= 3500L)
    }
    assert(res.isSuccess, s"disjoint-file COW writers must both commit: $res")
    assert(vt.read().select("id").as[Long].collect().sorted.toSeq == (500L until 3500L))
    assert(vt.history().map(_.op).takeRight(2) == Seq("delete", "delete"))

    // overlapping: both rewrite the file holding id ~1000 — the loser's
    // rewrite is built from a file the winner already replaced
    val res2 = gatedCow(local, _.update(col("id") === 1000L, Map("v" -> lit(-1L)))) {
      vt.delete(col("id") === 1001L)
    }
    val ex = intercept[java.util.ConcurrentModificationException](res2.get)
    assert(ex.getMessage.contains("concurrently rewritten"),
      s"overlapping rewrites must conflict loudly: ${ex.getMessage}")
    // the winner's delete held; the loser's update did not half-apply
    val now = vt.read()
    assert(now.filter(col("id") === 1001L).count() == 0)
    assert(now.filter(col("v") === -1L).count() == 0)
    // and the loser retries cleanly on the new head
    vt.update(col("id") === 1000L, Map("v" -> lit(-1L)))
    assert(vt.read().filter(col("v") === -1L).count() == 1)
  }

  test("optimizeRange compacts ONLY the stats-intersecting files; cold files carry forward") {
    val dir = freshDir()
    val vt = VersionedTable(spark, dir, statsColumns = Seq("id"))
    // four range-disjoint SMALL files, committed separately so each is
    // an optimize candidate (all well under the small-file threshold)
    (0 until 4).foreach { i =>
      val lo = i * 1000L
      vt.commitAppend(spark.range(lo, lo + 1000L).toDF("id")
        .withColumn("v", col("id") * 7L).coalesce(1))
    }
    val before = vt.read().inputFiles.toSet
    assert(before.size == 4)
    // scope: ids 0..1999 live in exactly two files — only they compact
    val v = vt.optimizeRange("id", 0L, 1999L, targetFileBytes = 1L << 20)
    assert(v == 5L)
    val after = vt.read().inputFiles.toSet
    assert(before.intersect(after).size == 2, "the two cold files carry forward")
    assert(after.size == 3, "two hot files pack into one")
    assert(vt.read().count() == 4000 && vt.history().last.op == "optimize")
    // rows intact, range reads still prune
    assert(vt.readRange("id", 500L, 1500L).count() == 1001)
    // a scope touching ONE small file is a no-op (nothing to pack with)
    assert(vt.optimizeRange("id", 3000L, 3999L) == 5L)
    // and the whole-table optimize still packs everything
    assert(vt.optimize(targetFileBytes = 1L << 20) == 6L)
    assert(vt.read().inputFiles.length == 1)
  }

  test("racing txn-marked merge twins: exactly one lands (no double-apply via rebase)") {
    val local = freshDir()
    val healthy = VersionedTable(spark, local)
    healthy.commitOverwrite(spark.range(0, 10).toDF("id").withColumn("v", col("id")))
    val src = spark.range(100, 105).toDF("id").withColumn("v", lit(-5L))
    // insert-only twins touch NO common file, so the WriteSerializable
    // rebase would happily land both — only the txn-marker guard stands
    // between a crash-replayed scheduler pair and a double-applied batch
    val res = gatedCow(local, _.commitMergeBatch(src, Seq("id"), 7L, "twin")) {
      assert(healthy.commitMergeBatch(src, Seq("id"), 7L, "twin").isDefined)
    }
    assert(res.isSuccess && res.get.isEmpty,
      s"the losing twin must report not-landed-by-us: $res")
    assert(healthy.read().filter(col("id") >= 100L).count() == 5L, "no double-apply")
    assert(healthy.currentBatchId("twin").contains(7L))
    assert(healthy.history().count(_.op == "merge") == 1)

    // a DIFFERENT batch id landing mid-flight = stale window math: loud
    val res2 = gatedCow(local, _.commitMergeBatch(
      spark.range(200, 205).toDF("id").withColumn("v", lit(1L)),
      Seq("id"), 8L, "twin")) {
      assert(healthy.commitMergeBatch(
        spark.range(300, 305).toDF("id").withColumn("v", lit(2L)),
        Seq("id"), 9L, "twin").isDefined)
    }
    val ex = intercept[java.util.ConcurrentModificationException](res2.get)
    assert(ex.getMessage.contains("transaction marker"), ex.getMessage)
  }

  test("a concurrent overwrite still conflicts with a COW delete (wholesale replace)") {
    val local = freshDir()
    val healthy = VersionedTable(spark, local)
    healthy.commitOverwrite(spark.range(0, 100).toDF("id"))
    val res = gatedCow(local, _.delete(col("id") < 10L)) {
      healthy.commitOverwrite(spark.range(500, 600).toDF("id"))
    }
    val ex = intercept[java.util.ConcurrentModificationException](res.get)
    assert(ex.getMessage.contains("rewritten or removed"), ex.getMessage)
    // the overwrite's content is intact — the stale delete dropped nothing
    assert(healthy.read().as[Long].collect().sorted.toSeq == (500L until 600L))
  }

  test("a concurrent MoR delete (DV change) conflicts with a COW rewrite") {
    val local = freshDir()
    val vt = rangedTable(local)
    val res = gatedCow(local, _.delete(col("id") < 500L)) {
      vt.deleteMoR(col("id") === 200L)
    }
    val ex = intercept[java.util.ConcurrentModificationException](res.get)
    assert(ex.getMessage.contains("deletion vectors"), ex.getMessage)
    // the MoR delete held; the COW retry then applies on the new head
    vt.delete(col("id") < 500L)
    assert(vt.read().select("id").as[Long].collect().sorted.toSeq == (500L until 4000L))
  }
}
