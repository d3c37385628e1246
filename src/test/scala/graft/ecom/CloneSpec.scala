package graft.ecom

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** CLONE (Delta's `CREATE TABLE t CLONE s`): a snapshot materialized as
  * an INDEPENDENT table — content identical at the pinned version,
  * metadata (constraints, generated rules, column mapping, properties,
  * skipping stats, deletion vectors) carried, txn markers dropped, and
  * full isolation both ways: writes and VACUUM on either side cannot
  * affect the other (hard links keep the bytes alive on the local
  * filesystem — the sharp edge Delta documents for path-referencing
  * shallow clones cannot occur).
  */
class CloneSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-clone")

  private def rows(vt: VersionedTable): Set[String] =
    vt.read().collect().map(_.mkString("|")).toSet

  test("clone content equals the pinned snapshot; head clone equals head") {
    val src = VersionedTable(spark, freshDir())
    src.commitOverwrite((1L to 40L).map(i => (i, s"a$i")).toDF("id", "v"))
    src.commitAppend((41L to 60L).map(i => (i, s"b$i")).toDF("id", "v"))

    val headClone = src.cloneTo(freshDir())
    assert(headClone.currentVersion().contains(1L),
      "a clone's history starts at its own v1")
    assert(rows(headClone) == rows(src))
    assert(headClone.read().schema == src.read().schema)

    val v1Clone = src.cloneTo(freshDir(), version = 1L)
    assert(v1Clone.read().as[(Long, String)].collect().toSet ==
      src.readAt(1L).as[(Long, String)].collect().toSet,
      "a version-pinned clone must replay that snapshot")
  }

  test("clone and source evolve independently; source vacuum cannot break the clone") {
    val src = VersionedTable(spark, freshDir())
    src.commitOverwrite((1L to 50L).toDF("id"))
    val clone = src.cloneTo(freshDir())

    // diverge both sides
    clone.commitAppend((51L to 60L).toDF("id"))
    src.delete(col("id") <= 10L)
    assert(clone.read().count() == 60L, "source delete must not touch the clone")
    assert(src.read().count() == 40L, "clone append must not touch the source")

    // source rewrites everything, then vacuums its history: the clone
    // still reads its full content (linked bytes survive the unlink)
    src.commitOverwrite((100L to 105L).toDF("id"))
    src.vacuum(keepVersions = 1)
    assert(clone.read().as[Long].collect().toSet == (1L to 60L).toSet,
      "a vacuumed source must leave the clone byte-complete")
    // and the clone's own vacuum cannot break the source
    clone.commitOverwrite((200L to 201L).toDF("id"))
    clone.vacuum(keepVersions = 1)
    assert(src.read().as[Long].collect().toSet == (100L to 105L).toSet)
  }

  test("metadata carries (constraints, generated, colmap, DVs, props); txn markers do not") {
    val src = VersionedTable(spark, freshDir())
    src.commitAppendBatch(
      (1L to 30L).map(i => (i, i * 2L, i)).toDF("id", "twice", "half"),
      batchId = 7L, app = "pipe")
    src.renameColumn("twice", "dbl")
    src.addCheckConstraint("pos", "id > 0")
    src.addGeneratedColumn("half", "dbl / 2")
    src.setTableProperty("owner", "clone-spec")
    src.deleteMoR(col("id") === 5L) // DV sidecar, no rewrite

    val clone = src.cloneTo(freshDir())
    assert(rows(clone) == rows(src), "DV-masked content must carry")
    assert(clone.read().columns.toSeq == src.read().columns.toSeq,
      "renamed (column-mapped) schema must carry")
    assert(clone.tableProperties().get("owner").contains("clone-spec"))
    assert(clone.currentBatchId("pipe").isEmpty,
      "txn markers must NOT carry — the clone is not the stream's sink")
    // the carried constraint enforces on the clone's own writes
    intercept[Exception] {
      clone.commitAppend(Seq((-1L, -2L)).toDF("id", "dbl"))
    }
    // generated rule still computes on the clone
    clone.commitAppend(Seq((99L, 198L)).toDF("id", "dbl"))
    assert(clone.read().filter(col("id") === 99L).select("half")
      .as[Long].head() == 99L)
  }

  test("the clone's change feed opens with its full content as v1 inserts") {
    val src = VersionedTable(spark, freshDir())
    src.commitOverwrite((1L to 25L).toDF("id"))
    val clone = src.cloneTo(freshDir())
    val feed = clone.changeFeed(1L, 1L)
    assert(feed.filter(col(VersionedTable.CdcTypeCol) === "insert").count() == 25L)
    assert(feed.count() == 25L)
  }

  test("a clone target nested inside the source directory (or vice versa) refuses") {
    val srcDir = freshDir()
    val src = VersionedTable(spark, srcDir)
    src.commitOverwrite((1L to 10L).toDF("id"))
    // nested under the source's data dir: a later source vacuum would
    // reclaim the clone's storage as an unreferenced directory
    val e1 = intercept[IllegalArgumentException] {
      src.cloneTo(s"$srcDir/data/sneaky")
    }
    assert(e1.getMessage.contains("nested"))
    intercept[IllegalArgumentException] { src.cloneTo(srcDir) }
    // source nested inside the target directory — the mirror hazard
    val outer = freshDir()
    val inner = VersionedTable(spark, s"$outer/in")
    inner.commitOverwrite((1L to 5L).toDF("id"))
    intercept[IllegalArgumentException] { inner.cloneTo(outer) }
    // a sibling under the same parent is fine
    inner.cloneTo(s"$outer/sibling")
    assert(VersionedTable(spark, s"$outer/sibling").read().count() == 5L)
  }

  test("CALL graft.system.clone creates the target table by name; existing target refuses") {
    val wh = freshDir()
    spark.conf.set("spark.sql.catalog.graftclone",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftclone.warehouse", wh)
    new java.io.File(s"$wh/ns").mkdirs()
    VersionedTable(spark, s"$wh/ns/src")
      .commitOverwrite((1L to 15L).toDF("id"))

    spark.sql("CALL graftclone.system.clone(table => 'ns.src', target => 'ns.dst')")
    assert(spark.sql("SELECT count(*) AS n FROM graftclone.ns.dst")
      .as[Long].head() == 15L)
    // the clone is independent: INSERT through SQL touches only the clone
    spark.sql("INSERT INTO graftclone.ns.dst VALUES (99)")
    assert(spark.sql("SELECT count(*) AS n FROM graftclone.ns.src")
      .as[Long].head() == 15L)
    // cloning onto an existing table refuses loudly
    intercept[Exception] {
      spark.sql("CALL graftclone.system.clone(table => 'ns.src', target => 'ns.dst')")
    }
    // a single-part target refuses with the qualification message, not
    // an empty-namespace lookup error
    val e = intercept[Exception] {
      spark.sql("CALL graftclone.system.clone(table => 'ns.src', target => 'bare')")
    }
    assert(e.getMessage.contains("namespace-qualified"))
    // a backquoted part with a dot parses as ONE namespace level
    new java.io.File(s"$wh/dot.ns").mkdirs()
    spark.sql("CALL graftclone.system.clone(table => 'ns.src', target => '`dot.ns`.dst')")
    assert(spark.sql("SELECT count(*) AS n FROM graftclone.`dot.ns`.dst")
      .as[Long].head() == 15L)
  }

  test("CREATE TABLE ... CLONE DDL: pinned version, IF NOT EXISTS, delegate untouched") {
    val wh = freshDir()
    spark.conf.set("spark.sql.catalog.graftddl",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftddl.warehouse", wh)
    new java.io.File(s"$wh/ns").mkdirs()
    val src = VersionedTable(spark, s"$wh/ns/src")
    src.commitOverwrite((1L to 20L).toDF("id"))   // v1
    src.commitAppend((21L to 30L).toDF("id"))     // v2

    spark.sql("CREATE TABLE graftddl.ns.c1 SHALLOW CLONE graftddl.ns.src")
    assert(spark.sql("SELECT count(*) AS n FROM graftddl.ns.c1")
      .as[Long].head() == 30L)
    spark.sql(
      "CREATE TABLE graftddl.ns.c2 CLONE graftddl.ns.src VERSION AS OF 1")
    assert(spark.sql("SELECT count(*) AS n FROM graftddl.ns.c2")
      .as[Long].head() == 20L, "VERSION AS OF must pin the cloned snapshot")
    // existing target: bare form refuses, IF NOT EXISTS no-ops
    intercept[Exception] {
      spark.sql("CREATE TABLE graftddl.ns.c1 CLONE graftddl.ns.src")
    }
    spark.sql("CREATE TABLE IF NOT EXISTS graftddl.ns.c1 CLONE graftddl.ns.src VERSION AS OF 1")
    assert(spark.sql("SELECT count(*) AS n FROM graftddl.ns.c1")
      .as[Long].head() == 30L, "IF NOT EXISTS must leave the existing clone alone")
    // a REGULAR create-table statement still belongs to the delegate
    spark.sql("CREATE TABLE graftddl.ns.plain (id BIGINT) USING graft")
    assert(spark.sql("SELECT count(*) AS n FROM graftddl.ns.plain")
      .as[Long].head() == 0L)
  }
}
