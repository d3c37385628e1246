package graft.sql

import graft.SparkSuite
import graft.ecom.VersionedTable

/** `OPTIMIZE t [ZORDER BY (...)]` / `VACUUM t [RETAIN n HOURS]` — the
  * maintenance DDL face of the library's optimize/vacuum ops (the
  * `CALL graft.system.*` procedures' SQL twins), via the injected
  * parser. Plain SQL continues to delegate untouched.
  */
class MaintenanceDdlSpec extends SparkSuite {
  import spark.implicits._

  private val warehouse: String = {
    val dir = tempDir("graft-mddl-wh")
    spark.conf.set("spark.sql.catalog.gmnt", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmnt.warehouse", dir)
    new java.io.File(s"$dir/db").mkdirs()
    dir
  }

  test("OPTIMIZE bin-packs; ZORDER BY clusters; VACUUM RETAIN drops history") {
    val vt = VersionedTable(spark, s"$warehouse/db/t1")
    (1 to 5).foreach(i => vt.commitAppend(
      Seq((i.toLong, i * 10L)).toDF("id", "x").coalesce(1)))
    val rows = vt.read().as[(Long, Long)].collect().toSet
    val filesBefore = vt.snapshotMeta(vt.currentVersion().get).files.size
    assert(filesBefore == 5)

    spark.sql("OPTIMIZE gmnt.db.t1 ZORDER BY (id, x)")
    assert(vt.snapshotMeta(vt.currentVersion().get).files.size == 1,
      "ZORDER BY must pack the five small files into one clustered file")
    assert(vt.read().as[(Long, Long)].collect().toSet == rows)
    assert(vt.history().last.op == "optimize")

    // already packed: a second OPTIMIZE is a provable no-op (no commit)
    val vBefore = vt.currentVersion().get
    spark.sql("OPTIMIZE gmnt.db.t1")
    assert(vt.currentVersion().get == vBefore,
      "OPTIMIZE of an already-packed table must not land a version")

    // RETAIN under the 168-hour safety minimum REFUSES by default
    // (Delta's retentionDurationCheck shape) — a grace-0 vacuum deletes
    // files out from under in-flight readers and concurrent writers
    val versionsBefore = vt.versions()
    val e = intercept[Exception](spark.sql("VACUUM gmnt.db.t1 RETAIN 0 HOURS"))
    assert(e.getMessage.contains("retentionCheck"),
      s"the refusal must name the disable config, got: ${e.getMessage}")
    assert(vt.versions() == versionsBefore,
      "a refused VACUUM must not touch history")

    // with the check explicitly disabled, RETAIN 0 reclaims as before
    val head = vt.currentVersion().get
    spark.conf.set("graft.vacuum.retentionCheck.enabled", "false")
    try {
      spark.sql("VACUUM gmnt.db.t1 RETAIN 0 HOURS")
      assert(vt.versions() == Seq(head),
        "VACUUM RETAIN 0 must drop all history but the head")
      assert(vt.read().as[(Long, Long)].collect().toSet == rows)
    } finally spark.conf.unset("graft.vacuum.retentionCheck.enabled")

    // a missing table refuses with the standard error
    intercept[Exception](spark.sql("OPTIMIZE gmnt.db.nope"))
    intercept[Exception](spark.sql("VACUUM gmnt.db.nope"))
    // ordinary SQL still parses through the delegate
    assert(spark.sql("SELECT 2 AS two").head().getInt(0) == 2)
  }
}
