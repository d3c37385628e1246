package graft.ecom

import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** Plan audit for the versioned read path: the manifest layer resolves
  * explicit file lists and re-asserts the schema with casts, and NONE
  * of that may cost anything at scan time — Catalyst must eliminate the
  * identity casts, push predicates through the per-commit union into
  * every parquet scan, and prune unread columns. If a cast ever blocks
  * pushdown here, every versioned read becomes a full-file scan at
  * 100 TB; this spec is the tripwire.
  */
class VersionedPlanSpec extends SparkSuite {

  private def table(): VersionedTable = {
    val vt = VersionedTable(spark,
      tempDir("graft-vtplan"), statsColumns = Seq("id"))
    vt.commitOverwrite(spark.range(0, 10000).toDF("id")
      .withColumn("a", col("id") * 2).withColumn("b", col("id") * 3)
      .repartitionByRange(4, col("id")))
    vt.commitAppend(spark.range(10000, 12000).toDF("id")
      .withColumn("a", col("id") * 2).withColumn("b", col("id") * 3))
    vt
  }

  test("readRange: stats prune files, filters push into the scan, columns prune") {
    val df = table().readRange("id", 100L, 200L).select("id", "a")
    // manifest-level skipping: one of 5 files survives the stats prune
    assert(df.inputFiles.length == 1, s"expected 1 file, got ${df.inputFiles.length}")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("GreaterThanOrEqual(id,100)") &&
      plan.contains("LessThanOrEqual(id,200)"),
      s"range predicate must push into the parquet scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<id:bigint,a:bigint>"),
      s"unread column b must be pruned from the scan:\n$plan")
  }

  test("a filter over a multi-commit read pushes into every scan (one fused scan on the fast path)") {
    val vt = table()
    val df = vt.read().filter(col("a") > 19000L).select("id")
    val plan = df.queryExecution.executedPlan.toString
    // the plain fast path fuses all commits into ONE manifest-backed
    // scan (GraftFileIndex); every FileScan present must carry the
    // pushed predicate either way
    val scans = plan.split(java.util.regex.Pattern.quote("FileScan parquet")).length - 1
    val pushed = plan.split(java.util.regex.Pattern.quote("GreaterThan(a,19000)")).length - 1
    assert(scans >= 1 && pushed >= scans,
      s"filter must push into each of the $scans scan(s) (found $pushed):\n$plan")
    assert(plan.contains("GraftFileIndex"),
      s"a plain multi-commit read must plan as one manifest-backed scan:\n$plan")
    assert(df.count() == 10000 - 9501 + 2000)
  }

  test("a DV read still pushes filters into the data scan and prunes columns") {
    val vt = table()
    vt.deleteMoR(col("id") === 42L)
    val df = vt.read().filter(col("id").between(100L, 200L)).select("id", "a")
    val plan = df.queryExecution.executedPlan.toString
    // the anti-join may not smother the data side: user predicates must
    // still reach the parquet scans, and unread data columns must prune
    // (the scan additionally carries the join's file/pos columns)
    assert(plan.contains("GreaterThanOrEqual(id,100)") &&
      plan.contains("LessThanOrEqual(id,200)"),
      s"user predicate must push through the DV anti-join:\n$plan")
    assert(!plan.contains("b:bigint"),
      s"unread column b must be pruned from the DV read:\n$plan")
    // the sidecar side broadcasts (sparse deletes = tiny right side)
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"sparse DV application should be a broadcast anti-join:\n$plan")
    assert(df.count() == 101)
  }

  test("readRange composes manifest pruning with DV application") {
    val vt = table()
    vt.deleteMoR(col("id").between(150L, 160L))
    val df = vt.readRange("id", 100L, 200L)
    // stats still prune to the one overlapping data file (sidecar files
    // appear in inputFiles as the anti-join's right side)
    val dataFiles = df.inputFiles.filter(_.contains("/part-")).toSet
    assert(df.count() == 101 - 11)
    assert(dataFiles.nonEmpty, "sanity: some data files read")
  }
}
