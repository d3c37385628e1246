package graft.ecom

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, concat, lit}

import graft.SparkSuite

/** Pins the row-level change data feed (Delta's CDF semantics):
  *
  *  - table properties are persistent metadata (set/unset commits,
  *    survive overwrite, replayed by restore, validated keys);
  *  - with `graft.enableChangeDataFeed=true`, every row-level op
  *    records write-time CDC sidecars — delete/update/merge (canonical
  *    and full clause matrix) and MoR deletes all serve exact
  *    pre/post-image rows;
  *  - appends/overwrites/restores reconstruct from the manifest file
  *    diff with no write-time cost; optimize and metadata commits emit
  *    nothing;
  *  - a DML version committed before enablement refuses loudly;
  *  - vacuum keeps the sidecars of retained versions.
  */
class ChangeFeedSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-cdf")

  private val CT = VersionedTable.CdcTypeCol
  private val CV = VersionedTable.CdcVersionCol

  /** (id, grp, amt) rows id 0..n-1, grp = id % 4. */
  private def rows(n: Int, amtBase: Long = 0L): DataFrame =
    spark.range(n).select(col("id"),
      (col("id") % 4).as("grp"), (col("id") * 10 + amtBase).as("amt"))

  private def feed(vt: VersionedTable, from: Long, to: Long = -1L): DataFrame =
    vt.changeFeed(from, to).drop(VersionedTable.CdcTimestampCol)

  private def asSet(df: DataFrame): Set[(Long, Long, Long, String, Long)] =
    df.select(col("id"), col("grp"), col("amt"), col(CT), col(CV))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getLong(4))).toSet

  test("table properties: lifecycle, validation, overwrite survival, restore replay") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(8))
    assert(vt.tableProperties().isEmpty)
    val v2 = vt.setTableProperty("graft.enableChangeDataFeed", "true")
    assert(v2 == 2 && vt.tableProperties() ==
      Map("graft.enableChangeDataFeed" -> "true"))
    assert(vt.history().last.op == "setProperty")
    // idempotent set: no empty commit
    assert(vt.setTableProperty("graft.enableChangeDataFeed", "true") == v2)
    // properties survive overwrite (table metadata, like constraints)
    vt.commitOverwrite(rows(4))
    assert(vt.tableProperties().nonEmpty)
    // unset, then restore to the still-enabled v3: restore replays the
    // TARGET's properties, like the target's schema
    val v4 = vt.unsetTableProperty("graft.enableChangeDataFeed")
    assert(vt.tableProperties().isEmpty)
    vt.restore(3)
    assert(vt.tableProperties() == Map("graft.enableChangeDataFeed" -> "true"))
    assert(vt.unsetTableProperty("never-set") == 5) // no-op, no commit
    // validation: CDC prop takes true/false only; keys/values line-safe
    intercept[IllegalArgumentException](
      vt.setTableProperty("graft.enableChangeDataFeed", "yes"))
    intercept[IllegalArgumentException](vt.setTableProperty("a\tb", "v"))
    intercept[IllegalArgumentException](vt.setTableProperty("k", "a\nb"))
    assert(v4 == 4)
  }

  test("enabling CDC refuses a schema carrying reserved column names") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(spark.range(3).select(col("id"), lit("x").as("_change_type")))
    val e = intercept[IllegalArgumentException](
      vt.setTableProperty("graft.enableChangeDataFeed", "true"))
    assert(e.getMessage.contains("_change_type"))
  }

  test("append-only feed: every version's added rows as inserts") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(4))
    vt.commitAppend(rows(4, amtBase = 1000).filter(col("id") >= 2))
    val all = asSet(feed(vt, 1))
    assert(all.count(_._4 == "insert") == 6 && all.size == 6)
    assert(all.filter(_._5 == 2).map(_._1) == Set(2L, 3L))
    // window narrowing: only v2's rows
    assert(asSet(feed(vt, 2)).forall(_._5 == 2))
    assert(feed(vt, 1, 1).count() == 4)
  }

  test("COW delete and update record exact pre/post images") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(8))
    vt.setTableProperty("graft.enableChangeDataFeed", "true")
    val v3 = vt.delete(col("id") === 5)
    val v4 = vt.update(col("id") === 2, Map("amt" -> (col("amt") + 1)))
    assert(v3 == 3 && v4 == 4)
    val f = asSet(feed(vt, 3, 4))
    assert(f == Set(
      (5L, 1L, 50L, "delete", 3L),
      (2L, 2L, 20L, "update_preimage", 4L),
      (2L, 2L, 21L, "update_postimage", 4L)))
    // the feed's DML frames come from write-time sidecars, not data files
    assert(vt.history().count(_.op == "delete") == 1)
  }

  test("MoR delete (deletion vectors) records delete pre-images") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(8))
    vt.setTableProperty("graft.enableChangeDataFeed", "true")
    vt.deleteMoR(col("grp") === 3)
    val f = asSet(feed(vt, 3, 3))
    assert(f == Set((3L, 3L, 30L, "delete", 3L), (7L, 3L, 70L, "delete", 3L)))
    assert(vt.read().count() == 6)
  }

  test("canonical merge: matched pre+post images, unmatched inserts") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(4))
    vt.setTableProperty("graft.enableChangeDataFeed", "true")
    val src = Seq((2L, 2L, 999L), (9L, 1L, 90L)).toDF("id", "grp", "amt")
    vt.merge(src, Seq("id"))
    val f = asSet(feed(vt, 3, 3))
    assert(f == Set(
      (2L, 2L, 20L, "update_preimage", 3L),
      (2L, 2L, 999L, "update_postimage", 3L),
      (9L, 1L, 90L, "insert", 3L)))
  }

  test("merge clause matrix: conditional update/delete, insert, by-source delete") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(6)) // ids 0..5
    vt.setTableProperty("graft.enableChangeDataFeed", "true")
    import VersionedTable.{MergeDelete, MergeInsert, MergeUpdate, MergeWhen}
    // source ids 1 (update), 3 (delete via cond), 8 (insert); by-source
    // deletes every unmatched target with grp = 0 (ids 0 and 4)
    val src = Seq((1L, 1L, 111L), (3L, 3L, -1L), (8L, 0L, 80L))
      .toDF("id", "grp", "amt")
    vt.mergeClauses(src, Seq("id"),
      matched = Seq(
        MergeWhen(Some(col("s.amt") < 0), MergeDelete),
        MergeWhen(None, MergeUpdate(Map("amt" -> col("s.amt"))))),
      notMatched = Seq(MergeWhen(None, MergeInsert(
        Map("id" -> col("s.id"), "grp" -> col("s.grp"), "amt" -> col("s.amt"))))),
      notMatchedBySource = Seq(MergeWhen(Some(col("t.grp") === 0), MergeDelete)))
    val f = asSet(feed(vt, 3, 3))
    assert(f == Set(
      (1L, 1L, 10L, "update_preimage", 3L),
      (1L, 1L, 111L, "update_postimage", 3L),
      (3L, 3L, 30L, "delete", 3L),
      (8L, 0L, 80L, "insert", 3L),
      (0L, 0L, 0L, "delete", 3L),
      (4L, 0L, 40L, "delete", 3L)))
    // and the table agrees with the feed's final state
    assert(vt.read().orderBy("id").as[(Long, Long, Long)].collect().toSeq ==
      Seq((1L, 1L, 111L), (2L, 2L, 20L), (3L, 3L, 30L) /* deleted */, (5L, 1L, 50L),
        (8L, 0L, 80L)).filterNot(_._1 == 3L))
  }

  test("overwrite and restore reconstruct delete+insert from the file diff") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(3))
    vt.commitOverwrite(rows(2, amtBase = 500))
    val ow = asSet(feed(vt, 2, 2))
    assert(ow.filter(_._4 == "delete").map(_._1) == Set(0L, 1L, 2L))
    assert(ow.filter(_._4 == "insert").map(_._1) == Set(0L, 1L))
    assert(ow.filter(_._4 == "insert").forall(_._3 >= 500))
    vt.restore(1)
    val rs = asSet(feed(vt, 3, 3))
    assert(rs.filter(_._4 == "delete").map(_._3) == Set(500L, 510L))
    assert(rs.filter(_._4 == "insert").map(_._1) == Set(0L, 1L, 2L))
  }

  test("optimize and metadata commits emit nothing; empty window is a typed empty frame") {
    val vt = VersionedTable(spark, freshDir())
    (0 until 3).foreach(i => vt.commitAppend(rows(2, amtBase = i * 100)))
    vt.optimize()
    vt.addCheckConstraint("pos", "amt >= 0")
    assert(vt.history().last.op == "addConstraint")
    val f = feed(vt, 4, 5)
    assert(f.count() == 0)
    assert(f.columns.toSeq ==
      Seq("id", "grp", "amt", CT, CV))
    // and the optimize version is silent inside a wider window too
    assert(asSet(feed(vt, 2)).forall(c => c._5 == 2 || c._5 == 3))
  }

  test("a DML version without recorded change data refuses loudly") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(6))
    vt.delete(col("id") === 0) // CDC not enabled: no sidecar
    vt.setTableProperty("graft.enableChangeDataFeed", "true")
    vt.delete(col("id") === 1)
    val e = intercept[IllegalArgumentException](feed(vt, 1).count())
    assert(e.getMessage.contains("change data was not recorded for v2"))
    // starting after the enablement works
    assert(asSet(feed(vt, 3)).map(_._1) == Set(1L))
  }

  test("schema evolution inside the window: old frames null-fill, end schema orders") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(2))
    vt.commitAppend(rows(2, amtBase = 100).filter(col("id") === 1)
      .withColumn("note", concat(lit("n"), col("id"))))
    val f = feed(vt, 1)
    assert(f.columns.toSeq == Seq("id", "grp", "amt", "note", CT, CV))
    val byV = f.collect().map(r =>
      r.getAs[Long](CV) -> Option(r.getAs[String]("note"))).toSet
    assert(byV == Set(1L -> None, 2L -> Some("n1")))
  }

  test("rename inside the window refuses; wholly-after window works") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(2))
    vt.renameColumn("amt", "amount")
    vt.commitAppend(spark.range(1).select(col("id") + 10 as "id",
      lit(0L).as("grp"), lit(7L).as("amount")))
    val e = intercept[IllegalArgumentException](vt.changeFeed(1).count())
    assert(e.getMessage.contains("column mapping changed"))
    val ok = vt.changeFeed(3).drop(VersionedTable.CdcTimestampCol)
    assert(ok.columns.contains("amount") && ok.count() == 1)
  }

  test("vacuum keeps retained versions' CDC sidecars; the feed survives") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(8))
    vt.setTableProperty("graft.enableChangeDataFeed", "true")
    vt.delete(col("id") === 3)
    vt.update(col("id") === 6, Map("amt" -> lit(-1L)))
    vt.vacuum(keepVersions = 2, unreferencedGraceMs = 0L) // keeps v3 + v4
    val f = asSet(feed(vt, 3, 4))
    assert(f.map(_._4) == Set("delete", "update_preimage", "update_postimage"))
    // the vacuumed horizon refuses, it does not fabricate
    intercept[IllegalArgumentException](feed(vt, 1).count())
  }

  test("a DML-heavy window reads ALL sidecars as ONE scan (plan size O(1), not O(versions))") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(40))
    vt.setTableProperty("graft.enableChangeDataFeed", "true")
    (0 until 12).foreach(i => vt.update(col("id") === i.toLong,
      Map("amt" -> (col("amt") + 1L))))
    val f = feed(vt, 3) // twelve DML versions
    // correctness first: every update's pre+post pair, right versions
    val got = asSet(f)
    assert(got.size == 24 && got.count(_._4 == "update_preimage") == 12)
    assert(got.filter(_._1 == 5L).map(_._5) == Set(8L))
    // plan shape: one parquet scan serves all twelve sidecar versions
    // (the per-version alternative is a 12-way union of 1-file scans —
    // O(versions) plan size, the thing that breaks 1000-version windows)
    f.collect()
    // AQE double-unwrap: final plan at the top, then descend query stages
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p.flatMap {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        q +: allNodes(q.plan)
      case n => Seq(n)
    }
    val top = f.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = allNodes(top).collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    assert(scans.size == 1, s"expected ONE batched sidecar scan, got " +
      s"${scans.size}:\n${f.queryExecution.executedPlan}")
    assert(scans.head.metrics("numFiles").value >= 12L,
      "the one scan must cover every version's sidecar files")
  }

  test("feed consumers prune columns and push filters into the sidecar scan") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(32))
    vt.setTableProperty("graft.enableChangeDataFeed", "true")
    vt.delete(col("id") < 8)
    vt.update(col("id") === 20, Map("amt" -> lit(-1L)))
    // a consumer selecting two columns with a selective predicate
    val q = vt.changeFeed(3, 4)
      .filter(col("amt") === -1L)
      .select(col("id"), col(CT))
    assert(q.collect().map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((20L, "update_postimage")))
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p.flatMap {
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        s +: allNodes(s.plan)
      case n => Seq(n)
    }
    val top = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = allNodes(top).collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    // pruned: the scan must not read grp (unused) — id, amt, ct only
    val readCols = scan.requiredSchema.fieldNames.toSet
    assert(readCols == Set("id", "amt", CT),
      s"sidecar scan read schema must prune to the consumer's needs: $readCols")
    // pushed: the amt predicate reaches the parquet reader
    assert(scan.metadata.get("PushedFilters").exists(_.contains("EqualTo(amt,-1)")),
      s"filter must push into the sidecar scan: ${scan.metadata.get("PushedFilters")}")
  }

  test("vacuum reclaims ORPHANED CDC sidecars (a crash between sidecar write and publish)") {
    val dir = freshDir()
    val vt = VersionedTable(spark, dir)
    vt.commitAppend(rows(6))
    vt.setTableProperty("graft.enableChangeDataFeed", "true")
    vt.delete(col("id") === 1) // v3: a real, referenced sidecar
    // simulate the crash: a sidecar dir no manifest references
    val orphan = new java.io.File(s"$dir/data/cdc-orphaned-by-a-crash")
    assert(orphan.mkdirs())
    java.nio.file.Files.write(orphan.toPath.resolve("part-0.parquet"),
      Array[Byte](1, 2, 3))
    vt.vacuum(keepVersions = 3, unreferencedGraceMs = 0L)
    assert(!orphan.exists(), "the unreferenced sidecar dir must be swept")
    // the referenced sidecar survived: the feed still serves v3
    assert(asSet(feed(vt, 3, 3)) == Set((1L, 1L, 10L, "delete", 3L)))
  }

  test("update recomputes generated columns in the post-image") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(spark.range(3).select(col("id"), (col("id") * 2).as("dbl")))
    vt.addGeneratedColumn("dbl", "id * 2")
    vt.setTableProperty("graft.enableChangeDataFeed", "true")
    vt.update(col("id") === 1, Map("id" -> (col("id") + 10)))
    val f = vt.changeFeed(4, 4).drop(VersionedTable.CdcTimestampCol)
      .select(col("id"), col("dbl"), col(CT))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(f == Set((1L, 2L, "update_preimage"), (11L, 22L, "update_postimage")))
  }

  test("changeFeedSegments: maximal legal sub-windows around renames and non-additive overwrites") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(8))                                         // v1
    vt.setTableProperty("graft.enableChangeDataFeed", "true")        // v2
    vt.delete(col("id") === 0L)                                      // v3
    vt.renameColumn("amt", "amount")                                 // v4 (cut)
    vt.commitAppend(rows(4).withColumnRenamed("amt", "amount"))      // v5
    // non-additive overwrite: 'amount' vanishes — v6 excluded
    vt.commitOverwrite(rows(6).select("id", "grp"))                  // v6
    vt.commitAppend(rows(2).select("id", "grp"))                     // v7

    assert(vt.changeFeedSegments(1, 7) == Seq((1L, 3L), (4L, 5L), (7L, 7L)))
    // every returned segment is servable; the refused spans refuse
    Seq((1L, 3L), (4L, 5L), (7L, 7L)).foreach { case (a, b) =>
      vt.changeFeed(a, b).collect(): Unit
    }
    intercept[IllegalArgumentException](vt.changeFeed(1, 7).collect())
    intercept[IllegalArgumentException](vt.changeFeed(5, 7).collect())
    // sub-window of one segment is still one segment
    assert(vt.changeFeedSegments(2, 3) == Seq((2L, 3L)))
  }

  test("a DML commit whose change frame is EMPTY still records CDC (feed serves, not refuses)") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitAppend(rows(6))                                         // v1
    vt.setTableProperty("graft.enableChangeDataFeed", "true")        // v2
    // merge with an EMPTY source (zero-partition local relation): the
    // version publishes, changes nothing — its CDC record must exist
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      vt.read().schema)
    vt.merge(empty, Seq("id"))                                       // v3
    vt.delete(col("id") === 0L)                                      // v4
    val f = asSet(feed(vt, 3, 4))
    assert(f == Set((0L, 0L, 0L, "delete", 4L)),
      s"the empty-merge version must serve as zero changes, got $f")
  }
}
