package graft.ecom

import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSuite
import graft.ecom.VersionedTable.{MergeDelete, MergeInsert, MergeUpdate, MergeWhen}

/** The full Delta merge clause matrix on [[VersionedTable.mergeClauses]]:
  * conditional and multiple WHEN MATCHED clauses (first hold wins),
  * WHEN MATCHED THEN DELETE, conditional NOT MATCHED inserts,
  * NOT MATCHED BY SOURCE update/delete, and the copy-on-write file
  * math each shape implies (insert-only merges rewrite NOTHING).
  */
class VersionedMergeMatrixSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-mergematrix")

  /** (id, qty, tag): ids 0..399 over 4 range-disjoint files. */
  private def seeded(): VersionedTable = {
    val vt = VersionedTable(spark, freshDir(), statsColumns = Seq("id"))
    vt.commitOverwrite(spark.range(0, 400).toDF("id")
      .withColumn("qty", col("id") % 10L)
      .withColumn("tag", lit("old"))
      .repartitionByRange(4, col("id")))
    vt
  }

  test("conditional matched UPDATE vs DELETE: first holding clause wins per row") {
    val vt = seeded()
    // source hits ids 100..109; qty>=5 rows delete, the rest tag "upd"
    val src = spark.range(100, 110).toDF("id").withColumn("newtag", lit("upd"))
    vt.mergeClauses(src, Seq("id"),
      matched = Seq(
        MergeWhen(Some(col("t.qty") >= 5L), MergeDelete),
        MergeWhen(None, MergeUpdate(Map("tag" -> col("s.newtag"))))),
      notMatched = Nil)
    val got = vt.read().as[(Long, Long, String)].collect().sortBy(_._1)
    assert(got.length == 400 - 5, "ids 105..109 (qty 5..9) must delete")
    assert(got.filter(_._3 == "upd").map(_._1).toSeq == (100L to 104L),
      "ids 100..104 (qty 0..4) must take the update")
    assert(got.count(_._3 == "old") == 390)
    // qty column untouched by the partial SET
    assert(got.find(_._1 == 102L).get._2 == 2L)
    assert(vt.history().last.op == "merge")
  }

  test("insert-only merge rewrites NO files; conditional insert filters source rows") {
    val vt = seeded()
    val before = vt.read().inputFiles.toSet
    val src = spark.range(395, 420).toDF("id").withColumn("newtag", lit("new"))
    vt.mergeClauses(src, Seq("id"),
      matched = Nil,
      notMatched = Seq(
        MergeWhen(Some(col("s.id") % 2L === 0L),
          MergeInsert(Map("id" -> col("s.id"), "tag" -> col("s.newtag"))))))
    val after = vt.read()
    assert(before.subsetOf(after.inputFiles.toSet),
      "insert-only merge must carry every existing file forward untouched")
    val got = after.as[(Long, Option[Long], String)].collect()
    // 400..418 even insert; 395..399 matched (not inserted, not updated);
    // odd unmatched source rows hit no clause and drop
    val inserted = got.filter(_._3 == "new").map(_._1).sorted.toSeq
    assert(inserted == (400L to 418L by 2L).toSeq)
    assert(got.count(_._1 < 400L) == 400, "existing rows all survive")
    // INSERT left qty unset -> NULL
    assert(got.filter(_._3 == "new").forall(_._2.isEmpty))
  }

  test("NOT MATCHED BY SOURCE: unreferenced target rows update or delete") {
    val vt = seeded()
    val src = spark.range(0, 300).toDF("id") // 300..399 are not-by-source
    vt.mergeClauses(src, Seq("id"),
      matched = Seq(MergeWhen(None, MergeUpdate(Map("tag" -> lit("kept"))))),
      notMatched = Nil,
      notMatchedBySource = Seq(
        MergeWhen(Some(col("t.id") >= 380L), MergeDelete),
        MergeWhen(None, MergeUpdate(Map("tag" -> lit("stale"))))))
    val got = vt.read().as[(Long, Long, String)].collect().sortBy(_._1)
    assert(got.length == 380, "ids 380..399 must delete")
    assert(got.filter(_._3 == "kept").map(_._1).toSeq == (0L until 300L))
    assert(got.filter(_._3 == "stale").map(_._1).toSeq == (300L until 380L))
  }

  test("clause conditions may mix t and s; unmatched-by-clause rows keep/drop correctly") {
    val vt = seeded()
    // update only when the source value beats the target's qty
    val src = Seq((1L, 100L), (2L, 0L), (9999L, 5L)).toDF("id", "bid")
    vt.mergeClauses(src, Seq("id"),
      matched = Seq(
        MergeWhen(Some(col("s.bid") > col("t.qty")),
          MergeUpdate(Map("qty" -> col("s.bid"), "tag" -> lit("won"))))),
      notMatched = Seq(
        MergeWhen(Some(col("s.bid") > 10L),
          MergeInsert(Map("id" -> col("s.id"), "qty" -> col("s.bid"))))))
    val byId = vt.read().as[(Long, Option[Long], String)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(byId(1L) == (Some(100L), "won"), "bid 100 > qty 1 updates")
    assert(byId(2L) == (Some(2L), "old"), "bid 0 < qty 2: no clause fires, row keeps")
    assert(!byId.contains(9999L), "unmatched bid 5 fails the insert condition")
    assert(byId.size == 400)
  }

  test("matrix merge enforces source key uniqueness and key types") {
    val vt = seeded()
    val dup = Seq((1L, "a"), (1L, "b")).toDF("id", "x")
    val ex = intercept[IllegalArgumentException] {
      vt.mergeClauses(dup, Seq("id"),
        matched = Seq(MergeWhen(None, MergeDelete)), notMatched = Nil)
    }
    assert(ex.getMessage.contains("duplicate keys"))
    val badType = Seq(("1x", "a")).toDF("id", "x")
    val ex2 = intercept[IllegalArgumentException] {
      vt.mergeClauses(badType, Seq("id"),
        matched = Seq(MergeWhen(None, MergeDelete)), notMatched = Nil)
    }
    assert(ex2.getMessage.contains("cast the source explicitly"))
  }

  test("a key-unique upsert into a CDC table stays within its job budget") {
    val vt = seeded()
    vt.setTableProperty(VersionedTable.CdcEnabledProp, "true")
    val v = vt.currentVersion().get
    // 390..399 update (one touched file), 400..409 insert
    val src = spark.range(390, 410).toDF("id")
      .withColumn("qty", lit(7L)).withColumn("tag", lit("new"))
    // the upsert's cost today; a rise means the merge grew a pass
    val (_, jobs) = jobsDuring(vt.merge(src, Seq("id")))
    assert(jobs <= 18, s"upsert ran $jobs Spark jobs")
    assert(vt.read().count() == 410)
    val kinds = vt.changeFeed(v + 1).groupBy(VersionedTable.CdcTypeCol).count()
      .as[(String, Long)].collect().toMap
    assert(kinds == Map("update_preimage" -> 10L, "update_postimage" -> 10L,
      "insert" -> 10L))
  }

  test("matrix merge is one atomic version; pre-merge snapshot time-travels") {
    val vt = seeded()
    val v1 = vt.currentVersion().get
    vt.mergeClauses(spark.range(0, 50).toDF("id"), Seq("id"),
      matched = Seq(MergeWhen(None, MergeDelete)), notMatched = Nil)
    assert(vt.currentVersion().get == v1 + 1)
    assert(vt.read().count() == 350)
    assert(vt.readAt(v1).count() == 400)
  }
}
