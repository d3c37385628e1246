package graft.ecom

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.spark.sql.functions.{col, concat, lit}

import graft.SparkSuite
import graft.ecom.VersionedTable.{MergeUpdate, MergeWhen}

/** Merge-side file skipping (Delta's merge-condition pruning, derived
  * from the SOURCE's own keys): files whose committed stats range or
  * bloom cannot hold any source key are never even READ by the
  * touched-file discovery / classification scans. Pinned behaviorally
  * by CORRUPTING an out-of-range file on disk — a merge that skips it
  * succeeds (and carries it forward untouched), one that must read it
  * fails — plus row-level equivalence against the unpruned result.
  */
class MergeSkippingSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-mskip")

  /** 4 range-clustered files: ids [0,100), [100,200), [200,300),
    * [300,400) — each file's stats range is its own slice.
    */
  private def rangedTable(dir: String, blooms: Boolean): VersionedTable = {
    val vt = VersionedTable(spark, dir, statsColumns = Seq("id"),
      bloomColumns = if (blooms) Seq("doc") else Nil)
    (0 until 4).foreach { i =>
      vt.commitAppend(spark.range(i * 100L, (i + 1) * 100L).toDF("id")
        .withColumn("doc", concat(lit("doc-"), col("id")))
        .withColumn("v", col("id") * 7L)
        .coalesce(1))
    }
    vt
  }

  /** Truncate every data file whose manifest stats say it cannot hold
    * ids in [lo, hi] — reading it afterwards throws, so surviving the
    * merge PROVES the file was skipped.
    */
  private def corruptOutside(vt: VersionedTable, lo: Long, hi: Long): Int = {
    var n = 0
    val keep = vt.readRange("id", lo, hi).inputFiles.map(f =>
      Paths.get(new java.net.URI(f)).toString).toSet
    new java.io.File(vt.tableDir).listFiles().filter(_.isDirectory)
      .filter(_.getName.startsWith("data")).foreach { d =>
        def walk(f: java.io.File): Unit =
          if (f.isDirectory) f.listFiles().foreach(walk)
          else if (f.getName.endsWith(".parquet") && !keep.contains(f.getPath)) {
            Files.write(f.toPath, Array[Byte](0, 1, 2, 3),
              StandardOpenOption.TRUNCATE_EXISTING)
            n += 1
          }
        walk(d)
      }
    n
  }

  test("canonical merge reads only stats-candidate files (corrupted cold files skipped)") {
    val dir = freshDir()
    val vt = rangedTable(dir, blooms = false)
    // corrupt the three files outside [100, 200) — the source's range
    assert(corruptOutside(vt, 110, 190) >= 3)
    val source = spark.range(110L, 120L).toDF("id")
      .withColumn("doc", lit("updated"))
      .withColumn("v", lit(-1L))
    vt.merge(source, Seq("id")) // would die reading a corrupted file
    val out = vt.readRange("id", 100, 199).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.count(_._2 == "updated") == 10)
    assert(out.length == 100, "untouched rows of the hot file survive")
  }

  test("mergeClauses insert-only classification is bounded by candidates") {
    val dir = freshDir()
    val vt = rangedTable(dir, blooms = false)
    assert(corruptOutside(vt, 300, 399) >= 3)
    // insert-only merge whose keys live beyond every file (plus inside
    // the one intact file): classification must not read cold files
    val source = spark.range(350L, 360L).toDF("id")
      .withColumn("doc", lit("new")).withColumn("v", lit(0L))
      .unionByName(spark.range(1000L, 1010L).toDF("id")
        .withColumn("doc", lit("new")).withColumn("v", lit(0L)))
    val s = (c: String) => col("s").getField(c)
    vt.mergeClauses(source, Seq("id"),
      matched = Seq.empty,
      notMatched = Seq(MergeWhen(None, VersionedTable.MergeInsert(
        Map("id" -> s("id"), "doc" -> s("doc"), "v" -> s("v"))))))
    // in-range keys were matched (not re-inserted); out-of-range inserted
    val rows = vt.readRange("id", 300, 2000).collect()
    assert(rows.length == 110, s"100 existing + 10 genuinely new: ${rows.length}")
  }

  test("bloom key-set probe prunes unclustered string-key merges; rows equal unpruned") {
    val dir = freshDir()
    val vt = VersionedTable(spark, dir, bloomColumns = Seq("doc"))
    // 4 files clustered by id, probed by the STRING doc key
    (0 until 4).foreach { i =>
      vt.commitAppend(spark.range(i * 100L, (i + 1) * 100L).toDF("id")
        .withColumn("doc", concat(lit("doc-"), col("id")))
        .withColumn("v", col("id") * 7L).coalesce(1))
    }
    // corrupt every file except the one holding doc-150
    val keep = vt.readPoint("doc", "doc-150").inputFiles.map(f =>
      Paths.get(new java.net.URI(f)).toString).toSet
    assert(keep.size == 1)
    var corrupted = 0
    def walk(f: java.io.File): Unit =
      if (f.isDirectory) f.listFiles().foreach(walk)
      else if (f.getName.endsWith(".parquet") && !keep.contains(f.getPath) &&
        !f.getPath.contains("_graft_log")) {
        Files.write(f.toPath, Array[Byte](9, 9), StandardOpenOption.TRUNCATE_EXISTING)
        corrupted += 1
      }
    walk(new java.io.File(vt.tableDir))
    assert(corrupted >= 3)
    val s = (c: String) => col("s").getField(c)
    vt.mergeClauses(
      Seq(("doc-150", 42L)).toDF("doc", "v"),
      Seq("doc"),
      matched = Seq(MergeWhen(None, MergeUpdate(Map("v" -> s("v"))))),
      notMatched = Seq.empty)
    val r = vt.readPoint("doc", "doc-150").collect()
    assert(r.length == 1 && r(0).getLong(2) == 42L)
  }

  test("pruned merge result equals unpruned merge result row-for-row") {
    val a = rangedTable(freshDir(), blooms = false) // stats -> pruned
    val b = VersionedTable(spark, freshDir()) // no stats -> unpruned
    (0 until 4).foreach { i =>
      b.commitAppend(spark.range(i * 100L, (i + 1) * 100L).toDF("id")
        .withColumn("doc", concat(lit("doc-"), col("id")))
        .withColumn("v", col("id") * 7L).coalesce(1))
    }
    val source = spark.range(150L, 260L).toDF("id")
      .withColumn("doc", lit("upd")).withColumn("v", col("id"))
      .unionByName(spark.range(900L, 910L).toDF("id")
        .withColumn("doc", lit("ins")).withColumn("v", lit(0L)))
    a.merge(source, Seq("id"))
    b.merge(source, Seq("id"))
    assert(a.read().collect().map(_.toString).sorted.toSeq ==
      b.read().collect().map(_.toString).sorted.toSeq)
  }
}
