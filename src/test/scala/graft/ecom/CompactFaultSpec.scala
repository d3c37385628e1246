package graft.ecom

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}

import graft.SparkSuite

/** Local filesystem that refuses exactly ONE rename shape: moving a
  * `.compact.tmp` directory to its final name — the swap step of
  * Lakehouse.compact. HDFS-style filesystems report rename failure by
  * RETURNING FALSE (missing parent, lingering target, quota race), not
  * by throwing; this class reproduces that contract so the spec can
  * prove compact notices. Everything else (the parquet committer's
  * task-file renames, the aside-move to `.bak`) passes through.
  */
class FaultySwapFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("faultyswap:///")
  override def rename(src: Path, dst: Path): Boolean =
    if (src.getName.endsWith(".compact.tmp") && !dst.getName.endsWith(".compact.tmp")) false
    else super.rename(src, dst)
}

/** Pins Lakehouse.compact's recovery contract: when the tmp→target swap
  * rename fails (returns false), compact must throw — never report
  * success — and the FULL table data must survive at the `.bak` path,
  * one rename away from recovery. An unchecked false here would
  * silently delete the live table.
  */
class CompactFaultSpec extends SparkSuite {
  import spark.implicits._

  test("failed swap rename throws and leaves the table recoverable at .bak") {
    spark.sparkContext.hadoopConfiguration
      .setClass("fs.faultyswap.impl", classOf[FaultySwapFs], classOf[FileSystem])
    val local = tempDir("graft-compact-fault")
    val lh = Lakehouse(spark, s"faultyswap:$local")

    val rows = (1L to 100L).map(i => (i, s"v$i")).toDF("id", "v")
    lh.write("tbl", rows)
    // several files so the compaction actually rewrites something
    assert(lh.read("tbl").count() == 100)

    val ex = intercept[IllegalArgumentException] { lh.compact("tbl") }
    assert(ex.getMessage.contains("original preserved"),
      s"wrong failure surfaced: ${ex.getMessage}")

    // the live path is gone (it was moved aside before the failed swap)
    // but every row survives at .bak — recovery is one rename
    val fs = new Path(s"faultyswap:$local").getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val target = new Path(s"faultyswap:$local/tbl")
    val bak = new Path(s"faultyswap:$local/.tbl.compact.bak")
    assert(!fs.exists(target), "a half-swapped target must not linger")
    assert(fs.exists(bak), "the table must survive at the backup path")
    assert(spark.read.parquet(s"faultyswap:$local/.tbl.compact.bak").count() == 100)

    // recovery rename (src is .bak, not .compact.tmp -> allowed), then
    // the table reads back whole
    assert(fs.rename(bak, target))
    assert(lh.read("tbl").as[(Long, String)].collect().sortBy(_._1).toSeq ==
      (1L to 100L).map(i => (i, s"v$i")))
  }
}
