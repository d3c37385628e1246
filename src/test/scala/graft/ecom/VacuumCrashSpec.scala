package graft.ecom

import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{FileSystem, Path, RawLocalFileSystem}

import graft.SparkSuite

/** Crashes on the Nth delete of a `.manifest` file (everything else
  * passes) — the mid-vacuum process-death shape. Budget is a static
  * counter because Hadoop caches one fs instance per scheme.
  */
class CrashingDeleteFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashvac:///")
  override def delete(f: Path, recursive: Boolean): Boolean = {
    if (f.getName.endsWith(".manifest") &&
        CrashingDeleteFs.deletesAllowed.getAndDecrement() <= 0)
      throw new java.io.IOException(s"simulated crash deleting $f")
    super.delete(f, recursive)
  }
}
object CrashingDeleteFs {
  val deletesAllowed = new AtomicInteger(Int.MaxValue)
}

/** A vacuum that dies partway through its manifest deletions must leave
  * every version it STILL LISTS resolvable: deletions run in DESCENDING
  * version order, so any crash prefix removes only versions whose
  * chains nothing surviving depends on (a delta's base is always below
  * it). Ascending deletion would orphan every later dropped delta —
  * history() would throw for the whole table until another vacuum runs.
  */
class VacuumCrashSpec extends SparkSuite {
  import spark.implicits._

  test("crash mid-vacuum leaves every still-listed version's chain intact") {
    spark.sparkContext.hadoopConfiguration
      .setClass("fs.crashvac.impl", classOf[CrashingDeleteFs], classOf[FileSystem])
    val local = tempDir("graft-vac-crash")
    val vt = VersionedTable(spark, local)
    vt.commitOverwrite((1L to 10L).toDF("id")) // v1: full manifest
    (2 to 6).foreach(i => vt.commitAppend(Seq(i * 100L).toDF("id"))) // v2..v6: deltas

    // allow exactly ONE manifest delete, then die
    CrashingDeleteFs.deletesAllowed.set(1)
    val crashy = VersionedTable(spark, s"crashvac:$local")
    intercept[java.io.IOException] {
      crashy.vacuum(keepVersions = 1, unreferencedGraceMs = 0)
    }
    CrashingDeleteFs.deletesAllowed.set(Int.MaxValue)

    // descending order pinned directly: the one deleted manifest is the
    // HIGHEST dropped version (v5), not the lowest (v1)
    assert(vt.versions() == Seq(1L, 2L, 3L, 4L, 6L),
      s"vacuum must delete descending; log now lists ${vt.versions()}")
    // every survivor resolves: v1..v4 chain bottom-up, v6 through the
    // ckpt sidecar vacuum published before deleting anything
    assert(vt.history().map(_.version) == Seq(1L, 2L, 3L, 4L, 6L))
    assert(vt.read().count() == 15)
    assert(vt.readAt(3L).count() == 12)

    // a follow-up healthy vacuum converges to the intended end state
    vt.vacuum(keepVersions = 1, unreferencedGraceMs = 0)
    assert(vt.history().map(_.version) == Seq(6L))
    assert(vt.read().count() == 15)
  }
}
