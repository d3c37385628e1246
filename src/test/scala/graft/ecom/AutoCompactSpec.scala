package graft.ecom

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** Opt-in post-commit auto-compaction
  * (`graft.autoOptimize.autoCompact=true`): steady small-wave appends
  * trigger a manifest-sizes-driven [[VersionedTable.optimize]] once the
  * small-file count crosses the threshold — file counts stay bounded,
  * content is untouched, and the compaction versions are invisible to
  * the change feed (rowsPreserved). Default-off: no table without the
  * property ever sees an extra version.
  */
class AutoCompactSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(): String = tempDir("graft-autocompact")

  test("small-wave appends stay at bounded file counts; default off; feed unaffected") {
    val dir = fresh()
    val t = VersionedTable(spark, s"$dir/t")
    def wave(k: Int) = (k * 10 until k * 10 + 10).map(i => (i.toLong, i.toString))
      .toDF("id", "v").repartition(4)

    // default OFF: versions advance one per append, files accrete
    t.commitAppend(wave(0))
    t.setTableProperty("graft.enableChangeDataFeed", "true")
    (1 to 3).foreach(k => t.commitAppend(wave(k)))
    val vOff = t.currentVersion().get
    val filesOff = t.snapshotMeta(vOff).files.size
    assert(vOff == 5L, "no auto-compaction without the property")
    assert(filesOff >= 16, s"4 waves x 4 partitions accreted, got $filesOff")

    // opt in with a low threshold: the NEXT data commit compacts
    t.setTableProperty(VersionedTable.AutoCompactProp, "true")
    t.setTableProperty(VersionedTable.AutoCompactMinFilesProp, "8")
    t.commitAppend(wave(4))
    val vOn = t.currentVersion().get
    val m = t.snapshotMeta(vOn)
    assert(m.files.size < filesOff,
      s"auto-compaction must bin-pack: ${m.files.size} vs $filesOff before")
    // the compaction landed as its OWN version right after the append
    assert(t.history().last.op == "optimize")
    // content untouched
    assert(t.read().count() == 50)
    assert(t.read().agg(sum("id")).head().getLong(0) == (0L until 50L).sum)
    // the change feed over the whole window is exactly the appended
    // rows — compaction versions emit nothing
    val feed = t.changeFeed(2L, vOn)
    assert(feed.count() == 40)
    assert(feed.select("id").as[Long].collect().toSet == (10L until 50L).toSet)
    // steady state: more small waves keep the file count bounded
    (5 to 12).foreach(k => t.commitAppend(wave(k)))
    val mEnd = t.snapshotMeta(t.currentVersion().get)
    assert(mEnd.files.size <= m.files.size + 8 * 4,
      s"file count must stay bounded, got ${mEnd.files.size}")
    assert(t.read().count() == 130)
  }
}
