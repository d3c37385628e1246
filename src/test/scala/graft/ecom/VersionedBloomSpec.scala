package graft.ecom

import org.apache.spark.sql.functions.{col, concat, lit}

import graft.SparkSuite
import graft.util.BloomSketch

/** Pins bloom-filter point-lookup skipping on [[VersionedTable]]
  * (Delta/Iceberg bloom indexes): on a column whose values are spread
  * across every file (where min/max stats can never prune), a per-file
  * bloom prunes an equality lookup to ~1 file + fpp noise, rows are
  * identical to the unpruned read, probes hash type-faithfully, blooms
  * carry forward on append and are recollected by COW rewrites, and
  * files without a bloom read conservatively.
  */
class VersionedBloomSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-vtbloom")

  /** ids 0..3999 + a doc-id string, spread UNCLUSTERED over 8 files
    * (round-robin), so every file's [min, max] covers ~the whole domain
    * and range stats are useless — the bloom's home turf.
    */
  private def unclusteredTable(dir: String): VersionedTable = {
    val vt = VersionedTable(spark, dir, statsColumns = Seq("id"),
      bloomColumns = Seq("id", "doc"))
    vt.commitOverwrite(spark.range(0, 4000).toDF("id")
      .withColumn("doc", concat(lit("doc-"), col("id")))
      .withColumn("v", col("id") * 7L)
      .repartition(8))
    vt
  }

  test("BloomSketch: added hashes are found, bytes round-trip") {
    val bits = new Array[Long](1024 / 64)
    (0 until 100).foreach(i => BloomSketch.add(bits, 5, i * 0x9E3779B97F4A7C15L, i + 7L))
    (0 until 100).foreach(i =>
      assert(BloomSketch.mightContain(bits, 5, i * 0x9E3779B97F4A7C15L, i + 7L)))
    assert(BloomSketch.fromBytes(BloomSketch.toBytes(bits)).toSeq == bits.toSeq)
    val misses = (1000 until 2000).count(i =>
      BloomSketch.mightContain(bits, 5, i * 0x517CC1B727220A95L, i * 31L + 11L))
    assert(misses < 100, s"fpp blown: $misses/1000 false positives at 10% load")
  }

  test("readPoint prunes unclustered files where range stats cannot, rows identical") {
    val vt = unclusteredTable(freshDir())
    val total = vt.read().inputFiles.length
    assert(total == 8)
    // range stats are useless here: every file covers ~[0, 4000)
    assert(vt.readRange("id", 1234L, 1234L).inputFiles.length == total,
      "unclustered: min/max must NOT prune (that's the point of this fixture)")
    val point = vt.readPoint("id", 1234L)
    assert(point.inputFiles.length <= 3,
      s"bloom should prune to ~1 file + fpp, got ${point.inputFiles.length}/$total")
    assert(point.as[(Long, String, Long)].collect().toSeq ==
      Seq((1234L, "doc-1234", 1234L * 7)))
    // string column bloom
    val sp = vt.readPoint("doc", "doc-77")
    assert(sp.inputFiles.length <= 3)
    assert(sp.as[(Long, String, Long)].collect().toSeq == Seq((77L, "doc-77", 77L * 7)))
  }

  test("probe literal is cast to the declared type before hashing") {
    val vt = unclusteredTable(freshDir())
    // Int probe against a BIGINT column: must hash as a long (a raw
    // Int literal hashes differently in xxhash64)
    val got = vt.readPoint("id", 1234).as[(Long, String, Long)].collect()
    assert(got.toSeq == Seq((1234L, "doc-1234", 1234L * 7)))
  }

  test("absent value reads few files and zero rows; null probe rejected") {
    val vt = unclusteredTable(freshDir())
    val miss = vt.readPoint("id", 999999L)
    assert(miss.count() == 0)
    assert(miss.inputFiles.length <= 2,
      "an absent value should be pruned nearly everywhere")
    intercept[IllegalArgumentException] { vt.readPoint("id", null) }
    intercept[IllegalArgumentException] { vt.readPoint("nope", 1L) }
  }

  test("blooms carry forward on append and are recollected by COW rewrites") {
    val vt = unclusteredTable(freshDir())
    vt.commitAppend(spark.range(4000, 8000).toDF("id")
      .withColumn("doc", concat(lit("doc-"), col("id")))
      .withColumn("v", col("id") * 7L)
      .repartition(8))
    val total = vt.read().inputFiles.length
    assert(total == 16)
    // a base-batch id: its bloom came from v1, carried through the append
    assert(vt.readPoint("id", 1234L).inputFiles.length <= 4)
    // an appended id: its bloom was collected by the append commit
    val p2 = vt.readPoint("id", 5678L)
    assert(p2.inputFiles.length <= 4)
    assert(p2.as[(Long, String, Long)].collect().toSeq ==
      Seq((5678L, "doc-5678", 5678L * 7)))
    // COW update rewrites the file holding id=1234; the rewritten file
    // gets a fresh bloom and the point read still finds the new row
    vt.update(col("id") === 1234L, Map("v" -> lit(-1L)))
    val after = vt.readPoint("id", 1234L)
    assert(after.as[(Long, String, Long)].collect().toSeq ==
      Seq((1234L, "doc-1234", -1L)))
    assert(after.inputFiles.length < vt.read().inputFiles.length)
  }

  test("a bloom on a string PARTITION column probes type-faithfully") {
    // the basePath read-back re-infers partition types ("7" comes back
    // as an int); the bloom must hash the DECLARED string type or the
    // probe prunes files that contain the value
    val vt = VersionedTable(spark, freshDir(), partitionCol = Some("code"),
      bloomColumns = Seq("code"))
    vt.commitOverwrite(spark.range(0, 100).toDF("id")
      .withColumn("code", (col("id") % 10).cast("string")))
    val hit = vt.readPoint("code", "7")
    assert(hit.count() == 10, "every id ending in 7 must surface")
    assert(hit.inputFiles.length < vt.read().inputFiles.length,
      "other partitions' files must prune")
  }

  test("an evolving append omitting a bloom/stats column lands without metadata") {
    val vt = VersionedTable(spark, freshDir(), statsColumns = Seq("n"),
      bloomColumns = Seq("doc"))
    vt.commitOverwrite(Seq((1L, 5L, "a")).toDF("id", "n", "doc"))
    // batch without doc and n: legal append (columns null-fill); its
    // files simply get no skipping metadata and read conservatively
    vt.commitAppend(Seq(2L).toDF("id"))
    assert(vt.read().count() == 2)
    assert(vt.readPoint("doc", "a").as[(Long, Long, String)].collect()
      .map(_._1).toSeq == Seq(1L))
    assert(vt.readRange("n", 5L, 5L).count() == 1)
  }

  test("files without a bloom read conservatively; time-travel probes work") {
    val dir = freshDir()
    // v1 committed with NO bloom config
    VersionedTable(spark, dir).commitOverwrite(
      spark.range(0, 100).toDF("id").repartition(4))
    // same table handle WITH bloom config: old files lack blooms
    val vt = VersionedTable(spark, dir, bloomColumns = Seq("id"))
    vt.commitAppend(spark.range(100, 200).toDF("id").repartition(4))
    // old files are always candidates; new files prune
    val p = vt.readPoint("id", 150L)
    assert(p.as[Long].collect().toSeq == Seq(150L))
    assert(p.inputFiles.length >= 4, "bloom-less v1 files must all be read")
    assert(p.inputFiles.length <= 6, "bloomed v2 files must prune")
    assert(vt.readPointAt(1L, "id", 50L).as[Long].collect().toSeq == Seq(50L))
  }
}
