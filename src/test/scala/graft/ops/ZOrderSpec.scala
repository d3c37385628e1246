package graft.ops

import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.ecom.VersionedTable

/** Pins Z-order clustering's reason to exist: after clustering on two
  * independent columns, a range read on EITHER column prunes most
  * files — where a linear sort prunes only its own column. And
  * clustering is pure reordering: the row multiset never changes.
  */
class ZOrderSpec extends SparkSuite {
  import spark.implicits._

  // two genuinely independent dimensions: y = 12-bit reversal of x
  // (a permutation, so both are uniform on 0..4095 and uncorrelated)
  private def bitrev12(v: Int): Int =
    (0 until 12).foldLeft(0)((acc, b) => acc | (((v >> b) & 1) << (11 - b)))
  private def grid() =
    (0 until 4096).map(i => (i.toLong, bitrev12(i).toLong)).toDF("x", "y")

  test("z-order gives file-level locality on BOTH dimensions; linear sort on one only") {
    val n = 16
    val zDir = tempDir("graft-zorder")
    val zvt = VersionedTable(spark, zDir, statsColumns = Seq("x", "y"))
    zvt.commitOverwrite(ZOrder.cluster(grid(), Seq("x", "y"), n))
    assert(zvt.read().inputFiles.length == n)

    val linDir = tempDir("graft-linear")
    val lvt = VersionedTable(spark, linDir, statsColumns = Seq("x", "y"))
    lvt.commitOverwrite(grid().repartitionByRange(n, col("x")).sortWithinPartitions("x"))

    def filesRead(vt: VersionedTable, c: String): Int =
      vt.readRange(c, 0L, 255L).inputFiles.length

    // a 1/16-of-domain range: z-order prunes on BOTH dims (a 16-file
    // z layout is a 4x4 grid of (x,y) quadrant pairs -> ~4 files per
    // dim; allow slack for approximate quantile boundaries)...
    assert(filesRead(zvt, "x") <= 8, s"x-range read ${filesRead(zvt, "x")} of $n z-ordered files")
    assert(filesRead(zvt, "y") <= 8, s"y-range read ${filesRead(zvt, "y")} of $n z-ordered files")
    // ...while the linear sort is perfect on x and USELESS on y
    assert(filesRead(lvt, "x") <= 2)
    assert(filesRead(lvt, "y") == n, "linear sort cannot prune the second dimension")

    // pruning never changes results: both layouts return the exact rows
    val want = grid().filter(col("y").between(0L, 255L))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq
    assert(zvt.readRange("y", 0L, 255L).as[(Long, Long)].collect().sortBy(_._1).toSeq == want)
    assert(lvt.readRange("y", 0L, 255L).as[(Long, Long)].collect().sortBy(_._1).toSeq == want)
  }

  test("clustering is pure reordering: row multiset preserved, nulls included") {
    val df = grid().unionByName(
      Seq((null.asInstanceOf[java.lang.Long], java.lang.Long.valueOf(7L)))
        .toDF("x", "y"))
    val clustered = ZOrder.cluster(df, Seq("x", "y"), 8)
    assert(clustered.count() == 4097)
    assert(clustered.as[(Option[Long], Option[Long])].collect().sorted.toSeq ==
      df.as[(Option[Long], Option[Long])].collect().sorted.toSeq)
    assert(clustered.columns.toSeq == Seq("x", "y"), "scratch z column must not leak")
  }

  test("EquiDepthBin matches the fold semantics: exact hits, misses, nulls") {
    import org.apache.spark.sql.functions.{aggregate, coalesce, col, lit, when}
    import org.apache.spark.sql.graft.shims
    import graft.functions.EquiDepthBin
    val bounds = Array(10.0, 20.0, 30.0)
    val df = Seq(Some(5.0), Some(10.0), Some(15.0), Some(30.0), Some(35.0), None).toDF("v")
    val native = coalesce(
      shims.column(EquiDepthBin(shims.expression(col("v")), bounds)), lit(0))
    val fold = aggregate(lit(bounds), lit(0),
      (acc, b) => acc + when(col("v") >= b, 1).otherwise(0))
    val rows = df.select(native.as("n"), fold.as("f")).collect()
    rows.foreach(r => assert(r.getInt(0) == r.getInt(1), s"native vs fold diverged: $r"))
    assert(rows.map(_.getInt(0)).toSeq == Seq(0, 1, 1, 3, 3, 0))
  }

  test("bad arguments are rejected") {
    intercept[IllegalArgumentException] { ZOrder.cluster(grid(), Seq.empty, 4) }
    intercept[IllegalArgumentException] { ZOrder.cluster(grid(), Seq("nope"), 4) }
    intercept[IllegalArgumentException] { ZOrder.cluster(grid(), Seq("x"), 0) }
    intercept[IllegalArgumentException] { ZOrder.cluster(grid(), Seq("x"), 4, bits = 63) }
  }
}
