package graft.ecom

import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSuite

/** Pins generated columns on [[VersionedTable]] (Delta's generated
  * columns): declaring verifies existing rows; a batch omitting the
  * column gets it computed at write time; a batch carrying it is
  * verified null-safe-equal and aborts on mismatch; UPDATE recomputes
  * from the NEW source values unless explicitly set; merge sources are
  * verified; rules survive overwrite and block rename/drop of the
  * column or its sources.
  */
class VersionedGencolSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-vtgen")

  /** total = price * qty, declared generated. */
  private def table(): VersionedTable = {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq((1L, 10L, 2L, 20L), (2L, 5L, 3L, 15L))
      .toDF("id", "price", "qty", "total"))
    vt.addGeneratedColumn("total", "price * qty")
    vt
  }

  test("declare verifies existing rows; mismatching table refuses the rule") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq((1L, 10L, 2L, 99L)).toDF("id", "price", "qty", "total"))
    val ex = intercept[IllegalArgumentException] {
      vt.addGeneratedColumn("total", "price * qty")
    }
    assert(ex.getMessage.contains("generated total"))
    // and the column must already exist
    intercept[IllegalArgumentException] {
      vt.addGeneratedColumn("nope", "price * qty")
    }
  }

  test("a batch omitting the column gets it computed; a carried batch is verified") {
    val vt = table()
    vt.commitAppend(Seq((3L, 7L, 4L)).toDF("id", "price", "qty"))
    assert(vt.read().filter(col("id") === 3L).select("total").as[Long].collect().toSeq ==
      Seq(28L))
    // carried and correct: lands
    vt.commitAppend(Seq((4L, 2L, 5L, 10L)).toDF("id", "price", "qty", "total"))
    assert(vt.read().count() == 4)
    // carried and WRONG: aborts, nothing published
    val v = vt.currentVersion().get
    intercept[IllegalArgumentException] {
      vt.commitAppend(Seq((5L, 2L, 5L, 11L)).toDF("id", "price", "qty", "total"))
    }
    assert(vt.currentVersion().get == v)
    assert(vt.read().count() == 4)
  }

  test("UPDATE recomputes unless explicitly set; explicit wrong set aborts") {
    val vt = table()
    // price doubles on id=1: total must follow automatically
    vt.update(col("id") === 1L, Map("price" -> lit(20L)))
    assert(vt.read().filter(col("id") === 1L).as[(Long, Long, Long, Long)]
      .collect().toSeq == Seq((1L, 20L, 2L, 40L)))
    // untouched row unchanged
    assert(vt.read().filter(col("id") === 2L).select("total").as[Long]
      .collect().toSeq == Seq(15L))
    // an explicit consistent set is allowed
    vt.update(col("id") === 2L, Map("price" -> lit(4L), "total" -> lit(12L)))
    assert(vt.read().filter(col("id") === 2L).select("total").as[Long]
      .collect().toSeq == Seq(12L))
    // an explicit INCONSISTENT set aborts
    intercept[IllegalArgumentException] {
      vt.update(col("id") === 2L, Map("total" -> lit(999L)))
    }
  }

  test("merge sources are verified against the rule") {
    val vt = table()
    intercept[IllegalArgumentException] {
      vt.merge(Seq((1L, 3L, 3L, 10L)).toDF("id", "price", "qty", "total"), Seq("id"))
    }
    vt.merge(Seq((1L, 3L, 3L, 9L)).toDF("id", "price", "qty", "total"), Seq("id"))
    assert(vt.read().filter(col("id") === 1L).select("total").as[Long]
      .collect().toSeq == Seq(9L))
  }

  test("a batch omitting the column AND a source computes over null (reader semantics)") {
    val vt = table()
    // qty omitted too: readers would see qty null, so total = price*null = null
    vt.commitAppend(Seq((8L, 3L)).toDF("id", "price"))
    val row = vt.read().filter(col("id") === 8L)
      .select("qty", "total").collect().head
    assert(row.isNullAt(0) && row.isNullAt(1),
      "generated value over an omitted source must be null, not an analysis error")
  }

  test("rules survive overwrite (batch omitting the column gets it computed)") {
    val vt = table()
    vt.commitOverwrite(Seq((9L, 6L, 6L)).toDF("id", "price", "qty"))
    assert(vt.read().select("total").as[Long].collect().toSeq == Seq(36L))
    assert(vt.generatedColumns().keySet == Set("total"))
  }

  test("an overwrite omitting a rule's SOURCE refuses instead of polluting the schema") {
    val vt = table()
    val ex = intercept[IllegalArgumentException] {
      vt.commitOverwrite(Seq((9L, 6L)).toDF("id", "price")) // no qty
    }
    assert(ex.getMessage.contains("qty") && ex.getMessage.contains("generated"))
    assert(vt.read().columns.toSeq == Seq("id", "price", "qty", "total"),
      "nothing published; schema unchanged")
  }

  test("rename/drop of the column or a source is blocked while the rule exists") {
    val vt = table()
    intercept[IllegalArgumentException] { vt.renameColumn("total", "sum") }
    intercept[IllegalArgumentException] { vt.renameColumn("price", "cost") }
    intercept[IllegalArgumentException] { vt.dropColumn("qty") }
    vt.dropGeneratedColumn("total")
    vt.renameColumn("price", "cost")
    assert(vt.read().columns.toSeq == Seq("id", "cost", "qty", "total"))
    assert(vt.history().map(_.op).takeRight(3) ==
      Seq("addGeneratedColumn", "dropGeneratedColumn", "renameColumn"))
  }

  test("generated columns may not reference generated columns (or themselves)") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq((1L, 2L, 3L, 6L, 12L)).toDF("id", "a", "b", "ab", "ab2"))
    vt.addGeneratedColumn("ab", "a * b")
    intercept[IllegalArgumentException] { vt.addGeneratedColumn("ab2", "ab * 2") }
    intercept[IllegalArgumentException] { vt.addGeneratedColumn("ab2", "ab2") }
    // nor may a new rule's TARGET be referenced by an existing rule
    val vt2 = VersionedTable(spark, freshDir())
    vt2.commitOverwrite(Seq((1L, 2L, 4L)).toDF("id", "a", "a2"))
    vt2.addGeneratedColumn("a2", "a * 2")
    intercept[IllegalArgumentException] { vt2.addGeneratedColumn("a", "id * 2") }
  }

  test("streaming-style batch append computes the column too") {
    val vt = table()
    assert(vt.commitAppendBatch(Seq((7L, 2L, 2L)).toDF("id", "price", "qty"), 0L).isDefined)
    assert(vt.read().filter(col("id") === 7L).select("total").as[Long]
      .collect().toSeq == Seq(4L))
  }
}
