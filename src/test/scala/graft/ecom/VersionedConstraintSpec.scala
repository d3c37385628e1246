package graft.ecom

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.sql.functions.{col, lit}

import graft.SparkSuite

/** Pins CHECK-constraint semantics on [[VersionedTable]] (Delta's
  * `ALTER TABLE ADD CONSTRAINT`): adding verifies existing rows; every
  * row-introducing commit (append, overwrite, update, merge) is
  * verified and a violation aborts with NOTHING published; null passes
  * (SQL CHECK); constraints survive overwrite and schema evolution
  * (an omitted constrained column null-fills and passes); drop lifts
  * enforcement.
  */
class VersionedConstraintSpec extends SparkSuite {
  import spark.implicits._

  private def freshDir(): String =
    tempDir("graft-vtcons")

  private def scored(dir: String): VersionedTable = {
    val vt = VersionedTable(spark, dir)
    vt.commitOverwrite(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "score"))
    vt.addCheckConstraint("score_nonneg", "score >= 0")
    vt
  }

  test("violating append aborts before publish; valid append lands") {
    val vt = scored(freshDir())
    val ex = intercept[IllegalArgumentException] {
      vt.commitAppend(Seq((4L, -5L), (5L, 40L)).toDF("id", "score"))
    }
    assert(ex.getMessage.contains("score_nonneg") && ex.getMessage.contains("1 row"))
    assert(vt.versions() == Seq(1L, 2L), "nothing published on violation")
    assert(vt.read().count() == 3)
    vt.commitAppend(Seq((4L, 0L)).toDF("id", "score"))
    assert(vt.read().count() == 4)
  }

  test("adding a constraint existing rows violate throws; nothing published") {
    val vt = VersionedTable(spark, freshDir())
    vt.commitOverwrite(Seq((1L, -1L)).toDF("id", "score"))
    intercept[IllegalArgumentException] {
      vt.addCheckConstraint("score_nonneg", "score >= 0")
    }
    assert(vt.versions() == Seq(1L))
    assert(vt.checkConstraints().isEmpty)
  }

  test("null passes (SQL CHECK semantics)") {
    val vt = scored(freshDir())
    vt.commitAppend(Seq((6L, Option.empty[Long])).toDF("id", "score"))
    assert(vt.read().count() == 4)
  }

  test("update and merge results are verified; delete is not restricted") {
    val vt = scored(freshDir())
    intercept[IllegalArgumentException] {
      vt.update(col("id") === 2L, Map("score" -> lit(-7L)))
    }
    assert(vt.read().filter(col("score") < 0L).count() == 0)
    intercept[IllegalArgumentException] {
      vt.merge(Seq((9L, -9L)).toDF("id", "score"), Seq("id"))
    }
    assert(vt.read().count() == 3)
    vt.update(col("id") === 2L, Map("score" -> lit(7L)))
    vt.delete(col("score") > 25L)
    assert(vt.read().as[(Long, Long)].collect().sortBy(_._1).toSeq ==
      Seq((1L, 10L), (2L, 7L)))
  }

  test("constraints survive overwrite and replay under restore") {
    val vt = scored(freshDir())
    intercept[IllegalArgumentException] {
      vt.commitOverwrite(Seq((1L, -1L)).toDF("id", "score"))
    }
    vt.commitOverwrite(Seq((1L, 1L)).toDF("id", "score"))
    assert(vt.checkConstraints().keySet == Set("score_nonneg"))
    vt.restore(2L)
    assert(vt.checkConstraints().keySet == Set("score_nonneg"))
    assert(vt.read().count() == 3)
  }

  test("schema-evolving append omitting the constrained column null-fills and passes") {
    val vt = scored(freshDir())
    vt.commitAppend(Seq((7L, "x")).toDF("id", "tag"))
    assert(vt.read().count() == 4)
    assert(vt.read().filter(col("score").isNull).count() == 1)
  }

  test("drop lifts enforcement; dup add and unknown drop throw; history records ops") {
    val vt = scored(freshDir())
    intercept[IllegalArgumentException] {
      vt.addCheckConstraint("score_nonneg", "score >= 10")
    }
    intercept[IllegalArgumentException] { vt.dropCheckConstraint("nope") }
    vt.dropCheckConstraint("score_nonneg")
    vt.commitAppend(Seq((8L, -1L)).toDF("id", "score"))
    assert(vt.read().count() == 4)
    assert(vt.history().map(_.op) ==
      Seq("overwrite", "addConstraint", "dropConstraint", "append"))
  }

  test("a constraint landing mid-append surfaces as a conflict, never a silent skip") {
    spark.sparkContext.hadoopConfiguration
      .setClass("fs.gatedman.impl", classOf[GatedManifestFs], classOf[FileSystem])
    val local = freshDir()
    val healthy = VersionedTable(spark, local)
    healthy.commitOverwrite(Seq((1L, 10L)).toDF("id", "score"))
    val gated = VersionedTable(spark, s"gatedman:$local")

    GatedManifestFs.arrived = new CountDownLatch(1)
    GatedManifestFs.proceed = new CountDownLatch(1)
    GatedManifestFs.armed.set(true)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    // the append's batch VIOLATES the constraint about to land; its
    // enforcement was pinned before the constraint existed
    val app = Future(gated.commitAppend(Seq((2L, -5L)).toDF("id", "score")))
    assert(GatedManifestFs.arrived.await(60, TimeUnit.SECONDS), "append never reached publish")
    healthy.addCheckConstraint("score_nonneg", "score >= 0")
    GatedManifestFs.proceed.countDown()
    intercept[java.util.ConcurrentModificationException] {
      Await.result(app, 120.seconds)
    }
    // the unverified batch never landed…
    assert(healthy.read().count() == 1)
    assert(healthy.versions() == Seq(1L, 2L))
    // …and the retried append IS verified against the new constraint
    intercept[IllegalArgumentException] {
      healthy.commitAppend(Seq((2L, -5L)).toDF("id", "score"))
    }
    healthy.commitAppend(Seq((2L, 5L)).toDF("id", "score"))
    assert(healthy.read().count() == 2)
  }

  test("tab/newline-hostile names and expressions are rejected up front") {
    val vt = scored(freshDir())
    intercept[IllegalArgumentException] { vt.addCheckConstraint("a\tb", "score >= 0") }
    intercept[IllegalArgumentException] { vt.addCheckConstraint("ok", "score >= 0\n") }
    intercept[IllegalArgumentException] { vt.addCheckConstraint("", "score >= 0") }
  }
}
