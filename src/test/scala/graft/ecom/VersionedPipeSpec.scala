package graft.ecom

import org.apache.spark.sql.functions.col

import graft.SparkSuite

/** Pins the incremental pipeline step's contract: each source version's
  * rows are delivered to the destination exactly once (bootstrap, delta,
  * replay no-op), the transform applies per batch, and a rewriting op in
  * the pending window refuses rather than double-delivering rows.
  */
class VersionedPipeSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(name: String) =
    VersionedTable(spark, tempDir(name))

  test("bootstrap, delta-only steps, and replay no-op — exactly once end to end") {
    val src = fresh("graft-pipe-src")
    val dst = fresh("graft-pipe-dst")
    // nothing to do on an empty source
    assert(VersionedPipe.step(src, dst).isEmpty)

    src.commitOverwrite(spark.range(0, 100).toDF("id"))
    // bootstrap: the whole table is the first change set (v1 overwrite allowed)
    assert(VersionedPipe.step(src, dst,
      _.filter(col("id") % 2 === 0)).contains(1L))
    assert(dst.read().as[Long].collect().sorted.toSeq == (0L until 100L by 2))
    // a replayed step with no new source commits is a no-op
    assert(VersionedPipe.step(src, dst, _.filter(col("id") % 2 === 0)).isEmpty)
    assert(dst.read().count() == 50)

    // two more appends, ONE step: only the delta flows, in one commit
    src.commitAppend(spark.range(100, 120).toDF("id"))
    src.commitAppend(spark.range(120, 130).toDF("id"))
    assert(VersionedPipe.step(src, dst,
      _.filter(col("id") % 2 === 0)).contains(2L))
    assert(dst.read().as[Long].collect().sorted.toSeq == (0L until 130L by 2))
    // destination history records which source version each batch closed
    assert(dst.currentBatchId(VersionedPipe.App).contains(3L))
  }

  test("a rewriting op in the pending window refuses; catching up past it works from scratch") {
    val src = fresh("graft-pipe-src2")
    val dst = fresh("graft-pipe-dst2")
    src.commitOverwrite(spark.range(0, 50).toDF("id"))
    assert(VersionedPipe.step(src, dst).contains(1L))
    // source deletes rows -> the window (v1, v3] holds a rewrite
    src.commitAppend(spark.range(50, 60).toDF("id"))
    src.delete(col("id") < 5L)
    val ex = intercept[IllegalArgumentException] { VersionedPipe.step(src, dst) }
    assert(ex.getMessage.contains("delete"), s"must name the rewriting op: ${ex.getMessage}")
    // nothing was half-delivered
    assert(dst.read().count() == 50)
  }

  test("metadata-only and merge-on-read ops in the window are append-safe") {
    val src = fresh("graft-pipe-src4")
    val dst = fresh("graft-pipe-dst4")
    src.commitOverwrite(spark.range(0, 50).toDF("id"))
    assert(VersionedPipe.step(src, dst).contains(1L))
    // metadata commit + MoR delete + append: no file removed, so the
    // window is consumable — the new files arrive DV-filtered, and the
    // pipe no longer wedges on constraint/rename housekeeping
    src.addCheckConstraint("nonneg", "id >= 0")
    src.commitAppend(spark.range(50, 60).toDF("id"))
    src.deleteMoR(col("id") === 55L)
    assert(VersionedPipe.step(src, dst).contains(2L))
    assert(dst.read().as[Long].collect().sorted.toSeq ==
      ((0L until 50L) ++ (50L until 60L).filterNot(_ == 55L)))
  }

  test("bootstrap over a source with historical rewrites reads the full snapshot") {
    val src = fresh("graft-pipe-src5")
    val dst = fresh("graft-pipe-dst5")
    src.commitOverwrite(spark.range(0, 40).toDF("id").repartition(4))
    src.delete(col("id") < 5L)   // v2: a rewrite BEFORE the pipe attaches
    src.optimize()               // v3 (may or may not commit)
    src.commitAppend(spark.range(40, 45).toDF("id"))
    // a brand-new destination must be attachable: from=0 is a full
    // snapshot read, correct regardless of the source's earlier history
    assert(VersionedPipe.step(src, dst).isDefined)
    assert(dst.read().as[Long].collect().sorted.toSeq == (5L until 45L))
  }

  test("a reset source (destination ahead) is refused loudly") {
    val src = fresh("graft-pipe-src3")
    val dst = fresh("graft-pipe-dst3")
    src.commitOverwrite(spark.range(0, 10).toDF("id"))
    src.commitAppend(spark.range(10, 20).toDF("id"))
    assert(VersionedPipe.step(src, dst).contains(1L))
    // simulate a source rebuilt from scratch at a LOWER version
    val src2 = fresh("graft-pipe-src3b")
    src2.commitOverwrite(spark.range(0, 5).toDF("id"))
    intercept[IllegalArgumentException] { VersionedPipe.step(src2, dst) }
  }

  test("a legacy default-slot marker refuses the step; adoptLegacyMarker migrates it") {
    val src = fresh("graft-pipe-src6")
    val dst = fresh("graft-pipe-dst6")
    src.commitOverwrite(spark.range(0, 30).toDF("id"))
    // a pre-namespacing pipe recorded its progress in the DEFAULT slot:
    // simulate by landing the bootstrap window under DefaultApp
    assert(dst.commitAppendBatch(src.readChangesBetween(0L, 1L), 1L).isDefined)
    assert(dst.currentBatchId(VersionedTable.DefaultApp).contains(1L))
    src.commitAppend(spark.range(30, 40).toDF("id"))
    // default refuses: a silent bootstrap would duplicate all 30 rows
    val ex = intercept[IllegalStateException] { VersionedPipe.step(src, dst) }
    assert(ex.getMessage.contains("adoptLegacyMarker"), ex.getMessage)
    assert(dst.read().count() == 30, "nothing delivered by the refused step")
    // opt-in adoption: only the (v1, v2] delta flows, and the commit
    // writes the namespaced marker — later steps need no flag
    assert(VersionedPipe.step(src, dst, adoptLegacyMarker = true).isDefined)
    assert(dst.read().as[Long].collect().sorted.toSeq == (0L until 40L))
    assert(dst.currentBatchId(VersionedPipe.App).contains(2L))
    src.commitAppend(spark.range(40, 45).toDF("id"))
    assert(VersionedPipe.step(src, dst).isDefined)
    assert(dst.read().count() == 45)
  }

  test("bootstrapFromZero starts a fresh pipe on a sink-co-written destination") {
    val src = fresh("graft-pipe-src7")
    val dst = fresh("graft-pipe-dst7")
    src.commitOverwrite(spark.range(0, 20).toDF("id"))
    // a streaming SINK wrote dst under the DEFAULT app: its batch id (7)
    // is a micro-batch counter, unrelated to source versions — adopting
    // it would silently skip the whole source prefix
    assert(dst.commitAppendBatch(spark.range(100, 105).toDF("id"), batchId = 7L).isDefined)
    intercept[IllegalStateException] { VersionedPipe.step(src, dst) }
    // the flag pair is mutually exclusive by construction
    intercept[IllegalArgumentException] {
      VersionedPipe.step(src, dst, adoptLegacyMarker = true, bootstrapFromZero = true)
    }
    // bootstrapFromZero: the FULL source snapshot flows, sink rows stay
    assert(VersionedPipe.step(src, dst, bootstrapFromZero = true).isDefined)
    assert(dst.read().count() == 25)
    assert(dst.currentBatchId(VersionedPipe.App).contains(1L))
    // the sink's own marker namespace is untouched
    assert(dst.currentBatchId(VersionedTable.DefaultApp).contains(7L))
    // later steps are ordinary increments, no flag
    src.commitAppend(spark.range(20, 30).toDF("id"))
    assert(VersionedPipe.step(src, dst).isDefined)
    assert(dst.read().count() == 35)
  }

  test("readAsOf returns the newest version at or before the timestamp") {
    val vt = fresh("graft-asof")
    vt.commitOverwrite(spark.range(0, 10).toDF("id"))
    val t1 = vt.history().last.modifiedMs
    Thread.sleep(50) // keep the two manifests' mtimes distinct
    vt.commitAppend(spark.range(10, 20).toDF("id"))
    val t2 = vt.history().last.modifiedMs
    assert(vt.readAsOf(t1).count() == 10)
    assert(vt.readAsOf(t2 + 1).count() == 20)
    intercept[IllegalArgumentException] { vt.readAsOf(t1 - 100000) }
  }
}
