package graft.streaming

import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.ecom.VersionedTable

/** The versioned change feed as a STREAMING source: offsets are table
  * versions, each micro-batch is the file-level delta, and with the
  * versioned sink on the other end the silver→gold hop runs as a
  * stream with exactly-once semantics end to end — batch/stream parity
  * over appends, replay no-op, rewrite refusal.
  */
class GraftStreamSourceSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(name: String): String =
    tempDir(name)

  test("table-to-table stream: bootstrap, per-append batches, replay no-op — batch/stream parity") {
    val dir = fresh("graft-stream-src")
    val src = VersionedTable(spark, s"$dir/src")
    val dst = VersionedTable(spark, s"$dir/dst")
    val ckpt = s"$dir/ckpt"
    src.commitOverwrite((1L to 50L).toDF("id"))

    def run(): Unit = {
      val q = Sinks.versionedAppend(
        spark.readStream.format("graft").load(src.tableDir)
          .filter(col("id") % 2L === 0L), // the stateless silver transform
        dst, ckpt)
      q.processAllAvailable(); q.stop()
    }
    // bootstrap: the full v1 snapshot flows as one batch
    run()
    assert(dst.read().as[Long].collect().sorted.toSeq == (2L to 50L by 2))

    // two more source commits; a resumed stream delivers ONLY the delta
    src.commitAppend((51L to 70L).toDF("id"))
    src.commitAppend((71L to 80L).toDF("id"))
    run()
    assert(dst.read().as[Long].collect().sorted.toSeq == (2L to 80L by 2),
      "stream result equals the batch transform of the whole table — parity")

    // no new source commits: a replayed run commits NOTHING
    val versionsBefore = dst.versions()
    run()
    assert(dst.versions() == versionsBefore, "replay must be a no-op")
  }

  test("pure readStream→writeStream table-to-table hop, no foreachBatch — exactly once") {
    val dir = fresh("graft-stream-sink")
    val src = VersionedTable(spark, s"$dir/src")
    val dst = VersionedTable(spark, s"$dir/dst")
    src.commitOverwrite((1L to 40L).toDF("id"))

    def run(): Unit = {
      val q = spark.readStream.format("graft").load(src.tableDir)
        .filter(col("id") % 2L === 0L)
        .writeStream.format("graft")
        .option("path", dst.tableDir)
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(dst.read().as[Long].collect().sorted.toSeq == (2L to 40L by 2))
    // delta-only on resume; replay with nothing new commits nothing
    src.commitAppend((41L to 50L).toDF("id"))
    run()
    assert(dst.read().as[Long].collect().sorted.toSeq == (2L to 50L by 2))
    val before = dst.versions()
    run()
    assert(dst.versions() == before, "replay must be a no-op")
    // the sink's exactly-once marker is namespaced PER QUERY by its
    // checkpoint location (Delta's txn appId discipline) — NOT the
    // shared DefaultApp slot, which a second query would clobber
    assert(dst.currentBatchId(s"sink:$dir/ckpt").isDefined)
    assert(dst.currentBatchId().isEmpty,
      "the V1 sink must not squat on the shared DefaultApp marker")
  }

  test("two distinct queries into ONE table: neither drops the other's batch 0") {
    val dir = fresh("graft-sink-two-queries")
    val srcA = VersionedTable(spark, s"$dir/srcA")
    val srcB = VersionedTable(spark, s"$dir/srcB")
    val dst = VersionedTable(spark, s"$dir/dst")
    srcA.commitOverwrite((1L to 10L).toDF("id"))
    srcB.commitOverwrite((101L to 110L).toDF("id"))

    // both queries' first micro-batch is batchId 0; with a shared txn
    // marker the second would be skipped as a replay — silent data loss
    def hop(src: VersionedTable, ckpt: String): Unit = {
      val q = spark.readStream.format("graft").load(src.tableDir)
        .writeStream.format("graft")
        .option("path", dst.tableDir)
        .option("checkpointLocation", ckpt)
        .start()
      q.processAllAvailable(); q.stop()
    }
    hop(srcA, s"$dir/ckptA")
    hop(srcB, s"$dir/ckptB")
    assert(dst.read().as[Long].collect().sorted.toSeq ==
      ((1L to 10L) ++ (101L to 110L)),
      "both queries' batch 0 must land — per-query txn namespaces")

    // and each query's OWN replay is still a no-op
    val before = dst.versions()
    hop(srcA, s"$dir/ckptA")
    hop(srcB, s"$dir/ckptB")
    assert(dst.versions() == before, "per-query replay stays exactly-once")

    // an explicit app option overrides the checkpoint-derived namespace
    val q3 = spark.readStream.format("graft").load(srcA.tableDir)
      .writeStream.format("graft")
      .option("path", dst.tableDir)
      .option("app", "my-writer")
      .option("checkpointLocation", s"$dir/ckptC")
      .start()
    q3.processAllAvailable(); q3.stop()
    assert(dst.currentBatchId("my-writer").isDefined)
  }

  test("a rewriting op in the pending window refuses rather than re-delivering") {
    val dir = fresh("graft-stream-rw")
    val src = VersionedTable(spark, s"$dir/src")
    val dst = VersionedTable(spark, s"$dir/dst")
    src.commitOverwrite((1L to 30L).toDF("id"))
    val q1 = Sinks.versionedAppend(
      spark.readStream.format("graft").load(src.tableDir), dst, s"$dir/ckpt")
    q1.processAllAvailable(); q1.stop()
    assert(dst.read().count() == 30)

    src.commitAppend((31L to 40L).toDF("id"))
    src.delete(col("id") < 5L) // copy-on-write rewrite in the pending window
    val q2 = Sinks.versionedAppend(
      spark.readStream.format("graft").load(src.tableDir), dst, s"$dir/ckpt")
    val ex = intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    assert(ex.getMessage.contains("rewrites or removes"),
      s"must refuse the rewrite window: ${ex.getMessage}")
    assert(dst.read().count() == 30, "nothing half-delivered")
  }

  test("a mid-stream OPTIMIZE is skipped (dataChange=false): zero duplicates, no restart") {
    val dir = fresh("graft-stream-opt")
    val src = VersionedTable(spark, s"$dir/src")
    val dst = VersionedTable(spark, s"$dir/dst")
    src.commitOverwrite((1L to 30L).toDF("id"))
    def run(): Unit = {
      val q = Sinks.versionedAppend(
        spark.readStream.format("graft").load(src.tableDir), dst, s"$dir/ckpt")
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(dst.read().count() == 30)

    // the pending window: an append, a compaction that REWRITES both
    // the pre-window files and the window's own append (the corner:
    // those rows must deliver exactly once, from the pre-optimize
    // manifest), then another append read through the end manifest
    src.commitAppend((31L to 40L).toDF("id"))
    src.optimize()
    src.commitAppend((41L to 50L).toDF("id"))
    run()
    assert(dst.read().as[Long].collect().sorted.toSeq == (1L to 50L),
      "stream must survive the optimize with zero duplicate rows")

    // and a replay stays a no-op
    val before = dst.versions()
    run()
    assert(dst.versions() == before)
  }

  test("a mid-stream purgeDeletes is skipped; MoR deletes stay unpropagated (policy)") {
    val dir = fresh("graft-stream-purge")
    val src = VersionedTable(spark, s"$dir/src")
    val dst = VersionedTable(spark, s"$dir/dst")
    src.commitOverwrite((1L to 30L).toDF("id"))
    def run(): Unit = {
      val q = Sinks.versionedAppend(
        spark.readStream.format("graft").load(src.tableDir), dst, s"$dir/ckpt")
      q.processAllAvailable(); q.stop()
    }
    run()
    // window: DV-only delete (kept files — nothing re-delivered, the
    // documented MoR policy), an append, then the purge rewrite that
    // materializes the DVs — data-preserving, skipped
    src.deleteMoR(col("id") <= 3L)
    src.commitAppend((31L to 35L).toDF("id"))
    src.purgeDeletes()
    run()
    assert(dst.read().as[Long].collect().sorted.toSeq == (1L to 35L),
      "only the append delivers; already-served rows stay (MoR policy)")
  }

  test("schema comes from the manifest; user schemas are refused") {
    val dir = fresh("graft-stream-schema")
    val src = VersionedTable(spark, s"$dir/src")
    src.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    val stream = spark.readStream.format("graft").load(src.tableDir)
    assert(stream.schema.fieldNames.toSeq == Seq("id", "v"))
    val ex = intercept[IllegalArgumentException] {
      spark.readStream.format("graft")
        .schema("id LONG").load(src.tableDir).schema
    }
    assert(ex.getMessage.contains("manifest"))
  }

  test("CDC stream: a rename mid-window stops with an actionable error naming the restart version") {
    val dir = fresh("graft-cdc-rename")
    val src = VersionedTable(spark, s"$dir/src")
    src.commitOverwrite((1L to 10L).toDF("id"))                      // v1
    src.setTableProperty("graft.enableChangeDataFeed", "true")       // v2

    def run(dst: VersionedTable, ckpt: String, startingVersion: Long): Unit = {
      val q = Sinks.versionedAppend(
        spark.readStream.format("graft")
          .option("readChangeFeed", "true")
          .option("startingVersion", startingVersion.toString)
          .load(src.tableDir)
          .drop(VersionedTable.CdcTimestampCol),
        dst, ckpt)
      q.processAllAvailable(); q.stop()
    }
    val dst1 = VersionedTable(spark, s"$dir/dst1")
    run(dst1, s"$dir/ckpt", 1L)
    assert(dst1.read().count() == 10) // the v1 inserts

    // a rename + more DML land while the stream is down: the pending
    // window crosses the mapping boundary — the resume must refuse
    // with the exact restart point, not a confusing analysis error
    src.delete(col("id") === 1L)                                     // v3
    src.renameColumn("id", "ident")                                  // v4
    src.delete(col("ident") === 2L)                                  // v5
    val ex = intercept[Exception] {
      val q = Sinks.versionedAppend(
        spark.readStream.format("graft")
          .option("readChangeFeed", "true")
          .option("startingVersion", "1")
          .load(src.tableDir)
          .drop(VersionedTable.CdcTimestampCol),
        dst1, s"$dir/ckpt")
      try q.processAllAvailable() finally q.stop()
    }
    val msg = Option(ex.getMessage).getOrElse("") +
      Option(ex.getCause).flatMap(c => Option(c.getMessage)).getOrElse("")
    assert(msg.contains("startingVersion") && msg.contains("4"),
      s"must name the restart version: $msg")
    assert(dst1.read().count() == 10, "nothing half-delivered")

    // the prescribed restart (fresh checkpoint, startingVersion = 4)
    // serves the post-rename side under the evolved schema
    val dst2 = VersionedTable(spark, s"$dir/dst2")
    run(dst2, s"$dir/ckpt2", 4L)
    assert(dst2.read().columns.contains("ident"))
    assert(dst2.read()
      .filter(col(VersionedTable.CdcTypeCol) === "delete").count() == 1)
  }

  test("schemaTrackingLocation rides a rename: same checkpoint, one stop/start, zero lost/duplicated") {
    val dir = fresh("graft-cdc-track")
    val src = VersionedTable(spark, s"$dir/src")
    src.commitOverwrite((1L to 10L).toDF("id"))                      // v1
    src.setTableProperty("graft.enableChangeDataFeed", "true")       // v2

    // every delivered change, normalized as (change_type, key value) —
    // the sink survives the rename by reading positionally
    val got = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    def run(): Option[Throwable] = {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("schemaTrackingLocation", s"$dir/track")
        .load(src.tableDir)
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
          got.synchronized {
            got ++= b.collect().map(r =>
              (r.getString(r.fieldIndex(VersionedTable.CdcTypeCol)), r.getLong(0)))
          }
          ()
        }
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
      val err = try { q.processAllAvailable(); None } catch {
        case e: Throwable => Some(e)
      }
      q.stop()
      err
    }

    assert(run().isEmpty)
    assert(got.count(_._1 == "insert") == 10, "bootstrap window: the v1 inserts")

    // while the stream is DOWN: pre-boundary DML, a rename, post-boundary DML
    src.delete(col("id") === 1L)                                     // v3
    src.renameColumn("id", "ident")                                  // v4
    src.delete(col("ident") === 2L)                                  // v5

    // resume on the SAME checkpoint: the clamped offset serves the
    // pre-boundary delete under the old schema FIRST, then stops at the
    // boundary naming the same-checkpoint restart
    val stop = run()
    def msgs(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => Option(e.getMessage).getOrElse("")).mkString(" | ")
    assert(stop.isDefined && msgs(stop.get).contains("SAME checkpoint"),
      s"the boundary stop must prescribe a same-checkpoint restart: " +
        stop.map(msgs).getOrElse("no error"))
    assert(got.collect { case ("delete", v) => v } == Seq(1L),
      "the pre-boundary delete must be served BEFORE the stop")

    // ONE restart, same checkpoint: the re-frozen schema serves the
    // post-boundary side; nothing lost, nothing duplicated
    assert(run().isEmpty)
    assert(got.collect { case ("delete", v) => v } == Seq(1L, 2L),
      s"both deletes exactly once, in order: $got")
    assert(got.count(_._1 == "insert") == 10, "no re-delivered inserts")

    // idle restart on the same checkpoint lands nothing more
    assert(run().isEmpty)
    assert(got.size == 12, s"idle restart must deliver nothing: $got")
  }
}
