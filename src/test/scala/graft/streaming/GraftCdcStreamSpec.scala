package graft.streaming

import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.ecom.VersionedTable

/** The row-level change feed as a STREAMING source
  * (`readStream.option("readChangeFeed", "true")`): each micro-batch
  * carries insert/delete/update pre+post rows with commit versions, DML
  * versions flow (they are the point — the append-only source refuses
  * them), replays are no-ops, and a foreachBatch MERGE consumer
  * materializes an exact REPLICA of the source table — the CDC
  * replication loop, closed end to end.
  */
class GraftCdcStreamSpec extends SparkSuite {
  import spark.implicits._

  private val CT = VersionedTable.CdcTypeCol
  private val CV = VersionedTable.CdcVersionCol

  private def fresh(name: String): String =
    tempDir(name)

  test("feed stream: bootstrap + per-version batches across DML; replay no-op") {
    val dir = fresh("graft-cdc-stream")
    val src = VersionedTable(spark, s"$dir/src")
    val dst = VersionedTable(spark, s"$dir/dst") // materialized feed rows
    src.commitAppend(Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("id", "amt"))
    src.setTableProperty("graft.enableChangeDataFeed", "true")

    def run(): Unit = {
      val q = spark.readStream.format("graft")
        .option("readChangeFeed", "true")
        .load(src.tableDir)
        .drop(VersionedTable.CdcTimestampCol)
        .writeStream.format("graft")
        .option("path", dst.tableDir)
        .option("checkpointLocation", s"$dir/ckpt")
        .start()
      q.processAllAvailable(); q.stop()
    }
    def materialized(): Set[(Long, Long, String, Long)] =
      dst.read().collect().map(r => (r.getLong(0), r.getLong(1),
        r.getString(2), r.getLong(3))).toSet

    // bootstrap: the whole history so far (v1 inserts; v2 is metadata)
    run()
    assert(materialized() == Set(
      (1L, 10L, "insert", 1L), (2L, 20L, "insert", 1L), (3L, 30L, "insert", 1L)))

    // DML versions FLOW as row-level changes (the append source refuses)
    src.delete(col("id") === 2L)
    src.update(col("id") === 1L, Map("amt" -> (col("amt") + 1L)))
    run()
    assert(materialized() == Set(
      (1L, 10L, "insert", 1L), (2L, 20L, "insert", 1L), (3L, 30L, "insert", 1L),
      (2L, 20L, "delete", 3L),
      (1L, 10L, "update_preimage", 4L), (1L, 11L, "update_postimage", 4L)))

    // nothing new: a replayed run delivers nothing, commits nothing
    val before = dst.versions()
    run()
    assert(dst.versions() == before, "replay must be a no-op")
  }

  test("startingVersion skips pre-enablement DML; stream schema is the feed schema") {
    val dir = fresh("graft-cdc-start")
    val src = VersionedTable(spark, s"$dir/src")
    src.commitAppend(Seq((1L, 10L), (2L, 20L)).toDF("id", "amt"))
    src.delete(col("id") === 1L) // v2: DML with NO sidecar (pre-enablement)
    src.setTableProperty("graft.enableChangeDataFeed", "true") // v3
    src.update(col("id") === 2L, Map("amt" -> (col("amt") * 2L))) // v4

    val stream = spark.readStream.format("graft")
      .option("readChangeFeed", "true").option("startingVersion", "3")
      .load(src.tableDir)
    assert(stream.schema.fieldNames.toSeq ==
      Seq("id", "amt", CT, CV, VersionedTable.CdcTimestampCol))

    val seen = scala.collection.mutable.Set.empty[(Long, Long, String, Long)]
    val q = stream.drop(VersionedTable.CdcTimestampCol)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r =>
          seen += ((r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))))
        ()
      }
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()
    assert(seen.toSet == Set(
      (2L, 20L, "update_preimage", 4L), (2L, 40L, "update_postimage", 4L)))

    // a window crossing the pre-enablement DML refuses loudly instead
    val q2 = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .load(src.tableDir)
      .writeStream.format("memory").queryName("cdc_refuse")
      .option("checkpointLocation", s"$dir/ckpt2").start()
    val ex = intercept[Exception] { q2.processAllAvailable() }
    q2.stop()
    assert(ex.getMessage.contains("change data was not recorded"),
      s"must surface the pre-enablement refusal: ${ex.getMessage}")
  }

  test("CDC replication: a foreachBatch merge consumer reproduces the source table") {
    val dir = fresh("graft-cdc-replica")
    val src = VersionedTable(spark, s"$dir/src")
    val replica = VersionedTable(spark, s"$dir/replica")
    src.commitAppend((1L to 20L).map(i => (i, i * 10L)).toDF("id", "amt"))
    src.setTableProperty("graft.enableChangeDataFeed", "true")
    src.delete(col("id") % 5L === 0L)
    src.update(col("id") <= 3L, Map("amt" -> (col("amt") + 1L)))
    src.merge(Seq((2L, 999L), (100L, 1000L)).toDF("id", "amt"), Seq("id"))

    // apply each batch's NET effect per key in version order: the last
    // change wins (delete removes, insert/postimage upserts) — the
    // standard CDC apply loop, latest-wins within the batch
    val q = spark.readStream.format("graft")
      .option("readChangeFeed", "true")
      .load(src.tableDir)
      .writeStream.foreachBatch { (b: org.apache.spark.sql.Dataset[
        org.apache.spark.sql.Row], batchId: Long) =>
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{col, row_number}
        val last = b.filter(col(CT) =!= "update_preimage")
          .withColumn("_rn", row_number().over(
            Window.partitionBy(col("id"))
              // latest version wins; within one version only an
              // overwrite's delete+insert pair shares a key — the insert
              // is the net effect, and 'update_postimage' > 'insert' >
              // 'delete' sorts the right row first under type desc
              .orderBy(col(CV).desc, col(CT).desc)))
          .filter(col("_rn") === 1)
        val ups = last.filter(col(CT) =!= "delete").select(col("id"), col("amt"))
        val dels = last.filter(col(CT) === "delete").select(col("id"), col("amt"))
        replica.commitMergeBatch(ups, Seq("id"), batchId)
        if (dels.count() > 0) replica.delete(col("id").isin(
          dels.select("id").collect().map(_.getLong(0)).toIndexedSeq: _*))
        ()
      }
      .option("checkpointLocation", s"$dir/ckpt").start()
    q.processAllAvailable(); q.stop()

    val want = src.read().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = replica.read().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want, s"replica must equal source; missing=${want -- got} " +
      s"extra=${got -- want}")
  }
}
