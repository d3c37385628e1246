package graft.streaming

import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.ecom.VersionedTable

/** The CDC sink: change-feed source → foreachBatch MERGE (latest-wins)
  * into a versioned table, exactly-once under trigger replays — the
  * row-level-update completion of the append-only table-to-table hops.
  */
class StreamingUpsertSpec extends SparkSuite {
  import spark.implicits._

  private def fresh(name: String): String =
    tempDir(name)

  test("CDC stream upserts latest-wins per key; replays are no-ops; parity with batch") {
    val dir = fresh("graft-upsert")
    val src = VersionedTable(spark, s"$dir/src")
    val dst = VersionedTable(spark, s"$dir/dst")
    val ckpt = s"$dir/ckpt"
    // CDC rows: (id key, v payload, seq total order)
    src.commitOverwrite(Seq((1L, "a", 1L), (2L, "b", 2L), (1L, "a2", 3L))
      .toDF("id", "v", "seq"))

    def run(): Unit = {
      val q = Sinks.versionedUpsert(
        spark.readStream.format("graft").load(src.tableDir),
        dst, keys = Seq("id"), seqCol = col("seq"), checkpointDir = ckpt)
      q.processAllAvailable(); q.stop()
    }
    // bootstrap batch: in-batch latest-wins (id=1 keeps seq=3)
    run()
    assert(dst.read().as[(Long, String, Long)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a2", 3L), (2L, "b", 2L)))

    // a second CDC wave: update id=2, insert id=3, two updates of id=1
    src.commitAppend(Seq((2L, "b2", 4L), (3L, "c", 5L), (1L, "a3", 6L), (1L, "a4", 7L))
      .toDF("id", "v", "seq"))
    run()
    assert(dst.read().as[(Long, String, Long)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "a4", 7L), (2L, "b2", 4L), (3L, "c", 5L)),
      "merge must take each key's LATEST row of the wave")

    // replay with no new source data: no version lands
    val before = dst.versions()
    run()
    assert(dst.versions() == before, "replayed trigger must be a no-op")
    // history records merges, and each wave is ONE atomic version
    assert(dst.history().map(_.op).count(_ == "merge") >= 1)
  }

  test("commitMergeBatch is exactly-once by (app, batchId), per app") {
    val dir = fresh("graft-upsert-txn")
    val vt = VersionedTable(spark, dir)
    val b0 = Seq((1L, "x")).toDF("id", "v")
    assert(vt.commitMergeBatch(b0, Seq("id"), batchId = 0L, app = "q1").isDefined)
    // same app + same batch: replay no-op
    assert(vt.commitMergeBatch(b0, Seq("id"), batchId = 0L, app = "q1").isEmpty)
    // a DIFFERENT app with the same batch id is independent (the bug
    // class the r11 sink fix closed for appends)
    assert(vt.commitMergeBatch(Seq((2L, "y")).toDF("id", "v"),
      Seq("id"), batchId = 0L, app = "q2").isDefined)
    assert(vt.read().as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "x"), (2L, "y")))
    // next batch of app q1 merges (update) normally
    assert(vt.commitMergeBatch(Seq((1L, "x2")).toDF("id", "v"),
      Seq("id"), batchId = 1L, app = "q1").isDefined)
    assert(vt.read().as[(Long, String)].collect().sortBy(_._1).toSeq ==
      Seq((1L, "x2"), (2L, "y")))
  }

  test("null-keyed CDC rows insert (never pooled by the latest-wins window)") {
    val batch = Seq((Option(1L), "a", 1L), (Option.empty[Long], "n1", 2L),
      (Option.empty[Long], "n2", 3L), (Option(1L), "a2", 4L))
      .toDF("id", "v", "seq")
    val reduced = Sinks.latestWins(batch, Seq("id"), col("seq"))
      .as[(Option[Long], String, Long)].collect().sortBy(_._3)
    assert(reduced.toSeq == Seq((None, "n1", 2L), (None, "n2", 3L),
      (Some(1L), "a2", 4L)),
      "both null-keyed rows survive; keyed rows reduce to the latest")
  }
}
