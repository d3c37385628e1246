package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.SparkSuite
import graft.streaming.EventStreams._

/** Streaming semantics pinned via MemoryStream: batch/stream parity of
  * the windowed transforms, watermark-driven late-data handling, and the
  * custom keyed state.
  */
class EventStreamsSpec extends SparkSuite {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val day1 = Seq(
    EventRow(1L, 10L, ts("2024-01-01 10:00:00"), "view", 0.0),
    EventRow(2L, 10L, ts("2024-01-01 10:10:00"), "purchase", 25.0),
    EventRow(3L, 11L, ts("2024-01-01 11:00:00"), "view", 0.0),
    EventRow(4L, 11L, ts("2024-01-02 09:00:00"), "purchase", 75.0))

  test("dailyTypeCounts: stream result equals the same transform run in batch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = dailyTypeCounts(in.toDF()).writeStream
      .format("memory").queryName("daily_counts").outputMode(OutputMode.Append()).start()
    // Append mode emits a window only once the watermark passes it: feed
    // day1 in trigger 1, then a far-future event in trigger 2 to advance
    // the watermark past every day1 window.
    in.addData(day1)
    q.processAllAvailable()
    in.addData(EventRow(99L, 1L, ts("2024-01-05 00:00:00"), "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val stream = spark.table("daily_counts")
      .select("day", "event_type", "n", "total_value")
    val batch = dailyTypeCounts(day1.toDF())
      .filter(col("day") < ts("2024-01-05 00:00:00"))
    assert(stream.exceptAll(batch).isEmpty && batch.exceptAll(stream).isEmpty)
  }

  test("windowedValuePercentiles: cross-trigger sketch merge equals the batch sketch") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = windowedValuePercentiles(in.toDF()).writeStream
      .format("memory").queryName("val_pcts").outputMode(OutputMode.Append()).start()
    // one 1-hour window's values split ACROSS two triggers: the per-type
    // sketches must merge across micro-batches before the watermark
    // closes the window (this is the mergeability the operator exists for)
    val half1 = (1 to 50).map(i =>
      EventRow(i.toLong, 1L, ts("2024-01-01 10:00:01"), "view", i.toDouble))
    val half2 = (51 to 100).map(i =>
      EventRow(i.toLong, 1L, ts("2024-01-01 10:30:00"), "view", i.toDouble))
    in.addData(half1)
    q.processAllAvailable()
    in.addData(half2)
    q.processAllAvailable()
    in.addData(EventRow(999L, 1L, ts("2024-01-02 00:00:00"), "view", 0.0)) // advance watermark
    q.processAllAvailable()
    q.stop()
    val got = spark.table("val_pcts")
      .filter(col("window_start") === ts("2024-01-01 10:00:00")).head()
    assert(got.getAs[Long]("n") == 100)
    // accuracy 10000 on 100 values → within one rank of the true percentile
    assert(math.abs(got.getAs[Double]("p50_value") - 50.0) <= 1.0)
    assert(math.abs(got.getAs[Double]("p95_value") - 95.0) <= 1.0)
    // batch parity on the same rows — rank tolerance, not bit equality:
    // merge order (two micro-batches vs one batch pass) may legally
    // produce different-but-contract-valid approximations once the
    // sketch compresses
    val batch = windowedValuePercentiles((half1 ++ half2).toDF())
      .filter(col("window_start") === ts("2024-01-01 10:00:00")).head()
    assert(math.abs(batch.getAs[Double]("p50_value") - got.getAs[Double]("p50_value")) <= 1.0)
    assert(math.abs(batch.getAs[Double]("p95_value") - got.getAs[Double]("p95_value")) <= 1.0)
  }

  test("userSessions: 30-minute gap splits sessions; revenue attributed per session") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventRow]
    in.addData(
      EventRow(1L, 10L, ts("2024-01-01 10:00:00"), "view", 0.0),
      EventRow(2L, 10L, ts("2024-01-01 10:20:00"), "purchase", 30.0), // same session
      EventRow(3L, 10L, ts("2024-01-01 12:00:00"), "purchase", 40.0), // new session (gap > 30m)
      EventRow(9L, 99L, ts("2024-01-02 00:00:00"), "view", 0.0))     // watermark pusher
    val out = runToMemory(userSessions(in.toDF()), "sessions", OutputMode.Append())
      .filter(col("user_id") === 10L)
      .orderBy("session_start")
      .collect()
    assert(out.length == 2)
    assert(out(0).getAs[Long]("n_events") == 2 && out(0).getAs[Double]("session_revenue") == 30.0)
    assert(out(1).getAs[Long]("n_events") == 1 && out(1).getAs[Double]("session_revenue") == 40.0)
  }

  test("dedupEvents: duplicate event_ids within the watermark emit once, across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = dedupEvents(in.toDF()).writeStream
      .format("memory").queryName("deduped").outputMode(OutputMode.Append()).start()
    in.addData(
      EventRow(1L, 10L, ts("2024-01-01 10:00:00"), "view", 0.0),
      EventRow(1L, 10L, ts("2024-01-01 10:00:00"), "view", 0.0), // same-trigger dup
      EventRow(2L, 10L, ts("2024-01-01 10:01:00"), "click", 0.0))
    q.processAllAvailable()
    in.addData(EventRow(1L, 10L, ts("2024-01-01 10:02:00"), "view", 0.0)) // cross-trigger dup
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("deduped").select("event_id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("enrichWithDim: micro-batches join the static dimension") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dim = Seq((10L, "gold"), (11L, "basic")).toDF("user_id", "tier")
    val in = MemoryStream[EventRow]
    in.addData(day1)
    val out = runToMemory(enrichWithDim(in.toDF(), dim, "user_id"), "enriched",
      OutputMode.Append())
    val tiers = out.select("user_id", "tier").distinct().collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tiers == Map(10L -> "gold", 11L -> "basic"))
  }

  test("writeBronzeIncremental: appends date-partitioned parquet across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-bronze")
    val in = MemoryStream[EventRow]
    val q = writeBronzeIncremental(in.toDF(), s"$dir/out", s"$dir/ckpt")
    in.addData(day1.take(3))
    q.processAllAvailable()
    in.addData(day1.drop(3))
    q.processAllAvailable()
    q.stop()
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() == day1.length)
    // physical layout: _batch_id (idempotent replay unit) then event_date
    val batchDirs = java.nio.file.Files.list(java.nio.file.Paths.get(s"$dir/out"))
      .toArray.map(_.toString).filter(_.contains("_batch_id="))
    assert(batchDirs.length == 2) // one subtree per micro-batch
    val dateParts = batchDirs.flatMap(b =>
      java.nio.file.Files.list(java.nio.file.Paths.get(b))
        .toArray.map(_.toString).filter(_.contains("event_date=")))
    assert(dateParts.map(_.split("event_date=").last).distinct.sorted.toSeq
      == Seq("2024-01-01", "2024-01-02"))
    // replaying a batch id overwrites its own subtree only (idempotent)
    day1.take(3).toDF().withColumn("event_date", to_date(col("ts")))
      .withColumn("_batch_id", lit(0L))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("_batch_id", "event_date").parquet(s"$dir/out")
    assert(spark.read.parquet(s"$dir/out").count() == day1.length)
  }

  test("readEvents: unbounded parquet-directory source feeds the windowed transforms") {
    import spark.implicits._
    val dir = tempDir("graft-evsrc")
    day1.toDF().write.mode("append").parquet(s"$dir/in")
    val stream = readEvents(spark, s"$dir/in")
    assert(stream.isStreaming)
    val q = dailyTypeCounts(stream).writeStream
      .format("memory").queryName("from_files").outputMode(OutputMode.Append()).start()
    q.processAllAvailable()
    // a later file arrival advances the watermark and closes day1 windows
    Seq(EventRow(99L, 1L, ts("2024-01-05 00:00:00"), "view", 0.0)).toDF()
      .write.mode("append").parquet(s"$dir/in")
    q.processAllAvailable()
    q.stop()
    val got = spark.table("from_files")
    assert(got.count() >= 3) // day1 windows (2 types on day 1, 1 on day 2)
  }

  test("runningUserStats: keyed state accumulates across triggers") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = runningUserStats(in.toDS()).writeStream
      .format("memory").queryName("user_stats").outputMode(OutputMode.Update()).start()
    in.addData(day1.take(2)) // user 10: view + purchase 25
    q.processAllAvailable()
    in.addData(EventRow(5L, 10L, ts("2024-01-03 08:00:00"), "purchase", 10.0))
    q.processAllAvailable()
    q.stop()
    // Update mode emits one row per (trigger, user); the latest row for
    // user 10 carries the full accumulated state.
    val rows = spark.table("user_stats").filter(col("user_id") === 10L)
      .orderBy(col("last_ts").desc).collect()
    assert(rows.nonEmpty)
    val last = rows.head
    assert(last.getAs[Long]("n_events") == 3)
    assert(last.getAs[Long]("n_purchases") == 2)
    assert(last.getAs[Double]("revenue") == 35.0)
    assert(last.getAs[Timestamp]("last_ts") == ts("2024-01-03 08:00:00"))
  }

  test("viewToPurchase: stream-stream join attributes purchases within the horizon; batch parity") {
    implicit val sqlCtx = spark.sqlContext
    val attribution = Seq(
      EventRow(1L, 10L, ts("2024-01-01 10:00:00"), "view", 0.0),
      EventRow(2L, 10L, ts("2024-01-01 10:10:00"), "purchase", 25.0), // within 1h of view 1
      EventRow(3L, 10L, ts("2024-01-01 13:00:00"), "purchase", 40.0), // 3h later: outside horizon
      EventRow(4L, 11L, ts("2024-01-01 10:05:00"), "view", 0.0),
      EventRow(5L, 12L, ts("2024-01-01 10:20:00"), "purchase", 10.0)) // no prior view
    val in = MemoryStream[EventRow]
    val q = viewToPurchase(in.toDF()).writeStream
      .format("memory").queryName("attrib").outputMode(OutputMode.Append()).start()
    in.addData(attribution)
    q.processAllAvailable()
    // inner-join rows emit as soon as both sides arrive; advance the
    // watermark anyway to exercise state eviction before stopping
    in.addData(EventRow(99L, 1L, ts("2024-01-02 00:00:00"), "view", 0.0))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("attrib")
      .select("user_id", "view_id", "purchase_id", "amount").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set((10L, 1L, 2L, 25.0))) // only the in-horizon pair
    // the same function on a batch DataFrame gives the same pairs
    val batch = viewToPurchase(attribution.toDF())
      .select("user_id", "view_id", "purchase_id", "amount").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(batch == got)
  }

  test("monitorQuality: per-batch DQ results reach the callback without killing the stream") {
    implicit val sqlCtx = spark.sqlContext
    import graft.ops.DqOps.DqCheck
    val checks = Seq(
      DqCheck("negative_value", _.filter(col("value") < 0)),
      DqCheck("null_type", _.filter(col("event_type").isNull)))
    val seen = scala.collection.mutable.Map[Long, Map[String, Long]]()
    val in = MemoryStream[EventRow]
    val q = monitorQuality(in.toDF(), checks,
      (id, rs) => seen.synchronized { seen(id) = rs.map(r => r.name -> r.badCount).toMap })
      .start()
    in.addData(EventRow(1L, 10L, ts("2024-01-01 10:00:00"), "view", 1.0))
    q.processAllAvailable()
    in.addData(
      EventRow(2L, 10L, ts("2024-01-01 10:01:00"), "view", -5.0), // violation
      EventRow(3L, 10L, ts("2024-01-01 10:02:00"), null, 1.0))    // violation
    q.processAllAvailable()
    q.stop()
    assert(seen(0L) == Map("negative_value" -> 0L, "null_type" -> 0L))
    assert(seen(1L) == Map("negative_value" -> 1L, "null_type" -> 1L))
  }

  test("viewToPurchase left_outer: unmatched views emit with nulls once the watermark closes them") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[EventRow]
    val q = viewToPurchase(in.toDF(), joinType = "left_outer").writeStream
      .format("memory").queryName("attrib_outer").outputMode(OutputMode.Append()).start()
    in.addData(
      EventRow(1L, 10L, ts("2024-01-01 10:00:00"), "view", 0.0),     // will match
      EventRow(2L, 10L, ts("2024-01-01 10:10:00"), "purchase", 25.0),
      EventRow(3L, 11L, ts("2024-01-01 10:05:00"), "view", 0.0))     // never purchases
    q.processAllAvailable()
    // outer row for view 3 may only emit after the GLOBAL watermark
    // (min over both sides — an idle purchases stream would hold the
    // join open forever) passes view_ts + horizon; advance both sides,
    // keeping the advancing events un-joinable (distinct users/times)
    in.addData(
      EventRow(99L, 1L, ts("2024-01-02 00:00:00"), "view", 0.0),
      EventRow(98L, 55L, ts("2024-01-02 00:00:00"), "purchase", 1.0))
    q.processAllAvailable()
    in.addData(
      EventRow(100L, 2L, ts("2024-01-03 00:00:00"), "view", 0.0),
      EventRow(101L, 55L, ts("2024-01-03 00:00:00"), "purchase", 1.0))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("attrib_outer")
      .select("view_id", "purchase_id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(rows(1L) == Some(2L)) // matched pair intact
    assert(rows.contains(3L) && rows(3L).isEmpty, s"unmatched view missing: $rows")
  }
}
