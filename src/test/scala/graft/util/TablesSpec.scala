package graft.util

import java.sql.Timestamp

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite

/** Pins `Tables.load`'s event-time normalization across every physical
  * shape the driver's generator has emitted so far. Round 7 broke seven
  * queries when the testdata flipped from TIMESTAMP(NANOS) (read as raw
  * long under nanosAsLong) to TIMESTAMP(MICROS, isAdjustedToUTC=false)
  * (read as TIMESTAMP_NTZ, which unix_micros()/cast-to-bigint reject).
  * Whatever arrives, downstream queries must see a plain session-local
  * TIMESTAMP with the same µs instant.
  */
class TablesSpec extends SparkSuite {
  import spark.implicits._

  private def roundTrip(writeAs: String): (DataType, Long) = {
    val dir = tempDir("tables-spec")
    val us = 1735689600123456L // 2025-01-01T00:00:00.123456Z
    val df = writeAs match {
      case "long_nanos" =>
        Seq((1L, us * 1000L)).toDF("event_id", "ts")
      case "ntz_micros" =>
        Seq((1L, java.time.LocalDateTime.ofEpochSecond(
          us / 1000000L, ((us % 1000000L) * 1000L).toInt,
          java.time.ZoneOffset.UTC))).toDF("event_id", "ts")
      case "tz_micros" =>
        Seq((1L, new Timestamp(us / 1000L))).toDF("event_id", "ts")
          .withColumn("ts", timestamp_micros(lit(us)))
    }
    df.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val loaded = Tables.load(spark, dir, "events")
    val dt = loaded.schema("ts").dataType
    val instant = loaded.select(unix_micros(col("ts"))).as[Long].head()
    (dt, instant)
  }

  test("load normalizes NTZ-micros ts to session-local TIMESTAMP, instant-exact") {
    val (dt, instant) = roundTrip("ntz_micros")
    assert(dt === TimestampType)
    assert(instant === 1735689600123456L)
  }

  test("load normalizes long-nanos ts to TIMESTAMP, truncated to micros") {
    val (dt, instant) = roundTrip("long_nanos")
    assert(dt === TimestampType)
    assert(instant === 1735689600123456L)
  }

  test("load passes a native TIMESTAMP ts through unchanged") {
    val (dt, instant) = roundTrip("tz_micros")
    assert(dt === TimestampType)
    assert(instant === 1735689600123456L)
  }

  test("driver testdata loads with a bigint-castable ts at every SF") {
    Seq("sf0.001").foreach { sf =>
      val df = Tables.load(spark, s"/root/testdata/$sf", "events")
      assert(df.schema("ts").dataType === TimestampType)
      // the exact expression shape that broke in round 7
      assert(df.select((unix_micros(max(col("ts"))) -
        unix_micros(min(col("ts")))).as("d")).as[Long].head() >= 0L)
    }
  }
}
