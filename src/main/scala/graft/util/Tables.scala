package graft.util

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Parquet table loader for the driver testdata layout
  * (`<dir>/<name>.parquet`, see /root/repo/TESTDATA.md).
  */
object Tables {
  /** Session conf every graft session builder sets at construction:
    * events.parquet stores TIMESTAMP(NANOS), which Spark's parquet
    * reader rejects unless nanos are read as raw longs (we then truncate
    * to microseconds — the data is µs-precision, so exact).
    */
  val nanosAsLongKey = "spark.sql.legacy.parquet.nanosAsLong"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Sessions we build (Verify/Bench/tests) set nanosAsLong at
    // construction. For externally-built sessions (the driver's), fall
    // back to setting it only when the footer actually contains NANOS —
    // never as a blanket side effect of every load, which would silently
    // change timestamp semantics for unrelated reads in the session.
    val df =
      try spark.read.parquet(s"$dir/$name.parquet")
      catch {
        case e: Throwable if e.getMessage != null && e.getMessage.contains("NANOS") &&
            spark.conf.get(nanosAsLongKey, "false") != "true" =>
          spark.conf.set(nanosAsLongKey, "true")
          spark.read.parquet(s"$dir/$name.parquet")
      }
    // Normalize the event-time column to session-local TIMESTAMP whatever
    // physical shape the generator emitted: TIMESTAMP(NANOS) arrives as a
    // raw long under nanosAsLong (truncate to µs — data is µs-precision),
    // and TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
    // TIMESTAMP_NTZ, which unix_micros()/cast-to-bigint reject. All graft
    // sessions run with spark.sql.session.timeZone=UTC, so NTZ→TZ is a
    // value-identical relabel, not a wall-clock shift.
    df.schema.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType)         => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                      => df
    }
  }

  /** Load a table whose downstream work is compute-heavy per row
    * (shingling, hashing, vector math). The testdata files are
    * single-row-group parquet, so the scan is ONE task and everything
    * before the first exchange runs on one core; spreading a sub-MB
    * table across the full parallelism costs a trivial shuffle and buys
    * cores× map throughput. Scan-dominated fact tables must NOT use
    * this (the extra full-width shuffle outweighs it — measured at
    * sf0.1); at production scale multi-row-group files already arrive
    * parallel and the guard is a no-op.
    */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val cores = spark.sparkContext.defaultParallelism
    // plan-statistics probe, NOT df.rdd.getNumPartitions — building the
    // RDD DAG on every spread load just to read a count is wasted
    // planning work. The scan yields at most ~size/maxPartitionBytes
    // tasks, so spread while the table can't fill the cores even at the
    // ideal split; a production-scale table sails past the threshold and
    // skips the extra shuffle.
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    if (df.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(maxSplit) * cores)
      df.repartition(cores)
    else df
  }
}

/** Oracle-exact numeric helpers.
  *
  * Spark sums doubles in partition order, which is non-deterministic and
  * never bit-identical to a single-threaded oracle. Casting to DECIMAL
  * before the sum makes the aggregate exact and order-independent; casting
  * the exact decimal back to DOUBLE is a deterministic, correctly-rounded
  * conversion in both Spark and DuckDB, so results hash-compare equal.
  * This also reflects how a production engine should aggregate money at
  * 100 TB: decimal partial aggregates are exact under any shuffle order.
  */
object Exact {
  /** Exact, order-independent sum of a money-like double column. */
  def dsum(c: Column, scale: Int = 2): Column =
    sum(c.cast(DecimalType(18, scale))).cast(DoubleType)

  /** Exact average: exact decimal sum (as double) over the non-null count.
    * Mirrors `CAST(SUM(CAST(x AS DECIMAL)) AS DOUBLE) / COUNT(x)`.
    */
  def davg(c: Column, scale: Int = 2): Column =
    dsum(c, scale) / count(c)

  /** Cent-exact money `amount` over the whole count `n`, rounded half
    * up (away from zero) to cents, as DOUBLE. The quotient is exact: a
    * double quotient can land below a half-cent tie and round a cent low
    * (1526.35 / 14 = 109.025 is 109.02499999999999 as a double).
    * DECIMAL(18,2) / DECIMAL(18,0) keeps 21 fractional digits, and a
    * quotient that is not a tie lies at least 1 / (200 n) from one.
    */
  def centsQuotient(amount: Column, n: Column): Column =
    round(amount.cast(DecimalType(18, 2)) / n.cast(DecimalType(18, 0)), 2)
      .cast(DoubleType)

  /** DuckDB SQL twin of [[centsQuotient]] over SQL expressions. DuckDB
    * divides DECIMALs as DOUBLE, so the quotient is taken in whole
    * cents with integer division instead.
    */
  def duckCentsQuotient(amount: String, n: String): String = {
    val c = s"CAST(CAST($amount AS DECIMAL(18,2)) * 100 AS BIGINT)"
    s"CAST(SIGN($c) * ((2 * ABS($c) + ($n)) // (2 * ($n))) AS DOUBLE) / 100"
  }

  /** Conditional long count: SUM(CASE WHEN cond THEN 1 ELSE 0 END). */
  def countIf(cond: Column): Column =
    sum(when(cond, 1L).otherwise(0L))

  /** Conditional exact sum: SUM(CASE WHEN cond THEN x ELSE 0 END). */
  def dsumIf(cond: Column, c: Column, scale: Int = 2): Column =
    sum(when(cond, c).otherwise(lit(0.0)).cast(DecimalType(18, scale)))
      .cast(DoubleType)
}
