package lakebench

import java.sql.Timestamp
import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, StringType}

import graft.queries.Medallion

/** The inputs inputs.py generated from the seed in the directory `path`. */
final class Inputs(spark: SparkSession, val path: String) {

  val params: Map[String, String] = {
    val p = new java.util.Properties
    val in = new java.io.FileInputStream(s"$path/params.properties")
    try p.load(in) finally in.close()
    import scala.jdk.CollectionConverters._
    p.asScala.toMap
  }

  def int(k: String): Int = params(k).toInt
  def long(k: String): Long = params(k).toLong

  def table(name: String): DataFrame = spark.read.parquet(s"$path/$name.parquet")

  /** The event stream, projected as the program's medallion queries read
    * it, and cached: the bronze sources are derived from it.
    */
  lazy val rawEvents: DataFrame = Medallion.rawEvents(spark, path).persist()

  /** Land the seven raw bronze sources of the events `raw` as parquet under
    * `dir` and return them read back. The program's adapter
    * (`Medallion.bronzeSources`) derives them; session rows of the users in
    * `seen` are left out, as the incremental medallion query delivers a
    * session once, on the wave of its user's first event.
    */
  def land(raw: DataFrame, dir: String, seen: DataFrame): Map[String, DataFrame] = {
    val b0 = Medallion.bronzeSources(raw)
    val b = b0.updated("sessions", b0("sessions").join(seen, Seq("session_id"), "left_anti"))
    b.foreach { case (n, df) => df.write.parquet(s"$dir/$n") }
    b.keys.map(n => n -> spark.read.parquet(s"$dir/$n")).toMap
  }
}

/** The fixed dates the pipeline runs with. */
object Inputs {
  val Start: LocalDate = LocalDate.parse("2024-01-01")
  val AsOf: LocalDate = LocalDate.parse("2025-01-01")
  val LoadTs: Timestamp = Timestamp.valueOf("2025-01-01 00:00:00")

  /** Events of the days in [from, to] (either end open when None). */
  def days(raw: DataFrame, from: Option[LocalDate], to: Option[LocalDate]): DataFrame = {
    val d = to_date(col("ts"))
    val keep = Seq(from.map(f => d >= lit(f.toString).cast(DateType)),
      to.map(t => d <= lit(t.toString).cast(DateType))).flatten.reduceOption(_ && _)
    keep.fold(raw)(raw.filter)
  }

  /** The session ids (user ids) of the events `raw`. */
  def users(raw: DataFrame): DataFrame =
    raw.select(col("user_id").cast(StringType).as("session_id")).distinct()
}
