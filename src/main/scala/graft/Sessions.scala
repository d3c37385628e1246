package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Every main and the test trait
  * go through [[local]], so they all plan with the same settings: the
  * graft SQL extensions (a session without them cannot resolve any
  * `graft_*` function), UTC (Tables.load's NTZ->TIMESTAMP relabel is
  * value-identical only under UTC, also when launched outside sbt's
  * forked `-Dspark.sql.session.timeZone=UTC`), the nanos-as-long
  * parquet read, no UI, and one shuffle partition per core.
  */
object Sessions {

  /** The settings [[local]] applies on top of Spark's defaults. */
  private[graft] def settings(cpus: Int): Map[String, String] = Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> classOf[graft.functions.GraftExtensions].getName,
    graft.util.Tables.nanosAsLongKey -> "true",
    "spark.ui.enabled" -> "false")

  /** A `local[cpus]` session with [[settings]] (getOrCreate: the one
    * JVM-wide session when it already exists).
    */
  def local(cpus: Int): SparkSession = {
    require(cpus >= 1, s"cpus must be >= 1, got $cpus")
    settings(cpus).foldLeft(SparkSession.builder()) { case (b, (k, v)) =>
      b.config(k, v)
    }.getOrCreate()
  }

  /** SPARK_GRAFT_CPUS, the core count every main runs with (default 4). */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)
}
