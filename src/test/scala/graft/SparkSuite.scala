package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate reuses the one
  * JVM-wide session; forked test JVM gets build.sbt's --add-opens).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session
}

object SparkSuite {
  val Cpus: Int = 4
  lazy val session: SparkSession = Sessions.local(Cpus)
}
