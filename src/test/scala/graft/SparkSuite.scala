package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate reuses the one
  * JVM-wide session; forked test JVM gets build.sbt's --add-opens).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  def tempDir(prefix: String): String = SparkSuite.tempDir(prefix)
}

object SparkSuite {
  val Cpus: Int = 4
  lazy val session: SparkSession = Sessions.local(Cpus)

  /** A fresh `prefix-<uuid>` directory under `java.io.tmpdir`, deleted
    * when the test JVM exits (Spark's shutdown-delete hook): specs never
    * leave their warehouses behind.
    */
  def tempDir(prefix: String): String =
    org.apache.spark.sql.graft.shims.tempDir(prefix)
}
