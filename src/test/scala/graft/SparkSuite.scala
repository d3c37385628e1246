package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (getOrCreate reuses the one
  * JVM-wide session; forked test JVM gets build.sbt's --add-opens).
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.session

  def tempDir(prefix: String): String = SparkSuite.tempDir(prefix)

  /** `block`'s result and the number of Spark jobs it submitted — the
    * work budget of an action, or of building a frame that should run
    * none. Suites run one at a time in the forked test JVM, so every
    * job started meanwhile is the block's.
    */
  def jobsDuring[T](block: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.sql.graft.shims.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = block
      org.apache.spark.sql.graft.shims.drainListenerBus(spark)
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }
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
