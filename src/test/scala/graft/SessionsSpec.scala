package graft

/** The settings every session is built with, checked on the live shared
  * session (built through [[Sessions.local]] by [[SparkSuite]]).
  */
class SessionsSpec extends SparkSuite {

  test("Sessions.local: UTC, graft extensions, nanosAsLong, no UI, one shuffle partition per core") {
    val conf = spark.conf
    assert(spark.sparkContext.master == s"local[${SparkSuite.Cpus}]")
    assert(conf.get("spark.sql.shuffle.partitions") == SparkSuite.Cpus.toString)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get(graft.util.Tables.nanosAsLongKey) == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    // the extensions are installed: a graft_* SQL function resolves
    assert(spark.sql("SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
  }

  test("Sessions.settings scale the master and shuffle partitions with cpus") {
    val s = Sessions.settings(7)
    assert(s("spark.master") == "local[7]")
    assert(s("spark.sql.shuffle.partitions") == "7")
    assert(s("spark.sql.extensions") == "graft.functions.GraftExtensions")
    intercept[IllegalArgumentException](Sessions.local(0))
  }
}
