package graft

import scala.util.control.NonFatal

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: graft.Verify <sfDir> <outDir>")
    val Array(sfDir, outDir) = args
    val spark = Sessions.local(Sessions.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch {
        // NonFatal only: an OOM aborts the run instead of producing a
        // partially-written dump that reads as per-query failures
        case NonFatal(e) =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // query bodies persist intermediates; don't let one query's cache
      // leak into (or feed) the next query's run
      spark.catalog.clearCache()
    }
    graft.util.OracleJson.writeOracleSql(s"$outDir/oracle_sql.json", SparkEntry.oracleSql)
    spark.stop()
  }
}
