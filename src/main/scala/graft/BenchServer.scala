package graft

import scala.util.control.NonFatal

/** Child-side of `graft.Bench`'s paired A/B mode: a long-lived JVM
  * whose classpath leads with a PRIOR round's jar (so `graft.*`
  * resolves to the old tree) timing one query per `RUN` line on its
  * own SparkSession. The coordinator alternates old/new executions of
  * the same query back-to-back, so each pair shares one host-weather
  * window — the per-query ratio is then engine signal, not the ±2x
  * Firecracker steal every cross-run comparison on this box fights.
  *
  * Protocol (stdin → stdout; stderr carries Spark logs and is
  * discarded by the coordinator):
  *   READY                     emitted once the session is up
  *   QUERIES → Q n1,n2,...     the tree's query inventory
  *   WARM <dir> → T 0          warm every query at the smallest SF
  *   RUN <name> → T <sec>      one cache-cold timed execution (-1 = failed)
  *   EXIT                      stop the session and exit
  */
object BenchServer {
  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: BenchServer <sfDir>")
    val sfDir = args(0)
    val spark = Sessions.local(Sessions.envCpus)
    spark.sparkContext.setLogLevel("ERROR")
    val out = new java.io.PrintWriter(
      new java.io.OutputStreamWriter(System.out,
        java.nio.charset.StandardCharsets.UTF_8), true)
    out.println("READY")
    scala.io.Source.stdin.getLines().foreach { line =>
      line.trim.split(" ", 2) match {
        case Array("QUERIES") =>
          out.println("Q " + SparkEntry.queries.keys.toSeq.sorted.mkString(","))
        case Array("WARM", dir) =>
          if (new java.io.File(dir).isDirectory)
            Bench.warm(spark, dir, SparkEntry.queries.keys.toSeq)
          out.println("T 0")
        case Array("RUN", name) =>
          val sec =
            try Bench.timeOnce(spark, name, sfDir)
            catch { case NonFatal(e) =>
              System.err.println(s"[bench-server] $name failed: ${e.getMessage}")
              -1.0
            }
          out.println("T " + String.format(java.util.Locale.ROOT, "%.3f", sec))
        case Array("EXIT") =>
          spark.stop()
          sys.exit(0)
        case other =>
          System.err.println(s"[bench-server] unknown command: ${other.mkString(" ")}")
          out.println("T -1")
      }
    }
    spark.stop()
  }
}
