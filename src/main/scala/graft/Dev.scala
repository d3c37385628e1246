package graft

import scala.util.control.NonFatal

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Developer tools over the query inventory, one subcommand each:
  *
  *   prof  <sfDir> <reps> [name...]          warm, then min/med/max seconds
  *                                           of `reps` cache-cold runs
  *   jobs  <sfDir> <name...>                 warm, then one run's Spark jobs
  *                                           (wall, gap before it, label)
  *                                           and per-call-site totals
  *   plan  <sfDir> <outDir> <suffix> [name...]  `explain("formatted")` of each
  *                                           query to `<outDir>/<name>_<suffix>.txt`
  *   repro <sfDir> [name...]                 run each query and print stack
  *                                           traces; with GRAFT_REPRO_OUT set,
  *                                           dump results and a restricted
  *                                           oracle_sql.json for check_oracle.py
  *   scale <sf0.1-dir> <out.json> [name...]  the 10x scale soak ([[ScaleSoak]])
  *
  * No names means every query (`prof`, `plan`, `repro`) or
  * [[ScaleSoak.DefaultQueries]] (`scale`). An unknown name is rejected
  * before the session starts: a silent filter would print nothing and
  * read as success. Spark settings for an experiment come in as JVM
  * system properties (`set javaOptions += "-Dspark.…=…"`), which
  * SparkConf loads. Usage: sbt "runMain graft.Dev <cmd> <args...>"
  */
object Dev {

  def main(args: Array[String]): Unit = {
    val cmd = parse(args.toSeq)
    val spark = Sessions.local(Sessions.envCpus)
    spark.sparkContext.setLogLevel("WARN")
    try cmd(spark) finally spark.stop()
  }

  private val Usage = "usage: graft.Dev prof <sfDir> <reps> [name...] | " +
    "jobs <sfDir> <name...> | plan <sfDir> <outDir> <suffix> [name...] | " +
    "repro <sfDir> [name...] | scale <sf0.1-dir> <out.json> [name...]"

  /** The subcommand `args` names, with its arguments checked. */
  private def parse(args: Seq[String]): SparkSession => Unit = args match {
    case Seq("prof", sfDir, reps, names @ _*) =>
      val n = reps.toInt
      require(n >= 1, s"reps must be >= 1, got $n")
      val qs = known(names)
      spark => prof(spark, sfDir, n, qs)
    case Seq("jobs", sfDir, names @ _*) if names.nonEmpty =>
      val qs = known(names)
      spark => jobs(spark, sfDir, qs)
    case Seq("plan", sfDir, outDir, suffix, names @ _*) =>
      val qs = known(names)
      spark => plan(spark, sfDir, outDir, suffix, qs)
    case Seq("repro", sfDir, names @ _*) =>
      val qs = known(names)
      spark => repro(spark, sfDir, qs)
    case Seq("scale", src, outPath, names @ _*) =>
      val qs = if (names.isEmpty) ScaleSoak.DefaultQueries else known(names)
      spark => ScaleSoak.run(spark, src, outPath, qs)
    case _ => throw new IllegalArgumentException(Usage)
  }

  /** `names`, all checked against the inventory; every query when empty. */
  private def known(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")} — a silent filter " +
        "would print nothing and read as success")
    if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted
  }

  private def prof(spark: SparkSession, sfDir: String, reps: Int,
      names: Seq[String]): Unit = names.foreach { name =>
    Bench.warm(spark, sfDir, Seq(name))
    val times = Seq.fill(reps)(Bench.timeOnce(spark, name, sfDir)).sorted
    val med =
      if (times.size % 2 == 1) times(times.size / 2)
      else (times(times.size / 2 - 1) + times(times.size / 2)) / 2.0
    println(f"PROF $name%-28s min=${times.head}%7.3f med=$med%7.3f max=${times.last}%7.3f")
  }

  private final case class Job(id: Int, start: Long, end: Long, label: String, site: String)

  /** The local stand-in for the Spark UI's Jobs page on a host with the
    * UI disabled. The gaps between jobs (driver-side planning and
    * commit work) matter as much as the jobs themselves.
    */
  private def jobs(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val starts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.put(e.jobId, e): Unit
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        Option(starts.remove(e.jobId)).foreach { s =>
          // the result stage's name is the job's call site ("count at X.scala:12")
          val site = s.stageInfos.lastOption.fold("?")(_.name)
          val desc = Option(s.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
          done.add(Job(e.jobId, s.time, e.time, if (desc.nonEmpty) desc else site, site))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    try names.foreach { name =>
      Bench.warm(spark, sfDir, Seq(name))
      org.apache.spark.sql.graft.shims.drainListenerBus(spark)
      done.clear()
      val t0 = System.currentTimeMillis()
      val wall = Bench.timeOnce(spark, name, sfDir)
      org.apache.spark.sql.graft.shims.drainListenerBus(spark)
      val js = done.asScala.toSeq.sortBy(_.start)
      println(f"===== $name wall=$wall%.2fs jobs=${js.size} =====")
      var lastEnd = t0
      var gaps = 0L
      js.foreach { j =>
        val gap = math.max(0L, j.start - lastEnd)
        gaps += gap
        lastEnd = math.max(lastEnd, j.end)
        println(f"  job ${j.id}%4d  dur=${(j.end - j.start) / 1e3}%7.3f  gap=${gap / 1e3}%7.3f  ${j.label}")
      }
      println(f"  TOTAL jobs=${js.map(j => j.end - j.start).sum / 1e3}%.2f " +
        f"gaps=${gaps / 1e3}%.2f wall=$wall%.2f")
      js.groupBy(_.site).toSeq.map { case (site, g) => (site, g.size, g.map(j => j.end - j.start).sum) }
        .sortBy(-_._3).foreach { case (site, n, ms) =>
          println(f"  SITE $site%-60s n=$n%3d sum=${ms / 1e3}%6.2fs")
        }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** The plan evidence for optimization write-ups (`plans/r17/`). */
  private def plan(spark: SparkSession, sfDir: String, outDir: String,
      suffix: String, names: Seq[String]): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      try {
        val text = SparkEntry.queries(n)(spark, sfDir).queryExecution
          .explainString(org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(java.nio.file.Paths.get(outDir, s"${n}_$suffix.txt"),
          text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        println(s"PLAN $n ok")
      } catch { case NonFatal(e) => println(s"PLAN $n FAILED: ${e.getMessage}") }
      spark.catalog.clearCache()
    }
  }

  /** Gates single queries with check_oracle.py without a full Verify run. */
  private def repro(spark: SparkSession, sfDir: String, names: Seq[String]): Unit = {
    val out = sys.env.get("GRAFT_REPRO_OUT")
    names.foreach { n =>
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        val c = out match {
          case Some(dir) =>
            df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
            spark.read.parquet(s"$dir/$n").count()
          case None =>
            // FULL materialization (toRdd, like Bench): a plain count()
            // would let Catalyst prune computed columns and print OK
            // for a query whose bug lives in a pruned projection
            df.queryExecution.toRdd.count()
        }
        println(s"[repro] $n OK rows=$c")
      } catch {
        // NonFatal only: an OOM must abort the run, not mark one query
        // failed and keep going in a corrupted JVM
        case NonFatal(e) =>
          println(s"[repro] $n FAILED: ${e.getClass.getName}: ${e.getMessage}")
          e.printStackTrace(System.out)
      }
      spark.catalog.clearCache()
    }
    out.foreach { dir =>
      graft.util.OracleJson.writeOracleSql(s"$dir/oracle_sql.json",
        SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
    }
  }
}
