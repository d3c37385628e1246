package lakebench

import java.io.File
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer counters for a traced run, read from Spark's own hooks on
  * the benchmark's session: a SparkListener (jobs, tasks, task time,
  * GC, shuffle, spill, rows written, the wall during which any job
  * runs) and a QueryExecutionListener (plans, planning time from each
  * plan's QueryPlanningTracker, file-scan SQLMetrics). Attached only in
  * traced runs; untraced runs register nothing.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {

  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val taskNs = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
  val rowsWritten = new AtomicLong
  val plans = new AtomicLong
  val planMs = new AtomicLong
  val filesRead = new AtomicLong
  val bytesRead = new AtomicLong

  // wall during which at least one job runs, from the event timestamps
  private var active = 0
  private var busySince = 0L
  private var busyMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    if (active == 0) busySince = e.time
    active += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) busyMs += e.time - busySince
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskNs.addAndGet(m.executorRunTime * 1000000L)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      rowsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    plans.incrementAndGet()
    planMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum)
    Tracer.nodes(qe.executedPlan).filter(_.nodeName.contains("Scan")).foreach { n =>
      n.metrics.get("numFiles").foreach(m => filesRead.addAndGet(m.value))
      n.metrics.get("filesSize").foreach(m => bytesRead.addAndGet(m.value))
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def busyWallMs: Long = synchronized(busyMs)

  /** Wait until every posted event has reached the listeners. */
  def drain(): Unit = org.apache.spark.LakebenchBus.drain(spark.sparkContext)

  def snapshot(): Map[String, Double] = {
    drain()
    Map(
      "jobs" -> jobs.get.toDouble, "tasks" -> tasks.get.toDouble,
      "task_s" -> taskNs.get / 1e9, "gc_s" -> gcMs.get / 1e3,
      "shuffle_mb" -> shuffleBytes.get / 1e6, "spill_mb" -> spillBytes.get / 1e6,
      "rows_written" -> rowsWritten.get.toDouble,
      "busy_s" -> busyWallMs / 1e3,
      "plans" -> plans.get.toDouble, "plan_s" -> planMs.get / 1e3,
      "files_read" -> filesRead.get.toDouble, "read_mb" -> bytesRead.get / 1e6)
  }
}

object Tracer {

  def attach(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }

  /** Every node of an executed plan, through adaptive wrappers and
    * query stages.
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(nodes)
  }

  /** Files and bytes under a warehouse, split the way the versioned
    * format lays a table out: data files (under `data/`), log files
    * (under `_graft_log/`), and commits (manifests), the commits also
    * split into those of maintained views (under `_mv/`) and the rest.
    */
  final case class Disk(bytes: Long, dataFiles: Long, dataBytes: Long,
      logBytes: Long, commits: Long, mvCommits: Long) {
    def minus(o: Disk): Disk = Disk(bytes - o.bytes,
      dataFiles - o.dataFiles, dataBytes - o.dataBytes, logBytes - o.logBytes,
      commits - o.commits, mvCommits - o.mvCommits)
  }

  def disk(root: File): Disk = {
    var bytes, dataFiles, dataBytes, logBytes, commits, mvCommits = 0L
    def walk(f: File, inData: Boolean, inLog: Boolean, inMv: Boolean): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach { k =>
        if (k.isDirectory)
          walk(k, inData || k.getName == "data", inLog || k.getName == "_graft_log",
            inMv || k.getName == "_mv")
        else {
          bytes += k.length()
          if (inData) { dataFiles += 1; dataBytes += k.length() }
          if (inLog) {
            logBytes += k.length()
            if (k.getName.endsWith(".manifest")) {
              commits += 1
              if (inMv) mvCommits += 1
            }
          }
        }
      }
    }
    walk(root, inData = false, inLog = false, inMv = false)
    Disk(bytes, dataFiles, dataBytes, logBytes, commits, mvCommits)
  }

  /** Accumulates named per-layer values over the ops of a run. */
  final class Sums {
    private val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v
    def addAll(prefix: String, before: Map[String, Double], after: Map[String, Double]): Unit =
      after.foreach { case (k, v) => add(prefix + k, v - before.getOrElse(k, 0.0)) }
    def toMap: Map[String, Double] = m.toMap
  }
}

object Trace {

  /** Time `f`. In a traced run also add the Spark counters `f` moved to
    * the run's per-layer sums under `kind.`, with its wall and a count of
    * such calls.
    */
  def op[T](tracer: Option[Tracer], out: Out, kind: String)(f: => T): (T, Double) =
    tracer match {
      case Some(tr) =>
        val before = tr.snapshot()
        val (r, t) = Main.wall(f)
        out.layer.addAll(s"$kind.", before, tr.snapshot())
        out.layer.add(s"$kind.wall_s", t)
        out.layer.add(s"$kind.count", 1)
        (r, t)
      case None => Main.wall(f)
    }
}
