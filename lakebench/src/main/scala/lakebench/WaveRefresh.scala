package lakebench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ecom.{DashboardSql, IncrementalLakehouse}
import graft.queries.Medallion

/** `wave_refresh`: incremental maintenance with reads beside it. Wave 0
  * is the first `boot_days` days of the event stream, wave k the k-th day
  * after them; each later wave's seven raw bronze sources are landed as
  * parquet before it is stepped (sessions on the wave of their user's
  * first event). Set-up bootstraps the warehouse with wave 0. A round is one
  * `IncrementalLakehouse.step` of the next one-day wave, then two passes of
  * reads of the maintained gold: the four dashboard SQL texts over two
  * seeded date windows each, the two probe reads, a revenue-totals read, and
  * point lookups of silver rows through the `graft` SQL catalog. The first
  * pass warms the reads' code and is not timed; the second draws fresh
  * windows and ids and is timed.
  */
object WaveRefresh {

  val Lookups = 8
  /** Seeded 7-day windows each dashboard is read over after a wave. */
  val Windows = 2

  def run(spark: SparkSession, a: Args, tracer: Option[Tracer], out: Out): Unit = {
    val in = new Inputs(spark, s"${a.dir}/inputs")
    val raw = in.rawEvents
    val bootLast = Inputs.Start.plusDays(in.int("boot_days") - 1L)
    val waves = in.int("days") - in.int("boot_days")
    val probeDay = java.time.LocalDate.parse(in.params("probe_day"))
    def lastDay(i: Int) = bootLast.plusDays(i.toLong)
    def land(i: Int): Map[String, DataFrame] =
      in.land(Inputs.days(raw, Some(lastDay(i)), Some(lastDay(i))), s"${a.dir}/bronze/wave=$i",
        Inputs.users(Inputs.days(raw, None, Some(lastDay(i - 1)))))

    val wh = s"${a.dir}/lake/wh"
    val inc = IncrementalLakehouse(spark, wh)
    val rnd = new scala.util.Random(a.seed)
    out.opsPerRound = 1 + Windows * DashboardSql.all.size + 2 + 3

    def step(i: Int, bronze: Map[String, DataFrame]): Map[String, DataFrame] =
      inc.step(bronze, i + 1L, Inputs.AsOf, Inputs.LoadTs)

    def reads(round: Int, i: Int, gold: Map[String, DataFrame]): Unit = {
      gold.foreach { case (n, df) => df.createOrReplaceTempView(n) }
      val base = Map("landed_last" -> lastDay(i).toString, "wave" -> i.toString)
      def pass(): Seq[(String, Map[String, String], () => DataFrame)] = {
        val ids = Seq.fill(Lookups)((rnd.nextLong() & Long.MaxValue) % in.long("events"))
        val idList = ids.map(i => s"'$i'").mkString(", ")
        Run.dashboardReads(spark, rnd, Inputs.Start, lastDay(i), Windows, probeDay) ++ Seq(
          ("totals", Map.empty[String, String], () => spark.sql(
            """SELECT
              |  (SELECT CAST(SUM(CAST(total_revenue AS DECIMAL(18,2))) AS DOUBLE)
              |   FROM product_metrics) AS product_revenue,
              |  (SELECT CAST(SUM(CAST(session_revenue AS DECIMAL(18,2))) AS DOUBLE)
              |   FROM session_metrics) AS session_revenue,
              |  (SELECT CAST(SUM(CAST(customer_total_revenue AS DECIMAL(18,2))) AS DOUBLE)
              |   FROM customer_360) AS customer_revenue""".stripMargin)),
          ("event_lookup", Map("ids" -> ids.mkString(",")), () => spark.sql(
            s"""SELECT event_id, event_type, amount_usd, event_date
               |FROM graft.wh.events_clean WHERE event_id IN ($idList)""".stripMargin)),
          ("order_lookup", Map("ids" -> ids.mkString(",")), () => spark.sql(
            s"""SELECT order_id, customer_id, total_usd, order_date
               |FROM graft.wh.orders_clean WHERE order_id IN ($idList)""".stripMargin)))
      }
      pass().foreach { case (_, _, df) => df().collect() }
      pass().foreach {
        case (kind, params, df) => Run.read(tracer, out, round, kind, base ++ params)(df())
      }
    }

    // the bootstrap steps the adapter's frames as they are: landing them
    // first would only lengthen set-up
    step(0, Medallion.bronzeSources(Inputs.days(raw, None, Some(bootLast))))
    out.setupDone()

    val whDir = new File(wh)
    var last = 0
    out.rounds = Run.rounds(a.seconds, waves) { r =>
      val i = 1 + r
      val bronze = land(i)
      val before = Tracer.disk(whDir)
      val (gold, t) = Trace.op(tracer, out, "op")(step(i, bronze))
      val delta = Tracer.disk(whDir).minus(before)
      out.ops += t
      out.written += delta.bytes
      if (tracer.isDefined) {
        out.layer.add("table.commits", delta.commits)
        out.layer.add("table.data_files", delta.dataFiles)
        out.layer.add("table.data_mb", delta.dataBytes / 1e6)
        out.layer.add("table.log_mb", delta.logBytes / 1e6)
        out.layer.add("ivm.silver_commits", delta.commits - delta.mvCommits)
        out.layer.add("ivm.gold_commits", delta.mvCommits)
        out.layer.add("ivm.rows_landed", bronze.values.map(_.count()).sum)
        out.layer.add("table.live_files",
          gold.values.flatMap(_.inputFiles).toSeq.distinct.size)
      }
      reads(r, i, gold)
      last = i
    }
    out.info("landed_last") = lastDay(last).toString
    Fingerprints.write(spark, inc.goldRelations(Inputs.AsOf, Inputs.LoadTs),
      s"${a.dir}/gold_fingerprints.json")
  }
}
