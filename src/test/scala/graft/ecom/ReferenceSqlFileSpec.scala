package graft.ecom

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import org.apache.spark.sql.DataFrame

import graft.SparkSuite

/** Executes the reference's four dashboard SQL files VERBATIM — read
  * from `/root/reference/analysis/dashboard_queries` at test time, zero
  * rewrites: the texts address `ecom_catalog.gold.*`, and registering
  * graft's SQL catalog under the name `ecom_catalog` (with the gold
  * models in versioned tables) resolves those names directly, exactly
  * as Databricks SQL resolves them for the reference. This pins the one
  * parity surface DashboardSql's re-typed texts cannot: transcription
  * drift. If a future edit to Dashboards/DashboardSql diverges from the
  * files' semantics, this spec goes red.
  *
  * Comparison is order-insensitive (the reference's ORDER BYs carry no
  * unique tiebreak — our ports add one deliberately, a documented
  * deviation) and doubles compare with 1e-9 relative tolerance (the
  * reference sums raw doubles; our ports use the exact-decimal house
  * rule — equal to the last bit on clean fixtures, but the contract is
  * "same numbers", not "same summation order").
  */
class ReferenceSqlFileSpec extends SparkSuite {

  private val refDir = Paths.get("/root/reference/analysis/dashboard_queries")

  private val warehouse: String = {
    val dir = tempDir("graft-refsql-warehouse")
    spark.conf.set("spark.sql.catalog.ecom_catalog",
      classOf[graft.sql.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.ecom_catalog.warehouse", dir)
    new java.io.File(s"$dir/gold").mkdirs()
    dir
  }

  private lazy val gold: Map[String, DataFrame] = {
    val g = EcomFixtures.gold(spark)
    Seq("product_metrics", "session_metrics", "customer_360").foreach { t =>
      VersionedTable(spark, s"$warehouse/gold/$t").commitOverwrite(g(t))
    }
    g
  }

  private val start = LocalDate.parse("2025-01-01")
  private val end = LocalDate.parse("2025-01-31")

  private def fileSql(name: String): String = {
    val p: Path = refDir.resolve(name)
    assume(Files.exists(p), s"reference SQL file $p not present")
    // strip the trailing statement terminator; spark.sql takes one statement
    new String(Files.readAllBytes(p), "UTF-8").trim.stripSuffix(";")
  }

  private def runFile(name: String): DataFrame =
    spark.sql(fileSql(name),
      Map("start_date" -> start.toString, "end_date" -> end.toString))

  private def cellEq(a: Any, b: Any): Boolean = (a, b) match {
    // integral pairs compare exactly
    case (x: java.lang.Long, y: java.lang.Long) => x == y
    case (x: java.lang.Integer, y: java.lang.Integer) => x == y
    // any other numeric pair compares by VALUE with tolerance: Spark
    // types the file's `ROUND(x * 100.0 / y, 2)` as DECIMAL (the 100.0
    // literal), the port emits DOUBLE — 100.00 vs 100.0 is the same
    // number, and that is the contract ("same numbers", not same types)
    case (x: java.lang.Number, y: java.lang.Number) =>
      val (dx, dy) = (x.doubleValue, y.doubleValue)
      (dx.isNaN && dy.isNaN) ||
        math.abs(dx - dy) <= 1e-9 * math.max(1.0, math.max(math.abs(dx), math.abs(dy)))
    case _ => a == b
  }

  /** Row-for-row equality after sorting both sides by `keys` (the
    * dashboard's natural key — the reference's own ORDER BY is not a
    * total order).
    */
  private def assertSame(ref: DataFrame, port: DataFrame,
      keys: Seq[String], what: String): Unit = {
    assert(ref.columns.toSeq == port.columns.toSeq,
      s"$what: column sets differ: ${ref.columns.toSeq} vs ${port.columns.toSeq}")
    val l = ref.orderBy(keys.head, keys.tail: _*).collect().toSeq.map(_.toSeq)
    val r = port.orderBy(keys.head, keys.tail: _*).collect().toSeq.map(_.toSeq)
    assert(l.size == r.size, s"$what: ${l.size} vs ${r.size} rows")
    l.zip(r).zipWithIndex.foreach { case ((lr, rr), i) =>
      assert(lr.size == rr.size && lr.zip(rr).forall((cellEq _).tupled),
        s"$what row $i differs:\n  file: $lr\n  port: $rr")
    }
  }

  test("01_product_performance.sql runs verbatim and matches the port") {
    gold
    assertSame(
      runFile("01_product_performance.sql"),
      Dashboards.productPerformance(gold("product_metrics"), start, end),
      Seq("category", "product_name"), "01 product_performance")
  }

  test("02_Sales Overview.sql runs verbatim and matches the port") {
    gold
    assertSame(
      runFile("02_Sales Overview.sql"),
      Dashboards.salesOverview(gold("session_metrics"), start, end),
      Seq("session_date"), "02 sales_overview")
  }

  test("03_Site Wide Funnel.sql runs verbatim and matches the port") {
    gold
    assertSame(
      runFile("03_Site Wide Funnel.sql"),
      Dashboards.siteWideFunnel(gold("product_metrics"), start, end),
      Seq("funnel_stage"), "03 site_wide_funnel")
  }

  test("04_Customer 360.sql runs verbatim and matches the port") {
    gold
    assertSame(
      runFile("04_Customer 360.sql"),
      Dashboards.customer360Top(gold("customer_360"), start, end),
      Seq("customer_id"), "04 customer_360_top")
  }

  test("the funnel's empty-window NULL is the one pinned deviation (port coalesces to 0)") {
    gold
    val empty = Map("start_date" -> "2030-01-01", "end_date" -> "2030-01-31")
    val ref = spark.sql(fileSql("03_Site Wide Funnel.sql"), empty).collect()
    // reference SUM over an empty window is NULL per stage
    assert(ref.length == 3 && ref.forall(_.isNullAt(1)))
    // the port deliberately emits 0 (documented deviation; Dashboards)
    val port = Dashboards.siteWideFunnel(gold("product_metrics"),
      LocalDate.parse("2030-01-01"), LocalDate.parse("2030-01-31")).collect()
    assert(port.length == 3 && port.forall(_.getLong(1) == 0L))
  }
}
