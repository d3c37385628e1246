package graft.sql

import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ecom.VersionedTable

/** Durable SQL views over graft catalogs (`CREATE [OR REPLACE] VIEW` /
  * `DROP VIEW`, [[GraftViews]]/[[GraftViewRule]]): stored SELECT text,
  * re-planned per read — the compose-at-read layer the reference's
  * product_metrics needs over two maintained aggregates. Ordinary
  * (session-catalog, temp) view statements keep delegating to Spark.
  */
class GraftViewSpec extends SparkSuite {
  import spark.implicits._

  private val warehouse: String = {
    val dir = tempDir("graft-view-wh")
    spark.conf.set("spark.sql.catalog.gvw", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gvw.warehouse", dir)
    new java.io.File(s"$dir/db").mkdirs()
    dir
  }

  test("CREATE VIEW over two MVs: re-planned per read, fresh after REFRESH") {
    val fa = VersionedTable(spark, s"$warehouse/db/vfa")
    fa.commitAppend((1L to 30L).map(i => (i, i % 5, i * 10L))
      .toDF("id", "pk", "a"))
    fa.setTableProperty("graft.enableChangeDataFeed", "true")
    val fb = VersionedTable(spark, s"$warehouse/db/vfb")
    fb.commitAppend((1L to 20L).map(i => (i, i % 8, i * 100L))
      .toDF("id", "pk", "b"))
    fb.setTableProperty("graft.enableChangeDataFeed", "true")
    spark.sql(
      """CREATE MATERIALIZED VIEW gvw.db.vma AS
        |SELECT pk, COUNT(*) AS n_a, SUM(a) AS ta
        |FROM gvw.db.vfa GROUP BY pk""".stripMargin)
    spark.sql(
      """CREATE MATERIALIZED VIEW gvw.db.vmb AS
        |SELECT pk, COUNT(*) AS n_b, SUM(b) AS tb
        |FROM gvw.db.vfb GROUP BY pk""".stripMargin)
    spark.sql(
      """CREATE VIEW gvw.db.vpm AS
        |SELECT pk, CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
        |  CAST(coalesce(ta, 0) AS BIGINT) AS ta,
        |  CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
        |  CAST(coalesce(tb, 0) AS BIGINT) AS tb
        |FROM gvw.db.vma FULL OUTER JOIN gvw.db.vmb USING (pk)""".stripMargin)
    def expect(): Set[String] = {
      val ra = fa.read().groupBy("pk")
        .agg(count(lit(1)).as("n_a"), sum("a").as("ta"))
      val rb = fb.read().groupBy("pk")
        .agg(count(lit(1)).as("n_b"), sum("b").as("tb"))
      ra.join(rb, Seq("pk"), "full_outer")
        .select(col("pk"), coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("ta"), lit(0L)).as("ta"),
          coalesce(col("n_b"), lit(0L)).as("n_b"),
          coalesce(col("tb"), lit(0L)).as("tb"))
        .collect().map(_.mkString("|")).toSet
    }
    def got(): Set[String] =
      spark.sql("SELECT * FROM gvw.db.vpm")
        .collect().map(_.mkString("|")).toSet
    assert(got() == expect())
    // storm + refresh: the view re-plans, no view-side maintenance
    fa.delete(col("id") > 25L)
    fb.update(col("pk") === 1L, Map("b" -> (col("b") + 1L)))
    spark.sql("REFRESH MATERIALIZED VIEW gvw.db.vma")
    spark.sql("REFRESH MATERIALIZED VIEW gvw.db.vmb")
    assert(got() == expect(), "the view must reflect the refreshed MVs")
    // the view also resolves from the DataFrame API
    assert(spark.table("gvw.db.vpm").count() == got().size)
  }

  test("CREATE refuses duplicates/unknowns/cycles; OR REPLACE + DROP work; temp views delegate") {
    val t = VersionedTable(spark, s"$warehouse/db/vt1")
    t.commitAppend(Seq((1L, 2L)).toDF("k", "v"))
    spark.sql("CREATE VIEW gvw.db.v1 AS SELECT k, v FROM gvw.db.vt1")
    assert(spark.sql("SELECT * FROM gvw.db.v1").count() == 1)
    // duplicate refuses; IF NOT EXISTS no-ops; OR REPLACE redefines
    val e = intercept[Exception](spark.sql(
      "CREATE VIEW gvw.db.v1 AS SELECT k FROM gvw.db.vt1"))
    assert(e.getMessage.contains("already exists"))
    spark.sql("CREATE VIEW IF NOT EXISTS gvw.db.v1 AS SELECT k FROM gvw.db.vt1")
    assert(spark.sql("SELECT * FROM gvw.db.v1").columns.length == 2)
    spark.sql("CREATE OR REPLACE VIEW gvw.db.v1 AS SELECT k FROM gvw.db.vt1")
    assert(spark.sql("SELECT * FROM gvw.db.v1").columns.toSeq == Seq("k"))
    // a view over a view works; replacing the INNER one into a cycle refuses
    spark.sql("CREATE VIEW gvw.db.v2 AS SELECT k FROM gvw.db.v1")
    assert(spark.sql("SELECT * FROM gvw.db.v2").count() == 1)
    val e2 = intercept[Exception](spark.sql(
      "CREATE OR REPLACE VIEW gvw.db.v1 AS SELECT k FROM gvw.db.v2"))
    assert(e2.getMessage.contains("acyclic"),
      s"cycle must refuse at CREATE, got: ${e2.getMessage}")
    // an unknown column refuses at CREATE, not at first read
    val e3 = intercept[Exception](spark.sql(
      "CREATE VIEW gvw.db.vbad AS SELECT nope FROM gvw.db.vt1"))
    assert(e3.getMessage.toLowerCase.contains("nope"))
    // DROP VIEW; IF EXISTS no-ops; a read after drop fails resolution
    spark.sql("DROP VIEW gvw.db.v2")
    spark.sql("DROP VIEW IF EXISTS gvw.db.v2")
    intercept[Exception](spark.sql("SELECT * FROM gvw.db.v2").collect())
    // DROP VIEW on a TABLE refuses loudly — and IF EXISTS must not mask
    // "exists but is not a view" as a silent success
    val e4 = intercept[Exception](spark.sql("DROP VIEW gvw.db.vt1"))
    assert(e4.getMessage.contains("DROP TABLE"),
      s"DROP VIEW on a table must point at DROP TABLE, got: ${e4.getMessage}")
    val e5 = intercept[Exception](spark.sql("DROP VIEW IF EXISTS gvw.db.vt1"))
    assert(e5.getMessage.contains("DROP TABLE"))
    assert(spark.sql("SELECT * FROM gvw.db.vt1").count() == 1,
      "the table must survive both refused DROP VIEW statements")
    // ordinary temp views still go through Spark untouched
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW plain_tmp AS SELECT 5 AS x")
    assert(spark.sql("SELECT x FROM plain_tmp").head().getInt(0) == 5)
    spark.sql("DROP VIEW plain_tmp")
    // graft_views lists the durable views (dropped v2 is gone; v1 stays)
    val listed = spark.sql(s"SELECT namespace, view FROM graft_views('$warehouse')")
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(listed.contains(("db", "v1")) && !listed.contains(("db", "v2")),
      s"graft_views must list live views only, got: $listed")
  }
}
