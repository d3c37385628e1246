package graft.sql

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.ecom.VersionedTable
import graft.ops.MvSpec

/** `CREATE MATERIALIZED VIEW ... AS SELECT` / `REFRESH MATERIALIZED
  * VIEW` — the SQL DDL face of durable maintained aggregates
  * ([[GraftSqlParser]]/[[MvDdl]]): the statement's algebra is extracted,
  * persisted in table properties (bit-identical to what `CALL
  * graft.system.create_mv` stores), and a bare REFRESH maintains from
  * the stored spec through DML storms. Non-maintainable SELECT shapes
  * refuse at CREATE time with the rewrite.
  */
class MvDdlSpec extends SparkSuite {
  import spark.implicits._

  private val warehouse: String = {
    val dir = tempDir("graft-mvddl-wh")
    spark.conf.set("spark.sql.catalog.gmv", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gmv.warehouse", dir)
    new java.io.File(s"$dir/db").mkdirs()
    dir
  }

  private def freshSrc(name: String): VersionedTable = {
    val t = VersionedTable(spark, s"$warehouse/db/$name")
    t.commitAppend((1L to 40L).map(i => (i, i % 4, i * 10L))
      .toDF("id", "grp", "amt"))
    t.setTableProperty("graft.enableChangeDataFeed", "true")
    t
  }

  private def recompute(t: VersionedTable): Set[Row] =
    t.read().groupBy("grp")
      .agg(count(lit(1)).as("n"), sum("amt").as("total"),
        min("amt").as("lo"), max("amt").as("hi"))
      .collect().toSet

  test("CREATE ... AS SELECT stores the spec; bare REFRESH maintains through a storm") {
    val src = freshSrc("s1")
    spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.mv1 AS
        |SELECT grp, COUNT(*) AS n, SUM(amt) AS total,
        |  MIN(amt) AS lo, MAX(amt) AS hi
        |FROM gmv.db.s1 GROUP BY grp""".stripMargin)
    val view = VersionedTable(spark, s"$warehouse/db/mv1")
    // the stored spec is EXACTLY what the procedure form would store
    assert(MvSpec.load(view).get.props ==
      MvSpec.fromArgs(s"$warehouse/db/s1", "grp", "n",
        "total:amt", "lo:amt", "hi:amt", "").props)
    assert(view.read().select("grp", "n", "total", "lo", "hi")
      .collect().toSet == recompute(src))
    // storm, then a refresh statement that carries NO algebra
    src.delete(col("id") === 40L) // the grp-0 max
    src.update(col("grp") === 1, Map("amt" -> (col("amt") + 100L)))
    spark.sql(s"""MERGE INTO gmv.db.s1 t USING (
      |SELECT CAST(900 AS BIGINT) AS id, CAST(2 AS BIGINT) AS grp,
      |  CAST(5 AS BIGINT) AS amt) s
      |ON t.id = s.id WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.mv1")
    assert(view.read().select("grp", "n", "total", "lo", "hi")
      .collect().toSet == recompute(src))
    // idempotent re-create (identical definition), IF NOT EXISTS no-op
    spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.mv1 AS
        |SELECT grp, COUNT(*) AS n, SUM(amt) AS total,
        |  MIN(amt) AS lo, MAX(amt) AS hi
        |FROM gmv.db.s1 GROUP BY grp""".stripMargin)
    spark.sql(
      """CREATE MATERIALIZED VIEW IF NOT EXISTS gmv.db.mv1 AS
        |SELECT grp, COUNT(*) AS n FROM gmv.db.s1 GROUP BY grp""".stripMargin)
    assert(view.read().select("grp", "n", "total", "lo", "hi")
      .collect().toSet == recompute(src))
  }

  test("a DIFFERENT definition refuses; REFRESH of a spec-less table refuses") {
    freshSrc("s2")
    spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.mv2 AS
        |SELECT grp, COUNT(*) AS n, SUM(amt) AS total
        |FROM gmv.db.s2 GROUP BY grp""".stripMargin)
    val e = intercept[Exception](spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.mv2 AS
        |SELECT grp, COUNT(*) AS n, SUM(amt + 1) AS total
        |FROM gmv.db.s2 GROUP BY grp""".stripMargin))
    assert(e.getMessage.contains("DIFFERENT materialized-view definition"))
    val plain = VersionedTable(spark, s"$warehouse/db/plain2")
    plain.commitAppend(Seq((1L, 2L)).toDF("a", "b"))
    val e2 = intercept[Exception](
      spark.sql("REFRESH MATERIALIZED VIEW gmv.db.plain2"))
    assert(e2.getMessage.contains("no stored materialized-view definition"))
  }

  test("join-shaped MV: dim LEFT join + WHERE + derived key, maintained through fact AND dimension storms") {
    // fact: (id, pk, qty, price); dim: (pk, brand) — brand drives a
    // null-safe derived grouping key (a dim miss lands in UNKNOWN)
    val fact = VersionedTable(spark, s"$warehouse/db/jfact")
    fact.commitAppend((1L to 60L).map(i => (i, i % 7, i % 20, i * 10L))
      .toDF("id", "pk", "qty", "price"))
    fact.setTableProperty("graft.enableChangeDataFeed", "true")
    val dim = VersionedTable(spark, s"$warehouse/db/jdim")
    dim.commitAppend((0L to 5L).map(k => (k, s"brand_${k % 3}"))
      .toDF("pk", "brand")) // pk 6 deliberately missing -> UNKNOWN
    dim.setTableProperty("graft.enableChangeDataFeed", "true")

    def recomputeJoin(): Set[Row] =
      fact.read().join(dim.read(), Seq("pk"), "left")
        .filter(col("qty") > 2)
        .withColumn("brand_key", coalesce(col("brand"), lit("UNKNOWN")))
        .groupBy("brand_key")
        .agg(count(lit(1)).as("n"), sum("price").as("total"),
          min("price").as("lo"), max("price").as("hi"))
        .collect().toSet

    spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.jmv AS
        |SELECT coalesce(brand, 'UNKNOWN') AS brand_key,
        |  COUNT(*) AS n, SUM(price) AS total,
        |  MIN(price) AS lo, MAX(price) AS hi
        |FROM gmv.db.jfact LEFT JOIN gmv.db.jdim USING (pk)
        |WHERE qty > 2
        |GROUP BY brand_key""".stripMargin)
    val view = VersionedTable(spark, s"$warehouse/db/jmv")
    def viewRows(): Set[Row] =
      view.read().select("brand_key", "n", "total", "lo", "hi")
        .collect().toSet
    assert(viewRows() == recomputeJoin(), "bootstrap != recompute")
    // the stored spec carries the join/filter/derived-key shape
    val spec = MvSpec.load(view).get
    assert(spec.where.contains("(qty > 2)"))
    assert(spec.dims.map(d => (d.source, d.joinKeys, d.cols)) ==
      Seq((s"$warehouse/db/jdim", Seq("pk"), Seq("brand"))))
    assert(spec.keyExprs.map(_._1) == Seq("brand_key"))

    // fact storm: delete, update across the WHERE boundary, insert
    fact.delete(col("id") % 11 === 0)
    fact.update(col("qty") === 3, Map("qty" -> lit(0))) // leaves the view
    fact.update(col("qty") === 1, Map("qty" -> lit(9))) // enters the view
    spark.sql(s"""MERGE INTO gmv.db.jfact t USING (
      |SELECT CAST(901 AS BIGINT) AS id, CAST(6 AS BIGINT) AS pk,
      |  CAST(8 AS INT) AS qty, CAST(5 AS BIGINT) AS price) s
      |ON t.id = s.id WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.jmv")
    assert(viewRows() == recomputeJoin(), "fact storm != recompute")

    // DIMENSION storm: migrate brands (moves groups), delete a dim row
    // (its facts fall to UNKNOWN), late-insert the missing pk 6 (its
    // facts leave UNKNOWN) — repaired by retract/re-add, NO rebootstrap
    val factVersions = fact.currentVersion()
    dim.update(col("pk") === 1L, Map("brand" -> lit("brand_9")))
    dim.delete(col("pk") === 2L)
    spark.sql(s"""MERGE INTO gmv.db.jdim t USING (
      |SELECT CAST(6 AS BIGINT) AS pk, 'brand_late' AS brand) s
      |ON t.pk = s.pk WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.jmv")
    assert(viewRows() == recomputeJoin(), "dimension storm != recompute")
    assert(fact.currentVersion() == factVersions,
      "dimension repair must not touch the fact table")
    assert(view.currentBatchId(spec.dims.head.app) == dim.currentVersion(),
      "the dimension cursor must sit at the repaired head")

    // value-unchanged dim re-delivery: the retract/re-add pair nets out
    // (synthetic per-row netting) — the cursor advances, the DATA stays
    val dataBefore = viewRows()
    dim.update(col("pk") === 3L, Map("brand" -> col("brand"))) // no-op values
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.jmv")
    assert(viewRows() == dataBefore, "no-op re-delivery changed the view")
    assert(view.currentBatchId(spec.dims.head.app) == dim.currentVersion())

    // a dim change that retires a group's stored extreme: the bounded
    // dirty recompute must re-derive it, not merge stale values
    dim.update(col("pk") === 0L, Map("brand" -> lit("brand_9")))
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.jmv")
    assert(viewRows() == recomputeJoin(), "extreme-retiring dim change != recompute")
  }

  test("a dimension WITHOUT a change feed repairs via the snapshot symmetric-diff fallback") {
    val fact = VersionedTable(spark, s"$warehouse/db/nfact")
    fact.commitAppend((1L to 30L).map(i => (i, i % 5, i * 10L))
      .toDF("id", "pk", "amt"))
    fact.setTableProperty("graft.enableChangeDataFeed", "true")
    // dim: CDF deliberately NOT enabled — touched keys must come from
    // the full-row snapshot diff
    val dim = VersionedTable(spark, s"$warehouse/db/ndim")
    dim.commitAppend((0L to 4L).map(k => (k, s"g$k")).toDF("pk", "tag"))

    spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.nmv AS
        |SELECT coalesce(tag, 'UNKNOWN') AS tag_key, COUNT(*) AS n,
        |  SUM(amt) AS total
        |FROM gmv.db.nfact LEFT JOIN gmv.db.ndim USING (pk)
        |GROUP BY tag_key""".stripMargin)
    val view = VersionedTable(spark, s"$warehouse/db/nmv")
    def recompute(): Set[Row] =
      fact.read().join(dim.read(), Seq("pk"), "left")
        .withColumn("tag_key", coalesce(col("tag"), lit("UNKNOWN")))
        .groupBy("tag_key").agg(count(lit(1)).as("n"), sum("amt").as("total"))
        .collect().toSet
    def viewRows(): Set[Row] =
      view.read().select("tag_key", "n", "total").collect().toSet
    assert(viewRows() == recompute())

    dim.update(col("pk") === 2L, Map("tag" -> lit("moved")))
    dim.delete(col("pk") === 3L)
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.nmv")
    assert(viewRows() == recompute(),
      "feed-less dimension change must repair via the snapshot diff")
  }

  test("MV-over-MV: one bare REFRESH of level 2 repairs the whole cascade") {
    val base = VersionedTable(spark, s"$warehouse/db/cbase")
    base.commitAppend((1L to 40L).map(i => (i, i % 8, i * 10L))
      .toDF("id", "skey", "amt"))
    base.setTableProperty("graft.enableChangeDataFeed", "true")
    spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.cl1 AS
        |SELECT skey, COUNT(*) AS n_rows, SUM(amt) AS rev, MAX(amt) AS maxa
        |FROM gmv.db.cbase GROUP BY skey""".stripMargin)
    // level 2 sources LEVEL 1 — the reference's customer_360 shape
    // (an aggregate over another aggregate's change feed), with a
    // derived grouping key
    spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.cl2 AS
        |SELECT skey % 2 AS bucket, COUNT(*) AS n_groups, SUM(rev) AS total,
        |  MIN(n_rows) AS min_rows, MAX(maxa) AS max_amt
        |FROM gmv.db.cl1 GROUP BY bucket""".stripMargin)
    val l1 = VersionedTable(spark, s"$warehouse/db/cl1")
    val l2 = VersionedTable(spark, s"$warehouse/db/cl2")
    def recompute(): (Set[Row], Set[Row]) = {
      val r1 = base.read().groupBy("skey")
        .agg(count(lit(1)).as("n_rows"), sum("amt").as("rev"),
          max("amt").as("maxa"))
      (r1.collect().toSet,
        r1.withColumn("bucket", col("skey") % 2).groupBy("bucket")
          .agg(count(lit(1)).as("n_groups"), sum("rev").as("total"),
            min("n_rows").as("min_rows"), max("maxa").as("max_amt"))
          .collect().toSet)
    }
    val (e1a, e2a) = recompute()
    assert(l1.read().select("skey", "n_rows", "rev", "maxa")
      .collect().toSet == e1a)
    assert(l2.read().select("bucket", "n_groups", "total", "min_rows", "max_amt")
      .collect().toSet == e2a)

    // storm on the BASE only: deletes (retiring l1 rows and extremes),
    // updates, inserts — then ONE bare refresh of the TOP view
    base.delete(col("id") > 35L)
    base.update(col("skey") === 3L, Map("amt" -> (col("amt") + 1000L)))
    base.commitAppend(Seq((100L, 9L, 7L), (101L, 9L, 9L))
      .toDF("id", "skey", "amt")) // a NEW skey → an l1 INSERT flows to l2
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.cl2")
    val (e1b, e2b) = recompute()
    assert(l1.read().select("skey", "n_rows", "rev", "maxa")
      .collect().toSet == e1b,
      "the bare level-2 refresh must have repaired level 1 first")
    assert(l2.read().select("bucket", "n_groups", "total", "min_rows", "max_amt")
      .collect().toSet == e2b,
      "level 2 must reflect level 1's post-storm state")
  }

  test("an MV cycle refuses at CREATE, and a hand-stored cycle refuses at REFRESH") {
    // a plain table hand-stamped with a spec SOURCING the view we then
    // try to create over it — the CREATE-time chain walk must refuse
    val a = VersionedTable(spark, s"$warehouse/db/cyca")
    a.commitAppend(Seq((1L, 2L)).toDF("k", "v"))
    a.setTableProperty("graft.enableChangeDataFeed", "true")
    MvSpec.store(a, MvSpec(s"$warehouse/db/cycb", Seq("k"), "n",
      Nil, Nil, Nil, Nil))
    val e = intercept[Exception](spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.cycb AS
        |SELECT k, COUNT(*) AS n FROM gmv.db.cyca GROUP BY k""".stripMargin))
    assert(e.getMessage.contains("cycle"),
      s"CREATE over a cyclic chain must refuse, got: ${e.getMessage}")
    // a mutual cycle smuggled in by hand-stored specs refuses at refresh
    // instead of recursing forever
    val b = VersionedTable(spark, s"$warehouse/db/cycb")
    b.commitAppend(Seq((1L, 2L)).toDF("k", "v"))
    MvSpec.store(b, MvSpec(s"$warehouse/db/cyca", Seq("k"), "n",
      Nil, Nil, Nil, Nil))
    val e2 = intercept[Exception](
      MvSpec.load(b).get.refresh(spark, b))
    assert(e2.getMessage.contains("cycle"),
      s"refresh of a cyclic chain must refuse, got: ${e2.getMessage}")
  }

  test("a feed-less dimension that evolved additively still repairs via the diff") {
    val fact = VersionedTable(spark, s"$warehouse/db/efact")
    fact.commitAppend((1L to 30L).map(i => (i, i % 5, i * 10L))
      .toDF("id", "pk", "amt"))
    fact.setTableProperty("graft.enableChangeDataFeed", "true")
    val dim = VersionedTable(spark, s"$warehouse/db/edim") // no CDF
    dim.commitAppend((0L to 4L).map(k => (k, s"g$k")).toDF("pk", "tag"))
    spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.emv AS
        |SELECT coalesce(tag, 'UNKNOWN') AS tag_key, COUNT(*) AS n,
        |  SUM(amt) AS total
        |FROM gmv.db.efact LEFT JOIN gmv.db.edim USING (pk)
        |GROUP BY tag_key""".stripMargin)
    val view = VersionedTable(spark, s"$warehouse/db/emv")
    // the dimension EVOLVES between cursor and head (a new column the
    // cursor snapshot predates) AND changes a tag — the symmetric diff
    // must null-fill the old snapshot and repair, not throw on the
    // missing column
    dim.commitAppend(Seq((9L, "late", "x")).toDF("pk", "tag", "note"))
    dim.update(col("pk") === 1L, Map("tag" -> lit("moved")))
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.emv")
    val expect = fact.read().join(dim.read(), Seq("pk"), "left")
      .withColumn("tag_key", coalesce(col("tag"), lit("UNKNOWN")))
      .groupBy("tag_key").agg(count(lit(1)).as("n"), sum("amt").as("total"))
      .collect().toSet
    assert(view.read().select("tag_key", "n", "total").collect().toSet == expect,
      "diff repair must survive additive dimension evolution")
  }

  test("a declared dimension with NO committed version refuses with the dim named") {
    val fact = VersionedTable(spark, s"$warehouse/db/ufact")
    fact.commitAppend((1L to 10L).map(i => (i, i % 3, i * 10L))
      .toDF("id", "pk", "amt"))
    fact.setTableProperty("graft.enableChangeDataFeed", "true")
    val spec = MvSpec(s"$warehouse/db/ufact", Seq("pk"), "n",
      sums = Seq("total" -> "amt"), mins = Nil, maxes = Nil, netKeys = Nil,
      dims = Seq(graft.ops.MvDim(s"$warehouse/db/nevercommitted",
        Seq("pk"), Seq("tag"))))
    val view = VersionedTable(spark, s"$warehouse/db/umv")
    val e = intercept[IllegalArgumentException](
      MvSpec.ensure(spark, view, spec, "gmv.db.umv"))
    assert(e.getMessage.contains("nevercommitted") &&
      e.getMessage.contains("no committed version"),
      s"the refusal must name the dimension, got: ${e.getMessage}")
  }

  test("AVG / COUNT(expr) decompose mechanically; the read face hides the carriers") {
    val t = VersionedTable(spark, s"$warehouse/db/savg")
    // rating NULL on a stratum; one group (grp 3 after the storm) all-NULL
    t.commitAppend((1L to 40L).map(i =>
        (i, i % 4, if (i % 5 == 0) None else Some(i % 7), i * 2L))
      .toDF("id", "grp", "rating", "amt"))
    t.setTableProperty("graft.enableChangeDataFeed", "true")
    spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.mvavg AS
        |SELECT grp, COUNT(*) AS n, AVG(rating) AS avg_r,
        |  COUNT(rating) AS n_rated, SUM(amt) AS total
        |FROM gmv.db.savg GROUP BY grp""".stripMargin)
    def expect(): Set[Row] = t.read().groupBy("grp")
      .agg(count(lit(1)).as("n"),
        avg("rating").as("avg_r"),
        count(col("rating")).as("n_rated"),
        sum("amt").as("total"))
      .select(col("grp"), col("n"), col("avg_r"), col("n_rated"), col("total"))
      .collect().toSet
    def got(): Set[Row] = spark.sql(
      "SELECT grp, n, CAST(avg_r AS DOUBLE) AS avg_r, n_rated, total " +
        "FROM gmv.db.mvavg").collect().toSet
    // the catalog face hides the decomposition and derives the ratio
    val cols = spark.table("gmv.db.mvavg").columns.toSeq
    assert(!cols.exists(_.startsWith(MvSpec.HiddenPrefix)),
      s"hidden carriers leaked: $cols")
    assert(cols.contains("avg_r") && cols.contains("n_rated"))
    assert(got() == expect())
    // storm: retract rows, flip a stratum to all-NULL ratings
    t.delete(col("id") <= 8L)
    t.update(col("grp") === 3, Map("rating" -> lit(null)))
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.mvavg")
    assert(got() == expect(),
      "maintained AVG/COUNT(expr) must equal the recompute after the storm")
    // the all-NULL group reads avg NULL (not 0/0), n_rated 0
    val g3 = spark.sql(
      "SELECT avg_r, n_rated FROM gmv.db.mvavg WHERE grp = 3").head()
    assert(g3.isNullAt(0) && g3.getLong(1) == 0L,
      s"all-NULL group must read avg=NULL, n_rated=0, got $g3")
    // SELECT * through the catalog also hides the carriers
    assert(!spark.sql("SELECT * FROM gmv.db.mvavg").columns
      .exists(_.startsWith(MvSpec.HiddenPrefix)))
  }

  test("graft_materialized_views reports dimension staleness from manifests") {
    val fact = VersionedTable(spark, s"$warehouse/db/obsfact")
    fact.commitAppend((1L to 20L).map(i => (i, i % 3, i * 10L))
      .toDF("id", "pk", "amt"))
    fact.setTableProperty("graft.enableChangeDataFeed", "true")
    val dim = VersionedTable(spark, s"$warehouse/db/obsdim")
    dim.commitAppend(Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("pk", "tag"))
    spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.obsmv AS
        |SELECT tag, COUNT(*) AS n, SUM(amt) AS total
        |FROM gmv.db.obsfact LEFT JOIN gmv.db.obsdim USING (pk)
        |GROUP BY tag""".stripMargin)
    def row() = spark.sql(
      s"SELECT stale, dims FROM graft_materialized_views('$warehouse') " +
        "WHERE view = 'obsmv'").head()
    assert(!row().getBoolean(0), "freshly created MV must not be stale")
    // a DIMENSION-only change flips staleness (fact cursor untouched)
    dim.update(col("pk") === 1L, Map("tag" -> lit("moved")))
    val r = row()
    assert(r.getBoolean(0), "a moved dimension must read stale")
    assert(r.getString(1).contains("obsdim@"),
      s"dims summary must name the dimension with cursor/head: ${r.getString(1)}")
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.obsmv")
    assert(!row().getBoolean(0), "the dimension repair must clear staleness")
    // non-MV objects (plain tables) never list
    assert(spark.sql(s"SELECT * FROM graft_materialized_views('$warehouse') " +
      "WHERE view = 'obsfact'").count() == 0)
  }

  test("DESCRIBE MATERIALIZED VIEW: stored definition + freshness, per row") {
    val t = VersionedTable(spark, s"$warehouse/db/dsrc")
    t.commitAppend((1L to 20L).map(i => (i, i % 3, i * 10L))
      .toDF("id", "pk", "amt"))
    t.setTableProperty("graft.enableChangeDataFeed", "true")
    spark.sql(
      """CREATE MATERIALIZED VIEW gmv.db.dmv AS
        |SELECT pk, COUNT(*) AS n, SUM(amt) AS total, AVG(amt) AS avg_amt
        |FROM gmv.db.dsrc GROUP BY pk""".stripMargin)
    def props(): Map[String, String] =
      spark.sql("DESCRIBE MATERIALIZED VIEW gmv.db.dmv").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    val p = props()
    assert(p("source").endsWith("/db/dsrc"))
    assert(p("keys") == "pk" && p("count_col") == "n")
    assert(p("sums").contains("total: amt"))
    assert(p("avgs") == "avg_amt: amt",
      s"the avg read-face entry must describe, got: ${p.get("avgs")}")
    assert(p("stale") == "false")
    // a source-side commit flips staleness; refresh clears it
    t.delete(col("id") === 1L)
    assert(props()("stale") == "true")
    spark.sql("REFRESH MATERIALIZED VIEW gmv.db.dmv")
    val after = props()
    assert(after("stale") == "false" &&
      after("refreshed_source_version") == after("source_head"))
    // a plain table refuses with the redirect
    val e = intercept[Exception](
      spark.sql("DESCRIBE MATERIALIZED VIEW gmv.db.dsrc").collect())
    assert(e.getMessage.contains("no stored materialized-view"))
    // ordinary DESCRIBE statements still delegate untouched
    assert(spark.sql("DESCRIBE SELECT 1 AS one").count() >= 1)
    // SHOW MATERIALIZED VIEWS: catalog- and namespace-scoped listings,
    // MVs only (plain tables and views never list), staleness included
    val listed = spark.sql("SHOW MATERIALIZED VIEWS IN gmv.db").collect()
      .map(r => (r.getString(1), r.getBoolean(3))).toMap
    assert(listed.contains("dmv") && !listed.contains("dsrc"),
      s"namespace listing must show MVs only, got: ${listed.keySet}")
    assert(listed("dmv") == false, "just-refreshed MV must list fresh")
    val catWide = spark.sql("SHOW MATERIALIZED VIEWS IN gmv").collect()
      .map(_.getString(1)).toSet
    assert(catWide.contains("dmv"),
      s"catalog-wide listing must include every namespace, got: $catWide")
  }

  test("non-maintainable SELECT shapes refuse at CREATE time with the rewrite") {
    freshSrc("s3")
    def refuses(sql: String, hint: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage.contains(hint), s"for: $sql\ngot: ${e.getMessage}")
    }
    // AVG is ACCEPTED since r17 (decomposed into hidden sums) — but a
    // non-decomposable aggregate still refuses, naming the accepted set
    refuses("""CREATE MATERIALIZED VIEW gmv.db.bad AS
      |SELECT grp, COUNT(*) AS n, STDDEV(amt) AS sd
      |FROM gmv.db.s3 GROUP BY grp""".stripMargin, "outside COUNT/SUM/AVG/MIN/MAX")
    // COUNT(DISTINCT) refusal names the two-level cascade rewrite
    refuses("""CREATE MATERIALIZED VIEW gmv.db.bad AS
      |SELECT grp, COUNT(DISTINCT amt) AS n
      |FROM gmv.db.s3 GROUP BY grp""".stripMargin, "TWO-LEVEL MV cascade")
    // user aliases may not squat on the reserved decomposition prefix
    refuses("""CREATE MATERIALIZED VIEW gmv.db.bad AS
      |SELECT grp, COUNT(*) AS n, SUM(amt) AS __mv_sum_x
      |FROM gmv.db.s3 GROUP BY grp""".stripMargin, "reserved prefix")
    // WHERE is maintainable since r15, but only row-locally — a
    // smuggled aggregate inside it still refuses with the rewrite
    refuses("""CREATE MATERIALIZED VIEW gmv.db.bad AS
      |SELECT grp, COUNT(*) AS n, SUM(amt) AS total
      |FROM gmv.db.s3 WHERE amt > max(amt) GROUP BY grp""".stripMargin,
      "ROW-LOCAL")
    refuses("""CREATE MATERIALIZED VIEW gmv.db.bad AS
      |SELECT grp, COUNT(*) AS n, SUM(amt)
      |FROM gmv.db.s3 GROUP BY grp""".stripMargin, "aliased")
    // an ON-clause join refuses (dimension joins must be USING so the
    // repair rule knows the dimension's key); INNER refuses with the
    // LEFT JOIN rewrite
    refuses("""CREATE MATERIALIZED VIEW gmv.db.bad AS
      |SELECT a.grp, COUNT(*) AS n
      |FROM gmv.db.s3 a JOIN gmv.db.s3 b ON a.id = b.id
      |GROUP BY a.grp""".stripMargin, "USING")
    refuses("""CREATE MATERIALIZED VIEW gmv.db.bad AS
      |SELECT grp, COUNT(*) AS n
      |FROM gmv.db.s3 JOIN gmv.db.s3 USING (id)
      |GROUP BY grp""".stripMargin, "LEFT JOIN")
    refuses("""CREATE MATERIALIZED VIEW gmv.db.bad AS
      |SELECT grp, COUNT(*) AS n, SUM(gmv.db.s3.amt) AS total
      |FROM gmv.db.s3 GROUP BY grp""".stripMargin, "qualified")
    refuses("""CREATE MATERIALIZED VIEW gmv.db.bad AS
      |SELECT grp + 1, COUNT(*) AS n
      |FROM gmv.db.s3 GROUP BY grp + 1""".stripMargin, "alias")
    refuses("""CREATE MATERIALIZED VIEW gmv.db.bad AS
      |SELECT grp, SUM(amt) AS total FROM gmv.db.s3 GROUP BY grp""".stripMargin,
      "COUNT(*)")
    // everything ordinary still parses through the delegate untouched
    assert(spark.sql("SELECT 1 AS one").head().getInt(0) == 1)
  }
}
