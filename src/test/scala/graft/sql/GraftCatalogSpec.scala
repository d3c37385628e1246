package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.ecom.VersionedTable
import graft.ecom.VersionedTable.{MergeInsert, MergeUpdate, MergeWhen}

/** The SQL face of the versioned format: a GraftCatalog-registered
  * warehouse makes every versioned table addressable by NAME from plain
  * SQL — SELECT, time travel (`VERSION AS OF` / `TIMESTAMP AS OF` /
  * read options), INSERT INTO/OVERWRITE through the same CAS commits,
  * DDL — and WHERE clauses trigger manifest stats/bloom file skipping
  * with no Graft-specific API in the query.
  */
class GraftCatalogSpec extends SparkSuite {
  import spark.implicits._

  // eager: every test needs the catalog registered before its first SQL
  private val warehouse: String = {
    val dir = tempDir("graft-warehouse")
    spark.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graft.warehouse", dir)
    new java.io.File(s"$dir/bronze").mkdirs()
    dir
  }

  private def scanFiles(df: DataFrame): Long = {
    df.collect()
    df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.map(_.metrics("numFiles").value).sum
  }

  test("library-written tables are queryable by name with no registration step") {
    val vt = VersionedTable(spark, s"$warehouse/bronze/items")
    vt.commitOverwrite((1L to 40L).toDF("id"))
    assert(spark.sql("SELECT count(*) AS n FROM graft.bronze.items")
      .as[Long].head() == 40L)
    assert(spark.sql("SELECT sum(id) AS s FROM graft.bronze.items WHERE id <= 10")
      .as[Long].head() == 55L)
    // SHOW TABLES sees it too
    val shown = spark.sql("SHOW TABLES IN graft.bronze")
      .select("tableName").as[String].collect().toSet
    assert(shown.contains("items"))
  }

  test("CREATE TABLE / INSERT INTO / INSERT OVERWRITE are atomic versioned commits") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.sqlddl")
    spark.sql("CREATE TABLE graft.sqlddl.t (id BIGINT, v STRING)")
    val vt = VersionedTable(spark, s"$warehouse/sqlddl/t")
    assert(vt.currentVersion().contains(1L), "CREATE commits an empty v1")
    assert(spark.table("graft.sqlddl.t").schema.fieldNames.toSeq == Seq("id", "v"))

    spark.sql("INSERT INTO graft.sqlddl.t VALUES (1, 'a'), (2, 'b')")
    assert(vt.currentVersion().contains(2L))
    spark.sql("INSERT INTO graft.sqlddl.t VALUES (3, 'c')")
    assert(spark.sql("SELECT id FROM graft.sqlddl.t ORDER BY id")
      .as[Long].collect().toSeq == Seq(1L, 2L, 3L))

    spark.sql("INSERT OVERWRITE graft.sqlddl.t VALUES (9, 'z')")
    assert(spark.sql("SELECT id, v FROM graft.sqlddl.t")
      .as[(Long, String)].collect().toSeq == Seq((9L, "z")))
    // history is intact: the pre-overwrite state is still below
    assert(vt.readAt(3L).count() == 3)
  }

  test("VERSION AS OF / TIMESTAMP AS OF / read options time-travel") {
    val vt = VersionedTable(spark, s"$warehouse/bronze/tt")
    vt.commitOverwrite((1L to 5L).toDF("id"))
    val t1 = vt.history().last.modifiedMs
    Thread.sleep(50)
    vt.commitAppend((6L to 9L).toDF("id"))

    assert(spark.sql("SELECT count(*) AS n FROM graft.bronze.tt").as[Long].head() == 9L)
    assert(spark.sql("SELECT count(*) AS n FROM graft.bronze.tt VERSION AS OF 1")
      .as[Long].head() == 5L)
    // format t1 in the SESSION timezone (UTC here) — the contract is
    // that the literal resolves in the session zone on every host
    val ts = java.time.Instant.ofEpochMilli(t1)
      .atZone(java.time.ZoneOffset.UTC)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(s"SELECT count(*) AS n FROM graft.bronze.tt TIMESTAMP AS OF '$ts'")
      .as[Long].head() == 5L)
    // DataFrame read options — the Delta-style entry
    assert(spark.read.option("versionAsOf", "1").table("graft.bronze.tt").count() == 5L)
    assert(spark.read.option("timestampAsOf", ts).table("graft.bronze.tt").count() == 5L)
    // host-independence: the SAME option string must pin the SAME
    // version on a JVM whose default zone is NOT the session zone
    // (Timestamp.valueOf would shift it by the zone offset)
    val jvmZone = java.util.TimeZone.getDefault
    try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone("Australia/Eucla"))
      assert(spark.read.option("timestampAsOf", ts).table("graft.bronze.tt").count() == 5L,
        "timestampAsOf must resolve in the session timezone, not the JVM default")
      assert(spark.read.format("graft").option("timestampAsOf", ts)
        .load(vt.tableDir).count() == 5L,
        "the path-read entry must agree with the catalog entry")
    } finally java.util.TimeZone.setDefault(jvmZone)
    // double-spec on the path read is refused, not silently resolved
    val both = intercept[IllegalArgumentException] {
      spark.read.format("graft")
        .option("versionAsOf", "1").option("timestampAsOf", ts)
        .load(vt.tableDir)
    }
    assert(both.getMessage.contains("both"))
    val nonNum = intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "latest").load(vt.tableDir)
    }
    assert(nonNum.getMessage.contains("must be numeric"))
    // a nonexistent version is refused with the library's message
    val ex = intercept[Exception] {
      spark.sql("SELECT * FROM graft.bronze.tt VERSION AS OF 99").collect()
    }
    assert(ex.getMessage.contains("99"))
  }

  test("WHERE clauses skip files via manifest min/max stats from plain SQL") {
    val vt = VersionedTable(spark, s"$warehouse/bronze/skipstats",
      statsColumns = Seq("id"))
    // three commits = three files with disjoint id ranges
    vt.commitOverwrite((1L to 100L).toDF("id").repartition(1))
    vt.commitAppend((101L to 200L).toDF("id").repartition(1))
    vt.commitAppend((201L to 300L).toDF("id").repartition(1))

    val all = spark.sql("SELECT * FROM graft.bronze.skipstats")
    assert(scanFiles(all) == 3)
    val pruned = spark.sql("SELECT * FROM graft.bronze.skipstats WHERE id >= 250")
    assert(pruned.as[Long].collect().sorted.toSeq == (250L to 300L))
    assert(scanFiles(pruned) == 1, "min/max stats must prune 2 of 3 files")
    val mid = spark.sql(
      "SELECT * FROM graft.bronze.skipstats WHERE id BETWEEN 150 AND 160")
    assert(mid.count() == 11)
    assert(scanFiles(mid) == 1)
  }

  test("equality WHERE clauses skip files via manifest blooms from plain SQL") {
    val vt = VersionedTable(spark, s"$warehouse/bronze/skipbloom",
      bloomColumns = Seq("k"))
    vt.commitOverwrite(Seq.tabulate(50)(i => s"a$i").toDF("k").repartition(1))
    vt.commitAppend(Seq.tabulate(50)(i => s"b$i").toDF("k").repartition(1))
    vt.commitAppend(Seq.tabulate(50)(i => s"c$i").toDF("k").repartition(1))

    val hit = spark.sql("SELECT * FROM graft.bronze.skipbloom WHERE k = 'b17'")
    assert(hit.as[String].collect().toSeq == Seq("b17"))
    assert(scanFiles(hit) <= 2, "bloom must prune non-candidate files")
    val miss = spark.sql("SELECT * FROM graft.bronze.skipbloom WHERE k = 'nope'")
    assert(miss.count() == 0)
    assert(scanFiles(miss) <= 1, "absent key: blooms prune ~all files")
  }

  test("catalog reads keep parquet pushdown and column pruning through the conversion") {
    val vt = VersionedTable(spark, s"$warehouse/bronze/widecols")
    vt.commitOverwrite(spark.range(100).selectExpr(
      "id", "CAST(id AS STRING) AS a", "id * 2 AS b", "id * 3 AS c"))
    val df = spark.sql("SELECT a FROM graft.bronze.widecols WHERE id >= 90")
    df.collect()
    val top = df.queryExecution.executedPlan match {
      case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        ad.executedPlan
      case p => p
    }
    val scan = top.collectFirst { case f: FileSourceScanExec => f }.getOrElse(
      fail("no parquet scan in the catalog read"))
    // the filter reaches the parquet reader (row-group skipping at scale)
    assert(scan.metadata("PushedFilters").contains("GreaterThanOrEqual(id,90)"),
      s"filter not pushed: ${scan.metadata("PushedFilters")}")
    // the projection needs 2 of 4 columns; the rest must not be read
    val readCols = scan.schema.fieldNames.toSet
    assert(readCols == Set("id", "a"),
      s"column pruning lost through the conversion: read $readCols")
  }

  test("manifest-recorded sizes drive broadcast planning for catalog joins") {
    val dim = VersionedTable(spark, s"$warehouse/bronze/sizedim")
    dim.commitOverwrite(spark.range(50).selectExpr("id", "concat('n', id) AS name"))
    val fact = VersionedTable(spark, s"$warehouse/bronze/sizefact")
    fact.commitOverwrite(spark.range(300000).selectExpr("id % 50 AS k", "id AS v"))
    val q = spark.sql(
      """SELECT d.name, CAST(SUM(f.v) AS BIGINT) AS s
        |FROM graft.bronze.sizefact f JOIN graft.bronze.sizedim d ON f.k = d.id
        |GROUP BY d.name""".stripMargin)
    q.collect()
    val top = q.queryExecution.executedPlan match {
      case ad: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        ad.executedPlan
      case p => p
    }
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] = p.flatMap {
      case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        s +: allNodes(s.plan)
      case n => Seq(n)
    }
    // the 50-row dim must broadcast — its size estimate comes from the
    // MANIFEST-recorded file lengths (GraftFileIndex.sizeInBytes), so a
    // correct plan here proves planning never stats the filesystem and
    // the fact side never sort-merge joins
    assert(allNodes(top).exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"dim join must broadcast from manifest sizes:\n$top")
    assert(!allNodes(top).exists(_.isInstanceOf[
      org.apache.spark.sql.execution.joins.SortMergeJoinExec]),
      "the fact table must not sort-merge against a 50-row dim")
  }

  test("DV (merge-on-read) snapshots read correctly by name via the fallback plan") {
    val vt = VersionedTable(spark, s"$warehouse/bronze/mor")
    vt.commitOverwrite((1L to 30L).toDF("id"))
    vt.deleteMoR(col("id") % 3L === 0L)
    val viaSql = spark.sql("SELECT id FROM graft.bronze.mor ORDER BY id")
      .as[Long].collect().toSeq
    assert(viaSql == (1L to 30L).filterNot(_ % 3 == 0))
    // time travel below the delete still sees every row
    assert(spark.sql("SELECT count(*) AS n FROM graft.bronze.mor VERSION AS OF 1")
      .as[Long].head() == 30L)
  }

  test("dropped-column snapshots read by name via the fallback plan (no stale-column leak)") {
    val vt = VersionedTable(spark, s"$warehouse/bronze/droppedcol")
    vt.commitOverwrite(Seq((1L, "a", 9L)).toDF("id", "v", "junk"))
    vt.dropColumn("junk")
    assert(spark.table("graft.bronze.droppedcol").columns.toSeq == Seq("id", "v"))
    val row = spark.sql("SELECT id, v FROM graft.bronze.droppedcol").collect().head
    assert(row.getLong(0) == 1L && row.getString(1) == "a")
  }

  test("format(\"graft\") reads a table by path, with version options") {
    val dir = tempDir("graft-ds-path")
    val vt = VersionedTable(spark, dir)
    vt.commitOverwrite((1L to 7L).toDF("id"))
    vt.commitAppend((8L to 11L).toDF("id"))
    assert(spark.read.format("graft").load(dir).count() == 11)
    assert(spark.read.format("graft").option("versionAsOf", "1").load(dir).count() == 7)
  }

  test("path reads at an old version present the OLD schema under evolution") {
    val dir = tempDir("graft-ds-evolve")
    val vt = VersionedTable(spark, dir)
    vt.commitOverwrite(Seq((1L, "a")).toDF("id", "v"))
    vt.commitAppend(Seq((2L, "b", 7L)).toDF("id", "v", "extra"))
    assert(spark.read.format("graft").load(dir).columns.toSeq ==
      Seq("id", "v", "extra"))
    val old = spark.read.format("graft").option("versionAsOf", "1").load(dir)
    assert(old.columns.toSeq == Seq("id", "v"),
      "time-travel reads must present the snapshot's own schema")
    assert(old.count() == 1)
  }

  test("DELETE FROM and TRUNCATE TABLE are versioned copy-on-write commits") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml")
    spark.sql("CREATE TABLE graft.dml.d (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.dml.d SELECT id, CAST(id AS STRING) FROM range(20)")
    val vt = VersionedTable(spark, s"$warehouse/dml/d")

    spark.sql("DELETE FROM graft.dml.d WHERE id >= 10 AND v IS NOT NULL")
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.d")
      .collect().head.getLong(0) == 10L)
    // the pre-delete snapshot is still one VERSION AS OF away
    assert(spark.sql("SELECT count(*) AS n FROM graft.dml.d VERSION AS OF 2")
      .collect().head.getLong(0) == 20L)

    spark.sql("TRUNCATE TABLE graft.dml.d")
    assert(spark.table("graft.dml.d").count() == 0)
    assert(spark.table("graft.dml.d").schema.fieldNames.toSeq == Seq("id", "v"),
      "truncate keeps the schema")
    // truncation is a version like any other — undoable
    assert(vt.readAt(vt.currentVersion().get - 1).count() == 10)
  }

  test("UPDATE and canonical MERGE INTO run as copy-on-write versioned commits") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml2")
    spark.sql("CREATE TABLE graft.dml2.m (id BIGINT, v STRING, n BIGINT)")
    spark.sql(
      "INSERT INTO graft.dml2.m SELECT id, CAST(id AS STRING), id * 10 FROM range(10)")
    val vt = VersionedTable(spark, s"$warehouse/dml2/m")

    // UPDATE with an expression referencing existing columns
    spark.sql("UPDATE graft.dml2.m SET n = n + 1, v = concat(v, '!') WHERE id >= 8")
    val updated = spark.sql(
      "SELECT v, n FROM graft.dml2.m WHERE id = 9").collect().head
    assert(updated.getString(0) == "9!" && updated.getLong(1) == 91L)
    assert(spark.sql("SELECT count(*) AS c FROM graft.dml2.m WHERE v LIKE '%!'")
      .collect().head.getLong(0) == 2L)
    // pre-update state one VERSION AS OF away
    assert(spark.sql(
      "SELECT count(*) AS c FROM graft.dml2.m VERSION AS OF 2 WHERE v LIKE '%!'")
      .collect().head.getLong(0) == 0L)

    // canonical upsert: 8,9 replace; 10,11 insert
    spark.sql(
      """MERGE INTO graft.dml2.m t
        |USING (SELECT id, CAST(id AS STRING) AS v, id * 100 AS n
        |       FROM range(8, 12)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft.dml2.m").count() == 12)
    assert(spark.sql("SELECT n FROM graft.dml2.m WHERE id = 9")
      .collect().head.getLong(0) == 900L)
    assert(spark.sql("SELECT n FROM graft.dml2.m WHERE id = 11")
      .collect().head.getLong(0) == 1100L)
    assert(spark.sql("SELECT n FROM graft.dml2.m WHERE id = 3")
      .collect().head.getLong(0) == 30L, "unmatched table rows survive")
    assert(vt.history().last.op == "merge")

    // a target holding a key twice: the source row updates EACH matched
    // row (Delta's semantics), whichever way the upsert is spelled
    def upserted(name: String)(upsert: VersionedTable => Unit): Seq[(Long, String)] = {
      val dvt = VersionedTable(spark, s"$warehouse/dml2/$name")
      dvt.commitOverwrite(Seq((1L, "a"), (1L, "b"), (2L, "c")).toDF("id", "v"))
      upsert(dvt)
      spark.table(s"graft.dml2.$name").as[(Long, String)].collect().sorted.toSeq
    }
    def sqlUpsert(name: String, matched: String): Unit = spark.sql(
      s"""MERGE INTO graft.dml2.$name t
         |USING (SELECT * FROM VALUES (1L, 'x'), (3L, 'y') AS src(id, v)) s
         |ON t.id = s.id
         |WHEN $matched THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val dupSrc = Seq((1L, "x"), (3L, "y")).toDF("id", "v")
    val star = Map("id" -> col("s.id"), "v" -> col("s.v"))
    val want = Seq((1L, "x"), (1L, "x"), (2L, "c"), (3L, "y"))
    assert(upserted("dup_set")(_ => sqlUpsert("dup_set", "MATCHED")) == want)
    assert(upserted("dup_cond")(_ => sqlUpsert("dup_cond", "MATCHED AND true")) == want)
    assert(upserted("dup_lib")(_.merge(dupSrc, Seq("id"))) == want)
    assert(upserted("dup_clauses")(_.mergeClauses(dupSrc, Seq("id"),
      matched = Seq(MergeWhen(None, MergeUpdate(star))),
      notMatched = Seq(MergeWhen(None, MergeInsert(star))))) == want)

    // a non-equi-key ON shape still refuses with a pointer to the API
    val ex = intercept[Exception] {
      spark.sql(
        """MERGE INTO graft.dml2.m t USING (SELECT 1L AS lo, 5L AS hi) s
          |ON t.id BETWEEN s.lo AND s.hi WHEN MATCHED THEN DELETE""".stripMargin)
    }
    assert(ex.getMessage.contains("ON") || ex.getMessage.contains("unsupported"),
      ex.getMessage)
  }

  test("MERGE INTO supports the full clause matrix from SQL") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.dml3")
    spark.sql("CREATE TABLE graft.dml3.mx (id BIGINT, qty BIGINT, tag STRING)")
    spark.sql(
      "INSERT INTO graft.dml3.mx SELECT id, id % 10, 'old' FROM range(20)")

    // conditional matched DELETE + UPDATE with expressions over t AND s;
    // conditional NOT MATCHED insert with an explicit column list
    spark.sql(
      """MERGE INTO graft.dml3.mx t
        |USING (SELECT id, id * 100 AS boost FROM range(15, 25)) s
        |ON t.id = s.id
        |WHEN MATCHED AND t.qty >= 8 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET qty = t.qty + s.boost, tag = 'merged'
        |WHEN NOT MATCHED AND s.id < 23 THEN INSERT (id, qty) VALUES (s.id, s.boost)
        |""".stripMargin)
    val rows = spark.sql(
      "SELECT id, qty, tag FROM graft.dml3.mx ORDER BY id")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) "" else r.getString(2)))
    val byId = rows.map(r => r._1 -> (r._2, r._3)).toMap
    // 18,19 matched with qty 8,9 -> deleted
    assert(!byId.contains(18L) && !byId.contains(19L))
    // 15..17 matched with qty 5..7 -> qty + id*100, tag merged
    assert(byId(15L) == (1505L, "merged") && byId(17L) == (1707L, "merged"))
    // 20..22 insert with explicit columns (tag unset -> NULL -> "")
    assert(byId(20L) == (2000L, "") && byId(22L) == (2200L, ""))
    // 23,24 fail the insert condition -> dropped
    assert(!byId.contains(23L) && !byId.contains(24L))
    // untouched rows keep
    assert(byId(0L) == (0L, "old") && byId(14L) == (4L, "old"))
    assert(rows.map(_._1).toSeq == ((0L until 18L) ++ (20L to 22L)))

    // NOT MATCHED BY SOURCE: delete stale rows, tag the rest
    spark.sql(
      """MERGE INTO graft.dml3.mx t
        |USING (SELECT id FROM range(0, 10)) s
        |ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET tag = 'live'
        |WHEN NOT MATCHED BY SOURCE AND t.id >= 20 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET tag = 'stale'
        |""".stripMargin)
    val after = spark.sql("SELECT id, tag FROM graft.dml3.mx ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(after.map(_._1).toSeq == (0L until 18L))
    assert(after.filter(_._2 == "live").map(_._1).toSeq == (0L until 10L))
    assert(after.filter(_._2 == "stale").map(_._1).toSeq == (10L until 18L))
    // every matrix merge is one atomic version
    val vt = VersionedTable(spark, s"$warehouse/dml3/mx")
    assert(vt.history().map(_.op).takeRight(2) == Seq("merge", "merge"))
  }

  test("CTAS and df.writeTo(...).append() land as versioned commits") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ctas")
    spark.sql(
      "CREATE TABLE graft.ctas.t AS SELECT id, id * 2 AS dbl FROM range(10)")
    assert(spark.table("graft.ctas.t").count() == 10)
    assert(spark.table("graft.ctas.t").schema.fieldNames.toSeq == Seq("id", "dbl"))
    spark.range(10, 15).selectExpr("id", "id * 2 AS dbl")
      .writeTo("graft.ctas.t").append()
    assert(spark.sql("SELECT sum(id) AS s FROM graft.ctas.t")
      .collect().head.getLong(0) == (0L until 15L).sum)
  }

  test("CALL graft.system.* maintenance procedures: vacuum, optimize, zorder, restore") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.maint")
    spark.sql("CREATE TABLE graft.maint.t (id BIGINT)")
    (1 to 4).foreach(i =>
      spark.sql(s"INSERT INTO graft.maint.t SELECT id FROM range(${i * 10}, ${i * 10 + 10})"))
    val vt = VersionedTable(spark, s"$warehouse/maint/t")
    assert(vt.versions().size == 5)

    // optimize bin-packs (one more version, same rows)
    spark.sql("CALL graft.system.optimize(table => 'maint.t')")
    assert(spark.table("graft.maint.t").count() == 40)

    // restore to the pre-optimize head (zero-copy replay)
    val preOpt = vt.versions().takeRight(2).head
    spark.sql(s"CALL graft.system.restore(table => 'maint.t', version => $preOpt)")
    assert(spark.table("graft.maint.t").count() == 40)

    // zorder rewrite keeps rows
    spark.sql("CALL graft.system.zorder(table => 'maint.t', columns => 'id')")
    assert(spark.table("graft.maint.t").count() == 40)

    // vacuum with default keep_versions=1 prunes history to the head
    spark.sql("CALL graft.system.vacuum(table => 'maint.t')")
    assert(vt.versions().size == 1)
    assert(spark.table("graft.maint.t").count() == 40)

    // optimize_range: scoped compaction from SQL (rows intact; a range
    // covering everything behaves like optimize on a 1-file table = noop)
    spark.sql("CALL graft.system.optimize_range(table => 'maint.t', " +
      "column => 'id', lo => 10, hi => 49)")
    assert(spark.table("graft.maint.t").count() == 40)
  }

  test("procedure table arguments parse as identifiers, not split('.')") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pid")
    // a backquoted table name CONTAINING a dot must resolve as one part
    spark.sql("CREATE TABLE graft.pid.`dotted.name` (id BIGINT)")
    spark.sql("INSERT INTO graft.pid.`dotted.name` VALUES (1), (2)")
    spark.sql("CALL graft.system.optimize(table => 'pid.`dotted.name`')")
    assert(spark.table("graft.pid.`dotted.name`").count() == 2)
    // a single-part name refuses with a CLEAR message, not an
    // empty-namespace NoSuchNamespace/NoSuchTable confusion
    val e = intercept[Exception](
      spark.sql("CALL graft.system.optimize(table => 'bare')"))
    assert(e.getMessage.contains("namespace-qualified"),
      s"single-part procedure arg must refuse clearly, got: ${e.getMessage}")
  }

  test("ALTER TABLE ADD/RENAME/DROP COLUMN route through the column-mapping ops") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ddl")
    spark.sql("CREATE TABLE graft.ddl.c (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graft.ddl.c VALUES (1, 'a'), (2, 'b')")

    spark.sql("ALTER TABLE graft.ddl.c ADD COLUMN extra BIGINT")
    assert(spark.table("graft.ddl.c").schema.fieldNames.toSeq ==
      Seq("id", "v", "extra"))
    // old rows null-fill the added column
    assert(spark.sql("SELECT count(*) AS n FROM graft.ddl.c WHERE extra IS NULL")
      .collect().head.getLong(0) == 2L)

    spark.sql("ALTER TABLE graft.ddl.c RENAME COLUMN v TO label")
    assert(spark.sql("SELECT label FROM graft.ddl.c ORDER BY id")
      .collect().map(_.getString(0)).toSeq == Seq("a", "b"))

    spark.sql("ALTER TABLE graft.ddl.c DROP COLUMN extra")
    assert(spark.table("graft.ddl.c").schema.fieldNames.toSeq == Seq("id", "label"))
    // DDL commits are versions: pre-DDL schema is time-travelable
    val vt = VersionedTable(spark, s"$warehouse/ddl/c")
    assert(vt.readAt(2L).schema.fieldNames.toSeq == Seq("id", "v"))

    // unsupported ADD COLUMN shapes refuse rather than approximate:
    // NOT NULL cannot hold (old rows null-fill), FIRST/AFTER cannot
    // hold (additive evolution appends) — no silent nullable column
    val nn = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ddl.c ADD COLUMN req BIGINT NOT NULL")
    }
    assert(nn.getMessage.contains("NOT NULL"), nn.getMessage)
    val pos = intercept[Exception] {
      spark.sql("ALTER TABLE graft.ddl.c ADD COLUMN lead BIGINT FIRST")
    }
    assert(pos.getMessage.contains("FIRST/AFTER"), pos.getMessage)
    assert(spark.table("graft.ddl.c").schema.fieldNames.toSeq == Seq("id", "label"),
      "a refused ALTER must not half-apply")
  }

  test("ALTER TABLE ADD/DROP CONSTRAINT CHECK routes to the versioned constraint ops") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.cons")
    spark.sql("CREATE TABLE graft.cons.t (id BIGINT, qty BIGINT)")
    spark.sql("INSERT INTO graft.cons.t VALUES (1, 5), (2, 7)")

    spark.sql("ALTER TABLE graft.cons.t ADD CONSTRAINT qty_pos CHECK (qty > 0)")
    val vt = VersionedTable(spark, s"$warehouse/cons/t")
    assert(vt.checkConstraints() == Map("qty_pos" -> "qty > 0"))
    assert(vt.history().last.op == "addConstraint", "a versioned metadata commit")

    // enforcement: a violating INSERT aborts and lands nothing
    val bad = intercept[Exception] {
      spark.sql("INSERT INTO graft.cons.t VALUES (3, -1)")
    }
    assert(bad.getMessage.contains("qty_pos"), bad.getMessage)
    assert(spark.table("graft.cons.t").count() == 2)
    spark.sql("INSERT INTO graft.cons.t VALUES (3, 1)")
    assert(spark.table("graft.cons.t").count() == 3)

    // adding a constraint EXISTING rows violate is refused up front
    val ex = intercept[Exception] {
      spark.sql("ALTER TABLE graft.cons.t ADD CONSTRAINT qty_big CHECK (qty > 100)")
    }
    assert(ex.getMessage.contains("qty_big"), ex.getMessage)
    assert(vt.checkConstraints().keySet == Set("qty_pos"), "nothing half-lands")

    // DROP CONSTRAINT; IF EXISTS tolerates the unknown name
    spark.sql("ALTER TABLE graft.cons.t DROP CONSTRAINT qty_pos")
    assert(vt.checkConstraints().isEmpty)
    spark.sql("ALTER TABLE graft.cons.t DROP CONSTRAINT IF EXISTS nope")
    intercept[Exception] {
      spark.sql("ALTER TABLE graft.cons.t DROP CONSTRAINT nope")
    }
    // with the constraint gone, the once-violating row inserts
    spark.sql("INSERT INTO graft.cons.t VALUES (4, -5)")
    assert(spark.table("graft.cons.t").count() == 4)

    // PRIMARY KEY is refused loudly, never recorded unenforced
    val pk = intercept[Exception] {
      spark.sql("ALTER TABLE graft.cons.t ADD CONSTRAINT pk PRIMARY KEY (id)")
    }
    assert(pk.getMessage.contains("CHECK") || pk.getMessage.contains("not enforced"),
      pk.getMessage)
  }

  test("CREATE TABLE with GENERATED ALWAYS AS lands the library's generated column") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.gen")
    spark.sql(
      "CREATE TABLE graft.gen.g (a BIGINT, b BIGINT GENERATED ALWAYS AS (a + 1))")
    val vt = VersionedTable(spark, s"$warehouse/gen/g")
    assert(vt.generatedColumns() == Map("b" -> "a + 1"))
    // a writer omitting b gets it populated; a writer lying about b aborts
    vt.commitAppend(spark.range(3).toDF("a"))
    assert(spark.sql("SELECT b FROM graft.gen.g ORDER BY a")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    val ex = intercept[Exception] {
      spark.sql("INSERT INTO graft.gen.g VALUES (10, 99)")
    }
    assert(ex.getMessage.toLowerCase.contains("generated")
      || ex.getMessage.contains("b"), ex.getMessage)
    // honest write passes
    spark.sql("INSERT INTO graft.gen.g VALUES (10, 11)")
    assert(spark.table("graft.gen.g").count() == 4)
  }

  test("graft_history TVF: DESCRIBE HISTORY from plain SQL") {
    val dir = tempDir("graft-tvf-hist")
    val vt = VersionedTable(spark, dir)
    vt.commitOverwrite((1L to 5L).toDF("id"))
    vt.commitAppend((6L to 8L).toDF("id"))
    vt.delete(col("id") === 1L)
    val h = spark.sql(s"SELECT version, operation FROM graft_history('$dir') ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(h.map(_._1) == Seq(1L, 2L, 3L))
    assert(h.map(_._2) == Seq("overwrite", "append", "delete"))
    // file-churn metrics (operationMetrics): the delete REWRITES its one
    // touched file (1 added, 1 removed); the append only adds
    val churn = spark.sql(s"SELECT num_added_files, num_removed_files " +
      s"FROM graft_history('$dir') ORDER BY version")
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
    assert(churn.head._2 == 0 && churn(1)._2 == 0, "appends remove nothing")
    assert(churn(1)._1 >= 1, "the append adds files")
    assert(churn(2)._2 >= 1, "the COW delete removes the touched file(s)")
  }

  test("CALL graft.system.refresh_mv: SQL-driven incremental aggregate with min/max") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mv")
    spark.sql("""CREATE TABLE graft.mv.silver (id BIGINT, grp BIGINT, amt BIGINT)
                |TBLPROPERTIES ('graft.enableChangeDataFeed' = 'true')""".stripMargin)
    spark.sql("INSERT INTO graft.mv.silver SELECT id, id % 5, id * 10 FROM range(0, 40)")
    spark.sql("CREATE TABLE graft.mv.gold (grp BIGINT, n BIGINT, total BIGINT, lo BIGINT, hi BIGINT)")

    def call(): Unit = spark.sql(
      """CALL graft.system.refresh_mv(view => 'mv.gold', source => 'mv.silver',
        |  keys => 'grp', count_col => 'n', sums => 'total:amt',
        |  mins => 'lo:amt', maxes => 'hi:amt', net_keys => 'id')""".stripMargin)
    def expected = spark.sql(
      """SELECT grp, count(*) AS n, sum(amt) AS total, min(amt) AS lo, max(amt) AS hi
        |FROM graft.mv.silver GROUP BY grp""".stripMargin).collect().toSet

    call() // bootstrap
    assert(spark.table("graft.mv.gold").select("grp", "n", "total", "lo", "hi")
      .collect().toSet == expected)

    // SQL DML storm, ONE refresh — deleting ids 30..39 removes every
    // group's stored max (delete-the-extreme through plain SQL)
    spark.sql("DELETE FROM graft.mv.silver WHERE id BETWEEN 30 AND 39")
    spark.sql("UPDATE graft.mv.silver SET amt = amt + 100 WHERE id < 5")
    call()
    assert(spark.table("graft.mv.gold").select("grp", "n", "total", "lo", "hi")
      .collect().toSet == expected)

    // non-maintainable aggregates refuse LOUDLY with the rewrite hint
    val e = intercept[Exception](spark.sql(
      """CALL graft.system.refresh_mv(view => 'mv.gold', source => 'mv.silver',
        |  keys => 'grp', count_col => 'n', sums => 'a:avg(amt)')""".stripMargin))
    assert(e.getMessage.contains("not self-maintainable") ||
      e.getMessage.contains("maintainable algebra"),
      s"must name the maintainable algebra: ${e.getMessage}")
  }

  test("create_mv persists the definition; bare refresh_mv maintains from the stored spec") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.mvd")
    spark.sql("""CREATE TABLE graft.mvd.silver (id BIGINT, grp BIGINT, amt BIGINT)
                |TBLPROPERTIES ('graft.enableChangeDataFeed' = 'true')""".stripMargin)
    spark.sql("INSERT INTO graft.mvd.silver SELECT id, id % 4, id * 7 FROM range(0, 32)")

    // create: one call carries the WHOLE definition and bootstraps
    spark.sql(
      """CALL graft.system.create_mv(view => 'mvd.gold', source => 'mvd.silver',
        |  keys => 'grp', count_col => 'n', sums => 'total:amt',
        |  mins => 'lo:amt', maxes => 'hi:amt', net_keys => 'id')""".stripMargin)
    def expected = spark.sql(
      """SELECT grp, count(*) AS n, sum(amt) AS total, min(amt) AS lo, max(amt) AS hi
        |FROM graft.mvd.silver GROUP BY grp""".stripMargin).collect().toSet
    def got = spark.table("graft.mvd.gold")
      .select("grp", "n", "total", "lo", "hi").collect().toSet
    assert(got == expected, "create_mv must bootstrap the view")

    // the stored spec is real table metadata (atomic, SHOW-able)
    val props = VersionedTable(spark, s"$warehouse/mvd/gold").tableProperties()
    assert(props.get(graft.ops.MvSpec.SourceProp).contains(s"$warehouse/mvd/silver"))
    assert(props.get(graft.ops.MvSpec.MaxesProp).contains("hi:amt"))

    // DML storm, then a BARE refresh — nobody re-states the algebra
    spark.sql("DELETE FROM graft.mvd.silver WHERE id >= 24") // kills stored maxes
    spark.sql("UPDATE graft.mvd.silver SET amt = amt + 1000 WHERE id < 4")
    spark.sql("INSERT INTO graft.mvd.silver SELECT id, id % 4, id * 7 FROM range(100, 108)")
    spark.sql("CALL graft.system.refresh_mv(view => 'mvd.gold')")
    assert(got == expected, "bare refresh_mv must equal the recompute")

    // idempotent re-create with the identical definition is a no-op
    spark.sql(
      """CALL graft.system.create_mv(view => 'mvd.gold', source => 'mvd.silver',
        |  keys => 'grp', count_col => 'n', sums => 'total:amt',
        |  mins => 'lo:amt', maxes => 'hi:amt', net_keys => 'id')""".stripMargin)
    assert(got == expected)

    // a DIFFERENT definition refuses — create_mv never silently redefines
    val e = intercept[Exception](spark.sql(
      """CALL graft.system.create_mv(view => 'mvd.gold', source => 'mvd.silver',
        |  keys => 'grp', count_col => 'n', sums => 'total:amt + 1')""".stripMargin))
    assert(e.getMessage.contains("DIFFERENT"), e.getMessage)

    // an inline refresh that drifts from the stored spec refuses too
    val e2 = intercept[Exception](spark.sql(
      """CALL graft.system.refresh_mv(view => 'mvd.gold', source => 'mvd.silver',
        |  keys => 'grp', count_col => 'n', sums => 'total:amt * 2',
        |  mins => 'lo:amt', maxes => 'hi:amt', net_keys => 'id')""".stripMargin))
    assert(e2.getMessage.contains("DIFFERS"), e2.getMessage)

    // a bare refresh of a table with NO stored spec names create_mv
    spark.sql("CREATE TABLE graft.mvd.plain (id BIGINT)")
    val e3 = intercept[Exception](spark.sql(
      "CALL graft.system.refresh_mv(view => 'mvd.plain')"))
    assert(e3.getMessage.contains("create_mv"), e3.getMessage)
  }

  test("DATE stats prune files for a dashboard BETWEEN on a date-partitioned versioned table") {
    import org.apache.spark.sql.functions.{date_add, lit}
    import org.apache.spark.sql.types.{DateType, IntegerType}
    val dir = s"$warehouse/bronze/gold_dates"
    val vt = VersionedTable(spark, dir,
      partitionCol = Some("event_date"), statsColumns = Seq("event_date"))
    // 8 distinct dates, clustered so each date lands in its own file(s)
    val df = spark.range(0, 80).select(col("id"),
      date_add(lit("2024-01-01").cast(DateType),
        (col("id") % 8).cast(IntegerType)).as("event_date"))
    vt.commitOverwrite(df.repartition(col("event_date")))

    val all = scanFiles(spark.sql("SELECT id FROM graft.bronze.gold_dates"))
    assert(all >= 8, s"expected one file per date, got $all")
    // the dashboard-shaped predicate, in plain SQL through the catalog:
    // file skipping must cut the scan to the two matching dates
    val q = spark.sql(
      """SELECT id FROM graft.bronze.gold_dates
        |WHERE event_date BETWEEN DATE '2024-01-02' AND DATE '2024-01-03'""".stripMargin)
    assert(q.as[Long].collect().sorted.toSeq ==
      (0L until 80L).filter(i => i % 8 == 1 || i % 8 == 2))
    val pruned = scanFiles(q)
    assert(pruned <= all / 4 && pruned >= 1,
      s"BETWEEN must prune to the 2 matching dates' files: $pruned of $all")
  }

  test("DROP TABLE removes the table; rename moves it") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.tmp")
    spark.sql("CREATE TABLE graft.tmp.victim (id BIGINT)")
    spark.sql("INSERT INTO graft.tmp.victim VALUES (1)")
    assert(spark.sql("SHOW TABLES IN graft.tmp").count() == 1)
    // the RENAME TO target is catalog-relative (Spark does not strip a
    // leading catalog name from it)
    spark.sql("ALTER TABLE graft.tmp.victim RENAME TO tmp.renamed")
    assert(spark.table("graft.tmp.renamed").count() == 1)
    spark.sql("DROP TABLE graft.tmp.renamed")
    assert(spark.sql("SHOW TABLES IN graft.tmp").count() == 0)
  }
}
