package graft.sql

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.ecom.VersionedTable

/** The SQL face of the change data feed:
  *
  *  - `ALTER TABLE ... SET/UNSET TBLPROPERTIES` are versioned metadata
  *    commits; `SHOW TBLPROPERTIES` reads them back; `CREATE TABLE ...
  *    TBLPROPERTIES(...)` enables CDC from birth; catalog-managed keys
  *    refuse;
  *  - `SELECT * FROM graft_table_changes(target, start[, end])` serves
  *    the distributed feed for a catalog-qualified NAME or a PATH;
  *  - `spark.read.format("graft").option("readChangeFeed", "true")`
  *    with startingVersion/endingVersion is the DataFrame entry;
  *  - the misuse matrix refuses loudly: readChangeFeed on a catalog
  *    .table() read, writes through a feed handle, combining with time
  *    travel, timestamp bounds, missing startingVersion.
  */
class GraftCdfSqlSpec extends SparkSuite {
  import spark.implicits._

  private val warehouse: String = {
    val dir = tempDir("graft-cdf-wh")
    spark.conf.set("spark.sql.catalog.gcdf", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.gcdf.warehouse", dir)
    new java.io.File(s"$dir/db").mkdirs()
    dir
  }

  private val CT = VersionedTable.CdcTypeCol
  private val CV = VersionedTable.CdcVersionCol

  private def changes(df: DataFrame): Set[(Long, Long, String, Long)] =
    df.select(col("id"), col("amt"), col(CT), col(CV)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3))).toSet

  test("TBLPROPERTIES DDL: set/unset/show, create-with, reserved keys refuse") {
    spark.sql("CREATE TABLE gcdf.db.p (id BIGINT, amt BIGINT)")
    val vt = VersionedTable(spark, s"$warehouse/db/p")
    spark.sql("ALTER TABLE gcdf.db.p SET TBLPROPERTIES " +
      "('graft.enableChangeDataFeed' = 'true', 'team' = 'data-eng')")
    assert(vt.tableProperties() == Map(
      "graft.enableChangeDataFeed" -> "true", "team" -> "data-eng"))
    // SHOW TBLPROPERTIES surfaces them (plus the reserved keys)
    val shown = spark.sql("SHOW TBLPROPERTIES gcdf.db.p")
      .as[(String, String)].collect().toMap
    assert(shown("team") == "data-eng" &&
      shown("graft.enableChangeDataFeed") == "true")
    spark.sql("ALTER TABLE gcdf.db.p UNSET TBLPROPERTIES ('team')")
    assert(vt.tableProperties() == Map("graft.enableChangeDataFeed" -> "true"))
    // each property change is a versioned commit, visible in history
    // (a two-key SET is two commits, like two-column ALTERs elsewhere)
    assert(vt.history().map(_.op).count(Set("setProperty", "unsetProperty")) == 3)
    // invalid CDC value surfaces the library's validation from SQL
    val bad = intercept[Exception](spark.sql(
      "ALTER TABLE gcdf.db.p SET TBLPROPERTIES ('graft.enableChangeDataFeed' = 'on')"))
    assert(bad.getMessage.contains("true"))
    // catalog-managed keys are not table properties (Spark refuses most
    // upstream as "reserved"; the catalog's own guard backstops the rest)
    val res = intercept[Exception](spark.sql(
      "ALTER TABLE gcdf.db.p SET TBLPROPERTIES ('location' = '/elsewhere')"))
    assert(res.getMessage.contains("reserved") ||
      res.getMessage.contains("catalog-managed"))
    // CREATE TABLE ... TBLPROPERTIES lands properties at birth
    spark.sql("CREATE TABLE gcdf.db.p2 (id BIGINT) " +
      "TBLPROPERTIES ('graft.enableChangeDataFeed' = 'true')")
    assert(VersionedTable(spark, s"$warehouse/db/p2").tableProperties() ==
      Map("graft.enableChangeDataFeed" -> "true"))
  }

  test("graft_table_changes TVF: full SQL DML lifecycle feeds by name and by path") {
    spark.sql("CREATE TABLE gcdf.db.t (id BIGINT, amt BIGINT) " +
      "TBLPROPERTIES ('graft.enableChangeDataFeed' = 'true')") // v1 + v2 prop
    spark.sql("INSERT INTO gcdf.db.t VALUES (1, 10), (2, 20), (3, 30)") // v3
    spark.sql("DELETE FROM gcdf.db.t WHERE id = 2")                     // v4
    spark.sql("UPDATE gcdf.db.t SET amt = amt + 1 WHERE id = 1")        // v5
    spark.sql("""MERGE INTO gcdf.db.t t
                |USING (SELECT CAST(3 AS BIGINT) AS id, CAST(300 AS BIGINT) AS amt
                |       UNION ALL SELECT CAST(9 AS BIGINT), CAST(90 AS BIGINT)) s
                |ON t.id = s.id
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)         // v6
    val byName = changes(spark.sql(
      "SELECT * FROM graft_table_changes('gcdf.db.t', 3)"))
    assert(byName == Set(
      (1L, 10L, "insert", 3L), (2L, 20L, "insert", 3L), (3L, 30L, "insert", 3L),
      (2L, 20L, "delete", 4L),
      (1L, 10L, "update_preimage", 5L), (1L, 11L, "update_postimage", 5L),
      (3L, 30L, "update_preimage", 6L), (3L, 300L, "update_postimage", 6L),
      (9L, 90L, "insert", 6L)))
    // path form + window narrowing agree
    val byPath = changes(spark.sql(
      s"SELECT * FROM graft_table_changes('$warehouse/db/t', 4, 5)"))
    assert(byPath == byName.filter(c => c._4 == 4L || c._4 == 5L))
    // the TVF composes like any relation
    assert(spark.sql(
      s"""SELECT CAST(SUM(amt) AS BIGINT) FROM
         |graft_table_changes('gcdf.db.t', 3) WHERE $CT = 'insert'"""
        .stripMargin).as[Long].head() == 150L)
    // misuse: 1-part non-path target, non-graft catalog
    assert(intercept[Exception](spark.sql(
      "SELECT * FROM graft_table_changes('nope', 1)"))
      .getMessage.contains("neither a path nor a catalog-qualified name"))
  }

  test("graft_detail TVF: one manifest-sourced metadata row (DESCRIBE DETAIL)") {
    val dir = tempDir("graft-detail")
    val vt = VersionedTable(spark, dir)
    vt.commitAppend(Seq((1L, 10L), (2L, 20L)).toDF("id", "amt"))
    vt.setTableProperty("graft.enableChangeDataFeed", "true")
    vt.addCheckConstraint("pos", "amt >= 0")
    val row = spark.sql(s"SELECT * FROM graft_detail('$dir')").collect().head
    assert(row.getAs[String]("format") == "graft")
    assert(row.getAs[Long]("version") == 3L)
    assert(row.getAs[Int]("num_files") >= 1)
    assert(row.getAs[Long]("size_bytes") > 0L, "sizes come from the manifest")
    assert(row.getAs[Int]("num_constraints") == 1)
    assert(row.getAs[Map[String, String]]("properties") ==
      Map("graft.enableChangeDataFeed" -> "true"))
  }

  test("path read: readChangeFeed options serve the feed; misuse matrix refuses") {
    val dir = tempDir("graft-cdf-path")
    val vt = VersionedTable(spark, dir)
    vt.commitAppend(Seq((1L, 10L), (2L, 20L)).toDF("id", "amt"))
    vt.setTableProperty("graft.enableChangeDataFeed", "true")
    vt.delete(col("id") === 1)
    def read(opts: (String, String)*): DataFrame = {
      val r = spark.read.format("graft").option("readChangeFeed", "true")
      opts.foldLeft(r)((acc, kv) => acc.option(kv._1, kv._2)).load(dir)
    }
    val f = read("startingVersion" -> "1")
    assert(f.columns.takeRight(3).toSeq ==
      Seq(CT, CV, VersionedTable.CdcTimestampCol))
    assert(changes(f) == Set(
      (1L, 10L, "insert", 1L), (2L, 20L, "insert", 1L),
      (1L, 10L, "delete", 3L)))
    // bounded window via endingVersion; filters push into the feed read
    assert(changes(read("startingVersion" -> "3", "endingVersion" -> "3")) ==
      Set((1L, 10L, "delete", 3L)))
    assert(f.filter(col(CT) === "delete").count() == 1L)
    // misuse matrix
    assert(intercept[IllegalArgumentException](
      read("startingVersion" -> "1", "versionAsOf" -> "2").collect())
      .getMessage.contains("cannot combine"))
    // no startingVersion = the whole history
    assert(changes(read()) == changes(f))
    assert(intercept[UnsupportedOperationException](
      read("startingTimestamp" -> "2024-01-01").collect())
      .getMessage.contains("startingTimestamp"))
    // a feed handle is read-only: every write entry refuses at the
    // handle (newWriteBuilder / DELETE / TRUNCATE share the guard)
    val feedHandle = GraftSqlTable(dir, vt, pinnedVersion = None,
      cdfWindow = Some((1L, -1L)))
    assert(intercept[IllegalArgumentException](feedHandle.newWriteBuilder(null))
      .getMessage.contains("read surface"))
    assert(intercept[IllegalArgumentException](feedHandle.truncateTable())
      .getMessage.contains("read surface"))
    // readChangeFeed on a catalog .table() read points at the alternatives
    spark.sql("CREATE TABLE gcdf.db.r (id BIGINT) " +
      "TBLPROPERTIES ('graft.enableChangeDataFeed' = 'true')")
    val e = intercept[Exception](spark.read.option("readChangeFeed", "true")
      .table("gcdf.db.r").collect())
    assert(e.getMessage.contains("graft_table_changes"))
  }
}
