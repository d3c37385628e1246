package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** The SQL names injected by GraftExtensions must be the same Catalyst
  * expressions the Column API builds — checked by running both surfaces
  * over the same rows and comparing results exactly.
  */
class GraftExtensionsSpec extends SparkSuite {

  test("graft_dot in SQL equals VectorFns.dot and stays codegen'd") {
    import spark.implicits._
    Seq((Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
        (Array(0.5f, -1.5f, 2.5f), Array(1.0f, 1.0f, 1.0f)))
      .toDF("a", "b").createOrReplaceTempView("vecs")
    val viaSql = spark.sql("SELECT graft_dot(a, b) AS d FROM vecs ORDER BY d").collect().map(_.getDouble(0))
    val viaApi = spark.table("vecs").select(VectorFns.dot(col("a"), col("b")).as("d"))
      .orderBy("d").collect().map(_.getDouble(0))
    assert(viaSql.sameElements(viaApi))
    assert(viaSql.last == 32.0) // 1*4 + 2*5 + 3*6
  }

  test("graft_poly_hash / graft_shingles in SQL equal the TextFns builders") {
    import spark.implicits._
    Seq("the quick brown fox jumps", "lorem ipsum dolor sit amet")
      .toDF("text").createOrReplaceTempView("docs_ext")
    val viaSql = spark.sql(
      """SELECT graft_poly_hash(text, 31, 1000000007) AS h,
        |       graft_shingles(text, 3) AS s
        |FROM docs_ext ORDER BY h""".stripMargin).collect()
    val viaApi = spark.table("docs_ext")
      .select(TextFns.polyHash(col("text"), 31L, 1000000007L).as("h"),
        TextFns.shingles(col("text"), 3).as("s"))
      .orderBy("h").collect()
    assert(viaSql.map(_.getLong(0)).sameElements(viaApi.map(_.getLong(0))))
    assert(viaSql.map(_.getSeq[String](1)).toSeq == viaApi.map(_.getSeq[String](1)).toSeq)
  }

  test("graft_quality / graft_redact_pii / graft_content_hash equal the TextFns builders") {
    import spark.implicits._
    Seq("the quick brown fox and the lazy dog",
        "zzz zzz zzz zzz",
        "write to ops7@corp.io or +1-555-0042 from 10.0.0.9")
      .toDF("text").createOrReplaceTempView("docs_cur")
    val viaSql = spark.sql(
      """SELECT graft_quality(text) AS q, graft_redact_pii(text) AS r,
        |       graft_content_hash(text) AS h
        |FROM docs_cur ORDER BY h""".stripMargin).collect()
    val viaApi = spark.table("docs_cur")
      .select(TextFns.qualityScore(col("text")).as("q"),
        TextFns.redactPii(col("text")).as("r"),
        TextFns.contentHash(col("text")).as("h"))
      .orderBy("h").collect()
    assert(viaSql.map(_.getDouble(0)).sameElements(viaApi.map(_.getDouble(0))))
    assert(viaSql.map(_.getString(1)).sameElements(viaApi.map(_.getString(1))))
    assert(viaSql.map(_.getString(2)).sameElements(viaApi.map(_.getString(2))))
    // and the redaction actually fired through the SQL surface
    assert(viaSql.exists(r => r.getString(1).contains("<EMAIL>") &&
      r.getString(1).contains("<PHONE>") && r.getString(1).contains("<IP>")))
  }

  test("graft_dot_long in SQL equals VectorFns.dotLong (exact integer math)") {
    import spark.implicits._
    Seq((Array(1L, 2L, 3L), Array(4L, 5L, 6L)))
      .toDF("a", "b").createOrReplaceTempView("lvecs")
    val viaSql = spark.sql("SELECT graft_dot_long(a, b) FROM lvecs").collect().head.getLong(0)
    assert(viaSql == 32L)
  }

  test("graft_ivf_search: both probe faces, defaults nprobe=4/topk=5, bad args refuse") {
    import spark.implicits._
    val dir = tempDir("graft-ivfsearch")
    // a tiny deterministic corpus (vec_id, 4-dim float embedding) —
    // written as the embeddings parquet layout writeIvfIndex expects
    val rnd = new scala.util.Random(7)
    (0L until 40L).map(i =>
        (i, Array.fill(64)(rnd.nextFloat() * 2f - 1f)))
      .toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val art = s"$dir/art"
    graft.queries.LlmSimilarity.writeIvfIndex(spark, dir, art)
    // table face: defaults give top-5 per probe row
    spark.read.parquet(s"$dir/embeddings.parquet").filter(col("vec_id") < 3)
      .createOrReplaceTempView("ivfsearch_q")
    val t = spark.sql(s"SELECT * FROM graft_ivf_search('$art', 'ivfsearch_q')")
      .collect()
    assert(t.length == 15, s"3 probes x default topk=5, got ${t.length}")
    assert(t.count(r => r.getLong(1) == r.getLong(0) && r.getDouble(3) > 0.999999) == 3,
      "an ad-hoc probe equal to a stored vector must surface it at cos=1 " +
        "(no self-exclusion)")
    // vector face: query 0's embedding as an array literal reproduces
    // the table face's query-0 neighbors; explicit topk=2 truncates
    val v0 = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter(col("vec_id") === 0).head().getSeq[Float](1)
    val litSql = v0.map(f => s"CAST('$f' AS FLOAT)").mkString("array(", ", ", ")")
    val v = spark.sql(s"SELECT * FROM graft_ivf_search('$art', $litSql, 4, 2)")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val want = t.filter(_.getLong(0) == 0L).sortBy(_.getLong(2)).take(2)
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(v.toSeq == want.toSeq,
      s"vector face must equal table face truncated to topk=2: $v vs ${want.toSeq}")
    // a non-literal probe refuses at analysis
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graft_ivf_search('x', array(rand()))").collect()
    }
    assert(e.getMessage.contains("literal") ||
      Option(e.getCause).exists(_.getMessage.contains("literal")))
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_ivf_search('$art', 42)").collect()
    }
    assert(e2.getMessage.contains("array literal") ||
      Option(e2.getCause).exists(_.getMessage.contains("array literal")))
  }

  test("non-literal mult rejects at analysis instead of silently misbehaving") {
    import spark.implicits._
    // own view: must not depend on a sibling test having run first
    Seq("abc").toDF("text").createOrReplaceTempView("docs_nonlit")
    val e = intercept[Exception] {
      // length(text) is not foldable — the hash family must be fixed per query
      spark.sql("SELECT graft_poly_hash(text, length(text), 7) FROM docs_nonlit").collect()
    }
    // the require message, not an unrelated missing-view error
    assert(e.getMessage.contains("literal") ||
      Option(e.getCause).exists(_.getMessage.contains("literal")))
  }
}
