package graft.functions

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite
import graft.functions.TextFns._

/** Properties of the native Catalyst expressions: equivalence with the
  * composed-built-in formulations they replaced, and constant folding.
  */
class NativeExprSpec extends SparkSuite {
  import spark.implicits._

  test("PolyHash equals the interpreted aggregate/substr formulation") {
    val texts = Seq("hello world", "", "a", "Grüße 世界 123", "x y z").toDF("t")
    val viaLambda = texts.select(
      aggregate(
        sequence(lit(1), length(col("t"))),
        lit(0L),
        (acc, i) => (acc * lit(31L) + ascii(col("t").substr(i, lit(1))).cast("long")) % lit(ModBig))
        .as("h")).as[Long].collect()
    val viaNative = texts.select(polyHash(col("t"), 31L, ModBig).as("h")).as[Long].collect()
    assert(viaNative.toSeq == viaLambda.toSeq)
  }

  test("WordShingles equals the transform/element_at formulation") {
    val texts = Seq("a b c d e", "one two", "single", "x  y", "Mixed CASE words here").toDF("t")
    val t = split(lower(col("t")), " ")
    val viaLambda = texts.select(
      when(size(t) >= 3,
        transform(sequence(lit(1), size(t) - 2),
          i => concat_ws(" ", element_at(t, i), element_at(t, i + 1), element_at(t, i + 2))))
        .otherwise(array().cast("array<string>")).as("s"))
      .as[Seq[String]].collect()
    val viaNative = texts.select(shingles(col("t"), 3).as("s")).as[Seq[String]].collect()
    assert(viaNative.toSeq == viaLambda.toSeq)
  }

  test("native expressions over literals constant-fold in the optimized plan") {
    val df = Seq(1).toDF("x").select(
      polyHash(lit("abc"), 31L, ModBig).as("h"),
      shingles(lit("a b c d"), 2).as("s"))
    val exprs = df.queryExecution.optimizedPlan.expressions
    // after ConstantFolding both projections are plain literals
    assert(exprs.forall(_.collectFirst {
      case p: PolyHash => p
      case w: WordShingles => w
    }.isEmpty), df.queryExecution.optimizedPlan.toString)
    val row = df.head()
    assert(row.getLong(0) == PolyHash.hash(
      org.apache.spark.unsafe.types.UTF8String.fromString("abc"), 31L, TextFns.ModBig))
    assert(row.getSeq[String](1) == Seq("a b", "b c", "c d"))
  }

  test("IvfProbeCells ranks cells as a row_number window over their similarities") {
    // cells 0 and 2 are the same direction (every vector ties on them);
    // NaN, null-element and null vectors score NaN or NULL everywhere
    val cents = Seq(Array(1.0, 0.0), Array(0.0, 1.0), Array(1.0, 0.0), Array(-1.0, 0.0))
    val vecs = spark.sql("""SELECT * FROM VALUES
      (0, array(CAST(1 AS FLOAT), CAST(0.5 AS FLOAT))),
      (1, array(CAST(-1 AS FLOAT), CAST(0 AS FLOAT))),
      (2, array(CAST(0 AS FLOAT), CAST(0 AS FLOAT))),
      (3, array(CAST('NaN' AS FLOAT), CAST(1 AS FLOAT))),
      (4, array(CAST(1 AS FLOAT), CAST(NULL AS FLOAT))),
      (5, CAST(NULL AS ARRAY<FLOAT>))
      AS t(id, v)""")
    for (nprobe <- Seq(0, 1, 2, 4, 6)) {
      val viaWindow = vecs.select(col("id"),
          posexplode(array(cents.map(c => VectorFns.dot(col("v"), typedlit(c.toSeq))): _*))
            .as(Seq("cell", "sim")))
        .withColumn("pr", row_number().over(
          Window.partitionBy("id").orderBy(col("sim").desc, col("cell"))))
        .filter(col("pr") <= nprobe)
        .select("id", "pr", "cell").orderBy("id", "pr").collect().toSeq
      val viaNative = vecs.select(col("id"),
          posexplode(VectorFns.ivfProbeCells(col("v"), cents, nprobe)).as(Seq("p", "cell")))
        .select(col("id"), (col("p") + 1).as("pr"), col("cell")).orderBy("id", "pr").collect().toSeq
      assert(viaNative == viaWindow, s"nprobe=$nprobe")
    }
    // plans print the centroid count, not the centroids
    val plan = vecs.select(VectorFns.ivfProbeCells(col("v"), cents, 2)).queryExecution
      .analyzed.toString
    assert(plan.contains("ivf_probe_cells(v") && plan.contains("4 cells, nprobe 2"), plan)
  }

  test("FloatVecDot matches zip_with/aggregate on float arrays") {
    val vecs = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (Array(0.1f, -0.2f), Array(0.3f, 0.4f))).toDF("a", "b")
    val viaLambda = vecs.select(
      aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
        lit(0.0), (acc, v) => acc + v).as("d")).as[Double].collect()
    val viaNative = vecs.select(graft.functions.VectorFns.dot(col("a"), col("b")).as("d"))
      .as[Double].collect()
    assert(viaNative.toSeq == viaLambda.toSeq) // bit-identical, same fold order
  }
}
