package graft.functions

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
