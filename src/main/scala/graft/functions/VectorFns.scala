package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector primitives over `array<float>` embedding columns, built
  * from Spark's higher-order functions (zip_with / aggregate) so they run
  * inside codegen with no UDF boundary.
  *
  * Numeric discipline: every element is cast to double BEFORE the
  * multiply, and the fold is a sequential left fold starting at 0.0 —
  * exactly the evaluation order of the DuckDB-oracle formulation, so
  * cosine scores are bit-identical across engines (and deterministic
  * under any Spark partitioning, since the fold is per-row).
  */
object VectorFns {

  /** Dot product of two float-array columns, computed in double.
    * Backed by the native codegen'd [[FloatVecDot]] expression (one
    * JIT'd loop per row vs interpreted zip_with/aggregate lambdas).
    */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.shims.column(
      FloatVecDot(
        org.apache.spark.sql.graft.shims.expression(a),
        org.apache.spark.sql.graft.shims.expression(b)))

  /** Integer dot product of two `array<long>` columns (exact, order-
    * independent). Backed by the native codegen'd [[LongVecDot]] — the
    * scan kernel of the scalar-quantized ANN path (qs04).
    */
  def ldot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.shims.column(
      LongVecDot(
        org.apache.spark.sql.graft.shims.expression(a),
        org.apache.spark.sql.graft.shims.expression(b)))

  /** Squared L2 norm. */
  def normSq(a: Column): Column = dot(a, a)

  /** Cosine similarity: dot / (sqrt(|a|^2) * sqrt(|b|^2)). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(normSq(a)) * sqrt(normSq(b)))

  /** Sign-bit LSH bucket for a vector under `planes` fixed hyperplanes:
    * bit p is 1 iff dot(v, plane_p) > 0. Hyperplane components come from
    * a deterministic integer formula so the bucketing is reproducible
    * across runs and engines (no RNG state to ship to executors).
    */
  def lshBucket(v: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (plane, p) =>
      // single Literal node per plane (not an array() of 64 lit() nodes)
      val planeCol = typedlit(plane.toSeq)
      when(dot(v, planeCol) > 0, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** The deterministic hyperplane family used by lshBucket. */
  def hyperplanes(nPlanes: Int, dim: Int): Seq[Array[Double]] =
    (0 until nPlanes).map { p =>
      Array.tabulate(dim)(d => (((p * 131 + d * 37 + 11) % 19) - 9).toDouble)
    }
}
