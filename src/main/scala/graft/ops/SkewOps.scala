package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigation operators for joins whose key distribution is heavy-
  * tailed (the situation AQE's skew-join handles for sort-merge joins at
  * runtime; this is the explicit-plan variant for when the skew is known
  * and the join must stay a shuffled hash join — e.g. a fact-fact join
  * on a power-law entity id at 100 TB).
  *
  * Mechanics: the skewed (large) side gets a uniform random salt in
  * [0, buckets); the replicated (smaller) side is exploded `buckets`
  * times, once per salt value. Joining on (key, salt) splits each hot
  * key's rows across `buckets` tasks instead of one straggler task.
  * Cost: the replicated side is materialized `buckets` times — choose
  * `buckets` ≈ (hottest key rows) / (target rows per task), and only
  * salt when a key's row count actually exceeds a task's capacity.
  */
object SkewOps {

  /** Inner equi-join `large ⋈ small` on `key`, salted into `buckets`
    * sub-keys. Row-for-row equivalent to `large.join(small, keys, "inner")`
    * for any `buckets >= 1`; the salt never leaves the operator.
    *
    * The salt on the large side is `rand`-derived (uniform, per-row,
    * seed-fixed for reproducibility); the small side is exploded with
    * every salt value so each (key, salt) pair finds its match.
    */
  def saltedInnerJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
      buckets: Int, seed: Long = 42L): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    // scratch name that cannot shadow a user column on either side
    val saltCol = graft.util.Names.fresh("_salt", large.columns ++ small.columns)
    val saltedLarge = large.withColumn(saltCol, (rand(seed) * buckets).cast("int"))
    val repSmall = small.withColumn(saltCol,
      explode(sequence(lit(0), lit(buckets - 1))))
    saltedLarge.join(repSmall, keys :+ saltCol, "inner").drop(saltCol)
  }

  /** Per-key row counts of the top-n heaviest keys — the diagnostic used
    * to decide whether (and how wide) to salt.
    */
  def keyHistogram(df: DataFrame, keys: Seq[String], topN: Int = 20): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_rows"))
      .orderBy(col("n_rows").desc)
      .limit(topN)
}
