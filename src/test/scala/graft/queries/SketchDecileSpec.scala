package graft.queries

import org.apache.spark.sql.catalyst.plans.logical.{Window => WindowNode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSuite

/** qt18's scale contract: decile assignment with NO window (the whole
  * point — qt15's exact ntile is a single-partition global sort), while
  * agreeing with exact ntile everywhere but a bounded boundary fringe.
  */
class SketchDecileSpec extends SparkSuite {

  test("qt18 plan contains no Window operator; neither does qt15 (r18)") {
    val dir = "/root/testdata/sf0.001"
    val sketchPlan = LlmText.qt18.fn(spark, dir).queryExecution.optimizedPlan
    assert(sketchPlan.collect { case w: WindowNode => w }.isEmpty,
      s"sketch deciles must not plan a Window:\n$sketchPlan")
    // r18: qt15's exact ntile no longer uses the single-partition global
    // window either — it range-partitions by the NTILE ordering and
    // assigns deciles arithmetically from per-partition rank offsets
    // (same rows, oracle-pinned). NO plan in either decile query may
    // move the corpus to one executor.
    val ntilePlan = LlmText.qt15.fn(spark, dir).queryExecution.optimizedPlan
    assert(ntilePlan.collect { case w: WindowNode => w }.isEmpty,
      s"qt15's exact deciles must not plan a Window either:\n$ntilePlan")
  }

  test("sketch deciles agree with exact ntile except a bounded boundary fringe") {
    // 4000 docs with distinct strictly-monotone scores: exact ntile is
    // unambiguous, so any disagreement is sketch boundary error, which
    // the accuracy parameter bounds to a handful of ranks per boundary
    val q = spark.range(0, 4000).select(
      col("id").as("doc_id"),
      (col("id") % 7 + 1).cast("long").as("n_tokens"),
      (col("id").cast("double") * 0.001).as("score"))
    val assigned = LlmText.sketchDecileAssign(q)
      .select(col("doc_id"), col("decile"))
    val w = Window.orderBy(col("score").desc, col("doc_id"))
    val exact = q.withColumn("exact_decile", ntile(10).over(w).cast("long"))
      .select("doc_id", "exact_decile")
    val joined = assigned.join(exact, "doc_id")
      .select(col("decile"), col("exact_decile")).collect()
    assert(joined.length == 4000)
    val off = joined.filter(r => r.getLong(0) != r.getLong(1))
    assert(off.forall(r => math.abs(r.getLong(0) - r.getLong(1)) == 1),
      "sketch decile may only miss into an ADJACENT decile")
    assert(off.length <= 200, // 5% — far above the rank-error bound, below tie-free reality
      s"${off.length}/4000 docs off the exact decile")
  }

  test("qt18 on testdata: tolerance holds and conservation totals are exact") {
    val dir = "/root/testdata/sf0.001"
    val rows = LlmText.qt18.fn(spark, dir).collect()
    assert(rows.length == 10)
    assert(rows.forall(_.getBoolean(1)), "every decile count within tolerance")
    val nDocs = graft.util.Tables.load(spark, dir, "documents").count()
    assert(rows.forall(_.getLong(2) == nDocs), "every doc assigned exactly once")
  }

  test("qt21 per-language deciles: boundaries are per-group, cells near-equal, no Window") {
    // two languages with DISJOINT score ranges: a global cut would put
    // every 'lo' doc in deciles 6-10; per-language cuts must spread each
    // language across its OWN ten deciles near-equally
    val q = spark.range(0, 2000).select(
      col("id").as("doc_id"),
      when(col("id") % 2 === 0, "hi").otherwise("lo").as("lang"),
      lit(3L).as("n_tokens"),
      (col("id").cast("double") * 0.001 +
        when(col("id") % 2 === 0, 100.0).otherwise(0.0)).as("score"))
    val rows = LlmText.langSketchDeciles(spark, q).collect()
    assert(rows.length == 20, "2 languages x 10 zero-filled deciles")
    assert(rows.forall(_.getBoolean(2)), "every cell inside the count tolerance")
    assert(rows.forall(_.getLong(3) == 1000L), "per-language conservation: 1000 docs each")
    assert(rows.forall(_.getLong(4) == 3000L), "per-language token mass conserved")
    val plan = LlmText.qt21.fn(spark, "/root/testdata/sf0.001")
      .queryExecution.optimizedPlan
    assert(plan.collect { case w: WindowNode => w }.isEmpty,
      s"qt21 must stay window-free:\n$plan")
  }
}
