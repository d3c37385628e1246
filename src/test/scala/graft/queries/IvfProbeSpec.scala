package graft.queries

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSuite
import graft.functions.VectorFns.{cosine, dot}

/** The IVF probe's contract: its map-side probe-cell selection and its
  * sort-free result order give exactly the rows of the row_number
  * window form (probe cells by similarity descending, the lower cell
  * first on ties; neighbors by cosine descending, the lower neighbor_id
  * first on ties), and a probe runs a fixed, small number of Spark jobs
  * with no range-partitioning exchange.
  */
class IvfProbeSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** The window form of the probe: cells ranked by a row_number window
    * over (query_id, cell), results ordered by a global sort.
    */
  private def windowProbe(lists: DataFrame, queries: DataFrame,
      centroids: Seq[Array[Double]], nprobe: Int, topk: Int): Seq[Row] = {
    def unit(c: Array[Double]): Array[Double] = {
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0.0) c else c.map(_ / n)
    }
    val probes = queries.select(col("query_id"), col("qe"),
        posexplode(array(centroids.map(c => dot(col("qe"), typedlit(unit(c).toSeq))): _*))
          .as(Seq("cell", "cell_sim")))
      .withColumn("pr", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cell_sim").desc, col("cell"))))
      .filter(col("pr") <= nprobe)
      .select("query_id", "qe", "cell")
    lists.join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        cosine(col("qe"), col("embedding")).as("cos_sim"))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos_sim").desc, col("neighbor_id")))
        .cast(LongType))
      .filter(col("rank") <= topk)
      .select("query_id", "neighbor_id", "rank", "cos_sim")
      .orderBy("query_id", "rank")
      .collect().toSeq
  }

  private def centroidsOf(art: String): Seq[Array[Double]] =
    spark.read.parquet(s"$art/centroids").collect().sortBy(_.getInt(0))
      .map(_.getSeq[Double](1).toArray).toSeq

  test("probe cells and neighbors break ties exactly as the window form does") {
    // cells 0/2 and 1/4 point the same way: their unit centroids are
    // equal, so every query ties on them
    val art = tempDir("graft-ivf-ties")
    spark.createDataFrame(Seq(
        0 -> Seq(1.0, 0.0, 0.0, 0.0), 1 -> Seq(0.0, 1.0, 0.0, 0.0),
        2 -> Seq(3.0, 0.0, 0.0, 0.0), 3 -> Seq(0.0, 0.0, 1.0, 0.0),
        4 -> Seq(0.0, 2.0, 0.0, 0.0)))
      .toDF("cell", "centroid").write.parquet(s"$art/centroids")
    // 10 and 11 are the same vector (equal cosine to any query); 1 is
    // that vector too, filed under the tied cell 2
    val lists = Seq(
      (11L, Seq(1f, 0.5f, 0f, 0f), 0), (10L, Seq(1f, 0.5f, 0f, 0f), 0),
      (12L, Seq(1f, 0f, 0f, 0f), 0), (1L, Seq(1f, 0.5f, 0f, 0f), 2),
      (20L, Seq(0f, 1f, 0f, 0f), 1), (21L, Seq(0.5f, 1f, 0f, 0f), 1),
      (2L, Seq(0.5f, 1f, 0f, 0f), 4), (30L, Seq(0f, 0f, 1f, 0f), 3))
    spark.createDataFrame(lists).toDF("vec_id", "embedding", "cell")
      .write.partitionBy("cell").parquet(s"$art/lists")
    val queries = spark.createDataFrame(Seq[(Long, Seq[Float])](
        0L -> Seq(1f, 0.5f, 0f, 0f), 1L -> Seq(0.5f, 1f, 0f, 0f),
        2L -> Seq(0f, 0f, 1f, 0f)))
      .toDF("query_id", "qe")
    val cents = centroidsOf(art)
    val listsDf = spark.read.parquet(s"$art/lists")

    def ids(rows: Seq[Row], q: Long): Seq[Long] =
      rows.filter(_.getLong(0) == q).map(_.getLong(1))
    val one = LlmSimilarity.ivfSearch(spark, art, queries, nprobe = 1, topk = 3)
      .collect().toSeq
    // the lower of two tied cells is probed: cell 0, not cell 2
    assert(ids(one, 0) == Seq(10L, 11L, 12L), one)
    // cell 1, not cell 4
    assert(ids(one, 1) == Seq(21L, 20L), one)
    assert(ids(one, 2) == Seq(30L), one)
    // duplicate vectors tie on cosine: the lower neighbor_id ranks first
    assert(one.filter(_.getLong(0) == 0).take(2).map(_.getDouble(3)).distinct.size == 1)
    // two probes: the tied cell 2 joins, and its lower id leads the tie
    val two = LlmSimilarity.ivfSearch(spark, art, queries, nprobe = 2, topk = 3)
      .collect().toSeq
    assert(ids(two, 0) == Seq(1L, 10L, 11L), two)
    assert(ids(two, 1) == Seq(2L, 21L, 20L), two)

    for (np <- Seq(1, 2, 3, 5); k <- Seq(1, 3, 8)) {
      val got = LlmSimilarity.ivfSearch(spark, art, queries, np, k).collect().toSeq
      assert(got == windowProbe(listsDf, queries, cents, np, k), s"nprobe=$np topk=$k")
    }
  }

  test("an index-built probe equals the window form on the corpus") {
    val art = tempDir("graft-ivf-window")
    LlmSimilarity.writeIvfIndex(spark, sfDir, art)
    val lists = spark.read.parquet(s"$art/lists")
    val queries = lists.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
    val cents = centroidsOf(art)
    for (np <- Seq(1, 4, 16)) {
      val got = LlmSimilarity.ivfSearch(spark, art, queries, np, 5).collect().toSeq
      assert(got.nonEmpty && got == windowProbe(lists, queries, cents, np, 5), s"nprobe=$np")
    }
  }

  test("a probe builds with one job and collects in three, with no range exchange") {
    val art = tempDir("graft-ivf-jobs")
    LlmSimilarity.writeIvfIndex(spark, sfDir, art)
    val qDir = tempDir("graft-ivf-queries")
    spark.read.parquet(s"$sfDir/embeddings.parquet").filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .write.mode("overwrite").parquet(qDir)
    val queries = spark.read.parquet(qDir)
    // warm: the timed shape is a repeated search
    LlmSimilarity.ivfSearch(spark, art, queries).collect()

    // building the frame: the 16-row centroid collect, nothing else
    val (df, buildJobs) = jobsDuring(LlmSimilarity.ivfSearch(spark, art, queries))
    assert(buildJobs == 1, s"building the probe frame ran $buildJobs jobs")
    // the broadcast of the probes, the scan-and-score stage, the result
    val (rows, runJobs) = jobsDuring(df.collect())
    assert(rows.length == 40)
    assert(runJobs <= 3, s"collecting a probe ran $runJobs jobs")

    def nodes(p: SparkPlan): Seq[SparkPlan] = p.flatMap {
      case q: QueryStageExec => q +: nodes(q.plan)
      case n => Seq(n)
    }
    val plan = nodes(df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    })
    assert(!plan.exists {
      case e: ShuffleExchangeExec => e.outputPartitioning.isInstanceOf[RangePartitioning]
      case _ => false
    }, "a probe must not range-partition its result")
    assert(plan.exists {
      case w: WindowGroupLimitExec => w.mode == Partial
      case _ => false
    }, "the per-partition top-k must be planned before the shuffle")
  }
}
