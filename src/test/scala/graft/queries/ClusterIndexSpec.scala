package graft.queries

import org.apache.spark.sql.execution.FileSourceScanExec

import graft.SparkSuite

/** Pins the qd24 artifact discipline: the persisted cluster index
  * hash-matches the direct CC clustering, and the CONSUMING query reads
  * ONLY the artifact — its scans touch no documents, no shingles, no
  * posting lists, so no connected-components rounds can be hiding in
  * the consumer's plan. At 100 TB that is the difference between "each
  * consumer re-runs a graph algorithm over the corpus" and "each
  * consumer reads a labels table".
  */
class ClusterIndexSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("consumer reads only the artifact and matches the direct clustering") {
    val art = tempDir("graft-clidx")
    LlmDedup.writeClusterIndex(spark, sfDir, art)

    val consumer = LlmDedup.readClusterIndex(spark, art)
    val got = consumer.collect().toSeq

    // every scan in the consumer's executed plan reads the artifact dir
    // (descend into AQE query stages — plain collect stops at the
    // childless QueryStageExec wrappers)
    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.flatMap {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: allNodes(q.plan)
        case n => Seq(n)
      }
    val artName = new java.io.File(art).getName
    val top = consumer.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = allNodes(top).collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "consumer must scan the artifact")
    val scanned = scans.flatMap(_.relation.location.inputFiles)
    assert(scanned.nonEmpty && scanned.forall(_.contains(artName)),
      s"consumer scans must touch only the artifact; saw:\n${scanned.mkString("\n")}")

    // artifact-derived output is byte-identical to the direct clustering
    val direct = LlmDedup.qd09.fn(spark, sfDir).collect().toSeq
    assert(got == direct, "artifact consumer must hash-match qd09")
  }
}
