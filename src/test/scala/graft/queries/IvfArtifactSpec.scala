package graft.queries

import org.apache.spark.sql.execution.FileSourceScanExec

import graft.SparkSuite

/** Pins the qs10 artifact discipline (ClusterIndexSpec's contract for
  * the vector index): probing the persisted IVF index reads ONLY the
  * artifact — no scan of the raw embeddings table hides in the probe
  * plan — and the artifact-served top-k is byte-identical to qs03's
  * in-memory build-and-probe. At 100 TB this is "build the index
  * nightly, serve probes all day" vs "rebuild k-means per query". Also
  * pins the artifact's physical layout: the inverted lists are
  * partitioned by cell, so a probe of nprobe cells is a partition-
  * pruned scan, not a full-corpus pass.
  */
class IvfArtifactSpec extends SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  test("probe path reads only the artifact and matches qs03 exactly") {
    val art = tempDir("graft-ivfidx")
    LlmSimilarity.writeIvfIndex(spark, sfDir, art)

    val probe = LlmSimilarity.readIvfTopK(spark, art)
    val got = probe.collect().toSeq

    def allNodes(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.SparkPlan] =
      p.flatMap {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          q +: allNodes(q.plan)
        case n => Seq(n)
      }
    val artName = new java.io.File(art).getName
    val top = probe.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scans = allNodes(top).collect { case f: FileSourceScanExec => f }
    assert(scans.nonEmpty, "probe must scan the artifact")
    val scanned = scans.flatMap(_.relation.location.inputFiles)
    assert(scanned.nonEmpty && scanned.forall(_.contains(artName)),
      s"probe scans must touch only the artifact; saw:\n${scanned.take(5).mkString("\n")}")

    val direct = LlmSimilarity.qs03.fn(spark, sfDir).collect().toSeq
    assert(got == direct, "artifact probe must hash-match qs03")
  }

  test("inverted lists are cell-partitioned; centroids are k bounded rows") {
    val art = tempDir("graft-ivfidx2")
    LlmSimilarity.writeIvfIndex(spark, sfDir, art)
    val cellDirs = new java.io.File(s"$art/lists").listFiles()
      .filter(_.isDirectory).map(_.getName).filter(_.startsWith("cell=")).toSeq
    assert(cellDirs.nonEmpty && cellDirs.size <= 16,
      s"lists must be partitioned into at most k=16 cell dirs: $cellDirs")
    val cents = spark.read.parquet(s"$art/centroids")
    assert(cents.count() == 16, "one centroid row per cell")
    assert(cents.schema.fieldNames.toSeq == Seq("cell", "centroid"))
  }
}
