package graft

import org.apache.spark.sql.DataFrame

/** The program's LSH candidate pairs (package-private to `graft`), so a
  * traced run counts candidates with the same banding `LlmDedup` verifies
  * and cannot drift from it.
  */
object LakebenchLsh {
  def candidatePairs(sig: DataFrame): DataFrame = graft.queries.LlmDedup.lshCandidatePairs(sig)
}
