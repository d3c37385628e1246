package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}

import graft.ecom.VersionedTable

/** Incremental maintenance of a KEYED ROW-WISE materialized view over a
  * change-data-feed-enabled versioned table: `dst` is kept equal to
  * `transform(src)` while paying O(rows changed) per refresh — the
  * second IVM primitive next to [[IncrementalAgg]] (which maintains
  * group aggregates; this maintains per-row derivations).
  *
  * `transform` must be KEY-LOCAL: each output row derives only from its
  * own input row (projections, per-row feature extraction, filters —
  * e.g. a dedup SIGNATURE INDEX: doc → MinHash signature + shingles).
  * It may DROP rows (a filter); when a changed row transforms away, its
  * view row is deleted — and a source DELETE deletes it too, which is
  * what makes this the right-to-be-forgotten path for derived indexes:
  * removing a document from the corpus removes its signatures from the
  * dedup index in the same exactly-once refresh.
  *
  * Mechanics: the window's net effect per key is its LATEST change
  * (preimages dropped; within one version only an overwrite's
  * delete+insert pair shares a key, and the insert is the net). Keys
  * whose latest change is a delete — or whose transformed row vanished
  * — become tombstones; the rest re-transform. One clause-matrix MERGE
  * applies both (matched tombstone → DELETE, matched → UPDATE,
  * unmatched non-tombstone → INSERT), exactly-once via the dst txn
  * marker `ivmmap:<src dir>` (a racing twin surfaces as
  * [[VersionedTable.ReplayLandedException]] and reports not-landed).
  *
  * Null-keyed source rows do NOT participate in the view (filtered on
  * bootstrap and from every window): a null key matches nothing in
  * MERGE, so maintaining such rows would re-insert them per window and
  * diverge — the same contract [[graft.streaming.Sinks.latestWins]]
  * documents for the upsert sink.
  */
object IncrementalMap {

  /** The txn-marker namespace recording the last applied source version. */
  def appFor(src: VersionedTable): String = s"ivmmap:${src.tableDir}"

  /** Bring `dst` to `transform(src at head)`. Returns the dst version
    * landed, or None when already current. First call bootstraps from
    * the full snapshot; later calls read only the feed window.
    */
  def refresh(dst: VersionedTable, src: VersionedTable, keys: Seq[String],
      transform: DataFrame => DataFrame): Option[Long] = {
    require(keys.nonEmpty, "incremental map needs at least one key")
    val app = appFor(src)
    val head = src.currentVersion().getOrElse(return None)
    val last = dst.currentBatchId(app)
    if (last.exists(_ >= head)) return None
    // null keys never match in the MERGE clause matrix, so a null-keyed
    // source row would re-INSERT its view row on every window it
    // changes in — the view diverges. Contract (as Sinks.latestWins):
    // null-keyed source rows do not participate in the view.
    val dropNullKeys = (df: DataFrame) =>
      df.filter(keys.map(col(_).isNotNull).reduce(_ && _))
    // a dst with versions but NO marker was not bootstrapped by this
    // maintenance loop — upserting history into foreign rows would be
    // silent corruption; refuse instead
    require(last.isDefined || dst.currentVersion().isEmpty,
      s"${dst.tableDir} has committed versions but no '$app' marker — " +
        "refresh only maintains views it bootstrapped; point it at a " +
        "fresh view table")
    if (dst.currentVersion().isEmpty && last.isEmpty)
      return dst.commitAppendBatch(
        transform(dropNullKeys(src.readAt(head))), head, app)

    val ct = VersionedTable.CdcTypeCol
    val cv = VersionedTable.CdcVersionCol
    val changes = dropNullKeys(src.changeFeed(last.getOrElse(0L) + 1L, head))
    // net effect per key: the latest non-preimage change wins
    // ('update_postimage' > 'insert' > 'delete' under type-desc breaks
    // an overwrite's same-version delete+insert pair toward the insert)
    val latest = changes.filter(col(ct) =!= "update_preimage")
      .withColumn("_graft_rn", row_number().over(
        Window.partitionBy(keys.map(col): _*)
          .orderBy(col(cv).desc, col(ct).desc)))
      .filter(col("_graft_rn") === 1)
    val live = latest.filter(col(ct) =!= "delete")
      .drop(ct, cv, VersionedTable.CdcTimestampCol, "_graft_rn")
    val transformed = transform(live)
    keys.foreach(k => require(transformed.columns.contains(k),
      s"transform must preserve key column $k"))
    // tombstones: deleted keys, plus changed keys whose transformed row
    // vanished (the transform filtered them out)
    val tombstones = latest.select(keys.map(col): _*)
      .join(transformed.select(keys.map(col): _*), keys, "left_anti")
    val delC = "_graft_del"
    val source = transformed.withColumn(delC, lit(false))
      .unionByName(tombstones.withColumn(delC, lit(true)),
        allowMissingColumns = true)

    import VersionedTable.{MergeDelete, MergeInsert, MergeUpdate, MergeWhen}
    val s = (c: String) => col("s").getField(c)
    val viewCols = transformed.columns.toSeq
    val nonKey = viewCols.filterNot(keys.contains)
    try Some(dst.mergeClauses(source, keys,
      matched = Seq(
        MergeWhen(Some(s(delC)), MergeDelete),
        MergeWhen(None, MergeUpdate(nonKey.map(c => c -> s(c)).toMap))),
      notMatched = Seq(MergeWhen(Some(!s(delC)),
        MergeInsert(viewCols.map(c => c -> s(c)).toMap))),
      txn = Some((app, head)), sourceKeyUnique = true)) catch {
      // a racing refresh applied this window first — already current
      case _: VersionedTable.ReplayLandedException => None
    }
  }
}
