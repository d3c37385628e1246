package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.{broadcast, coalesce, col, greatest, least, lit, max, min, sum, when}

import graft.ecom.VersionedTable

/** Incremental view maintenance for grouped aggregates over a
  * change-data-feed-enabled versioned table — the 100 TB gold-refresh
  * pattern: a refresh costs O(rows changed since the last refresh),
  * never O(table). (The reference recomputes its gold tables from the
  * full silver scan each run, `03_gold/03_gold_aggregate.py` — correct
  * at notebook scale, quadratic-in-time at warehouse scale.)
  *
  * Maintained algebra:
  *
  *  - '''COUNT / SUM''' (averages derive as sum/count at query time):
  *    classically self-maintainable — the delta of a feed window is one
  *    map-side aggregation: +1/+x for `insert`/`update_postimage` rows,
  *    −1/−x for `delete`/`update_preimage` rows, grouped by the
  *    aggregate keys; groups whose delta nets to zero drop out.
  *  - '''MIN / MAX''' (`mins`/`maxes`): maintainable under INSERTS by a
  *    pure extreme-merge (`least`/`greatest` of the stored value and
  *    the window's inserted extreme — no table access). Under removals
  *    (delete / update preimage) an extreme is NOT self-maintainable —
  *    the removed row may have BEEN the extreme — so the standard
  *    bounded-recompute rule applies, sharpened by a THREAT analysis
  *    against the stored extremes (one aggregate-sized semi-join, never
  *    a source scan): a group is DIRTY only when a removed value
  *    REACHES its stored extreme (`remMin <= curMin` / `remMax >=
  *    curMax`) and the group does not net to zero rows (dying groups
  *    just DELETE). Strictly-inside removals — the common update storm,
  *    whose preimages sit between the extremes — merge with no table
  *    access at all. Only genuinely dirty groups re-derive extremes
  *    from a key-filtered scan of the source head (a broadcast
  *    semi-join against the dirty key set, which data-skipping prunes
  *    when the table clusters by key). Offering min/max any other way
  *    would be a silent full recompute in disguise.
  *
  * `prepare` is the delta-propagation hook for the standard
  * "changed fact ⋈ static dimension" rule: it transforms BOTH the
  * change frame and the dirty-group recompute scan with the same
  * row-local derivation (projections, filters, joins against
  * dimensions that did not change in the window). It must preserve
  * `_change_type` untouched on change frames and must be row-local and
  * deterministic — each output row derived from one input row plus
  * static lookups. If a joined dimension DOES change, the view is
  * stale with respect to it until a full re-bootstrap (the same
  * contract Delta-style MV engines document for dimension updates).
  *
  * Mechanics, all on existing primitives: the delta MERGEs into the
  * gold table via the clause matrix — a matched group whose count hits
  * zero DELETEs (groups vanish exactly when their last row does),
  * otherwise counts/sums add and extremes merge-or-recompute;
  * unmatched non-empty groups INSERT. Exactly-once via the gold
  * table's txn marker (`ivm:<silver dir>` → last applied silver
  * version): a replayed refresh is a no-op, a crashed one re-applies
  * the same window idempotently, and two racing refreshes resolve
  * through the merge's CAS conflict.
  *
  * SUM columns should be exact types (integral or DECIMAL): incremental
  * accumulation reorders float additions, so a DOUBLE measure would
  * drift from a single-pass recompute by float association. Nulls in
  * measures count as zero contribution (SQL SUM skips them; a group
  * whose every measure is null holds sum 0 here vs SQL's NULL — the one
  * documented deviation). MIN/MAX columns carry no such caveat: the
  * maintained value is always an actual row value (or null when every
  * live value is null), never an arithmetic accumulation.
  */
object IncrementalAgg {

  /** The txn-marker namespace recording the last applied source version. */
  def appFor(silver: VersionedTable): String = s"ivm:${silver.tableDir}"

  /** Synthetic per-row netting key stamped by [[reattribute]] when the
    * caller declares no row key: both change sides read the SAME
    * persisted fact frame, so `monotonically_increasing_id` assigns
    * each fact row one stable id across the pre/post pipelines and
    * value-unchanged re-attributions net out exactly as keyed ones do.
    */
  private val SynthNetCol = "_graft_net_row"

  /** Per-group (key → count/sum deltas) of a change frame: one
    * map-side-combined aggregation, zero-net groups dropped. `changes`
    * carries the source's columns plus `_change_type`.
    */
  def delta(changes: DataFrame, keys: Seq[String], countCol: String,
      sums: Map[String, Column]): DataFrame = {
    require(keys.nonEmpty, "incremental aggregate needs at least one key")
    require((keys ++ Seq(countCol) ++ sums.keys).distinct.size ==
      keys.size + 1 + sums.size,
      s"keys/$countCol/sum columns must not collide")
    val sgn = when(col(VersionedTable.CdcTypeCol)
      .isin("insert", "update_postimage"), 1L).otherwise(-1L)
    val aggs = sum(col("_graft_sgn")).as(countCol) +:
      sums.toSeq.sortBy(_._1).map { case (o, e) =>
        sum(e * col("_graft_sgn")).as(o)
      }
    val d = changes.withColumn("_graft_sgn", sgn)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    // a group whose count AND every sum net to zero is unchanged —
    // null sums (all-null measures) are zero contribution
    val nonZero = (col(countCol) =!= 0L) +:
      sums.keys.toSeq.map(o => coalesce(col(o), lit(0)) =!= 0)
    d.filter(nonZero.reduce(_ || _))
  }

  // working-column names for the min/max merge (joined back as source
  // struct fields, so they only need to dodge the OUTPUT columns)
  private def insC(c: String) = s"_graft_ins_$c"
  private def remC(c: String) = s"_graft_rem_$c"
  private def curC(c: String) = s"_graft_cur_$c"
  private def authC(c: String) = s"_graft_auth_$c"
  private val DirtyC = "_graft_dirty"
  private val MatchedC = "_graft_matched"

  /** [[delta]] extended with min/max bookkeeping: per group, the
    * extremes over the window's INSERTED rows and over its REMOVED rows
    * (delete / update preimage). The removed-side extremes drive the
    * scan-avoidance analysis in [[refresh]]: most windows never touch a
    * group's stored extreme and merge without any table access. Keeps
    * every group that changed at all — with extremes in play, even a
    * count/sum-neutral update can move them.
    *
    * With `netKeys` (the SOURCE's row key), update pre/post PAIRS whose
    * extreme-column value did not change are NETTED OUT of the extreme
    * bookkeeping (one change-frame-sized window pass pairing the images
    * by row key + commit version): an update storm that edits measures
    * but not timestamps — the archetypal gold refresh — contributes no
    * removed extremes at all, so the threat analysis sees nothing and
    * no recompute scan ever runs. Counts/sums need no netting (equal
    * contributions cancel arithmetically).
    */
  private def deltaMinMax(changes: DataFrame, keys: Seq[String],
      countCol: String, sums: Map[String, Column],
      mins: Map[String, Column], maxes: Map[String, Column],
      netKeys: Seq[String]): DataFrame = {
    val out = keys ++ Seq(countCol) ++ sums.keys ++ mins.keys ++ maxes.keys
    require(out.distinct.size == out.size,
      s"keys/$countCol/sum/min/max columns must not collide")
    val ct = col(VersionedTable.CdcTypeCol)
    val sgn = when(ct.isin("insert", "update_postimage"), 1L).otherwise(-1L)
    val inserted = col("_graft_sgn") > 0
    val extremes = (mins.toSeq ++ maxes.toSeq).sortBy(_._1)
    // paired-update netting: _graft_keep_<c> = false exactly when this
    // row is half of a pre/post pair whose value of <c> is unchanged
    val (prepped, keepOf): (DataFrame, String => Column) =
      if (netKeys.isEmpty || !changes.columns.contains(VersionedTable.CdcVersionCol))
        (changes, _ => lit(true))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy((netKeys :+ VersionedTable.CdcVersionCol).map(col): _*)
        val isPre = ct === "update_preimage"
        val isPost = ct === "update_postimage"
        // only genuine pairs net: both images present under a NON-NULL
        // row key (a null key could lump unrelated rows into one
        // window) and the GROUP key unchanged (a migrating update
        // really does remove from one group and insert into another)
        val pairable = ct.isin("update_preimage", "update_postimage") &&
          netKeys.map(col(_).isNotNull).reduce(_ && _) &&
          keys.map(k => max(when(isPre, col(k))).over(w) <=>
            max(when(isPost, col(k))).over(w)).reduce(_ && _)
        val f = extremes.foldLeft(changes) { case (df, (o, e)) =>
          df.withColumn(s"_graft_keep_$o",
            !(pairable &&
              (max(when(isPre, e)).over(w) <=> max(when(isPost, e)).over(w))))
        }
        (f, (c: String) => col(s"_graft_keep_$c"))
      }
    val aggs = (sum(col("_graft_sgn")).as(countCol) +:
      sums.toSeq.sortBy(_._1).map { case (o, e) =>
        sum(e * col("_graft_sgn")).as(o) }) ++
      mins.toSeq.sortBy(_._1).flatMap { case (o, e) => Seq(
        min(when(inserted && keepOf(o), e)).as(insC(o)),
        min(when(!inserted && keepOf(o), e)).as(remC(o))) } ++
      maxes.toSeq.sortBy(_._1).flatMap { case (o, e) => Seq(
        max(when(inserted && keepOf(o), e)).as(insC(o)),
        max(when(!inserted && keepOf(o), e)).as(remC(o))) }
    val d = prepped.withColumn("_graft_sgn", sgn)
      .groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    // a group whose count AND every sum net to zero AND whose extreme
    // bookkeeping is all-null (fully netted pre/post pairs — the
    // audit-only update storm, and re-attribution of sessions whose
    // attrs value did not actually change) is a provable no-op: the
    // merge would add 0 and least/greatest against null — drop it
    // before it costs a file rewrite
    val noop = ((col(countCol) === 0L) +:
      (sums.keys.toSeq.map(o => coalesce(col(o), lit(0)) === 0) ++
        (mins.keys ++ maxes.keys).toSeq.map(c =>
          col(insC(c)).isNull && col(remC(c)).isNull))).reduce(_ && _)
    d.filter(!noop)
  }

  /** Apply every source version since the last refresh to `gold`.
    * Returns the gold version landed, or None when already current (a
    * replay, or no new source commits). The FIRST refresh bootstraps:
    * the full source snapshot reads as one all-inserts change frame and
    * lands with the marker, so subsequent refreshes are incremental —
    * after that, only the feed window [last+1, head] is ever read
    * (plus, when the window removed rows from min/max groups, one
    * key-filtered recompute scan of those groups).
    */
  def refresh(gold: VersionedTable, silver: VersionedTable, keys: Seq[String],
      countCol: String, sums: Map[String, Column],
      mins: Map[String, Column] = Map.empty,
      maxes: Map[String, Column] = Map.empty,
      prepare: DataFrame => DataFrame = identity,
      netKeys: Seq[String] = Nil,
      boundedAuth: Option[(Long, DataFrame) => DataFrame] = None): Option[Long] = {
    val app = appFor(silver)
    val head = silver.currentVersion().getOrElse(return None)
    val last = gold.currentBatchId(app)
    if (last.exists(_ >= head)) return None
    // a dst with ROWS but NO marker was not bootstrapped by this
    // maintenance loop — merging a bootstrap into foreign rows would
    // silently double counts; refuse. A pre-created EMPTY table (the
    // SQL `CREATE TABLE` + `CALL refresh_mv` flow) is fine: the
    // bootstrap merge lands into it and attaches the marker.
    // (the emptiness probe is a take(1) — it only ever runs on the
    // marker-less first refresh, never in steady state)
    require(last.isDefined || gold.currentVersion().isEmpty || gold.read().isEmpty,
      s"${gold.tableDir} has committed rows but no '$app' marker — " +
        "refresh only maintains aggregates it bootstrapped; point it at " +
        "a fresh (or empty) gold table")
    val changes = prepare(last match {
      case Some(v) => silver.changeFeed(v + 1L, head)
      case None => silver.readAt(head)
        .withColumn(VersionedTable.CdcTypeCol, lit("insert"))
    })
    require(changes.columns.contains(VersionedTable.CdcTypeCol),
      s"prepare must preserve the ${VersionedTable.CdcTypeCol} column")
    // MANIFEST-level fast path (guide §2.4 — remove passes the metadata
    // already disproves): an INSERT-ONLY feed window (no file removed,
    // no DV change — the append-only fact cadence) cannot contain
    // update/delete images, so the pair-netting window pass (a full
    // shuffle+sort of the feed window) and the removal probe are
    // provably no-ops. Zero jobs to classify; a vacuumed predecessor or
    // any non-additive op conservatively keeps the generic path. The
    // all-inserts bootstrap frame is insert-only by construction.
    val insertOnly = last.fold(true)(v =>
      scala.util.Try(silver.insertOnlyWindow(v + 1L, head)).getOrElse(false))
    // default recompute source: the prepared head snapshot — for plain
    // stored keys the recompute's dirty-key semi-join pushes to the
    // scan; `boundedAuth` lets a computed-key caller (GoldIvm level 2)
    // restrict BOTH join sides before the key even exists
    applyChanges(gold, changes, keys, countCol, sums, mins, maxes, netKeys,
      txn = (app, head),
      authoritative = boundedAuth.fold(
        (_: DataFrame) => prepare(silver.readAt(head)))(
        f => (dirty: DataFrame) => f(head, dirty)),
      insertOnly = insertOnly)
  }

  /** The maintained view's STORED schema for a given prepared source
    * shape — keys, count, sums, then min/max columns — computed plan-
    * side only (no job runs). Lets a caller commit marker-only empty
    * versions on a view that has no data commit yet.
    */
  def outputSchema(preparedChanges: DataFrame, keys: Seq[String],
      countCol: String, sums: Map[String, Column],
      mins: Map[String, Column],
      maxes: Map[String, Column]): org.apache.spark.sql.types.StructType = {
    val empty = preparedChanges.limit(0)
    if (mins.isEmpty && maxes.isEmpty)
      delta(empty, keys, countCol, sums).schema
    else {
      val d = deltaMinMax(empty, keys, countCol, sums, mins, maxes, Nil)
      val extremeCols = (mins.keys ++ maxes.keys).toSeq.sorted
      val outCols = keys.map(col) ++
        (countCol +: sums.keys.toSeq.sorted).map(col) ++
        extremeCols.map(c => col(insC(c)).as(c))
      d.select(outCols: _*).schema
    }
  }

  /** GENERIC dimension re-attribution — the delta rule for a dimension
    * change under an aggregate whose `prepare` joined it: every
    * materialized fact row that joined a changed dimension row RETRACTS
    * its contribution as prepared under the OLD dimension snapshot and
    * RE-ADDS it under the NEW one, as update pre/post images riding
    * [[applyChanges]]. Re-deliveries whose prepared values did not
    * actually change net out before they cost anything (by the caller's
    * `netKeys`, or a synthetic per-row id when none is declared — both
    * sides read the same persisted `facts`, so the id is stable across
    * the two pipelines); a group-migrating change moves count, sums AND
    * extremes between groups; a retired extreme takes the same bounded
    * dirty-group recompute fact windows get. Cost: O(touched facts) +
    * O(dirty groups) — never O(view), never O(fact table).
    *
    *  - `facts`: the materialized contributions' source rows RESTRICTED
    *    to the touched dimension keys (caller-bounded; read AT the
    *    version the view's fact marker records). Persisted here for the
    *    span of the command.
    *  - `prepareUnder(dimSnapshot)`: the view's full prepare pipeline
    *    with the changed dimension bound to the given snapshot (other
    *    dimensions, filters and derived columns unchanged).
    *  - `txn`: (dimension cursor app, dimension version) — exactly-once;
    *    a replayed repair is a marker no-op. When nothing is
    *    materialized for the touched keys, the cursor still advances
    *    via an empty marker commit (the common wave shape: dimension
    *    rows arrive before their facts).
    */
  def reattribute(gold: VersionedTable, facts: DataFrame,
      prepareUnder: DataFrame => DataFrame => DataFrame,
      dimBefore: DataFrame, dimAfter: DataFrame,
      keys: Seq[String], countCol: String, sums: Map[String, Column],
      mins: Map[String, Column], maxes: Map[String, Column],
      netKeys: Seq[String], txn: (String, Long),
      authoritative: DataFrame => DataFrame): Option[Long] = {
    if (gold.currentVersion().isEmpty) return None
    if (gold.currentBatchId(txn._1).exists(_ >= txn._2)) return None
    val (f0, nk) =
      if (netKeys.nonEmpty) (facts, netKeys)
      else (facts.withColumn(SynthNetCol,
        org.apache.spark.sql.functions.monotonically_increasing_id()),
        Seq(SynthNetCol))
    val f = f0.persist()
    try {
      // no emptiness probe (r18): empty facts make an EMPTY delta, and
      // [[applyChanges]]'s fused delta aggregation already detects that
      // at zero extra jobs and advances the marker with an empty commit
      // — the probe was one whole Spark job ahead of every storm repair
      // (facts nonempty there, so it never fired where it was paid)
      def side(dim: DataFrame, ct: String): DataFrame =
        prepareUnder(dim)(f)
          .withColumn(VersionedTable.CdcTypeCol, lit(ct))
          .withColumn(VersionedTable.CdcVersionCol, lit(txn._2))
      val changes = side(dimBefore, "update_preimage")
        .unionByName(side(dimAfter, "update_postimage"))
      applyChanges(gold, changes, keys, countCol, sums, mins, maxes,
        netKeys = nk, txn = txn, authoritative = authoritative)
    } finally f.unpersist(blocking = false): Unit
  }

  /** Apply ONE explicit change frame (source columns + `_change_type`,
    * optionally `_commit_version` for pair netting) to a maintained
    * aggregate, exactly-once under `txn` — the primitive [[refresh]]
    * drives from a feed window, exposed for maintenance events whose
    * delta is NOT a source feed window: dimension re-attribution
    * (retract the old-attribute contribution, re-add under the new —
    * [[graft.ecom.GoldIvm.reattributeCustomer360]]) and any other
    * caller-derived retract/re-add pair. `authoritative` supplies the
    * PREPARED post-change source for the bounded dirty-group recompute
    * (only evaluated when a removal threatens a stored extreme); it
    * must reflect the state the view holds AFTER this change lands.
    * It receives the DISTINCT dirty-key frame so a caller whose group
    * key is COMPUTED (a join-derived attribution — Catalyst cannot push
    * the key semi-join below the join that creates the key) can bound
    * its own scan; the recompute semi-joins the result against the same
    * frame regardless, so ignoring the argument stays correct.
    */
  def applyChanges(gold: VersionedTable, changes: DataFrame, keys: Seq[String],
      countCol: String, sums: Map[String, Column],
      mins: Map[String, Column], maxes: Map[String, Column],
      netKeys: Seq[String], txn: (String, Long),
      authoritative: DataFrame => DataFrame,
      // caller-proved "the change frame holds ONLY insert rows" (e.g.
      // from the source manifest, [[VersionedTable.insertOnlyWindow]]):
      // skips the pair-netting window pass (no pairs can exist) and the
      // removal probe job (no removed extremes can exist) — both
      // provable no-ops for an all-inserts frame. False is always safe.
      insertOnly: Boolean = false): Option[Long] = {
    val (app, head) = txn
    if (gold.currentBatchId(app).exists(_ >= head)) return None
    val minmax = mins.nonEmpty || maxes.nonEmpty
    if (!minmax) return refreshSums(gold, keys, countCol, sums,
      changes, app, head, insertOnly)

    val d0 = deltaMinMax(changes, keys, countCol, sums, mins, maxes,
      if (insertOnly) Nil else netKeys)
    val extremeCols = (mins.keys ++ maxes.keys).toSeq.sorted
    val sumCols = sums.keys.toSeq.sorted
    // APPEND fast path (r18): with a provably insert-only change frame
    // and a target holding ZERO data files (brand-new table, or only
    // marker/cursor commits so far — the `CREATE MATERIALIZED VIEW`
    // bootstrap whose dim cursor committed an empty v1 first), no
    // source row can match a target row, no removal can exist, and the
    // merge IS an append of the delta: inserted extremes ARE the group
    // extremes. The merge machinery (dup check, candidate discovery,
    // classify join, CDC chain) is all provable no-ops — manifest-level
    // proof, zero jobs spent deciding. ONE consumer (the append), so no
    // persist: this is the LARGEST frame the path ever sees, and
    // caching it would trade the table's biggest write for memory
    // pressure (the bulk-load rule the silver bootstrap follows).
    val emptyTarget = gold.currentVersion()
      .fold(true)(v => gold.snapshotMeta(v).files.isEmpty)
    if (gold.currentVersion().isEmpty || (insertOnly && emptyTarget)) {
      val outCols = keys.map(col) ++ (countCol +: sumCols).map(col) ++
        extremeCols.map(c => col(insC(c)).as(c))
      return gold.commitAppendBatch(d0.select(outCols: _*), head, app)
    }
    // the delta is O(changed groups) — persist it: it feeds the fused
    // probe/count aggregation, the current-extremes join, (maybe) the
    // dirty-key semi-join, and the merge source (which otherwise
    // re-runs the WHOLE feed-window lineage once more inside the merge;
    // r18 measured that second run at 1-3 s per refresh at sf0.1).
    d0.persist()
    // ONE aggregation over the (cached) delta answers BOTH driver
    // questions of this refresh — "did any removal touch an extreme
    // column?" (the scan-avoidance gate) and "how many delta groups?"
    // (the merge discovery's broadcast-vs-shuffle decision, which
    // otherwise costs its own count job on the same frame). The delta
    // is key-unique by construction, so the count IS the distinct key
    // count the discovery needs. On the insert-only path the removal
    // question is already answered (no removals can exist) — a plain
    // count populates the cache instead.
    var deltaRows: Option[Long] = None
    var dCached: DataFrame = null // the cur-joined frame, when persisted
    try {
      val anyRemoval =
        if (insertOnly) {
          deltaRows = Some(d0.count())
          false
        } else {
          val r = d0.agg(
            org.apache.spark.sql.functions.count(lit(1)),
            coalesce(max(extremeCols.map(c =>
              col(remC(c)).isNotNull).reduce(_ || _)), lit(false))).head()
          deltaRows = Some(r.getLong(0))
          r.getBoolean(1)
        }
      // an EMPTY delta (a fully-netted window, or a re-attribution
      // whose touched facts don't exist / didn't change) needs no merge
      // at all: advance the marker with an empty commit — one commit
      // instead of the full discovery/classify/publish machinery
      if (deltaRows.contains(0L)) {
        val spark = gold.spark
        return gold.commitAppendBatch(
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            gold.snapshotMeta(gold.currentVersion().get).schema),
          head, app)
      }
      val d =
        if (!anyRemoval)
          // no removal touched any extreme column: pure merge, no
          // table access (removals of all-null values only move counts)
          extremeCols.foldLeft(d0.withColumn(DirtyC, lit(false))
            .withColumn(MatchedC, lit(false)))(
            (f, c) => f.withColumn(curC(c), lit(null)))
        else {
          // scan-avoidance analysis, against the CURRENT stored
          // extremes (one gold-sized semi-join — gold is the
          // aggregate, orders of magnitude under the source). A
          // removal THREATENS a stored minimum only when the removed
          // extreme reaches it (remMin <= curMin): strictly-inside
          // removals cannot move it, and any in-window insert-then-
          // delete churn BELOW the stored value also lands in the
          // threatened branch (remMin < curMin), so phantom inserted
          // extremes in the skip branch are provably >= the stored
          // value and harmless under least(). Symmetric for maxima.
          // Threatened groups whose count nets to zero skip too — the
          // DELETE clause removes them without needing a recompute.
          val cur = gold.read()
            .join(broadcast(d0.select(keys.map(col): _*)), keys, "left_semi")
            .select(keys.map(col) ++
              (countCol +: extremeCols).map(c => col(c).as(curC(c))) :+
              lit(true).as(MatchedC): _*)
          val dj = d0.join(broadcast(cur), keys, "left")
            .withColumn(MatchedC, coalesce(col(MatchedC), lit(false)))
          // a STRICTLY dominating same-window insert DEFUSES a threat:
          // if the window inserts a value strictly more extreme than
          // everything it removed (insMax > remMax >= curMax), that
          // insert cannot itself be in-window phantom churn (a phantom
          // is inserted AND removed, so its value is <= remMax), hence
          // it survives and the new group extreme IS insMax no matter
          // what the removal uncovered — max(after) =
          // max(stored \ removed <= cur <= rem < ins, ins) = ins,
          // exactly the clean-path greatest(stored, ins) merge.
          // Symmetric for minima. Strictness is load-bearing: with >=
          // an insert-then-delete of one value above the stored max
          // would defuse itself and the clean merge would resurrect
          // the deleted phantom. This is the monotone-update shape (a
          // growing last-seen timestamp retracts the old max and
          // inserts a higher one every single window) — without the
          // refinement every such group recomputes, with it none does.
          // Only a MATCHED group with a stored extreme qualifies: an
          // unmatched group with leftover removals is in-window churn
          // the recompute must arbitrate.
          def threat(c: String, reaches: (Column, Column) => Column,
              strictlyPast: (Column, Column) => Column): Column =
            col(remC(c)).isNotNull && (!col(MatchedC) ||
              col(curC(c)).isNull ||
              (reaches(col(remC(c)), col(curC(c))) &&
                !(col(insC(c)).isNotNull &&
                  strictlyPast(col(insC(c)), col(remC(c))))))
          val threatened =
            mins.keys.toSeq.map(c => threat(c, _ <= _, _ < _)) ++
              maxes.keys.toSeq.map(c => threat(c, _ >= _, _ > _))
          val countsToZero = when(col(MatchedC),
            col(curC(countCol)) + col(countCol) === 0L)
            .otherwise(col(countCol) === 0L)
          dj.withColumn(DirtyC,
            threatened.reduce(_ || _) && !coalesce(countsToZero, lit(false)))
        }
      // the cur-join frame has up to three consumers on the removal
      // path (the dirty probe, the dirty-key semi-join, the merge
      // source) — each would re-run the gold semi-join scan; cache it
      if (anyRemoval) { dCached = d.persist() }
      val anyDirty = anyRemoval &&
        d.filter(col(DirtyC)).limit(1).count() > 0
      val dAuth =
        if (!anyDirty)
          extremeCols.foldLeft(d)((f, c) => f.withColumn(authC(c), lit(null)))
        else {
          // bounded recompute: ONLY dirty groups re-derive extremes
          // from the source head, key-filtered (broadcast semi-join —
          // the dirty key set is bounded by the window's removed rows)
          val dirtyKeys = d.filter(col(DirtyC)).select(keys.map(col): _*)
          val authAggs =
            mins.toSeq.sortBy(_._1).map { case (o, e) => min(e).as(authC(o)) } ++
              maxes.toSeq.sortBy(_._1).map { case (o, e) => max(e).as(authC(o)) }
          val auth = authoritative(dirtyKeys)
            .join(broadcast(dirtyKeys), keys, "left_semi")
            .groupBy(keys.map(col): _*)
            .agg(authAggs.head, authAggs.tail: _*)
          d.join(broadcast(auth), keys, "left")
        }
      import VersionedTable.{MergeDelete, MergeInsert, MergeUpdate, MergeWhen}
      val t = (c: String) => col("t").getField(c)
      val s = (c: String) => col("s").getField(c)
      def add(c: String): Column =
        coalesce(t(c), lit(0)) + coalesce(s(c), lit(0))
      // dirty → the recomputed head value is authoritative (even when
      // null: the live group holds only nulls there); clean → merge
      // the stored extreme with the inserted one (least/greatest skip
      // nulls, so an all-null insert window keeps the stored value)
      def mergedExtreme(c: String, m: (Column, Column) => Column): Column =
        when(s(DirtyC), s(authC(c))).otherwise(m(t(c), s(insC(c))))
      def insertedExtreme(c: String): Column =
        when(s(DirtyC), s(authC(c))).otherwise(s(insC(c)))
      val updateSet =
        (countCol +: sumCols).map(c => c -> add(c)).toMap ++
          mins.keys.map(c => c -> mergedExtreme(c, least(_, _))) ++
          maxes.keys.map(c => c -> mergedExtreme(c, greatest(_, _)))
      val insertSet =
        (keys.map(k => k -> s(k)) ++ (countCol +: sumCols).map(c => c -> s(c)) ++
          extremeCols.map(c => c -> insertedExtreme(c))).toMap
      try Some(gold.mergeClauses(dAuth, keys,
        matched = Seq(
          // the group's last row left: the group leaves gold with it
          MergeWhen(Some(t(countCol) + s(countCol) === 0L), MergeDelete),
          MergeWhen(None, MergeUpdate(updateSet))),
        notMatched = Seq(
          // an unmatched zero-count group was created AND fully
          // removed inside the window — nothing to insert
          MergeWhen(Some(s(countCol) =!= 0L), MergeInsert(insertSet))),
        txn = Some((app, head)), sourceKeyUnique = true,
        sourceRowsHint = deltaRows)) catch {
        // a racing refresh applied this window first — already current
        case _: VersionedTable.ReplayLandedException => None
      }
    } finally {
      if (dCached ne null) dCached.unpersist(blocking = false): Unit
      d0.unpersist(blocking = false): Unit
    }
  }

  /** The count/sum-only path (no extremes): zero-net groups drop, no
    * dirty probe — one delta aggregation and one merge. The delta is
    * persisted + counted once (r18): the count feeds the merge
    * discovery's broadcast decision (which otherwise re-runs the whole
    * feed-window lineage for its own count), an empty delta advances
    * the marker without any merge machinery, and an insert-only delta
    * into a zero-data-file target appends directly (the SQL
    * `CREATE MATERIALIZED VIEW` bootstrap after its cursor commit).
    */
  private def refreshSums(gold: VersionedTable,
      keys: Seq[String], countCol: String, sums: Map[String, Column],
      changes: DataFrame, app: String, head: Long,
      insertOnly: Boolean): Option[Long] = {
    val d = delta(changes, keys, countCol, sums)
    val emptyTarget = gold.currentVersion()
      .fold(true)(v => gold.snapshotMeta(v).files.isEmpty)
    if (gold.currentVersion().isEmpty || (insertOnly && emptyTarget))
      // first-ever commit: the delta IS the table, marker attached —
      // one pass, no cache (the bulk-load rule)
      gold.commitAppendBatch(d, head, app)
    else {
      val dc = d.persist()
      try {
        val n = dc.count()
        if (n == 0L) {
          // fully-netted window: advance the marker with an empty
          // commit instead of the discovery/classify/publish machinery
          val spark = gold.spark
          return gold.commitAppendBatch(
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              gold.snapshotMeta(gold.currentVersion().get).schema),
            head, app)
        }
        import VersionedTable.{MergeDelete, MergeInsert, MergeUpdate, MergeWhen}
        val t = (c: String) => col("t").getField(c)
        val s = (c: String) => col("s").getField(c)
        def add(c: String): Column =
          coalesce(t(c), lit(0)) + coalesce(s(c), lit(0))
        val measureCols = countCol +: sums.keys.toSeq.sorted
        try Some(gold.mergeClauses(dc, keys,
          matched = Seq(
            // the group's last row left: the group leaves gold with it
            MergeWhen(Some(t(countCol) + s(countCol) === 0L), MergeDelete),
            MergeWhen(None, MergeUpdate(
              measureCols.map(c => c -> add(c)).toMap))),
          notMatched = Seq(MergeWhen(None, MergeInsert(
            (keys.map(k => k -> s(k)) ++ measureCols.map(c => c -> s(c))).toMap))),
          txn = Some((app, head)), sourceKeyUnique = true,
          sourceRowsHint = Some(n))) catch {
          // a racing refresh applied this window first — already current
          case _: VersionedTable.ReplayLandedException => None
        }
      } finally dc.unpersist(blocking = false): Unit
    }
  }
}
