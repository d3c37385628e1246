package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-series operators Spark lacks natively. */
object TimeOps {

  /** As-of (backward) join: for every left row, attach `valueCols` from
    * the latest right row with the same key and `rightTs <= leftTs`
    * (NULLs when no such row). Equivalent to DuckDB/kdb `ASOF JOIN` or
    * pandas `merge_asof(direction="backward")`.
    *
    * Spark-first plan: instead of a range join (which Catalyst executes
    * as a broadcast-nested-loop or an exploding inequality join), union
    * both sides and take `last(value, ignoreNulls)` over a window ordered
    * by (ts, side) per key — ONE shuffle on the key, one sort, linear
    * scan; the exact shape that survives 100 TB, since per-key state is
    * a running value, never a buffered range.
    *
    * Right rows must be unique per (keys, rightTs) — pre-aggregate if
    * not (ties would otherwise resolve by partition order).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, valueCols: Seq[String]): DataFrame = {
    val leftCols = left.columns.toSeq
    require(!valueCols.exists(leftCols.contains),
      s"valueCols ${valueCols.filter(leftCols.contains)} already exist in the left input")
    // scratch names that cannot shadow user columns on either side
    val taken = leftCols ++ right.columns
    val tsCol = graft.util.Names.fresh("_ts", taken)
    val sideCol = graft.util.Names.fresh("_side", taken)
    val vCol = graft.util.Names.fresh("_vals", taken)
    // side 0 sorts before side 1 at equal ts -> right row at exactly
    // leftTs is visible to the left row (>= semantics, like ASOF JOIN)
    val l = left.withColumn(tsCol, col(leftTs)).withColumn(sideCol, lit(1))
    // a NULL rightTs row is "as of never" — it must not sort first
    // (nulls-first) and attach to left rows with no real backward match
    val r0 = right.select((keys :+ rightTs).map(col) ++ valueCols.map(col): _*)
      .filter(col(rightTs).isNotNull)
      .withColumn(tsCol, col(rightTs)).withColumn(sideCol, lit(0))
      // the valueCols travel as ONE struct: the latest right ROW wins
      // WHOLESALE, including its genuine NULLs. Per-column
      // last(ignoreNulls) would fill each column from a possibly
      // DIFFERENT right row (a NULL in the newest row falling back to
      // an older row's value) — a composite row that never existed,
      // violating ASOF semantics. Left rows omit the struct entirely
      // (null-filled by unionByName), so ignoreNulls skips them.
      .withColumn(vCol, struct(valueCols.map(col): _*))
    val unioned = l.select((keys ++ Seq(tsCol, sideCol)).map(col) ++
        leftCols.filterNot(keys.contains).map(col): _*)
      .unionByName(
        r0.select((keys ++ Seq(tsCol, sideCol, vCol)).map(col): _*),
        allowMissingColumns = true)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col(tsCol), col(sideCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val filled = unioned.withColumn(vCol, last(col(vCol), ignoreNulls = true).over(w))
    valueCols.foldLeft(filled)((df, c) => df.withColumn(c, col(vCol).getField(c)))
      .filter(col(sideCol) === 1).drop(tsCol, sideCol, vCol)
  }

  /** Interval (range) join: inner-join each left row to every right row
    * sharing `keys` whose `[startCol, endCol]` interval contains the
    * left row's `tsCol` (inclusive both ends).
    *
    * Catalyst executes a raw `l.ts BETWEEN r.start AND r.end` join as a
    * broadcast-nested-loop (or worse, a cartesian with post-filter) —
    * O(n·m) per key and a non-starter at 100 TB. The Spark-first plan
    * bins time into `binSec`-wide buckets: the left side lands in ONE
    * bin (`ts div binSec`), the right side explodes each interval into
    * the bins it overlaps (`sequence(start div binSec, end div binSec)`),
    * and the range join becomes an equi-join on `(keys, bin)` with the
    * exact predicate as a cheap post-filter. Each qualifying pair meets
    * in exactly one bin — the left row's — so no dedup pass is needed.
    * Cost: right fan-out = interval_len/binSec + 1 rows per interval
    * (choose binSec near the typical interval length), then one hash
    * shuffle each side; never a nested loop.
    *
    * Interval columns must be non-null with `start <= end`; rows
    * violating it are dropped (empty interval matches nothing).
    */
  def rangeJoin(left: DataFrame, right: DataFrame, keys: Seq[String],
      tsCol: String, startCol: String, endCol: String, binSec: Long): DataFrame = {
    require(binSec > 0, s"binSec must be positive, got $binSec")
    val overlap = right.columns.filterNot(keys.contains).toSet
      .intersect(left.columns.filterNot(keys.contains).toSet)
    require(overlap.isEmpty, s"non-key columns $overlap exist on both sides — rename first")
    // the scratch name doubles as the marker plans/RangeJoinRewrite keys
    // its idempotence guard on: with the session-wide rewrite enabled, a
    // hand-binned join must not get binned AGAIN (squared fan-out)
    val binCol = graft.util.Names.fresh("_graft_bin", left.columns ++ right.columns)
    // div (not /): integer floor-division keeps the bin id a long inside
    // codegen; epoch seconds are positive so div == floor here
    val l = left.withColumn(binCol, expr(s"cast($tsCol as long) div $binSec"))
    val r = right
      .filter(col(startCol).isNotNull && col(endCol).isNotNull &&
        col(startCol) <= col(endCol))
      .withColumn(binCol, explode(sequence(
        expr(s"cast($startCol as long) div $binSec"),
        expr(s"cast($endCol as long) div $binSec"))))
    l.join(r, keys :+ binCol)
      .filter(col(tsCol) >= col(startCol) && col(tsCol) <= col(endCol))
      .drop(binCol)
  }

  /** Gap-based sessionization: number each row with a per-key
    * `sessionCol` index that increments whenever the gap since the
    * previous row (by `tsCol`, ties broken by `tieCols`) exceeds
    * `gapSec`. The batch equivalent of Structured Streaming's
    * `session_window` — and the operator that produces the session ids
    * the reference's sessions.csv pre-materializes.
    *
    * Plan: one shuffle+sort on `keys` feeds both stacked windows (gap
    * detect, running count); downstream per-session aggregates reuse the
    * same clustering (partitioning on a key subset satisfies their
    * distribution), so sessionize → rollup costs ONE event-level
    * exchange total. Per-key window state is a single previous-row
    * lookback — nothing buffers a whole user's history.
    */
  def sessionize(df: DataFrame, keys: Seq[String], tsCol: String, gapSec: Long,
      tieCols: Seq[String] = Nil, sessionCol: String = "session_idx"): DataFrame = {
    // CONTRACT: the gap compares WHOLE-SECOND epochs (cast-to-long =
    // floor), the reference's and the q27 oracle's semantics — two
    // events whose true sub-second gap exceeds gapSec by < 1 s stay in
    // one session. Deliberate parity, like `min`-for-`first`; compare
    // unix_micros against gapSec*1e6 here AND in the oracle SQL if
    // exact sub-second sessionization is ever required.
    require(gapSec > 0, s"gapSec must be positive, got $gapSec")
    require(!df.columns.contains(sessionCol), s"column $sessionCol already exists")
    val order = (tsCol +: tieCols).map(col)
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    val runW = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val newSessCol = graft.util.Names.fresh("_new_sess", df.columns)
    val prevTs = lag(col(tsCol), 1).over(w)
    val newSess = when(prevTs.isNull ||
      col(tsCol).cast("long") - prevTs.cast("long") > gapSec, 1L).otherwise(0L)
    df.withColumn(newSessCol, newSess)
      .withColumn(sessionCol, sum(col(newSessCol)).over(runW))
      .drop(newSessCol)
  }
}
