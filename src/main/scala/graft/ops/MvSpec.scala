package graft.ops

import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col, expr, lit}

import graft.ecom.VersionedTable

/** One declared dimension of a materialized view: a versioned table
  * LEFT-joined (USING semantics) into the view's prepare pipeline on
  * `joinKeys`, contributing `cols` to the downstream expressions. The
  * dimension must be unique per join key (a duplicate would fan the
  * left join out — the same contract customer_360's attrs table
  * carries). A dimension CHANGE is repaired automatically at refresh
  * time by the generic retract/re-add rule
  * ([[IncrementalAgg.reattribute]]): cost O(changed keys' facts),
  * never O(view) and never a re-bootstrap.
  */
final case class MvDim(source: String, joinKeys: Seq[String],
    cols: Seq[String]) {
  require(source.nonEmpty, "materialized-view dimension needs a table path")
  require(joinKeys.nonEmpty,
    s"materialized-view dimension $source needs at least one join key")
  MvSpec.requireCleanPath(source)

  /** This dimension's cursor app on the view (last attributed version). */
  def app: String = s"ivm-dim:$source"

  private[ops] def render: String =
    s"$source|${joinKeys.mkString(",")}|${cols.sorted.mkString(",")}"
}

/** A maintained aggregate's DEFINITION as durable table metadata — the
  * `CREATE MATERIALIZED VIEW` object model. The spec (source table
  * path, grouping keys, count column, row-local sum/min/max
  * expressions, netting keys — and, since r15, a row-local WHERE
  * filter, star-schema dimension LEFT joins, and derived grouping-key
  * expressions) is stored in the VIEW table's properties in ONE atomic
  * metadata commit at creation, and every later refresh reads the
  * STORED spec instead of trusting the caller to re-state the algebra —
  * re-typed measure expressions per call were the drift vector the
  * parse-time refusals existed to catch; storing the spec removes the
  * vector. (Delta/Databricks materialized views persist their
  * definition the same way: the view is a table whose metadata carries
  * the query.)
  *
  * The maintainable algebra is [[IncrementalAgg]]'s: per-group
  * COUNT/SUM/MIN/MAX over row-local SQL expressions of the PREPARED
  * row — the source row, LEFT-joined dimension columns, then derived
  * key columns, then the WHERE filter (exactly SQL's evaluation
  * order). All of `where`/`keyExprs`/measure entries are validated at
  * parse time — an aggregate smuggled into any of them (avg, a nested
  * sum, percentile...) refuses loudly with the standard rewrite.
  *
  * Maintenance invariant for dimensions: every materialized
  * contribution is prepared under each dimension AT the version its
  * cursor (`ivm-dim:<path>` txn marker on the view) records. The fact
  * feed refresh reads dimensions at their cursors; a dimension that
  * advanced is FIRST repaired by retract/re-add over its changed keys
  * (cursor moves atomically with the repair merge), so the two
  * maintenance paths can never double- or mis-attribute.
  *
  * Sources are stored by PATH (table directories), not by catalog
  * name: the binding survives catalog renames and works identically
  * from the SQL procedures, the Scala API, and the streaming
  * maintainer ([[graft.streaming.Sinks.mvMaintainStored]]).
  *
  * MV-OVER-MV (r16): the source may itself be a materialized view —
  * the reference's customer_360 cascade (`03_gold_aggregate.py:
  * 226-272`, an aggregate over another aggregate's change feed). A
  * refresh first refreshes the source view (recursively — one bare
  * REFRESH of the top repairs the whole chain), the source's change
  * feed is auto-enabled at the level-2 view's first refresh, and a
  * cycle refuses at CREATE (chain walk) and again at refresh (visited
  * set) rather than recursing forever.
  */
final case class MvSpec(source: String, keys: Seq[String], countCol: String,
    sums: Seq[(String, String)], mins: Seq[(String, String)],
    maxes: Seq[(String, String)], netKeys: Seq[String],
    where: Option[String] = None, dims: Seq[MvDim] = Nil,
    keyExprs: Seq[(String, String)] = Nil,
    avgs: Seq[(String, String)] = Nil) {

  require(source.nonEmpty, "materialized-view spec needs a source table path")
  require(keys.nonEmpty, "materialized-view spec needs at least one key")
  require(countCol.nonEmpty, "materialized-view spec needs a count column")
  require(keyExprs.map(_._1).forall(keys.contains),
    "every derived key expression must name a grouping key")
  where.foreach(MvSpec.validateRowLocal(_, "where"))
  // AVG(x) is stored DECOMPOSED (SUM(x) + a non-null count, both plain
  // maintained sums under reserved hidden names) and re-derived at
  // read — the avgs entries are the read-face contract, so their
  // hidden carriers must actually be maintained
  avgs.foreach { case (a, _) =>
    require(sums.exists(_._1 == MvSpec.hiddenSum(a)) &&
      sums.exists(_._1 == MvSpec.hiddenCnt(a)),
      s"materialized-view avg '$a' needs its decomposed sum/count " +
        s"columns (${MvSpec.hiddenSum(a)}, ${MvSpec.hiddenCnt(a)}) in sums")
  }

  private def cols(ps: Seq[(String, String)]): Map[String, Column] =
    ps.map { case (n, e) => n -> expr(e) }.toMap

  /** The view's prepare pipeline under explicit dimension snapshots:
    * LEFT-join each dimension (join keys + referenced columns only),
    * apply the WHERE filter, then derive the computed grouping keys —
    * applied uniformly to change frames, recompute scans, and both
    * re-attribution sides, so the maintenance paths cannot drift.
    * Row-local throughout; `_change_type`/`_commit_version` flow
    * through untouched.
    */
  private[graft] def prepare(dimAt: MvDim => DataFrame)(df: DataFrame): DataFrame = {
    val joined = dims.foldLeft(df) { (d, dim) =>
      d.join(dimAt(dim)
          .select((dim.joinKeys ++ dim.cols).distinct.map(col): _*),
        dim.joinKeys, "left")
    }
    val filtered = where.fold(joined)(w => joined.filter(expr(w)))
    keyExprs.foldLeft(filtered) { case (d, (n, e)) => d.withColumn(n, expr(e)) }
  }

  /** One incremental refresh of `view` from the stored definition —
    * first repair any dimension that changed since its cursor (the
    * generic retract/re-add rule, cursor advanced atomically with the
    * repair), then apply the fact feed window with dimensions pinned AT
    * their cursors. Bootstraps on first call (dimension cursors are
    * committed BEFORE the bootstrap merge, so a crash between the two
    * re-heals deterministically). Returns the last view version landed,
    * or None when already current.
    */
  def refresh(spark: SparkSession, view: VersionedTable): Option[Long] =
    refreshChain(spark, view, Set(view.tableDir))

  /** [[refresh]] with the CASCADE walk's visited set — `view` plus every
    * ancestor already being refreshed above it. A source that is ITSELF
    * a materialized view (MV-over-MV: the reference's customer_360
    * cascade, level 2 consuming level 1's change feed) refreshes FIRST,
    * so one bare REFRESH of the top repairs the whole chain; a cycle
    * smuggled into stored specs (impossible through [[ensure]], which
    * walks the chain at CREATE) refuses here rather than recursing
    * forever.
    */
  private def refreshChain(spark: SparkSession, view: VersionedTable,
      visited: Set[String]): Option[Long] = {
    val fact = VersionedTable(spark, source)
    MvSpec.load(fact).foreach { srcSpec =>
      require(!visited.contains(source),
        s"materialized-view cycle: $source is already being refreshed " +
          "above this view in the cascade — a view can never (transitively) " +
          "source itself")
      // level 2 consumes the source view's CHANGE FEED: enable it before
      // the first DML version level 2 will ever read — pre-refresh on an
      // existing source (heals a crash between a past bootstrap and the
      // property commit), immediately post-bootstrap otherwise
      val srcBootstrap = fact.currentVersion().isEmpty
      if (!srcBootstrap) fact.ensureChangeFeed()
      srcSpec.refreshChain(spark, fact, visited + source)
      if (srcBootstrap) fact.ensureChangeFeed()
    }
    // refuse an uncommitted dimension HERE, naming it — otherwise the
    // first read of it deep inside the bootstrap throws a bare "has no
    // committed version" with no hint which declared table is at fault
    dims.foreach { d =>
      require(VersionedTable(spark, d.source).currentVersion().isDefined,
        s"materialized-view dimension ${d.source} has no committed " +
          "version — commit the dimension table (an empty commit with its " +
          "schema suffices) before creating or refreshing the view")
    }
    dims.foreach(ensureDimCursor(spark, view, fact, _))
    val repaired = dims.flatMap(repairDim(spark, view, fact, _))
    def dimAtCursor(dim: MvDim): DataFrame = {
      val t = VersionedTable(spark, dim.source)
      view.currentBatchId(dim.app).fold(t.read())(t.readAt)
    }
    val landed = IncrementalAgg.refresh(view, fact, keys,
      countCol, cols(sums), cols(mins), cols(maxes),
      prepare = prepare(dimAtCursor), netKeys = netKeys)
    landed.orElse(repaired.lastOption)
  }

  /** Pin a missing dimension cursor. Before the view's FIRST fact
    * bootstrap this is trivially sound (nothing is materialized, so
    * "attributed at the current head" is vacuously true) and makes the
    * bootstrap deterministic under crashes: the cursor commit precedes
    * the data commit, so a re-run reuses the pinned version instead of
    * re-pinning a moved head. A bootstrapped view MISSING a cursor can
    * only be a legacy dimension added by redefinition — refused at
    * [[MvSpec.ensure]], so it refuses here too rather than guessing
    * which snapshot old contributions reflect.
    */
  private def ensureDimCursor(spark: SparkSession, view: VersionedTable,
      fact: VersionedTable, dim: MvDim): Unit =
    if (view.currentBatchId(dim.app).isEmpty) {
      require(view.currentBatchId(IncrementalAgg.appFor(fact)).isEmpty,
        s"${view.tableDir} has materialized contributions but no " +
          s"'${dim.app}' cursor — the dimension's attributed version is " +
          "unknowable; drop and re-create the view")
      VersionedTable(spark, dim.source).currentVersion().foreach { v =>
        val schema = IncrementalAgg.outputSchema(
          prepare(d => VersionedTable(spark, d.source).read())(
            fact.read().limit(0)
              .withColumn(VersionedTable.CdcTypeCol,
                org.apache.spark.sql.functions.lit("insert"))),
          keys, countCol, cols(sums), cols(mins), cols(maxes))
        view.commitAppendBatch(
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
          v, dim.app)
        ()
      }
    }

  /** Bounded repair of one advanced dimension: touched join keys from
    * the dimension's own change feed (snapshot symmetric-diff when the
    * feed window is unavailable), facts READ AT the version the view's
    * fact marker records and restricted to those keys, retract under
    * the cursor snapshot / re-add under the head — all other
    * dimensions stay pinned at THEIR cursors on both sides.
    */
  private def repairDim(spark: SparkSession, view: VersionedTable,
      fact: VersionedTable, dim: MvDim): Option[Long] = {
    val dimT = VersionedTable(spark, dim.source)
    val head = dimT.currentVersion().getOrElse(return None)
    val last = view.currentBatchId(dim.app).getOrElse(return None)
    if (last >= head) return None
    val applied = view.currentBatchId(IncrementalAgg.appFor(fact))
      .getOrElse {
        // nothing materialized yet — advance the cursor alone
        val schema = view.snapshotMeta(view.currentVersion().get).schema
        return view.commitAppendBatch(
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema),
          head, dim.app)
      }
    val touched = touchedKeys(dimT, last, head, dim.joinKeys).persist()
    try {
      def slice(v: Long): DataFrame =
        dimT.readAt(v).join(broadcast(touched), dim.joinKeys, "left_semi")
      def under(snapshot: DataFrame)(d: MvDim): DataFrame =
        if (d == dim) snapshot
        else {
          val t = VersionedTable(spark, d.source)
          view.currentBatchId(d.app).fold(t.read())(t.readAt)
        }
      val facts = fact.readAt(applied)
        .join(broadcast(touched), dim.joinKeys, "left_semi")
      IncrementalAgg.reattribute(view, facts,
        snap => prepare(under(snap)),
        dimBefore = slice(last), dimAfter = slice(head),
        keys = keys, countCol = countCol, sums = cols(sums),
        mins = cols(mins), maxes = cols(maxes), netKeys = netKeys,
        txn = (dim.app, head),
        // the dirty-group recompute re-prepares the FULL fact snapshot
        // under the post-change dimensions; its own dirty-key semi-join
        // bounds the aggregation (group keys may be join-derived, so
        // the semi-join cannot push below the join — the standard
        // size-gated shape)
        authoritative = _ => prepare(under(dimT.readAt(head)))(
          fact.readAt(applied)))
    } finally touched.unpersist(blocking = false): Unit
  }

  /** The distinct join keys whose dimension row changed in
    * (`last`, `head`]: the dimension's own change feed when readable
    * (O(changes)), else a full-row symmetric snapshot diff (O(dim) —
    * dimensions are dimension-sized by contract). The diff projects
    * BOTH snapshots to the HEAD schema, null-filling columns the cursor
    * snapshot predates — an additively-evolved dimension diffs instead
    * of throwing, and a backfilled new column correctly reads as a
    * change (old null vs new value); columns since dropped no longer
    * reach `prepare`, so their historical values rightly don't count.
    */
  private def touchedKeys(dimT: VersionedTable, last: Long, head: Long,
      joinKeys: Seq[String]): DataFrame =
    Try(dimT.changeFeed(last + 1L, head).select(joinKeys.map(col): _*))
      .getOrElse {
        val after = dimT.readAt(head)
        val before0 = dimT.readAt(last)
        val cols = after.columns.toSeq
        require(joinKeys.forall(before0.columns.contains),
          s"dimension ${dimT.tableDir}: join key(s) " +
            s"${joinKeys.filterNot(before0.columns.contains).mkString(", ")} " +
            s"missing from snapshot v$last — cannot diff for repair")
        val before = after.schema.fields
          .filterNot(f => before0.columns.contains(f.name))
          .foldLeft(before0)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
        before.select(cols.map(col): _*).exceptAll(after.select(cols.map(col): _*))
          .unionByName(
            after.select(cols.map(col): _*)
              .exceptAll(before.select(cols.map(col): _*)))
          .select(joinKeys.map(col): _*)
      }
      .distinct()

  /** The spec as table properties (normalized: lists joined, pair lists
    * re-rendered sorted by output column, dimensions in declared join
    * order — two specs that mean the same thing serialize identically,
    * so drift checks are string compares).
    */
  def props: Map[String, String] = Map(
    MvSpec.SourceProp -> source,
    MvSpec.KeysProp -> keys.mkString(","),
    MvSpec.CountColProp -> countCol,
    MvSpec.SumsProp -> MvSpec.renderPairs(sums),
    MvSpec.MinsProp -> MvSpec.renderPairs(mins),
    MvSpec.MaxesProp -> MvSpec.renderPairs(maxes),
    MvSpec.NetKeysProp -> netKeys.mkString(","),
    MvSpec.WhereProp -> where.getOrElse(""),
    MvSpec.DimsProp -> dims.map(_.render).mkString(";"),
    MvSpec.KeyExprsProp -> MvSpec.renderPairs(keyExprs)) ++
    // only written when present, so pre-r17 stored specs (and specs
    // without AVG) round-trip to byte-identical property maps
    (if (avgs.isEmpty) Map.empty
     else Map(MvSpec.AvgsProp -> MvSpec.renderPairs(avgs)))

  /** The USER-FACING projection of the stored view table — hidden
    * decomposition columns dropped, each AVG re-derived as
    * sum / NULLIF(count, 0) (null when every contributing value was
    * null, exactly SQL's AVG). Row-local: applies per partition on top
    * of any snapshot scan, costs no shuffle, and every filter on
    * visible columns still pushes into the scan below.
    */
  def readFace(df: DataFrame): DataFrame = {
    if (avgs.isEmpty) return df
    val visible = df.columns.filterNot(_.startsWith(MvSpec.HiddenPrefix))
    val withAvgs = avgs.foldLeft(df) { case (d, (a, _)) =>
      d.withColumn(a, expr(
        s"`${MvSpec.hiddenSum(a)}` / NULLIF(`${MvSpec.hiddenCnt(a)}`, 0)"))
    }
    withAvgs.select((visible.toSeq ++ avgs.map(_._1)).map(col): _*)
  }
}

object MvSpec {
  val SourceProp: String = "graft.mv.source"
  val KeysProp: String = "graft.mv.keys"
  val CountColProp: String = "graft.mv.count_col"
  val SumsProp: String = "graft.mv.sums"
  val MinsProp: String = "graft.mv.mins"
  val MaxesProp: String = "graft.mv.maxes"
  val NetKeysProp: String = "graft.mv.net_keys"
  val WhereProp: String = "graft.mv.where"
  val DimsProp: String = "graft.mv.dims"
  val KeyExprsProp: String = "graft.mv.key_exprs"
  val AvgsProp: String = "graft.mv.avgs"

  /** Reserved prefix for generated decomposition columns (the stored
    * SUM/count carriers of an AVG) — hidden from the SQL read face;
    * user-declared output columns may not use it.
    */
  val HiddenPrefix: String = "__mv_"
  def hiddenSum(alias: String): String = s"${HiddenPrefix}sum_$alias"
  def hiddenCnt(alias: String): String = s"${HiddenPrefix}cnt_$alias"

  // aggregates (and aggregate-ish collectors) that cannot appear inside
  // a ROW-LOCAL entry: the view itself applies the per-group algebra
  private val Banned =
    ("(?i)\\b(avg|mean|sum|stddev|stddev_samp|stddev_pop|variance|var_samp|" +
      "median|percentile|approx_percentile|count|min|max|first|last|" +
      "collect_list|collect_set|array_agg|string_agg|listagg)\\s*\\(").r

  /** Refuse a non-row-local SQL fragment (a smuggled aggregate) LOUDLY
    * with the standard rewrite — shared by measure entries, the WHERE
    * filter, and derived key expressions.
    */
  def validateRowLocal(e: String, what: String): Unit =
    Banned.findFirstIn(e).foreach { hit =>
      throw new IllegalArgumentException(
        s"materialized-view $what expression '$e' contains the aggregate " +
          s"'$hit' — entries are ROW-LOCAL expressions; the view itself " +
          "applies the per-group COUNT/SUM/MIN/MAX (write 'rev:x', not " +
          "'rev:sum(x)'). AVG is not self-maintainable: maintain the sum " +
          "and a non-null count as two columns and derive sum/count at " +
          "query time; MIN/MAX go in the mins/maxes parameters (bounded " +
          "dirty-group recompute), not in a sum.")
    }

  /** Table paths embed in the rendered dims property — refuse the
    * delimiter characters rather than mis-parse later.
    */
  private[ops] def requireCleanPath(p: String): Unit =
    require(!p.exists(c => c == '|' || c == ';' || c == ','),
      s"materialized-view table path '$p' may not contain '|', ';' or ','")

  /** Parse a `name:sqlExpr;name:sqlExpr` list, refusing non-maintainable
    * aggregate shapes LOUDLY with the standard rewrite.
    */
  def parsePairs(spec: String, what: String): Seq[(String, String)] =
    spec.split(';').map(_.trim).filter(_.nonEmpty).toSeq.map { p =>
      val i = p.indexOf(':')
      require(i > 0,
        s"materialized-view $what entry '$p' must be " +
          "'<output_col>:<sql expr over source columns>'")
      val (n, e) = (p.take(i).trim, p.drop(i + 1).trim)
      validateRowLocal(e, what)
      n -> e
    }

  def parseList(s: String): Seq[String] =
    s.split(',').map(_.trim).filter(_.nonEmpty).toSeq

  private[ops] def renderPairs(ps: Seq[(String, String)]): String =
    ps.sortBy(_._1).map { case (n, e) => s"$n:$e" }.mkString(";")

  private def parseDims(s: String): Seq[MvDim] =
    s.split(';').map(_.trim).filter(_.nonEmpty).toSeq.map { d =>
      d.split('|') match {
        case Array(src, ks) => MvDim(src, parseList(ks), Nil)
        case Array(src, ks, cs) => MvDim(src, parseList(ks), parseList(cs))
        case _ => throw new IllegalArgumentException(
          s"materialized-view dims entry '$d' must be " +
            "'<table path>|<join keys>|<columns>'")
      }
    }

  /** Build a spec from the procedure-argument shapes (validating). */
  def fromArgs(source: String, keys: String, countCol: String, sums: String,
      mins: String, maxes: String, netKeys: String): MvSpec =
    MvSpec(source, parseList(keys), countCol.trim,
      parsePairs(sums, "sums"), parsePairs(mins, "mins"),
      parsePairs(maxes, "maxes"), parseList(netKeys))

  /** Persist the spec on the view — ONE metadata commit (atomic: a
    * stored spec is never readable half-written); idempotent when
    * already stored.
    */
  def store(view: VersionedTable, spec: MvSpec): Long =
    view.setTableProperties(spec.props)

  /** The whole CREATE path, shared by `CALL graft.system.create_mv` and
    * the `CREATE MATERIALIZED VIEW` DDL: an identical stored definition
    * is idempotent, a DIFFERENT one refuses (the stored spec is the
    * contract every past refresh maintained); refresh FIRST (it creates
    * the table on bootstrap and refuses foreign unmarked rows), then
    * persist the spec — a crash between the two re-heals on the re-run's
    * idempotent store.
    */
  def ensure(spark: SparkSession, view: VersionedTable, spec: MvSpec,
      viewName: String): Unit = {
    load(view).foreach { stored =>
      require(stored.props == spec.props,
        s"$viewName already carries a DIFFERENT materialized-view " +
          "definition — a view is never silently redefined (the stored " +
          "spec is the contract every past refresh maintained). Drop the " +
          "view and re-create it to change the definition." +
          s"\n  stored:  ${stored.props}\n  offered: ${spec.props}")
    }
    // MV-over-MV cycle refusal, at CREATE: walk source → its stored
    // spec's source → ... — the chain must never reach this view (or
    // repeat), and must be finite
    var cur = Option(spec.source)
    var seen = Set(view.tableDir)
    var depth = 0
    while (cur.isDefined) {
      val c = cur.get
      require(!seen.contains(c),
        s"$viewName: materialized-view cycle — source chain reaches " +
          s"'$c', which is (or feeds) this view; a view can never " +
          "(transitively) source itself")
      depth += 1
      require(depth <= 16, s"$viewName: materialized-view source chain " +
        "exceeds 16 levels — flatten the cascade")
      seen += c
      cur = load(VersionedTable(spark, c)).map(_.source)
    }
    spec.refresh(spark, view)
    store(view, spec): Unit
  }

  /** The stored spec, if this table is a materialized view. A PARTIAL
    * spec (some keys present, the required ones missing) is corruption
    * and refuses rather than guessing — with atomic storage it can only
    * mean hand-edited properties. The r15 properties (where/dims/
    * key_exprs) default empty so r14-stored views load unchanged.
    */
  def load(view: VersionedTable): Option[MvSpec] = {
    val p = view.tableProperties()
    val any = Seq(SourceProp, KeysProp, CountColProp, SumsProp, MinsProp,
      MaxesProp, NetKeysProp).exists(p.contains)
    if (!any) return None
    def req(k: String): String = p.getOrElse(k,
      throw new IllegalStateException(
        s"${view.tableDir}: materialized-view spec is incomplete — '$k' " +
          "is missing while other graft.mv.* properties are present; " +
          "re-create the view (create_mv) to restore a full definition"))
    Some(MvSpec(req(SourceProp), parseList(req(KeysProp)), req(CountColProp),
      parsePairs(p.getOrElse(SumsProp, ""), "sums"),
      parsePairs(p.getOrElse(MinsProp, ""), "mins"),
      parsePairs(p.getOrElse(MaxesProp, ""), "maxes"),
      parseList(p.getOrElse(NetKeysProp, "")),
      where = Some(p.getOrElse(WhereProp, "")).filter(_.nonEmpty),
      dims = parseDims(p.getOrElse(DimsProp, "")),
      keyExprs = parsePairs(p.getOrElse(KeyExprsProp, ""), "key_exprs"),
      avgs = parsePairs(p.getOrElse(AvgsProp, ""), "avgs")))
  }
}
