package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SQL-surface registration for graft's native Catalyst expressions:
  * with `spark.sql.extensions=graft.functions.GraftExtensions`, plain
  * `spark.sql(...)` (the reference's dashboard/DQ entry point — SURVEY
  * §3 EP2) can call the codegen'd kernels directly:
  *
  *   SELECT graft_dot(a.embedding, b.embedding)      -- FloatVecDot
  *   SELECT graft_poly_hash(text, 31, 1000000007)    -- PolyHash
  *   SELECT graft_shingles(text, 3)                  -- WordShingles
  *
  * The DataFrame API (VectorFns / TextFns) builds the same expressions
  * through the Column shim; this class only adds name→builder entries to
  * the session's function registry — no analyzer/optimizer behavior
  * changes, so everything Catalyst does around these calls (codegen,
  * constant folding via `foldable`, null propagation) is unchanged.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def litLong(e: Expression, what: String): Long = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case n: java.lang.Number => n.longValue()
      case other => throw new IllegalArgumentException(s"$what must be integral, got $other")
    }
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // CREATE/REFRESH MATERIALIZED VIEW — two statements Spark's grammar
    // lacks; everything else delegates untouched (graft.sql.MvDdl)
    ext.injectParser((_, delegate) => new graft.sql.GraftSqlParser(delegate))
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[FloatVecDot].getName, "graft_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot(arrayA, arrayB)")
        FloatVecDot(args(0), args(1))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_poly_hash"),
      new ExpressionInfo(classOf[PolyHash].getName, "graft_poly_hash"),
      (args: Seq[Expression]) => {
        require(args.length == 3, "graft_poly_hash(str, mult, mod)")
        PolyHash(args(0), litLong(args(1), "mult"), litLong(args(2), "mod"))
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_shingles(str, n)")
        val n = litLong(args(1), "n")
        // .toInt would silently WRAP an out-of-Int literal (4294967298
        // becomes 2-gram shingles with no diagnostic)
        require(n == n.toInt, s"graft_shingles: n=$n out of Int range")
        WordShingles(args(0), n.toInt)
      }))
    ext.injectFunction((
      FunctionIdentifier("graft_dot_long"),
      new ExpressionInfo(classOf[LongVecDot].getName, "graft_dot_long"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "graft_dot_long(arrayA, arrayB)")
        LongVecDot(args(0), args(1))
      }))
    // The curation COMPOSITES (quality score, PII redaction, content
    // hash) are trees of stock codegen'd expressions, not native
    // kernels; registering their Catalyst-level builders
    // (CurationExprs — the same single definitions the Column API
    // wraps) puts them on the SQL surface too (the reference's
    // dashboard/DQ entry point), so a pure-SQL caller curates with
    // exactly the batch/stream semantics.
    def composite(name: String, build: Expression => Expression): Unit =
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(CurationExprs.getClass.getName, name),
        (args: Seq[Expression]) => {
          require(args.length == 1, s"$name(text)")
          build(args.head)
        }))
    composite("graft_quality", CurationExprs.qualityScore)
    composite("graft_redact_pii", CurationExprs.redactPii)
    composite("graft_content_hash", CurationExprs.contentHash)
    // Whole-plan tier of the extension ladder: rewrite naive BETWEEN
    // range joins into binned equi-joins (opt-in via
    // spark.graft.rangeJoin.binSec — inert by default; see
    // graft.plans.RangeJoinRewrite).
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // Catalog tier: convert DSv2 relations over graft.sql.GraftCatalog
    // tables into the library's V1 snapshot plans (Delta's
    // DeltaAnalysis shape — names resolve via the catalog, reads run
    // through VersionedTable; see graft.sql.GraftRelationRule).
    ext.injectResolutionRule(session => graft.sql.GraftRelationRule(session))
    // Durable SQL views over graft catalogs (CREATE VIEW cat.ns.v):
    // reads substitute the stored SELECT, re-planned per query — the
    // compose-at-read layer over materialized views (GraftViewRule;
    // Spark 4.1 has no executable v2-view path of its own).
    ext.injectResolutionRule(session => graft.sql.GraftViewRule(session))
    // SQL UPDATE / MERGE INTO for catalog tables — converts the
    // resolved commands into eager copy-on-write library ops
    // (graft.sql.GraftDmlRule; the full WHEN clause matrix over
    // same-name key equalities, other ON shapes refuse).
    ext.injectResolutionRule(session => graft.sql.GraftDmlRule(session))
    // DESCRIBE HISTORY as a table-valued function (Delta's
    // `DESCRIBE HISTORY` surface): SELECT * FROM graft_history('/dir').
    // The path must be a literal; the O(V) manifest walk runs on the
    // driver at resolution — the same cost DESCRIBE HISTORY pays.
    ext.injectTableFunction((
      FunctionIdentifier("graft_history"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_history"),
      (args: Seq[Expression]) => {
        require(args.size == 1 && args.head.foldable,
          "graft_history(path) takes exactly one literal table path")
        val path = args.head.eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => String.valueOf(other)
        }
        val vt = graft.ecom.VersionedTable(
          org.apache.spark.sql.SparkSession.active, path)
        import org.apache.spark.sql.catalyst.expressions.AttributeReference
        import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        import org.apache.spark.sql.types._
        val out = Seq(
          AttributeReference("version", LongType, nullable = false)(),
          AttributeReference("operation", StringType, nullable = false)(),
          AttributeReference("batch_id", LongType, nullable = true)(),
          AttributeReference("num_files", IntegerType, nullable = false)(),
          AttributeReference("commit_ts", TimestampType, nullable = false)(),
          AttributeReference("num_dv_files", IntegerType, nullable = false)(),
          AttributeReference("num_added_files", IntegerType, nullable = false)(),
          AttributeReference("num_removed_files", IntegerType, nullable = false)())
        LocalRelation.fromExternalRows(out, vt.history().map(v =>
          org.apache.spark.sql.Row(v.version, v.op, v.batch.orNull,
            v.numFiles, new java.sql.Timestamp(v.modifiedMs), v.numDvFiles,
            v.numAddedFiles, v.numRemovedFiles)))
      }))
    // Row-level change data feed as a table-valued function (Delta's
    // `table_changes`): SELECT * FROM graft_table_changes(target, start
    // [, end]). `target` is a table path, or a catalog-qualified name
    // ('cat.ns.t') registered on a graft catalog. The returned plan is
    // the library's DISTRIBUTED changeFeed read — sidecar/file-diff
    // parquet scans, nothing driver-materialized.
    ext.injectTableFunction((
      FunctionIdentifier("graft_table_changes"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_table_changes"),
      (args: Seq[Expression]) => {
        require(args.length == 2 || args.length == 3,
          "graft_table_changes(pathOrName, startingVersion[, endingVersion])")
        require(args.forall(_.foldable),
          "graft_table_changes takes literal arguments")
        val target = args.head.eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => String.valueOf(other)
        }
        def litLongAt(i: Int, what: String): Long = args(i).eval() match {
          case n: java.lang.Number => n.longValue()
          case other => throw new IllegalArgumentException(
            s"graft_table_changes: $what must be integral, got $other")
        }
        val start = litLongAt(1, "startingVersion")
        val end = if (args.length == 3) litLongAt(2, "endingVersion") else -1L
        val spark = org.apache.spark.sql.SparkSession.active
        val vt =
          if (target.contains("/")) graft.ecom.VersionedTable(spark, target)
          else {
            val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(target)
            require(parts.length >= 3,
              s"graft_table_changes: '$target' is neither a path nor a " +
                "catalog-qualified name (expected 'cat.ns.t' or '/dir')")
            import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
            val cat = spark.sessionState.catalogManager.catalog(parts.head) match {
              case tc: TableCatalog => tc
              case other => throw new IllegalArgumentException(
                s"graft_table_changes: catalog '${parts.head}' is not a " +
                  s"table catalog (${other.getClass.getName})")
            }
            cat.loadTable(
              Identifier.of(parts.tail.init.toArray, parts.last)) match {
              case g: graft.sql.GraftSqlTable => g.vt
              case other => throw new IllegalArgumentException(
                s"graft_table_changes: '$target' is not a graft versioned " +
                  s"table (${other.getClass.getName})")
            }
          }
        vt.changeFeed(start, end).queryExecution.analyzed
      }))
    // DESCRIBE DETAIL as a table-valued function (Delta's shape):
    // SELECT * FROM graft_detail('/dir') — one row of table metadata,
    // every number from the MANIFEST (zero data-file filesystem calls).
    ext.injectTableFunction((
      FunctionIdentifier("graft_detail"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_detail"),
      (args: Seq[Expression]) => {
        require(args.size == 1 && args.head.foldable,
          "graft_detail(path) takes exactly one literal table path")
        val path = args.head.eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => String.valueOf(other)
        }
        val vt = graft.ecom.VersionedTable(
          org.apache.spark.sql.SparkSession.active, path)
        import org.apache.spark.sql.catalyst.expressions.AttributeReference
        import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        import org.apache.spark.sql.types._
        val out = Seq(
          AttributeReference("format", StringType, nullable = false)(),
          AttributeReference("location", StringType, nullable = false)(),
          AttributeReference("version", LongType, nullable = false)(),
          AttributeReference("num_files", IntegerType, nullable = false)(),
          AttributeReference("size_bytes", LongType, nullable = false)(),
          AttributeReference("num_constraints", IntegerType, nullable = false)(),
          AttributeReference("properties",
            MapType(StringType, StringType), nullable = false)())
        val v = vt.currentVersion().getOrElse(throw new IllegalArgumentException(
          s"$path has no committed version"))
        val meta = vt.snapshotMeta(v)
        LocalRelation.fromExternalRows(out, Seq(org.apache.spark.sql.Row(
          "graft", vt.tableDir, v, meta.files.size,
          meta.sizes.values.map(_._1).sum, vt.checkConstraints().size,
          vt.tableProperties())))
      }))
    // The vector/dedup INDEX ARTIFACTS' SQL probe face (their builds are
    // CALL graft.system.create_ivf_index / create_cluster_index):
    //   SELECT * FROM graft_ivf_topk('<artifactDir>'[, nprobe, topk])
    //   SELECT * FROM graft_cluster_index('<artifactDir>')
    // Both return the library's DISTRIBUTED read plan over the artifact
    // alone (partition-pruned IVF cell lists / the labels parquet) —
    // nothing driver-materialized beyond the k-row centroid matrix.
    ext.injectTableFunction((
      FunctionIdentifier("graft_ivf_topk"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_ivf_topk"),
      (args: Seq[Expression]) => {
        require(args.nonEmpty && args.size <= 3 && args.forall(_.foldable),
          "graft_ivf_topk(artifactDir[, nprobe, topk]) takes literal arguments")
        val dir = args.head.eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => String.valueOf(other)
        }
        def intAt(i: Int, default: Int): Int =
          if (args.size <= i) default
          else args(i).eval() match {
            case n: java.lang.Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"graft_ivf_topk: argument ${i + 1} must be integral, got $other")
          }
        graft.queries.LlmSimilarity.readIvfTopK(
          org.apache.spark.sql.SparkSession.active, dir,
          nprobe = intAt(1, 4), topk = intAt(2, 5))
          .queryExecution.analyzed
      }))
    // AD-HOC probes against the IVF artifact (r17 — graft_ivf_topk only
    // replays the artifact's frozen query set):
    //   SELECT * FROM graft_ivf_search('<dir>', array(0.1, ...)[, np, k])
    //     → (neighbor_id, rank, cos_sim) for that ONE vector;
    //   SELECT * FROM graft_ivf_search('<dir>', '<queryTableOrPath>'[, np, k])
    //     → (query_id, neighbor_id, rank, cos_sim) for EVERY row of the
    //       named table/view (or parquet path) — the join-a-query-table
    //       shape. (A correlated LATERAL argument cannot resolve through
    //       injectTableFunction — arguments must be literal at analysis —
    //       so the multi-probe face takes the table by NAME instead.)
    // Literal-supplied doubles/decimals cast to float so ad-hoc vectors
    // score with exactly the corpus' float math; nothing is
    // self-excluded (an ad-hoc probe has no corpus identity).
    ext.injectTableFunction((
      FunctionIdentifier("graft_ivf_search"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_ivf_search"),
      (args: Seq[Expression]) => {
        require(args.size >= 2 && args.size <= 4 && args.forall(_.foldable),
          "graft_ivf_search(artifactDir, queryVecOrTable[, nprobe, topk]) " +
            "takes literal arguments (the probe is an array literal, or a " +
            "query table's name/path as a string)")
        def strAt(i: Int): String = args(i).eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => String.valueOf(other)
        }
        def intAt(i: Int, default: Int): Int =
          if (args.size <= i) default
          else args(i).eval() match {
            case n: java.lang.Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"graft_ivf_search: argument ${i + 1} must be integral, got $other")
          }
        val dir = strAt(0)
        val spark = org.apache.spark.sql.SparkSession.active
        args(1).dataType match {
          case at: org.apache.spark.sql.types.ArrayType =>
            val ad = args(1).eval()
              .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
            require(ad != null, "graft_ivf_search: the query vector is null")
            val vec = ad.toObjectArray(at.elementType).map {
              case d: org.apache.spark.sql.types.Decimal => d.toFloat
              case n: java.lang.Number => n.floatValue()
              case other => throw new IllegalArgumentException(
                s"graft_ivf_search: non-numeric vector element $other")
            }
            graft.queries.LlmSimilarity.ivfSearchVector(
              spark, dir, vec, intAt(2, 4), intAt(3, 5))
              .queryExecution.analyzed
          case _: org.apache.spark.sql.types.StringType =>
            val t = strAt(1)
            val queries =
              if (t.contains("/")) spark.read.parquet(t) else spark.table(t)
            graft.queries.LlmSimilarity.ivfSearch(
              spark, dir, queries, intAt(2, 4), intAt(3, 5))
              .queryExecution.analyzed
          case other => throw new IllegalArgumentException(
            "graft_ivf_search: the second argument must be an array literal " +
              s"(one probe vector) or a string (query table/path), got $other")
        }
      }))
    // SHOW VIEWS for graft catalogs (Spark's own SHOW VIEWS is a
    // session-catalog v1 command and cannot route here):
    //   SELECT * FROM graft_views('<warehouse dir>')
    // — one row per durable view under the warehouse (namespace, view
    // name, stored SELECT), from the marker files alone (driver-side
    // two-level listing, no table reads).
    ext.injectTableFunction((
      FunctionIdentifier("graft_views"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_views"),
      (args: Seq[Expression]) => {
        require(args.size == 1 && args.head.foldable,
          "graft_views(warehouseDir) takes one literal warehouse path")
        val wh = args.head.eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => String.valueOf(other)
        }
        val spark = org.apache.spark.sql.SparkSession.active
        val root = new org.apache.hadoop.fs.Path(wh)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val views =
          if (!fs.exists(root)) Seq.empty
          else fs.listStatus(root).filter(_.isDirectory).map(_.getPath).toSeq
            .flatMap { ns =>
              fs.listStatus(ns).filter(_.isDirectory).map(_.getPath).toSeq
                .flatMap { d =>
                  graft.sql.GraftViews.loadSql(spark, d.toString)
                    .map(sql => (ns.getName, d.getName, sql))
                }
            }
        import org.apache.spark.sql.catalyst.expressions.AttributeReference
        import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        import org.apache.spark.sql.types.StringType
        val out = Seq(
          AttributeReference("namespace", StringType, nullable = false)(),
          AttributeReference("view", StringType, nullable = false)(),
          AttributeReference("sql", StringType, nullable = false)())
        LocalRelation.fromExternalRows(out,
          views.sortBy(v => (v._1, v._2)).map(v =>
            org.apache.spark.sql.Row(v._1, v._2, v._3)))
      }))
    // SHOW MATERIALIZED VIEWS with STALENESS (r17): an operator of a
    // 100-table lakehouse needs to see what is stale before trusting a
    // read. One row per stored MV spec under the warehouse:
    //   SELECT * FROM graft_materialized_views('<warehouse dir>')
    // refreshed_source_version = the view's fact cursor (the source
    // version the last refresh applied), source_head = the source's
    // current version, stale = head ahead of a cursor (fact or any
    // dimension) at THIS level — a cascade's transitive staleness is
    // read off the source view's own row. Driver-side manifest reads
    // only (cursors are txn markers, heads are manifest pointers) —
    // zero jobs, zero data-file IO.
    ext.injectTableFunction((
      FunctionIdentifier("graft_materialized_views"),
      new ExpressionInfo(classOf[GraftExtensions].getName,
        "graft_materialized_views"),
      (args: Seq[Expression]) => {
        require(args.size == 1 && args.head.foldable,
          "graft_materialized_views(warehouseDir) takes one literal warehouse path")
        val wh = args.head.eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => String.valueOf(other)
        }
        val spark = org.apache.spark.sql.SparkSession.active
        val root = new org.apache.hadoop.fs.Path(wh)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val rows =
          if (!fs.exists(root)) Seq.empty
          else for {
            ns <- fs.listStatus(root).filter(_.isDirectory).map(_.getPath).toSeq
            d <- fs.listStatus(ns).filter(_.isDirectory).map(_.getPath).toSeq
            vt = graft.ecom.VersionedTable(spark, d.toString)
            spec <- scala.util.Try(graft.ops.MvSpec.load(vt)).toOption.flatten
          } yield {
            val src = graft.ecom.VersionedTable(spark, spec.source)
            val srcHead = src.currentVersion()
            val cursor = vt.currentBatchId(
              graft.ops.IncrementalAgg.appFor(src))
            val dimStates = spec.dims.map { dim =>
              val dt = graft.ecom.VersionedTable(spark, dim.source)
              (dim.source, vt.currentBatchId(dim.app), dt.currentVersion())
            }
            val stale = srcHead.exists(h => cursor.forall(_ < h)) ||
              dimStates.exists { case (_, cur, head) =>
                head.exists(h => cur.forall(_ < h)) }
            org.apache.spark.sql.Row(
              ns.getName, d.getName, spec.source,
              cursor.map(Long.box).orNull, srcHead.map(Long.box).orNull,
              stale,
              dimStates.map { case (p, cur, head) =>
                s"$p@${cur.getOrElse("-")}/${head.getOrElse("-")}"
              }.mkString(";"))
          }
        import org.apache.spark.sql.catalyst.expressions.AttributeReference
        import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
        import org.apache.spark.sql.types.{BooleanType, LongType, StringType}
        val out = Seq(
          AttributeReference("namespace", StringType, nullable = false)(),
          AttributeReference("view", StringType, nullable = false)(),
          AttributeReference("source", StringType, nullable = false)(),
          AttributeReference("refreshed_source_version", LongType,
            nullable = true)(),
          AttributeReference("source_head", LongType, nullable = true)(),
          AttributeReference("stale", BooleanType, nullable = false)(),
          AttributeReference("dims", StringType, nullable = false)())
        LocalRelation.fromExternalRows(out,
          rows.sortBy(r => (r.getString(0), r.getString(1))))
      }))
    ext.injectTableFunction((
      FunctionIdentifier("graft_cluster_index"),
      new ExpressionInfo(classOf[GraftExtensions].getName, "graft_cluster_index"),
      (args: Seq[Expression]) => {
        require(args.size == 1 && args.head.foldable,
          "graft_cluster_index(artifactDir) takes one literal artifact path")
        val dir = args.head.eval() match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case other => String.valueOf(other)
        }
        graft.queries.LlmDedup.readClusterIndex(
          org.apache.spark.sql.SparkSession.active, dir)
          .queryExecution.analyzed
      }))
  }
}
