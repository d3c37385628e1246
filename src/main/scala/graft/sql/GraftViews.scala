package graft.sql

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Durable SQL VIEW storage for graft catalogs — the thin declarative
  * layer the reference's gold compose needs on top of materialized
  * views: `product_metrics` is a FULL OUTER join of two maintained
  * aggregates plus dimension joins (`03_gold/03_gold_aggregate.py:
  * 78-92`) — not itself a maintainable aggregate, but trivially a VIEW
  * over two MVs, re-planned at read so it is always exactly as fresh as
  * the aggregates under it.
  *
  * Spark 4.1 ships the `ViewCatalog` DSv2 interface but neither plans
  * `CREATE VIEW` against it nor resolves reads through `loadView`
  * (verified against the spark-catalyst/spark-sql jars: no analyzer
  * rule references it), so — like Iceberg — the engine carries its own
  * small surface: [[GraftSqlParser]] intercepts `CREATE [OR REPLACE]
  * VIEW` / `DROP VIEW` ONLY for identifiers whose head names a
  * registered [[GraftCatalog]] (everything else delegates untouched),
  * and [[GraftViewRule]] substitutes reads.
  *
  * A view is a directory in the catalog's warehouse holding ONE
  * marker file (`_graft_view`, JSON `{"sql": ...}`), written via
  * temp-file + rename so a crash never leaves a half-written
  * definition readable. The stored text is the SELECT exactly as
  * typed — Databricks' "unbound view" semantics: re-parsed and
  * re-analyzed per read, so schema changes in the underlying tables
  * flow through (and errors surface at read, as they do there).
  */
object GraftViews {

  val MarkerFile: String = "_graft_view"

  private def mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m
  }

  def markerPath(dir: String): Path = new Path(dir, MarkerFile)

  def isViewDir(spark: SparkSession, dir: String): Boolean = {
    val p = markerPath(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Memoized marker lookups for the analyzer hot path: [[GraftViewRule]]
    * probes every UnresolvedRelation on every analyzer iteration, and an
    * unmemoized probe costs a filesystem round-trip per table read per
    * iteration — noticeable on object-store warehouses. Entries
    * invalidate immediately on [[store]]/[[drop]] in this JVM and expire
    * after [[CacheTtlMs]] so an out-of-band writer's CREATE/DROP is
    * picked up within one TTL.
    */
  private val sqlCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Option[String])]()
  private[sql] val CacheTtlMs: Long = 30000L

  /** [[loadSql]] through the TTL cache — the read-path entry. */
  def cachedSql(spark: SparkSession, dir: String): Option[String] = {
    val now = System.currentTimeMillis()
    val hit = sqlCache.get(dir)
    if (hit != null && now - hit._1 < CacheTtlMs) hit._2
    else {
      val v = loadSql(spark, dir)
      sqlCache.put(dir, (now, v))
      v
    }
  }

  /** The stored SELECT text, if `dir` is a view directory. */
  def loadSql(spark: SparkSession, dir: String): Option[String] = {
    val p = markerPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val node = mapper.readTree(in)
        Some(node.get("sql").asText())
      } finally in.close()
    }
  }

  /** Persist (or replace) the view definition — temp write + rename so
    * the marker is never readable half-written.
    */
  def store(spark: SparkSession, dir: String, sql: String): Unit = {
    val p = markerPath(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(dir))
    val tmp = new Path(dir, s"$MarkerFile.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try {
      val node = mapper.createObjectNode()
      node.put("sql", sql)
      out.write(mapper.writeValueAsBytes(node))
    } finally out.close()
    // Publish with an OVERWRITE-capable rename: the delete-then-rename
    // sequence had a window (crash after the delete, or a concurrent
    // reader between the two calls) where CREATE OR REPLACE lost the
    // existing definition / read "view not found". FileContext renames
    // atomically over the old marker where the filesystem supports it.
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        p.toUri, spark.sparkContext.hadoopConfiguration)
      fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        // no FileContext binding (rare object-store shims): the old
        // two-step fallback — the marker is still never HALF-written,
        // only the replace loses atomicity
        if (fs.exists(p)) fs.delete(p, false)
        if (!fs.rename(tmp, p))
          throw new IllegalStateException(s"could not publish view marker $p")
    }
    sqlCache.put(dir, (System.currentTimeMillis(), Some(sql)))
  }

  def drop(spark: SparkSession, dir: String): Boolean = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dropped = isViewDir(spark, dir) && fs.delete(p, true)
    sqlCache.remove(dir)
    dropped
  }

  /** Resolve `parts` to a graft-catalog view directory, when the head
    * names a registered [[GraftCatalog]] (explicitly or as the session's
    * current catalog) and the directory carries a view marker.
    */
  def viewDirOf(spark: SparkSession, parts: Seq[String]): Option[String] =
    scala.util.Try {
      val (cat, ident) = MvDdl.resolve(spark, parts)
      cat.dirOf(ident)
    }.toOption.filter(cachedSql(spark, _).isDefined)

  /** Every view directory the SELECT text references, transitively
    * through stored view definitions — the CREATE-time cycle walk:
    * creating (or replacing) a view whose transitive reference set
    * includes ITSELF would hang the analyzer's fixed point, so it
    * refuses here instead.
    */
  def referencedViews(spark: SparkSession, sql: String,
      visited: Set[String] = Set.empty): Set[String] = {
    val parsed = spark.sessionState.sqlParser.parsePlan(sql)
    val rels = parsed.collect {
      case r: org.apache.spark.sql.catalyst.analysis.UnresolvedRelation =>
        r.multipartIdentifier
    }
    rels.flatMap(viewDirOf(spark, _)).foldLeft(visited) { (seen, dir) =>
      if (seen.contains(dir)) seen
      else cachedSql(spark, dir) match {
        case Some(s) => referencedViews(spark, s, seen + dir)
        case None => seen + dir
      }
    }
  }
}

/** Analyzer resolution rule (injected by `GraftExtensions`):
  * substitutes a read of a graft-catalog VIEW with its stored SELECT,
  * re-parsed through the session parser and wrapped in a
  * `SubqueryAlias` — nested views resolve on subsequent analyzer
  * iterations (cycles are refused at CREATE). Write/DML targets are
  * deliberately NOT substituted: writing into a view fails resolution
  * with the standard not-found error instead of a confusing plan.
  */
case class GraftViewRule(spark: SparkSession)
    extends org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan] {

  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
  import org.apache.spark.sql.catalyst.plans.logical._

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val writeTargets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    plan.foreach {
      case i: InsertIntoStatement => writeTargets.add(i.table): Unit
      case d: DeleteFromTable => writeTargets.add(d.table): Unit
      case u: UpdateTable => writeTargets.add(u.table): Unit
      case m: MergeIntoTable => writeTargets.add(m.targetTable): Unit
      case _ => ()
    }
    plan.resolveOperatorsUp {
      case r: UnresolvedRelation if !writeTargets.contains(r) &&
          !r.isStreaming && r.options.isEmpty =>
        GraftViews.viewDirOf(spark, r.multipartIdentifier)
          .flatMap(GraftViews.cachedSql(spark, _))
          .map { sql =>
            SubqueryAlias(r.multipartIdentifier.last,
              spark.sessionState.sqlParser.parsePlan(sql))
          }
          .getOrElse(r)
    }
  }
}
