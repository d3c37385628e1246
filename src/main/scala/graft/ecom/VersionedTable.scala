package graft.ecom

import java.nio.charset.StandardCharsets
import java.util.UUID

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{array, broadcast, coalesce, col, explode, expr, input_file_name, lit, max, min, not, regexp_extract, struct, sum, unix_date, unix_micros, when}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DateType, IntegerType, LongType, ShortType, StringType, StructField, StructType, TimestampType}

/** Minimal versioned parquet+manifest table format — the observable
  * Delta-Lake semantics the reference claims (`README.md:10` "ACID
  * transactions, schema enforcement"; every notebook writes
  * `format("delta")`, `01_bronze/01_bronze_ingest.py:34`) rebuilt on
  * plain parquet plus an atomically-committed manifest, because the
  * sandbox ships no Delta/Iceberg jars. Layout:
  *
  * {{{
  *   <tableDir>/_graft_log/v00000001.manifest   # one per committed version
  *   <tableDir>/data/c-<uuid>/...               # one immutable dir per commit
  * }}}
  *
  * A manifest is self-contained: header + schema JSON + the FULL list of
  * data files visible at that version (no log replay, no checkpoint
  * needed). The commit protocol gives the Delta properties users
  * actually observe:
  *
  *  - '''Atomic publish''': data files land in a fresh `data/c-<uuid>/`
  *    dir that no manifest references, then the new manifest is
  *    published by a single atomic `rename` into the log. A crash (or
  *    rename refusal) anywhere before that rename leaves the previous
  *    version live and the half-written files invisible — pinned by
  *    VersionedTableSpec on a rename-refusing filesystem, extending
  *    CompactFaultSpec's harness.
  *  - '''Snapshot isolation''': readers resolve a manifest's explicit
  *    file list at plan time; commits never mutate or delete existing
  *    commit dirs (only [[vacuum]] does, explicitly), so a DataFrame
  *    pinned before a concurrent overwrite keeps reading its snapshot.
  *  - '''Time travel''': [[readAt]] replays any retained version
  *    byte-identically, because data files are immutable. [[history]]
  *    is the DESCRIBE HISTORY view: per-version operation name, batch
  *    id, file count.
  *  - '''Schema enforcement + evolution''': [[commitAppend]] REJECTS a
  *    batch whose columns exist in the table under a different type
  *    (Delta's enforcement) and ADDS genuinely new columns to the table
  *    schema (Delta's additive `mergeSchema`); older files read back
  *    with the new columns null-filled.
  *  - '''Row-level writes''' (copy-on-write): [[delete]] / [[update]] /
  *    [[merge]] rewrite ONLY the files that contain affected rows —
  *    discovered with one distributed scan — and carry every untouched
  *    file forward unchanged into the new version. At 100 TB a point
  *    delete rewrites a handful of files, not the table.
  *  - '''Deletion vectors''' (merge-on-read, Delta's DV feature):
  *    [[deleteMoR]] records matching rows' (file, row-position)
  *    coordinates in a parquet sidecar instead of rewriting anything —
  *    a wide-but-sparse delete (GDPR erasure across the whole table)
  *    costs one scan plus a tiny sidecar. Readers apply active DVs as
  *    an anti-join on `_metadata.row_index`; [[purgeDeletes]] (Delta's
  *    `REORG ... APPLY (PURGE)`) folds them back into the files.
  *  - '''Optimistic concurrency''': append/overwrite retry blind (they
  *    commute with any winner); the row-level ops and [[optimize]]
  *    compute a file set against a base version and throw
  *    `ConcurrentModificationException` if another writer lands first,
  *    exactly Delta's conflict-detection contract.
  *  - '''Data skipping''': with `statsColumns` set, each commit records
  *    per-file [min, max] for those (integral) columns in the manifest,
  *    and [[readRange]] prunes whole files whose range cannot match —
  *    Delta's file-statistics skipping on the manifest layer. Stats are
  *    advisory: a file without them is read conservatively, and the
  *    exact predicate is always applied on top. Pair with
  *    [[graft.ops.ZOrder]] clustering so BOTH dimensions of a
  *    two-column workload prune (multi-dimensional skipping). With
  *    `bloomColumns` set, commits also record a per-file bloom filter
  *    and [[readPoint]] prunes equality lookups on high-cardinality
  *    columns that min/max can never skip (Delta's bloom indexes).
  *  - '''Column mapping''' (Delta's rename/drop without rewrite):
  *    [[renameColumn]] / [[dropColumn]] are metadata-only — files keep
  *    physical names, reads alias them back, tombstones prevent a new
  *    column from resurrecting orphaned data.
  *  - '''CHECK constraints''' (Delta's `ADD CONSTRAINT`):
  *    [[addCheckConstraint]] verifies existing rows then enforces the
  *    expression on every future row-introducing commit — a violating
  *    batch aborts before any manifest references it.
  *  - '''Generated columns''': [[addGeneratedColumn]] declares a column
  *    derived from an expression — computed when a batch omits it,
  *    verified when a batch carries it, recomputed by UPDATE.
  *  - '''Incremental consumption''': [[readChangesSince]] returns the
  *    rows of files ADDED after a version — for an append-only history
  *    this is exactly the insert change-feed, so a downstream job
  *    processes each batch once instead of rescanning the table.
  *
  * Concurrent writers use optimistic concurrency exactly like Delta's
  * log: both compute `next = current + 1` and publish through ONE
  * atomic no-overwrite primitive (POSIX `link(2)` on local filesystems
  * — local `rename(2)` clobbers — and contract `rename` on HDFS-style
  * ones; see `publishManifest`); the loser re-reads the log and retries
  * (appends) or aborts (row-level ops). At 100 TB the manifest
  * is O(files) — the same cost Delta pays in its JSON log — and
  * data-file IO is all bulk parquet; the log path touches only tiny
  * manifest files.
  *
  * One sink style per table: the plain [[Lakehouse.write]] overwrite
  * deletes the whole table dir, log included — pick versioned OR plain
  * for a given table, not both.
  */
final case class VersionedTable(
    spark: SparkSession,
    tableDir: String,
    format: String = "parquet",
    partitionCol: Option[String] = None,
    statsColumns: Seq[String] = Nil,
    bloomColumns: Seq[String] = Nil,
    bloomBits: Int = 1 << 16,
    bloomHashes: Int = 5) {

  import VersionedTable.VersionInfo

  private val logDir = s"$tableDir/_graft_log"
  private def fs: FileSystem =
    new Path(tableDir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val ManifestRe = "^v(\\d{8})\\.manifest$".r
  private def manifestPath(version: Long): Path =
    new Path(logDir, f"v$version%08d.manifest")
  // a self-contained snapshot of a version whose manifest is (or whose
  // chain contains) a delta — written at vacuum time so retained
  // versions stay resolvable after their chain prefix is deleted.
  // Readers PREFER it (it short-circuits the chain walk); versions()
  // never lists it (not a version of its own).
  private def ckptPath(version: Long): Path =
    new Path(logDir, f"v$version%08d.ckpt")

  private type FileStats = Map[String, Map[String, (Long, Long)]]
  // per-file per-column bloom: (probe count k, filter bits)
  private type FileBlooms = Map[String, Map[String, (Int, Array[Long])]]
  // per-file (length bytes, modification time ms) — recorded at commit
  // time like Delta's AddFile size/modificationTime, so planning never
  // needs a per-file filesystem stat
  private type FileSizes = Map[String, (Long, Long)]

  /** All retained versions, ascending. */
  def versions(): Seq[Long] = {
    val dir = new Path(logDir)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
      case ManifestRe(n) => Some(n.toLong)
      case _ => None
    }).sorted
  }

  def currentVersion(): Option[Long] = versions().lastOption

  /** The DESCRIBE HISTORY view: one row per retained version — the
    * operation that produced it, its streaming batch id (if any), how
    * many data files it references, and the commit wall-clock (the
    * manifest file's modification time; good enough for audit display,
    * never used for correctness).
    */
  def history(): Seq[VersionInfo] = {
    // ONE directory listing supplies both the version set and every
    // manifest's mtime (per-version getFileStatus round-trips would
    // dominate the sequential resolution below on an object store)
    val dir = new Path(logDir)
    if (!fs.exists(dir)) return Seq.empty
    val statuses = fs.listStatus(dir).toSeq.flatMap(st => st.getPath.getName match {
      case ManifestRe(n) => Some(n.toLong -> st.getModificationTime)
      case _ => None
    }).sortBy(_._1)
    // per-version file churn (Delta's operationMetrics): most versions
    // are DELTA manifests whose addfile/rmfile actions ARE the churn —
    // O(changed files) per version, no full file-set diff. Only full
    // manifests (v1, every CheckpointInterval-th, checkpointed gap
    // heads) diff against the predecessor's resolved set — O(files)
    // once per interval, not per version. The first RETAINED version
    // after a vacuumed prefix reports all its files as added (no
    // predecessor), as before.
    var prev: Option[(Long, Manifest)] = None
    statuses.map { case (v, mtime) =>
      val (m, added, removed) =
        (try parseStored(v) catch { case _: MissingManifest => FullForm(readManifest(v)) }) match {
          case f: DeltaForm if prev.exists(_._1 == f.base) =>
            (applyDelta(prev.get._2, f), f.d.files.size, f.rm.size)
          case stored =>
            val m = stored match {
              case FullForm(fm) => fm
              case _: DeltaForm => readManifest(v) // gap: full resolve
            }
            val prevFiles = prev.fold(Set.empty[String])(_._2.files.toSet)
            val cur = m.files.toSet
            (m, (cur -- prevFiles).size, (prevFiles -- cur).size)
        }
      prev = Some(v -> m)
      VersionInfo(v, m.op, m.txns.get(VersionedTable.DefaultApp),
        m.files.size, mtime, m.dv.size,
        numAddedFiles = added, numRemovedFiles = removed)
    }
  }

  /** Resolve an ASCENDING version run with one manifest read per
    * version: each delta applies over the previously resolved manifest
    * (its base is always the predecessor), falling back to the full
    * chain resolver across gaps — O(V) reads instead of O(V × chain).
    */
  private def resolveSequentially(vs: Seq[Long]): Seq[(Long, Manifest)] = {
    var prev: Option[(Long, Manifest)] = None
    vs.map { v =>
      val m =
        try parseStored(v) match {
          case FullForm(fm) => fm
          case f: DeltaForm if prev.exists(_._1 == f.base) => applyDelta(prev.get._2, f)
          case _: DeltaForm => readManifest(v) // gap (vacuumed prefix): full resolve
        }
        catch { case _: MissingManifest => readManifest(v) }
      prev = Some(v -> m)
      v -> m
    }
  }

  /** Commit `df` as a new version that REPLACES the table contents. */
  def commitOverwrite(df: DataFrame): Long =
    commit(df, replace = true, txn = None)

  /** Commit `df` as a new version that APPENDS to the current contents,
    * under Delta's schema contract: a column already in the table must
    * arrive with the SAME type (enforcement — violation throws, nothing
    * is committed), a genuinely new column extends the table schema
    * (additive evolution), and a column the batch omits stays in the
    * schema with the old files' values and nulls for the new rows.
    */
  def commitAppend(df: DataFrame): Long =
    commit(df, replace = false, txn = None)

  /** The streaming-sink commit: append `df` as the version for micro-
    * batch `batchId` under writer namespace `app`, EXACTLY ONCE — if
    * the current manifest already records `batchId` for `app` (a
    * foreachBatch replay after a crash between commit and checkpoint
    * advance), nothing is written and None returns. Markers are
    * PER-APP, like Delta's transaction appId map: two independent
    * exactly-once writers (a stream and a [[VersionedPipe]], or two
    * streams) on one table cannot clobber each other's replay
    * detection. Concurrency: the publish CAS re-checks the app's
    * marker — an identical (app, batchId) landed by a racing twin
    * makes this commit an idempotent no-op, and a marker that moved to
    * a DIFFERENT value raises ConcurrentModificationException (the
    * caller's window math is stale; recompute and retry). A crash
    * mid-commit (files written, manifest not renamed) leaves the batch
    * unrecorded and the replay re-commits, with the half-written files
    * invisible until vacuum.
    */
  def commitAppendBatch(df: DataFrame, batchId: Long,
      app: String = VersionedTable.DefaultApp): Option[Long] = {
    require(app.nonEmpty && !app.exists(c => c == '\t' || c == '\n'),
      s"app name must be non-empty and tab/newline-free: '$app'")
    // monotone, like Delta's SetTransaction check: any batch at or
    // below the recorded high-water mark already committed (foreachBatch
    // ids only grow; a crash can replay a strict prefix tail)
    if (currentBatchId(app).exists(_ >= batchId)) None
    else Some(commit(df, replace = false, txn = Some((app, batchId))))
  }

  /** The micro-batch id recorded for writer `app` by the newest
    * version (committed through [[commitAppendBatch]] and carried by
    * every later commit).
    */
  def currentBatchId(app: String = VersionedTable.DefaultApp): Option[Long] =
    currentVersion().flatMap(v => readManifest(v).txns.get(app))

  /** Delta's append-side schema contract: shared columns must type-match
    * (enforcement), new columns extend the schema at the end (additive
    * evolution). Compared on `catalogString` — structural type identity,
    * ignoring nullability flags, which parquet round-trips loosely.
    */
  private def mergeAppendSchema(current: StructType, incoming: StructType): StructType = {
    incoming.fields.foreach { f =>
      // names match CASE-INSENSITIVELY, as Spark resolves them: a
      // case-variant duplicate would pass a case-sensitive check, then
      // unionByName would merge it with the existing column while the
      // schema select null-fills the variant — silent data corruption
      current.fields.find(_.name.equalsIgnoreCase(f.name)).foreach { cf =>
        require(cf.name == f.name,
          s"schema enforcement: appended column ${f.name} differs only in " +
            s"case from existing column ${cf.name} — Spark resolves names " +
            "case-insensitively; use the exact existing spelling")
        require(cf.dataType.catalogString == f.dataType.catalogString,
          s"schema enforcement: column ${f.name} is ${cf.dataType.simpleString} " +
            s"in the table but ${f.dataType.simpleString} in the appended batch — " +
            "appends may add columns, never change a column's type " +
            "(use commitOverwrite to rewrite the table under a new schema)")
      }
    }
    val have = current.fieldNames.map(_.toLowerCase).toSet
    StructType(current.fields ++ incoming.fields.filterNot(f => have(f.name.toLowerCase)))
  }

  private def commit(df: DataFrame, replace: Boolean, txn: Option[(String, Long)]): Long = {
    fs.mkdirs(new Path(logDir))
    val entryM = currentVersion().map(readManifest)
    // generated columns the batch OMITS are computed here (Delta's
    // write-path generation); ones the batch carries are verified
    // against their expression after landing, below
    val entryGen = entryM.fold(Map.empty[String, String])(_.generated)
    val toCompute = entryGen.filterNot { case (g, _) => df.columns.contains(g) }
    // a computed rule may reference a table column the batch ALSO omits
    // (legal — omitted columns null-fill at read time): extend the batch
    // with typed nulls for those references so generation computes the
    // same null result readers would derive, instead of failing analysis
    val needed = toCompute.values.flatMap(e =>
      spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }).toSet
    // an OVERWRITE defines the table's new schema: silently injecting
    // old-schema source columns (as nulls) to satisfy a generated rule
    // would pollute the replacement schema the caller never asked for —
    // refuse instead, like the other metadata-op restrictions
    if (replace)
      needed.filterNot(df.columns.contains) match {
        case missing if missing.nonEmpty => throw new IllegalArgumentException(
          s"overwrite batch omits column(s) ${missing.mkString(", ")} that " +
            "generated rules derive from — carry the columns or drop the " +
            "rules first (dropGeneratedColumn)")
        case _ => ()
      }
    val dfExt =
      if (replace) df
      else entryM.fold(df) { pm =>
        needed.filterNot(df.columns.contains).foldLeft(df) { (d, c) =>
          pm.schema.fields.find(_.name == c)
            .fold(d)(f => d.withColumn(c, lit(null).cast(f.dataType)))
        }
      }
    val withGen = toCompute.foldLeft(dfExt) { case (d, (g, e)) =>
      val declared = entryM.flatMap(_.schema.fields.find(_.name == g).map(_.dataType))
      declared.fold(d.withColumn(g, expr(e)))(t => d.withColumn(g, expr(e).cast(t)))
    }
    // schema enforcement must fail BEFORE any files land: check against
    // the version current at entry (append retries re-check fresh prevs)
    if (!replace) entryM.foreach { pm =>
      mergeAppendSchema(pm.schema, withGen.schema): Unit
      guardNewColumns(pm, withGen.schema)
    }
    // appends write through the table's column mapping (files store
    // physical names); an overwrite REPLACES the schema, so mapping and
    // tombstones reset with it (identity names for the fresh content)
    val entryColmap =
      if (replace) Map.empty[String, String]
      else entryM.fold(Map.empty[String, String])(_.colmap)
    // 1. write the data files into a commit dir no manifest references —
    //    invisible to every reader until the manifest rename publishes it
    val (commitRel, newFiles, newStats, newBlooms, newSizes) =
      writeDataFiles(withGen, entryColmap)
    // CHECK-constraint + generated-equality enforcement on what LANDED,
    // read back through the merged schema (an omitted evolving column
    // null-fills, exactly as readers will see it); a violation aborts
    // with the files still invisible. Pinned at entry like the schema
    // check. Generated columns the batch carried must match their
    // expression (null-safe equality); computed ones match by
    // construction and are skipped. All checks fuse into ONE pass.
    entryM.foreach { pm =>
      val genChecks = entryGen.filter { case (g, _) => df.columns.contains(g) }
        .map { case (g, e) => s"generated $g" -> s"$g <=> ($e)" }
      val checks = pm.constraints ++ genChecks
      if (checks.nonEmpty) {
        val sch = if (replace) withGen.schema else mergeAppendSchema(pm.schema, withGen.schema)
        enforceConstraints(checks, loadFiles(sch, newFiles, colmap = entryColmap),
          if (replace) "the overwrite batch" else "the appended batch")
      }
    }
    // metadata fingerprint pinned at entry: constraint enforcement, the
    // generated-rule computation, guardNewColumns, and the colmap the
    // files were WRITTEN under all used the entry manifest. A competing
    // DATA commit commutes with this append/overwrite (schema evolution
    // included — the loop re-merges against each fresh prev), but a
    // competing METADATA op (constraints, generated rules, column
    // mapping, drops) invalidates those entry-pinned checks — surface
    // it as a write conflict, exactly as Delta's protocol does.
    def metaOf(om: Option[Manifest]) = om.fold(
      (Map.empty[String, String], Map.empty[String, String],
        Map.empty[String, String], Seq.empty[String],
        Map.empty[String, String]))(mm =>
      (mm.constraints, mm.generated, mm.colmap, mm.droppedPhys, mm.props))
    val entryMeta = metaOf(entryM)
    // 2. CAS publish loop: losing a race surfaces as rename->false (the
    //    destination version already exists); re-read the log and retry
    //    one version higher. A rename refused for any OTHER reason also
    //    retries, then aborts with the previous version still live.
    var attempt = 0
    while (true) {
      val prev = currentVersion()
      val next = prev.getOrElse(0L) + 1
      val prevM = prev.map(readManifest)
      if (metaOf(prevM) != entryMeta)
        throw new java.util.ConcurrentModificationException(
          s"table metadata (constraints/generated/column mapping) changed " +
            s"concurrently while committing this batch — retry the operation " +
            s"(uncommitted files at $commitRel are invisible; vacuum reclaims them)")
      // exactly-once under RACING twins: if our app's marker moved since
      // entry, another writer committed a batch for this app. Identical
      // id -> the same logical batch already landed, drop ours
      // idempotently (two schedulers firing the same VersionedPipe
      // window); different id -> our window math is stale, conflict.
      txn.foreach { case (app, id) =>
        val cur = prevM.flatMap(_.txns.get(app))
        if (cur != entryM.flatMap(_.txns.get(app))) {
          if (cur.contains(id)) return prev.get
          throw new java.util.ConcurrentModificationException(
            s"transaction marker for app '$app' advanced to ${cur.fold("(none)")(_.toString)} " +
              s"while committing batch $id — recompute the batch window and retry " +
              s"(uncommitted files at $commitRel are invisible; vacuum reclaims them)")
        }
      }
      val carriedM = if (replace) None else prevM
      val carried = carriedM.fold(Seq.empty[String])(_.files)
      val carriedStats = carriedM.fold(Map.empty: FileStats)(_.stats)
      val carriedSizes = carriedM.fold(Map.empty: FileSizes)(_.sizes)
      val carriedRef = carriedM.flatMap(_.statsRef)
      // appends keep prior deletion vectors active (deleted rows stay
      // deleted; new files are untouched by old positions); overwrite
      // replaces the content wholesale, so DVs reset with it
      val carriedDv = carriedM.fold(Seq.empty[String])(_.dv)
      val carriedBlooms = carriedM.fold(Map.empty: FileBlooms)(_.blooms)
      // CHECK constraints survive an overwrite (Delta: table metadata,
      // not data) — read them from prev even when replace drops files
      val cons = prevM.fold(Map.empty[String, String])(_.constraints)
      // column mapping + tombstones follow the files: carried on append,
      // reset by overwrite (whose batch was written with identity names)
      val colmap = carriedM.fold(Map.empty[String, String])(_.colmap)
      val dropped = carriedM.fold(Seq.empty[String])(_.droppedPhys)
      // generated-column rules are table metadata like constraints:
      // they survive an overwrite
      val gen = prevM.fold(Map.empty[String, String])(_.generated)
      // nested nullability normalizes LOOSE before the schema enters the
      // manifest: file relations always present array elements / map
      // values / struct fields as nullable on read-back, so recording a
      // batch's tight flags (collect_list's containsNull=false) would
      // pin a schema no reader can cast to
      val schema = VersionedTable.looseNested(
        carriedM.fold(withGen.schema)(m => mergeAppendSchema(m.schema, withGen.schema)))
      val op = if (replace) "overwrite" else "append"
      // transaction markers are the exactly-once checkpoints for the
      // streaming sink and VersionedPipe, one slot per writer app: a
      // plain commit CARRIES every previous marker (erasing one would
      // let a crashed micro-batch replay as a duplicate after any
      // maintenance commit), and this commit's own marker lands in its
      // app's slot
      val txnsOut = prevM.fold(Map.empty[String, Long])(_.txns) ++ txn.toMap
      // table properties are metadata like constraints: survive overwrite
      val propsOut = prevM.fold(Map.empty[String, String])(_.props)
      val tmp = new Path(logDir, s".tmp-${UUID.randomUUID()}")
      val outM = Manifest(schema, op, txnsOut, carried ++ newFiles,
        carriedStats ++ newStats, carriedDv, carriedBlooms ++ newBlooms, cons,
        colmap, dropped, gen, carriedSizes ++ newSizes, carriedRef, propsOut)
      writeManifest(tmp, outM, next, prev.flatMap(v => prevM.map(v -> _)))
      publishManifest(tmp, manifestPath(next)) match {
        case Landed =>
          maybeAutoCompact(outM)
          return next
        // a lost CAS is NOT a fault: another writer landed (global
        // progress — livelock-free), so loop unbudgeted with a fresh
        // prev; only genuine filesystem refusals count toward abort
        case Lost => ()
        case Refused =>
          attempt += 1
          require(attempt < 20,
            s"could not publish version after $attempt attempts — " +
              s"previous snapshot ${prev.fold("(none)")(v => s"v$v")} is still live; " +
              s"uncommitted files left invisible at $commitRel (vacuum reclaims them)")
      }
    }
    -1L // unreachable
  }

  // ---- row-level copy-on-write ops ------------------------------------

  /** DELETE: remove the rows where `predicate` is TRUE (null keeps the
    * row, Delta/SQL semantics), rewriting ONLY the files that contain a
    * matching row. Discovery is one distributed scan of the snapshot
    * grouped by `input_file_name`; the driver holds file NAMES (O(files)
    * metadata, the same order Delta's log carries), never rows. Files
    * with no match are carried forward untouched — at 100 TB a
    * predicate localized by clustering rewrites a few files, not the
    * table. Returns the new version, or the CURRENT version unchanged
    * if nothing matched (no empty commits). Throws
    * `ConcurrentModificationException` if another writer commits
    * between the scan and the publish.
    */
  def delete(predicate: Column): Long = {
    val (base, m) = baseSnapshot()
    deleteFrom(base, m, m.files, predicate)
  }

  /** DELETE restricted to `lo <= column <= hi`, with the file-discovery
    * scan itself pruned by the committed per-file stats: files whose
    * [min, max] cannot overlap the range are never even READ — the
    * write-path twin of [[readRange]]'s skipping (what Delta does by
    * analyzing the predicate against its log stats). On a table
    * clustered by [[graft.ops.ZOrder]], a point delete scans and
    * rewrites a handful of files out of thousands.
    */
  def deleteRange(column: String, lo: Long, hi: Long): Long = {
    val (base, m) = baseSnapshot()
    deleteFrom(base, m, pruneByStats(m, column, lo, hi),
      col(column) >= lo && col(column) <= hi)
  }

  /** The files of `m` whose committed [min, max] for `column` can
    * overlap [lo, hi] — files without stats are conservatively kept.
    * Shared by the read- and write-path skipping ([[readRangeAt]],
    * [[deleteRange]]) so the prune predicate cannot drift.
    */
  private def pruneByStats(m: Manifest, column: String, lo: Long, hi: Long): Seq[String] =
    m.files.filter { f =>
      m.stats.get(f).flatMap(_.get(column)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true // no stats: conservatively a candidate
      }
    }

  /** Candidate files for a MERGE — Delta's merge-condition file
    * skipping, derived from the SOURCE itself instead of a user
    * predicate. Two prunes compose, each conservative by default:
    *
    *  - '''key-range stats''': for every merge key that is integral/
    *    date/timestamp, one tiny aggregation computes the source's
    *    [min, max] (encoded exactly as the manifest stats are); files
    *    whose committed range for that key cannot overlap drop out — a
    *    file disjoint in ANY key column cannot hold a row whose EVERY
    *    key equals some source row's.
    *  - '''key-set blooms''': when the source's distinct non-null keys
    *    for a bloom-indexed key column number at most
    *    [[VersionedTable.MergeProbeCap]], each candidate file's bloom
    *    is probed with every key's hash pair (the build side's exact
    *    hash codepath); a file whose bloom rejects all of them cannot
    *    match — the string-PK upsert's skipping path, where min/max
    *    never prunes.
    *
    * Files without the metadata stay candidates (including
    * sidecar-spilled tables, whose in-manifest maps are empty — their
    * read-side pruning is the distributed [[graft.sql.StatsPrune]]
    * path; the merge prune is deliberately driver-local and O(files)).
    * Null source keys match nothing and never constrain. Zero cost
    * when no key column is indexed.
    */
  private def mergeCandidates(m: Manifest, keys: Seq[String], src: DataFrame): Seq[String] = {
    var cand = m.files
    if (cand.isEmpty) return cand
    val integral: Set[Any] = Set(LongType, IntegerType, ShortType, ByteType)
    def statLong(k: String, t: org.apache.spark.sql.types.DataType): Column =
      (t match {
        case DateType => unix_date(col(k).cast(DateType))
        case TimestampType => unix_micros(col(k).cast(TimestampType))
        case _ => col(k)
      }).cast(LongType)
    val statKeys = keys.flatMap(k => m.schema.fields.find(_.name == k)).filter(f =>
      (integral.contains(f.dataType) || f.dataType == DateType ||
        f.dataType == TimestampType) && m.stats.exists(_._2.contains(f.name)))
    if (statKeys.nonEmpty) {
      val aggs = statKeys.flatMap(f => Seq(
        min(statLong(f.name, f.dataType)), max(statLong(f.name, f.dataType))))
      val row = src.agg(aggs.head, aggs.tail: _*).head()
      statKeys.zipWithIndex.foreach { case (f, i) =>
        if (!row.isNullAt(2 * i)) {
          val (lo, hi) = (row.getLong(2 * i), row.getLong(2 * i + 1))
          cand = cand.filter { file =>
            m.stats.get(file).flatMap(_.get(f.name)) match {
              case Some((mn, mx)) => mx >= lo && mn <= hi
              case None => true
            }
          }
        }
      }
    }
    keys.filter(k => m.blooms.exists(_._2.contains(k))).foreach { k =>
      if (cand.nonEmpty) {
        val t = m.schema.fields.find(_.name == k).get.dataType
        val (h1c, h2c) = graft.util.BloomSketch.hashCols(col(k).cast(t))
        val hashes = src.filter(col(k).isNotNull)
          .select(h1c.as("h1"), h2c.as("h2")).distinct()
          .limit(VersionedTable.MergeProbeCap + 1).collect()
        if (hashes.nonEmpty && hashes.length <= VersionedTable.MergeProbeCap)
          cand = cand.filter { file =>
            m.blooms.get(file).flatMap(_.get(k)) match {
              case Some((kk, bits)) => hashes.exists(r =>
                graft.util.BloomSketch.mightContain(bits, kk,
                  r.getLong(0), r.getLong(1)))
              case None => true
            }
          }
      }
    }
    cand
  }

  /** MANIFEST-BLOOM disjointness gate: Some(true) ⟹ NO row of version
    * `version` shares a `keyCol` value with `src` (sound — provable
    * from the per-file blooms alone, zero data-file reads on THIS
    * table); Some(false) ⟹ a bloom hit (maybe a real match, maybe a
    * false positive — the caller runs its exact probe); None ⟹
    * undecidable (column not bloom-indexed on every file, or `src`
    * has more than `cap` distinct keys). The one job is the tiny
    * hash-pair collect over `src` — the IVM steady-wave gate's shape,
    * where `src` is a wave-sized change feed and this table is the
    * rollup that would otherwise be scanned.
    */
  def bloomDisjoint(version: Long, keyCol: String, src: DataFrame,
      cap: Int = VersionedTable.BroadcastKeyCap.toInt): Option[Boolean] = {
    val m = readManifest(version)
    if (m.files.isEmpty) return Some(true)
    val t = m.schema.fields.find(_.name.equalsIgnoreCase(keyCol))
      .getOrElse(return None).dataType
    if (!m.files.forall(f => m.blooms.get(f).exists(_.contains(keyCol))))
      return None
    val (h1c, h2c) = graft.util.BloomSketch.hashCols(col(keyCol).cast(t))
    val hashes = src.filter(col(keyCol).isNotNull)
      .select(h1c.as("h1"), h2c.as("h2")).distinct()
      .limit(cap + 1).collect()
    if (hashes.length > cap) return None
    Some(!m.files.exists { f =>
      val (kk, bits) = m.blooms(f)(keyCol)
      hashes.exists(r => graft.util.BloomSketch.mightContain(
        bits, kk, r.getLong(0), r.getLong(1)))
    })
  }

  private def deleteFrom(base: Long, m: Manifest, candidates: Seq[String],
      predicate: Column): Long = {
    val touched = touchedFiles(m, candidates, coalesce(predicate, lit(false)))
    if (touched.isEmpty) return base
    val survivors = snapshot(m, touched)
      .filter(not(coalesce(predicate, lit(false))))
    // change data feed: the deleted rows ARE the second scan's
    // complement — one extra pass over the touched files only, paid
    // only while the table property opts in (Delta's CDC write cost)
    val cdcFiles =
      if (!cdcEnabled(m)) Seq.empty
      else writeCdcFiles(snapshot(m, touched)
        .filter(coalesce(predicate, lit(false)))
        .withColumn(VersionedTable.CdcTypeCol, lit("delete")))
    publishCow("delete", base, m, touched.toSet, survivors, cdcFiles = cdcFiles)
  }

  /** DELETE, merge-on-read (Delta's deletion vectors): instead of
    * rewriting every file that contains a matching row ([[delete]]),
    * record the matches' (file, row-position) coordinates in a parquet
    * sidecar and publish a manifest referencing it — no data file is
    * touched, so a wide-but-sparse delete (GDPR erasure of one user
    * across a 100 TB table, where copy-on-write would rewrite nearly
    * every file) costs one scan plus a sidecar the size of the match.
    * Readers apply active DVs as an anti-join on
    * `_metadata.row_index`, the same stable coordinate Delta's DV
    * readers mask on; the write amplification moves to read time, and
    * [[purgeDeletes]] folds it back into the files when the overhead
    * accumulates. Same null-keeps-row predicate semantics, stats
    * conservatism (committed [min,max] stay valid — pruning never
    * resurrects a deleted row because the exact anti-join applies on
    * top), and conflict contract as [[delete]]; no-op (current version,
    * no commit) when nothing matches.
    */
  def deleteMoR(predicate: Column): Long = {
    val (base, m) = baseSnapshot()
    val fc = freshFileCol(m)
    val ic = freshPosCol(m, fc)
    // alive (DV-applied) rows matching the predicate → their coordinates
    val pairs = snapshot(m, m.files, Some(fc), Some(ic))
      .filter(coalesce(predicate, lit(false)))
      .select(col(fc).as("f"), col(ic).as("pos"))
    val commitRel = s"data/c-${UUID.randomUUID()}"
    val commitAbs = s"$tableDir/$commitRel"
    pairs.write.mode(SaveMode.ErrorIfExists).parquet(commitAbs)
    // read the sidecar back: an empty delete publishes nothing (the
    // orphan dir stays invisible until vacuum), and every recorded file
    // name must resolve against the manifest — the same path-encoding
    // tripwire the COW paths run through checkKnown, because a sidecar
    // addressing unknown names would SILENTLY leave rows visible
    val recorded = spark.read.schema("f STRING, pos BIGINT").parquet(commitAbs)
      .select(col("f")).distinct().collect().map(_.getString(0)).toSeq.sorted
    if (recorded.isEmpty) return base
    checkKnown(m, recorded)
    val dvFiles = listDataFiles(commitAbs).map(t => s"$commitRel/${t._1}")
    // change data feed: the soon-to-be-masked rows, re-read from the
    // recorded files only (a MoR delete has no rewrite scan to reuse)
    val cdcFiles =
      if (!cdcEnabled(m)) Seq.empty
      else writeCdcFiles(snapshot(m, recorded)
        .filter(coalesce(predicate, lit(false)))
        .withColumn(VersionedTable.CdcTypeCol, lit("delete")))
    publishAt(base, m, m.copy(op = "delete", dv = m.dv ++ dvFiles), commitRel,
      cdcFiles = cdcFiles)
  }

  /** Delta's `REORG TABLE ... APPLY (PURGE)`: fold every ACTIVE
    * deletion vector back into the data by rewriting only the files
    * that still have live DV entries, then drop the sidecars from the
    * manifest — restoring zero read-time overhead after a run of
    * [[deleteMoR]]s (pair with [[vacuum]] to reclaim the sidecar
    * bytes). Entries for files already rewritten by later COW ops are
    * inert; if only those remain, the purge is a metadata-only commit.
    * No-op when the manifest carries no DVs at all. Same conflict
    * contract as [[optimize]].
    */
  def purgeDeletes(): Long = {
    val (base, m) = baseSnapshot()
    if (m.dv.isEmpty) return base
    val fc = freshFileCol(m)
    val ic = freshPosCol(m, fc)
    // distinct file names in the sidecars: O(files) on the driver
    val dvd = dvEntries(m, fc, ic).select(col(fc)).distinct()
      .collect().map(_.getString(0)).toSet
    val touched = m.files.filter(dvd)
    if (touched.isEmpty)
      return publishAt(base, m, m.copy(op = "purge", dv = Seq.empty),
        "(none — purge dropped inert deletion vectors)")
    publishCow("purge", base, m, touched.toSet, snapshot(m, touched),
      dvOut = Some(Seq.empty))
  }

  /** UPDATE: for rows where `predicate` is TRUE, replace each column
    * named in `set` with its expression (evaluated against the old row,
    * cast to the column's declared type); other rows and columns are
    * byte-identical. Same copy-on-write file discovery and conflict
    * contract as [[delete]]. Updating the partition column is legal —
    * rewritten rows land in their new partition dirs.
    */
  def update(predicate: Column, set: Map[String, Column]): Long = {
    val (base, m) = baseSnapshot()
    val unknown = set.keySet -- m.schema.fieldNames
    require(unknown.isEmpty, s"update sets unknown columns: ${unknown.mkString(", ")}")
    val touched = touchedFiles(m, m.files, coalesce(predicate, lit(false)))
    if (touched.isEmpty) return base
    val hit = coalesce(predicate, lit(false))
    // the hit flag must be evaluated against the OLD row (the predicate
    // may reference updated columns), so stage it as a scratch column
    // before any assignment applies
    val hitC = graft.util.Names.fresh("_graft_hit",
      m.schema.fieldNames.toSeq ++ m.colmap.values)
    val staged = snapshot(m, touched).withColumn(hitC, hit)
      .select(m.schema.map { f =>
        set.get(f.name) match {
          case Some(e) => when(col(hitC), e.cast(f.dataType))
            .otherwise(col(f.name)).as(f.name)
          case None => col(f.name)
        }
      } :+ col(hitC): _*)
    // generated columns not explicitly set recompute on updated rows
    // from the NEW values of their sources (Delta's UPDATE behavior)
    val gens = m.generated.filterNot { case (g, _) => set.contains(g) }
    val rewritten = gens.foldLeft(staged) { case (d, (g, e)) =>
        val t = m.schema.fields.find(_.name == g).get.dataType
        d.withColumn(g, when(col(hitC), expr(e).cast(t)).otherwise(col(g)))
      }
      .select(m.schema.map(f => col(f.name)): _*)
    // change data feed: pre-images are the hit rows as-is; post-images
    // apply the same assignments + generated-column recomputation the
    // rewrite applies (unconditionally here — every CDC row is a hit)
    val cdcFiles =
      if (!cdcEnabled(m)) Seq.empty
      else {
        val pre = snapshot(m, touched).filter(hit)
        val assigned = pre.select(m.schema.map { f =>
          set.get(f.name) match {
            case Some(e) => e.cast(f.dataType).as(f.name)
            case None => col(f.name)
          }
        }: _*)
        val post = gens.foldLeft(assigned) { case (d, (g, e)) =>
            val t = m.schema.fields.find(_.name == g).get.dataType
            d.withColumn(g, expr(e).cast(t))
          }
          .select(m.schema.map(f => col(f.name)): _*)
        writeCdcFiles(
          pre.withColumn(VersionedTable.CdcTypeCol, lit("update_preimage"))
            .unionByName(post.withColumn(VersionedTable.CdcTypeCol,
              lit("update_postimage"))))
      }
    publishCow("update", base, m, touched.toSet, rewritten, cdcFiles = cdcFiles)
  }

  /** MERGE (upsert): source rows whose `keys` match a table row REPLACE
    * that row (`WHEN MATCHED THEN UPDATE SET *`); the rest INSERT
    * (`WHEN NOT MATCHED THEN INSERT *`). Source must carry exactly the
    * table's columns (any order) and be key-unique — multiple source
    * rows for one key would make the result order-dependent, so that
    * throws, as Delta does. Copy-on-write: only files containing a
    * matched key are rewritten (matched rows removed by anti-join, all
    * source rows appended); untouched files carry forward. Null-keyed
    * table rows never match and survive; null-keyed source rows insert.
    * Same conflict contract as [[delete]].
    */
  def merge(source: DataFrame, keys: Seq[String],
      txn: Option[(String, Long)] = None): Long = {
    require(keys.nonEmpty, "merge needs at least one key column")
    val (base, m) = baseSnapshot()
    val tableCols = m.schema.fieldNames.toSeq
    require(source.columns.sorted.toSeq == tableCols.sorted,
      s"merge source columns ${source.columns.sorted.mkString(",")} must equal " +
        s"table columns ${tableCols.sorted.mkString(",")}")
    keys.foreach(k => require(tableCols.contains(k), s"merge key $k not in table schema"))
    // schema enforcement like the append path: a silently-failing cast
    // (string "12x" -> bigint null) would corrupt keys instead of
    // erroring, so types must match structurally up front
    m.schema.foreach { f =>
      val st = source.schema.fields.find(_.name == f.name).get.dataType
      require(st.catalogString == f.dataType.catalogString,
        s"merge source column ${f.name} is ${st.simpleString} but the table " +
          s"declares ${f.dataType.simpleString} — cast the source explicitly")
    }
    // materialized once, as [[mergeClauses]]: the dup check, candidate
    // pruning, touched-file discovery, rewrite and CDC passes would
    // otherwise each re-execute the source lineage
    val src = source.select(m.schema.map(f => col(f.name)): _*).persist()
    try {
    // key-uniqueness: one aggregation over the source (cheap next to the
    // rewrite), because a dup key would non-deterministically pick a
    // winner. NULL-keyed rows are exempt — they never match any table
    // row (or each other) in the join, so they all insert deterministically
    val dups = src.filter(keys.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(keys.map(col): _*).count().filter(col("count") > 1).limit(1).count()
    require(dups == 0, s"merge source has duplicate keys on (${keys.mkString(", ")})")
    // touched files = files holding at least one matched key, discovered
    // over the stats/bloom-pruned candidates; the semi-join shuffles on
    // the keys (or broadcasts a small source — AQE's call), and only
    // distinct FILE NAMES reach the driver. Same broadcast-vs-shuffle
    // sizing as mergeClauses' discovery: a wave-sized key set probes
    // the scan side directly instead of shuffling the whole table.
    val fileC = freshFileCol(m)
    val mp = src.select(keys.map(col): _*).distinct().persist()
    val touched = try {
      val keyed =
        if (mp.count() <= VersionedTable.BroadcastKeyCap) broadcast(mp) else mp
      snapshot(m, mergeCandidates(m, keys, src), Some(fileC))
        .join(keyed, keys, "left_semi")
        .select(fileC).distinct().collect().map(_.getString(0)).toSeq.sorted
    } finally mp.unpersist(blocking = false): Unit
    checkKnown(m, touched)
    val rewritten =
      if (touched.isEmpty) src
      else snapshot(m, touched).join(src.select(keys.map(col): _*), keys, "left_anti")
        .select(m.schema.map(f => col(f.name)): _*)
        .unionByName(src)
    // change data feed: matched table rows -> update_preimage (each —
    // the upsert replaces EVERY table row of a matched key with the one
    // source row), matched source rows -> update_postimage, unmatched
    // source rows -> insert. Joins touch only the touched files, the
    // same bound as the rewrite itself.
    val ct = VersionedTable.CdcTypeCol
    val cdcFiles =
      if (!cdcEnabled(m)) Seq.empty
      // nothing rewritten -> the commit's added files ARE the inserted
      // rows; the feed derives them by file diff (no sidecar, no
      // doubled write — Delta's CDF rule for appends)
      else if (touched.isEmpty) Seq.empty
      else {
        val tch = snapshot(m, touched)
        val srcKeys = src.select(keys.map(col): _*)
        val tKeys = tch.select(keys.map(col): _*)
        val pre = tch.join(srcKeys, keys, "left_semi")
          .withColumn(ct, lit("update_preimage"))
        val post = src.join(tKeys, keys, "left_semi")
          .withColumn(ct, lit("update_postimage"))
        val ins = src.join(tKeys, keys, "left_anti")
          .withColumn(ct, lit("insert"))
        writeCdcFiles(pre.unionByName(post).unionByName(ins))
      }
    publishCow("merge", base, m, touched.toSet, rewritten, txn = txn,
      cdcFiles = cdcFiles)
    } finally src.unpersist(blocking = false)
  }

  /** Exactly-once streaming upsert commit (the merge twin of
    * [[commitAppendBatch]]): records `(app, batchId)` in the manifest
    * txn slot, so a foreachBatch REPLAY of an already-committed
    * micro-batch is a no-op instead of a second merge. The CDC sink
    * ([[graft.streaming.Sinks.versionedUpsert]]) builds on this.
    */
  def commitMergeBatch(source: DataFrame, keys: Seq[String], batchId: Long,
      app: String = VersionedTable.DefaultApp): Option[Long] = {
    require(app.nonEmpty && !app.exists(c => c == '\t' || c == '\n'),
      s"app name must be non-empty and tab/newline-free: '$app'")
    if (currentBatchId(app).exists(_ >= batchId)) None // monotone, as commitAppendBatch
    // first batch into a table with no version yet: the (key-unique)
    // batch IS the table — an append-commit carrying the txn marker
    else if (currentVersion().isEmpty)
      Some(commit(source, replace = false, txn = Some((app, batchId))))
    else try Some(merge(source, keys, txn = Some((app, batchId)))) catch {
      // a racing twin landed OUR batch mid-flight: exactly-once means
      // reporting "not landed by us", same as the pre-check replay path
      case _: VersionedTable.ReplayLandedException => None
    }
  }

  /** The FULL Delta merge clause matrix (`MERGE INTO` with conditional,
    * multiple, and delete clauses), generalizing the canonical upsert
    * [[merge]]:
    *
    *  - `matched`: ordered `WHEN MATCHED [AND cond] THEN UPDATE/DELETE`
    *    clauses — the first whose condition holds wins; none holding
    *    keeps the target row;
    *  - `notMatched`: ordered `WHEN NOT MATCHED [AND cond] THEN INSERT`
    *    clauses — first hold inserts; none holding drops the source row;
    *  - `notMatchedBySource`: `WHEN NOT MATCHED BY SOURCE [AND cond]
    *    THEN UPDATE/DELETE` over target rows with no source match.
    *
    * Conditions and assignment expressions are `Column`s over two
    * struct columns named `t` (the target row) and `s` (the source
    * row): `col("t.qty") + col("s.qty")`. Assignment values cast to the
    * target column's declared type; columns an UPDATE leaves unset keep
    * `t`'s value, columns an INSERT leaves unset become NULL.
    *
    * Copy-on-write file math mirrors [[merge]]: only files holding a
    * matched key rewrite (every file, when `notMatchedBySource` clauses
    * force a whole-target pass; none, for insert-only merges — the
    * classification anti-join is read-only). A source row matching ANY
    * target row matches one in a touched file — that is what made the
    * file touched — so joining the touched files alone classifies every
    * source row. Same key-uniqueness, null-key, and conflict contracts
    * as [[merge]].
    */
  def mergeClauses(source: DataFrame, keys: Seq[String],
      matched: Seq[VersionedTable.MergeWhen],
      notMatched: Seq[VersionedTable.MergeWhen],
      notMatchedBySource: Seq[VersionedTable.MergeWhen] = Nil,
      txn: Option[(String, Long)] = None,
      // the IVM refreshers' sources are groupBy/row_number outputs —
      // key-unique BY CONSTRUCTION — so they skip the defensive
      // duplicate-key job (one full source aggregation per merge)
      sourceKeyUnique: Boolean = false,
      // a caller that already counted its (cached) source can pass the
      // row count so the discovery's broadcast-vs-shuffle decision
      // costs zero extra jobs; only trusted when the source is also
      // key-unique (rows == distinct keys)
      sourceRowsHint: Option[Long] = None): Long = {
    import VersionedTable.{MergeDelete, MergeInsert, MergeUpdate, MergeWhen}
    require(keys.nonEmpty, "merge needs at least one key column")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "merge needs at least one WHEN clause")
    matched.foreach(w => require(!w.action.isInstanceOf[MergeInsert],
      "WHEN MATCHED takes UPDATE or DELETE, not INSERT"))
    notMatched.foreach(w => require(w.action.isInstanceOf[MergeInsert],
      "WHEN NOT MATCHED takes INSERT only"))
    notMatchedBySource.foreach(w => require(!w.action.isInstanceOf[MergeInsert],
      "WHEN NOT MATCHED BY SOURCE takes UPDATE or DELETE, not INSERT"))
    val (base, m) = baseSnapshot()
    keys.foreach { k =>
      require(m.schema.fieldNames.contains(k), s"merge key $k not in table schema")
      require(source.columns.contains(k), s"merge key $k not in source")
      val tt = m.schema(k).dataType
      val st = source.schema(k).dataType
      require(st.catalogString == tt.catalogString,
        s"merge key $k is ${st.simpleString} in the source but the table " +
          s"declares ${tt.simpleString} — cast the source explicitly")
    }
    // materialize the source ONCE (Delta's merge does the same, for
    // determinism AND cost): its lineage is re-executed by the dup
    // check, the touched-file classification, the rewrite pass and the
    // CDC pass — for an IVM refresh that lineage is a change-feed read
    // + window netting + several broadcast joins, and every
    // re-execution re-submits every broadcast exchange as its own job.
    // A source the CALLER already cached is reused as-is: persisting it
    // again would be a warn-noop but the paired unpersist would evict
    // the caller's cache out from under it.
    val callerCached =
      source.storageLevel != org.apache.spark.storage.StorageLevel.NONE
    val src = if (callerCached) source else source.persist()
    // set when the CDC two-pass cache below engages; released in the
    // finally so a mid-merge failure cannot strand it in executor cache
    var cdcCache: DataFrame = null
    try {
    // key-uniqueness over non-null source keys, as [[merge]]: a dup key
    // would pick a nondeterministic winner per target row
    if (!sourceKeyUnique) {
      val dups = src.filter(keys.map(col(_).isNotNull).reduce(_ && _))
        .groupBy(keys.map(col): _*).count().filter(col("count") > 1).limit(1).count()
      require(dups == 0, s"merge source has duplicate keys on (${keys.mkString(", ")})")
    }

    // files that can hold a matched key at all (stats/bloom skipping
    // from the source's own key range/set); NOT MATCHED BY SOURCE is a
    // whole-target pass by definition
    val cand: Seq[String] =
      if (notMatchedBySource.nonEmpty) m.files
      else mergeCandidates(m, keys, src)
    val touched: Seq[String] =
      if (notMatchedBySource.nonEmpty) m.files
      else if (matched.isEmpty) Seq.empty
      else {
        val fileC = freshFileCol(m)
        // the discovery join's default shape shuffles EVERY candidate
        // row's keys (sort-merge semi-join) — O(table) network per
        // merge, the incremental step's linear term. A wave-sized
        // source has a bounded key set, so broadcast it and the
        // discovery collapses to one scan-side probe: the target never
        // shuffles, the scan reads key columns only, and a 100 TB
        // table pays exactly one columnar pass. (Pruning candidates by
        // audit-time stats instead would be UNSOUND here: a
        // re-delivered key can match a row in an arbitrarily old file,
        // and missing it would turn an update into a duplicate
        // insert.) One count job over the persisted source decides;
        // above the cap the shuffle join is the right plan anyway.
        val keyProj = src.select(keys.map(col): _*)
        // a key-unique source's key projection IS its distinct key set
        val srcKeys = if (sourceKeyUnique) keyProj else keyProj.distinct()
        val (keyed, cleanup): (DataFrame, () => Unit) =
          sourceRowsHint.filter(_ => sourceKeyUnique) match {
            case Some(h) =>
              (if (h <= VersionedTable.BroadcastKeyCap) broadcast(srcKeys)
               else srcKeys, () => ())
            case None => // count once off the persisted source, reuse below
              val p = srcKeys.persist()
              (if (p.count() <= VersionedTable.BroadcastKeyCap) broadcast(p)
               else p, () => p.unpersist(blocking = false): Unit)
          }
        val got = try snapshot(m, cand, Some(fileC))
            .join(keyed, keys, "left_semi")
            .select(col(fileC)).distinct().collect().map(_.getString(0)).toSeq.sorted
          finally cleanup()
        checkKnown(m, got)
        got
      }
    // rows the rewrite may emit (touched files) vs rows present ONLY to
    // classify source rows (insert-only: read-only, and bounded by the
    // same candidates — a source row matching a row in a non-candidate
    // file is impossible by the pruning's soundness argument). When
    // matched clauses exist and the discovery found NO touched file,
    // classification is already decided: no source key matches any
    // table row (a match would have made its file touched), so every
    // source row is not-matched and the classify scan drops entirely —
    // the append-mostly latest-wins wave costs ONE table pass, not two.
    val rewriteFiles = if (notMatchedBySource.nonEmpty || matched.nonEmpty) touched else Seq.empty
    val classifyFiles =
      if (rewriteFiles.nonEmpty) rewriteFiles
      else if (matched.nonEmpty) Seq.empty
      else cand

    val avoid = m.schema.fieldNames.toSeq ++ source.columns ++ m.colmap.values
    val kCols = keys.map(k => k -> graft.util.Names.fresh(s"_graft_mk_$k", avoid)).toMap
    val tpC = graft.util.Names.fresh("_graft_tp", avoid)
    val spC = graft.util.Names.fresh("_graft_sp", avoid)
    val rwC = graft.util.Names.fresh("_graft_rw", avoid)
    val nullRow = lit(null).cast(m.schema)
    def norm(set: Map[String, Column], what: String): Map[String, Column] =
      set.map { case (k, v) =>
        val f = m.schema.fields.find(_.name.equalsIgnoreCase(k)).getOrElse(
          throw new IllegalArgumentException(
            s"merge $what assigns unknown column $k"))
        f.name -> v.cast(f.dataType)
      }
    def updateRow(set: Map[String, Column]): Column = {
      val n = norm(set, "UPDATE")
      struct(m.schema.map(f =>
        n.getOrElse(f.name, col("t").getField(f.name)).as(f.name)): _*)
    }
    def insertRow(values: Map[String, Column]): Column = {
      val n = norm(values, "INSERT")
      struct(m.schema.map(f =>
        n.getOrElse(f.name, lit(null).cast(f.dataType)).as(f.name)): _*)
    }
    // ordered clause chain: first condition that holds wins; an
    // unconditional clause makes everything after it unreachable
    def chain(clauses: Seq[MergeWhen], default: Column): Column =
      clauses.foldRight(default) { (w, rest) =>
        val row = w.action match {
          case MergeUpdate(set) => updateRow(set)
          case MergeDelete => nullRow
          case MergeInsert(values) => insertRow(values)
        }
        w.condition.fold(row)(c => when(c, row).otherwise(rest))
      }

    val sDf = src.select(
      keys.map(k => col(k).as(kCols(k))) ++ Seq(
        struct(src.columns.map(col).toSeq: _*).as("s"),
        lit(true).as(spC)): _*)
    val joined =
      if (classifyFiles.isEmpty)
        sDf.withColumn("t", nullRow).withColumn(tpC, lit(false))
          .withColumn(rwC, lit(false))
      else {
        val tDf = snapshot(m, classifyFiles).select(
          keys.map(k => col(k).as(kCols(k))) ++ Seq(
            struct(m.schema.map(f => col(f.name)): _*).as("t"),
            lit(true).as(tpC),
            lit(rewriteFiles.nonEmpty).as(rwC)): _*)
        tDf.join(sDf, keys.map(kCols).toSeq, "full_outer")
      }
    // With CDC on and files to rewrite, the SAME classify join runs
    // twice — once for the rewrite, once for the change sidecar — and
    // the second pass re-scans every touched file. Persist the joined
    // frame when the touched bytes are SMALL (manifest-recorded sizes
    // under the cap; unknown sizes never qualify): one scan + join
    // instead of two. At 100 TB a merge whose touched set exceeds the
    // cap keeps the two-pass shape — caching a table-scale join there
    // would trade one columnar re-scan for executor-memory pressure.
    val cacheJoined = cdcEnabled(m) && rewriteFiles.nonEmpty && {
      val cap = spark.conf.getOption(VersionedTable.CdcCacheMaxBytesKey)
        .map(_.toLong).getOrElse(VersionedTable.CdcCacheMaxBytes)
      rewriteFiles.forall(m.sizes.contains) &&
        rewriteFiles.map(m.sizes(_)._1).sum <= cap
    }
    val joinedC = if (cacheJoined) { cdcCache = joined.persist(); cdcCache }
      else joined
    val tp = coalesce(col(tpC), lit(false))
    val sp = coalesce(col(spC), lit(false))
    val rw = coalesce(col(rwC), lit(false))
    // non-rewritable target rows (insert-only classification pass) must
    // NOT re-emit: their file carries forward untouched
    val result =
      when(tp && sp, when(rw, chain(matched, col("t"))).otherwise(nullRow))
        .when(!tp && sp, chain(notMatched, nullRow))
        .otherwise(when(rw, chain(notMatchedBySource, col("t"))).otherwise(nullRow))
    val rewritten = joinedC.select(result.as("_graft_r"))
      .filter(col("_graft_r").isNotNull)
      .select(m.schema.map(f => col("_graft_r").getField(f.name).as(f.name)): _*)
    // change data feed: a second clause chain over the SAME joined
    // frame, yielding per-row change ARRAYS (update -> pre+post image,
    // delete -> one, insert -> one, no clause firing -> none), exploded
    // into sidecar rows. Mirrors `result`'s guards exactly — including
    // rw, so classification-only rows in an insert-only merge emit
    // nothing for target rows that stay in carried-forward files.
    val cdcFiles =
      if (!cdcEnabled(m)) Seq.empty
      // a merge that rewrites NO file can only have inserted rows, and
      // the inserted rows ARE the commit's added files — the feed
      // derives them by file diff (exactly Delta's CDF rule for
      // appends), so the sidecar would duplicate every written byte of
      // an insert-mostly wave for nothing
      else if (rewriteFiles.isEmpty) Seq.empty
      else {
        val ct = VersionedTable.CdcTypeCol
        // all-nullable element fields: struct-over-getField is nullable,
        // and a cast may not tighten nullability
        val changeT = ArrayType(StructType(
          m.schema.fields.map(f => StructField(f.name, f.dataType)) :+
            StructField(ct, StringType)), containsNull = false)
        val none = array().cast(changeT)
        def tag(row: Column, kind: String): Column =
          struct(m.schema.map(f => row.getField(f.name).as(f.name)) :+
            lit(kind).as(ct): _*)
        def cdcChain(clauses: Seq[MergeWhen]): Column =
          clauses.foldRight(none) { (w, rest) =>
            val changes = (w.action match {
              case MergeUpdate(set) => array(tag(col("t"), "update_preimage"),
                tag(updateRow(set), "update_postimage"))
              case MergeDelete => array(tag(col("t"), "delete"))
              case MergeInsert(values) => array(tag(insertRow(values), "insert"))
            }).cast(changeT)
            w.condition.fold(changes)(c => when(c, changes).otherwise(rest))
          }
        val cdcExpr =
          when(tp && sp, when(rw, cdcChain(matched)).otherwise(none))
            .when(!tp && sp, cdcChain(notMatched))
            .otherwise(when(rw, cdcChain(notMatchedBySource)).otherwise(none))
        val cdcRows = joinedC.select(explode(cdcExpr).as("_graft_c"))
          .select(m.schema.map(f => col("_graft_c").getField(f.name).as(f.name)) :+
            col("_graft_c").getField(ct).as(ct): _*)
        writeCdcFiles(cdcRows)
      }
    publishCow("merge", base, m, rewriteFiles.toSet, rewritten,
      txn = txn, cdcFiles = cdcFiles)
    } finally {
      if (cdcCache ne null) cdcCache.unpersist(blocking = false): Unit
      if (!callerCached) src.unpersist(blocking = false): Unit
    }
  }

  /** Delta's `ALTER TABLE ... ADD CONSTRAINT name CHECK (sqlExpr)`:
    * from this version on, every commit that introduces rows (append,
    * overwrite, update, merge, streaming batches) verifies the landed
    * batch against the expression and ABORTS before publishing if any
    * row makes it FALSE (null passes, SQL CHECK semantics). Adding the
    * constraint first verifies every EXISTING row, exactly as Delta
    * does, then publishes a metadata-only version; constraints survive
    * overwrite (table metadata, not data) and replay under restore.
    * Enforcement reads the batch back through the merged schema — an
    * appended batch that omits a constrained column null-fills it and
    * passes, matching what readers will see. N constraints cost ONE
    * fused conditional-count pass over the batch (never the table).
    */
  def addCheckConstraint(name: String, sqlExpr: String): Long = {
    require(name.nonEmpty && !name.exists(c => c == '\t' || c == '\n'),
      s"constraint name must be non-empty and tab/newline-free: '$name'")
    require(sqlExpr.nonEmpty && !sqlExpr.exists(c => c == '\t' || c == '\n'),
      "constraint expression must be non-empty and tab/newline-free (manifest line format)")
    val (base, m) = baseSnapshot()
    require(!m.constraints.contains(name), s"constraint $name already exists")
    // Delta semantics: adding a constraint verifies every existing row
    enforceConstraints(Map(name -> sqlExpr), snapshot(m, m.files), "existing table data")
    publishAt(base, m, m.copy(op = "addConstraint",
      constraints = m.constraints + (name -> sqlExpr)), "(none — metadata-only)")
  }

  def dropCheckConstraint(name: String): Long = {
    val (base, m) = baseSnapshot()
    require(m.constraints.contains(name), s"constraint $name does not exist")
    publishAt(base, m, m.copy(op = "dropConstraint",
      constraints = m.constraints - name), "(none — metadata-only)")
  }

  /** The active CHECK constraints: name -> boolean SQL expression. */
  def checkConstraints(): Map[String, String] =
    currentVersion().fold(Map.empty[String, String])(v => readManifest(v).constraints)

  // ---- table properties (Delta's TBLPROPERTIES) -----------------------

  /** The table's persistent properties at the head version. */
  def tableProperties(): Map[String, String] =
    currentVersion().fold(Map.empty[String, String])(v => readManifest(v).props)

  /** `ALTER TABLE ... SET TBLPROPERTIES (key = value)`: a metadata-only
    * commit. Properties are table metadata like constraints — carried
    * by every commit, surviving overwrite, replayed under restore
    * (restore replays the TARGET's properties, exactly as it replays
    * the target's schema). Known keys are validated here:
    * [[VersionedTable.CdcEnabledProp]] must be true/false, and enabling
    * it refuses a schema that already carries the reserved change-feed
    * column names.
    */
  def setTableProperty(key: String, value: String): Long =
    setTableProperties(Map(key -> value))

  /** Change feed on ([[VersionedTable.CdcEnabledProp]]), wherever found
    * absent on a table that has a commit to attach it to; a manifest
    * read when already on. Idempotent, so a caller re-runs it as the
    * crash heal rather than trusting that an earlier property commit
    * landed.
    */
  def ensureChangeFeed(): Unit =
    currentVersion().foreach { v =>
      if (!readManifest(v).props.get(VersionedTable.CdcEnabledProp).contains("true"))
        setTableProperty(VersionedTable.CdcEnabledProp, "true"): Unit
    }

  /** SET TBLPROPERTIES for several keys in ONE metadata commit — the
    * atomic multi-key form: a definition stored as related keys (the
    * materialized-view spec) must never be readable half-written, and
    * per-key commits could be torn by a crash between them. Same
    * validation as the single-key form; pairs already current are
    * dropped, and a call whose every pair is current commits nothing.
    */
  def setTableProperties(kvs: Map[String, String]): Long = {
    kvs.foreach { case (key, value) =>
      require(key.nonEmpty && !key.exists(c => c == '\t' || c == '\n'),
        s"property key must be non-empty and tab/newline-free: '$key'")
      require(!value.exists(c => c == '\t' || c == '\n'),
        s"property value must be tab/newline-free: '$value'")
    }
    val (base, m) = baseSnapshot()
    kvs.get(VersionedTable.CdcEnabledProp).foreach { value =>
      require(value == "true" || value == "false",
        s"${VersionedTable.CdcEnabledProp} must be 'true' or 'false', got '$value'")
      if (value == "true") {
        val clash = m.schema.fieldNames.filter(VersionedTable.CdcReservedCols)
        require(clash.isEmpty,
          s"cannot enable the change data feed: column(s) ${clash.mkString(", ")} " +
            "collide with the reserved change-feed output columns")
      }
    }
    val changed = kvs.filterNot { case (k, v) => m.props.get(k).contains(v) }
    if (changed.isEmpty) return base // no empty commits
    publishAt(base, m, m.copy(op = "setProperty",
      props = m.props ++ changed), "(none — metadata-only)")
  }

  /** `ALTER TABLE ... UNSET TBLPROPERTIES (key)` — no-op if absent. */
  def unsetTableProperty(key: String): Long = {
    val (base, m) = baseSnapshot()
    if (!m.props.contains(key)) return base
    publishAt(base, m, m.copy(op = "unsetProperty",
      props = m.props - key), "(none — metadata-only)")
  }

  /** Delta's generated columns: declare that `name` is derived from
    * `sqlExpr` over the other columns. From this version on, a batch
    * that OMITS the column gets it computed at write time (cast to the
    * declared type), and a batch that CARRIES it is verified
    * null-safe-equal to the expression (abort on mismatch, fused into
    * the same single enforcement pass as CHECK constraints); UPDATE
    * recomputes it on updated rows unless the update sets it
    * explicitly, exactly Delta's behavior. The column must already
    * exist, and every existing row must already satisfy the rule
    * (files are never rewritten by a metadata change). Rules survive
    * overwrite and replay under restore; renaming/dropping the column
    * or its sources is blocked while the rule exists.
    */
  def addGeneratedColumn(name: String, sqlExpr: String): Long = {
    require(sqlExpr.nonEmpty && !sqlExpr.exists(c => c == '\t' || c == '\n'),
      "generation expression must be non-empty and tab/newline-free (manifest line format)")
    val (base, m) = baseSnapshot()
    require(m.schema.fieldNames.contains(name),
      s"generated column $name must already exist in the schema " +
        "(declare it over a table that carries it; files are never rewritten)")
    require(!m.generated.contains(name), s"column $name is already generated")
    // a generated column may not derive from another generated column
    // (as Delta): computation order over the rule set would otherwise
    // be order-dependent when both are omitted from a batch
    val refs = spark.sessionState.sqlParser.parseExpression(sqlExpr).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
    }.toSet
    val genRefs = refs.intersect(m.generated.keySet)
    require(genRefs.isEmpty,
      s"generated column $name may not reference generated column(s) " +
        s"${genRefs.mkString(", ")}")
    require(!refs.contains(name),
      s"generated column $name may not reference itself")
    m.generated.foreach { case (g, e) =>
      val otherRefs = spark.sessionState.sqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
      }.toSet
      require(!otherRefs.contains(name),
        s"existing generated column $g references $name — drop it first")
    }
    enforceConstraints(Map(s"generated $name" -> s"$name <=> ($sqlExpr)"),
      snapshot(m, m.files), "existing table data")
    publishAt(base, m, m.copy(op = "addGeneratedColumn",
      generated = m.generated + (name -> sqlExpr)), "(none — metadata-only)")
  }

  def dropGeneratedColumn(name: String): Long = {
    val (base, m) = baseSnapshot()
    require(m.generated.contains(name), s"column $name is not generated")
    publishAt(base, m, m.copy(op = "dropGeneratedColumn",
      generated = m.generated - name), "(none — metadata-only)")
  }

  /** The active generated-column rules: name -> SQL expression. */
  def generatedColumns(): Map[String, String] =
    currentVersion().fold(Map.empty[String, String])(v => readManifest(v).generated)

  /** Delta's column mapping: `ALTER TABLE ... RENAME COLUMN`, metadata
    * only — no data file is touched. Files keep the column under its
    * PHYSICAL name (the name it was born with); the manifest records
    * logical→physical and every read aliases it back, so renames cost
    * one manifest write at any table size. Time travel keeps each
    * version's own logical names. Restrictions: the partition, stats,
    * and bloom columns are table-handle configuration and cannot be
    * renamed; the new name must not collide with any logical name,
    * live physical name, or dropped-column tombstone (a later append
    * introducing it would resurrect old file data); CHECK constraints
    * referencing the old name must be dropped first (they are SQL text
    * over logical names — verified by dry-run analysis).
    */
  def renameColumn(from: String, to: String): Long = {
    require(to.nonEmpty && !to.exists(c => c == '\t' || c == '\n'),
      s"new column name must be non-empty and tab/newline-free: '$to'")
    val (base, m) = baseSnapshot()
    require(m.schema.fieldNames.contains(from), s"renameColumn: no column $from")
    // case-insensitive like Spark's resolution (a case-only rename of
    // the SAME column is legal)
    require(!m.schema.fieldNames.exists(n => n != from && n.equalsIgnoreCase(to)),
      s"renameColumn: column $to already exists (names resolve case-insensitively)")
    val config = (partitionCol.toSeq ++ statsColumns ++ bloomColumns).toSet
    require(!config(from) && !config(to),
      s"renameColumn: $from/$to is partition/stats/bloom configuration — " +
        "those names are fixed at table-handle construction")
    // exclude the renamed column's OWN physical: renaming a->b->a back
    // to its birth name is the safe identity-restoring inverse
    val usedPhys = m.schema.fieldNames.filterNot(_ == from).map(m.physical).toSet
    require(!usedPhys(to) && !m.droppedPhys.contains(to),
      s"renameColumn: $to is a live physical name or a dropped-column " +
        "tombstone — reusing it would resurrect old file data")
    val newSchema = StructType(m.schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    requireConstraintsAnalyzable(m.constraints ++ m.genChecks,
      newSchema, s"rename $from to $to")
    val entry = to -> m.physical(from)
    val newColmap = (m.colmap - from) ++
      (if (entry._1 == entry._2) Map.empty else Map(entry))
    publishAt(base, m, m.copy(op = "renameColumn", schema = newSchema,
      stats = remapKeys(m.stats, from, to), blooms = remapKeys(m.blooms, from, to),
      colmap = newColmap), "(none — metadata-only)")
  }

  /** Delta's `ALTER TABLE ... DROP COLUMN` under column mapping:
    * metadata only — the data stays in the files under its physical
    * name, unread; old versions still show the column via time travel.
    * The physical name is tombstoned so a later append can never
    * introduce a column that would resurrect the orphaned data. Same
    * configuration and constraint restrictions as [[renameColumn]].
    */
  def dropColumn(name: String): Long = {
    val (base, m) = baseSnapshot()
    require(m.schema.fieldNames.contains(name), s"dropColumn: no column $name")
    require(m.schema.fields.length > 1, "dropColumn: cannot drop the last column")
    val config = (partitionCol.toSeq ++ statsColumns ++ bloomColumns).toSet
    require(!config(name),
      s"dropColumn: $name is partition/stats/bloom configuration")
    val newSchema = StructType(m.schema.fields.filterNot(_.name == name))
    requireConstraintsAnalyzable(m.constraints ++ m.genChecks,
      newSchema, s"drop column $name")
    publishAt(base, m, m.copy(op = "dropColumn", schema = newSchema,
      stats = m.stats.map { case (f, s) => f -> (s - name) }.filter(_._2.nonEmpty),
      blooms = m.blooms.map { case (f, b) => f -> (b - name) }.filter(_._2.nonEmpty),
      colmap = m.colmap - name,
      droppedPhys = m.droppedPhys :+ m.physical(name)), "(none — metadata-only)")
  }

  private def remapKeys[V](per: Map[String, Map[String, V]], from: String,
      to: String): Map[String, Map[String, V]] =
    per.map { case (f, kv) =>
      f -> kv.map { case (c, v) => (if (c == from) to else c) -> v }
    }

  /** A new column may not be born under a name some file already uses
    * physically (live under another logical name, or tombstoned by a
    * drop) — the files would leak their old data into it.
    */
  private def guardNewColumns(m: Manifest, incoming: StructType): Unit = {
    val existing = m.schema.fieldNames.map(_.toLowerCase).toSet
    val hazard = m.schema.fieldNames.map(c => m.physical(c).toLowerCase).toSet
      .diff(existing) ++ m.droppedPhys.map(_.toLowerCase)
    incoming.fieldNames.filterNot(n => existing(n.toLowerCase)).foreach(n =>
      require(!hazard(n.toLowerCase),
        s"appended column $n collides with the physical name of a renamed " +
          "or dropped column — pick a different name (old files already " +
          "carry data under it)"))
  }

  /** Dry-run every constraint AND generated-column rule against an
    * empty frame of `schema`: an analysis failure means the rule
    * references a column the schema change removes/renames — refuse,
    * as Delta does. (A generated rule mentions its own column in the
    * null-safe equality, so renaming/dropping the generated column
    * itself is caught too.)
    */
  private def requireConstraintsAnalyzable(cons: Map[String, String],
      schema: StructType, why: String): Unit =
    cons.foreach { case (n, e) =>
      try {
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
          .filter(not(coalesce(expr(e), lit(true)))).queryExecution.analyzed
        ()
      } catch {
        case ex: org.apache.spark.sql.AnalysisException =>
          throw new IllegalArgumentException(
            s"cannot $why: CHECK constraint $n ($e) would no longer " +
              "resolve — drop the constraint first", ex)
      }
    }

  /** One fused conditional-count pass over `batch`: every constraint
    * evaluated per row (FALSE = violation, null passes), all counted in
    * a single aggregate — N constraints never cost N scans. Throws
    * naming the first violated constraint and its violation count.
    */
  private def enforceConstraints(constraints: Map[String, String],
      batch: DataFrame, ctx: String): Unit = {
    if (constraints.isEmpty) return
    val checks = constraints.toSeq.sortBy(_._1)
    val aggs = checks.zipWithIndex.map { case ((_, e), i) =>
      sum(when(not(coalesce(expr(e), lit(true))), 1L).otherwise(0L)).as(s"_viol_$i")
    }
    val r = batch.agg(aggs.head, aggs.tail: _*).head()
    checks.zipWithIndex.foreach { case ((n, e), i) =>
      val v = if (r.isNullAt(i)) 0L else r.getLong(i) // sum over 0 rows is null
      if (v > 0) throw new IllegalArgumentException(
        s"CHECK constraint $n violated by $v row(s) in $ctx: $e")
    }
  }

  /** OPTIMIZE: bin-pack files smaller than `smallFileBytes` into
    * ~`targetFileBytes` outputs as a new, data-identical version — the
    * streaming sink's per-trigger commits and point-write slivers get
    * compacted without breaking snapshot isolation or time travel
    * (readers pinned to old versions keep their files until [[vacuum]]).
    * File sizes come from the manifest (recorded at commit time, like
    * Delta's AddFile), so planning costs no filesystem metadata calls. Partitioned tables
    * re-cluster rewritten rows by the partition column so each date dir
    * gets one well-sized file. No-op (current version, no commit) when
    * fewer than two files qualify. Conflicts like [[delete]]: another
    * writer landing first throws rather than dropping their commit.
    */
  def optimize(targetFileBytes: Long = 128L << 20,
      smallFileBytes: Long = 64L << 20): Long =
    optimizeImpl(targetFileBytes, smallFileBytes, zorderBy = Nil)

  /** Delta's `OPTIMIZE ... ZORDER BY`: compaction that ALSO re-clusters
    * the rewritten rows on a Z-order interleave of `cols`
    * ([[graft.ops.ZOrder]]), so the packed files regain multi-
    * dimensional min/max locality — the maintenance op for a table
    * whose streaming appends arrive in arrival order but whose reads
    * prune on content columns. Unlike plain [[optimize]] this rewrites
    * ALL current files (re-clustering only the small ones would leave
    * the layout mixed), so schedule it like Delta users do: rarely,
    * after enough append volume. Same no-op/conflict contract.
    */
  def optimizeZOrder(cols: Seq[String],
      targetFileBytes: Long = 128L << 20): Long =
    optimizeImpl(targetFileBytes, smallFileBytes = Long.MaxValue, zorderBy = cols)

  /** Delta's `OPTIMIZE ... WHERE`: compaction SCOPED to the files whose
    * committed min/max stats intersect `[lo, hi]` on `column` — compact
    * the hot region (today's ingest range) without rewriting cold
    * history, which at 100 TB is the only affordable compaction cadence.
    * Files with no stats on `column` are in scope conservatively (they
    * MIGHT hold range rows — skipping them could leave the very files
    * the caller wants packed). Same small-file selection, no-op, and
    * conflict contract as [[optimize]]; cold files outside the range
    * carry forward untouched.
    */
  def optimizeRange(column: String, lo: Long, hi: Long,
      targetFileBytes: Long = 128L << 20,
      smallFileBytes: Long = 64L << 20): Long =
    optimizeImpl(targetFileBytes, smallFileBytes, zorderBy = Nil,
      scope = { m =>
        val inline = pruneByStats(m, column, lo, hi)
        m.statsRef match {
          case None => inline
          case Some(ref) =>
            // a spilled table keeps only the delta tail's stats inline:
            // sidecar-covered files passed pruneByStats conservatively —
            // restrict them with ONE distributed sidecar scan collecting
            // the OUT-of-range names (driver stays at O(file names))
            val covered = inline.filterNot(m.stats.contains).toSet
            if (covered.isEmpty) inline
            else {
              val coveredB = spark.sparkContext.broadcast(covered)
              val out = spark.read.schema(VersionedTable.sidecarSchema)
                .parquet(s"$tableDir/$ref")
                .as(VersionedTable.sidecarEncoder)
                .filter(r => coveredB.value.contains(r.file) &&
                  r.stats.exists(st => st.col == column && (st.mx < lo || st.mn > hi)))
                .map(_.file)(org.apache.spark.sql.Encoders.STRING)
                .collect().toSet
              inline.filterNot(out)
            }
        }
      })

  private def optimizeImpl(targetFileBytes: Long, smallFileBytes: Long,
      zorderBy: Seq[String],
      scope: Manifest => Seq[String] = _.files): Long = {
    val (base, m) = baseSnapshot()
    // manifest-recorded sizes plan with zero filesystem stats; only
    // files from pre-size manifests pay a (batched-by-dir) listing
    val sized = scope(m).map(f =>
      f -> m.sizes.get(f).map(_._1).getOrElse(
        fs.getFileStatus(new Path(s"$tableDir/$f")).getLen))
    val small = sized.filter(_._2 < smallFileBytes)
    if (small.size < 2) return base
    val numOut = math.max(1L, (small.map(_._2).sum + targetFileBytes - 1) / targetFileBytes).toInt
    val rows = snapshot(m, small.map(_._1))
    val rewritten =
      if (zorderBy.nonEmpty) graft.ops.ZOrder.cluster(rows, zorderBy, numOut)
      else partitionCol match {
        // cluster by partition value: every dir's rows land in one task ->
        // one compacted file per dir (the Lakehouse.write clustering rule)
        case Some(p) => rows.repartition(numOut, col(p))
        case None => rows.repartition(numOut)
      }
    publishCow("optimize", base, m, small.map(_._1).toSet, rewritten)
  }

  /** Incremental consumption: the rows of every data file ADDED after
    * `fromVersion`, read through the current schema. For an append-only
    * history (appends, streaming batches) this is exactly the inserted
    * rows — a downstream job that remembers its last version processes
    * each batch once, never rescanning the table. Versions produced by
    * rewriting ops (delete/update/merge/optimize) contribute their
    * rewritten survivor files too — use [[history]] to see which ops
    * are in the window before treating the result as pure inserts.
    */
  def readChangesSince(fromVersion: Long): DataFrame =
    readChangesBetween(fromVersion, currentVersion().getOrElse(
      throw new IllegalArgumentException(s"$tableDir has no committed version")))

  /** `fromVersion = 0` means "from before the first commit": the whole
    * of `toVersion` is the change set (the bootstrap read of an
    * incremental consumer).
    */
  def readChangesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(0 <= fromVersion && fromVersion <= toVersion,
      s"readChangesBetween: bad window (v$fromVersion, v$toVersion]")
    val from =
      if (fromVersion == 0) Set.empty[String]
      else readManifest(fromVersion).files.toSet
    val to = readManifest(toVersion)
    snapshot(to, to.files.filterNot(from))
  }

  /** The rows an append-only STREAM must deliver for the window
    * `(fromVersion, toVersion]` — per-version file diffs, with
    * DATA-PRESERVING versions (optimize/optimizeRange/optimizeZOrder,
    * purgeDeletes — Delta's `dataChange=false` commits) SKIPPED rather
    * than refused: their rewritten copies hold only rows that earlier
    * versions already delivered (or that predate the window), so a
    * table can be compacted while a stream is reading from it. Any
    * OTHER version that removes files (delete/update/merge/overwrite/
    * restore rewrites) still refuses, exactly as before — an
    * incremental batch would re-deliver rewritten survivors.
    *
    * The compaction-during-window corner is handled precisely: a file
    * APPENDED inside the window and then compacted away by a later
    * in-window optimize is served through the manifest just BEFORE the
    * optimize (so any merge-on-read DVs it had acquired by then still
    * apply); window files live at the end serve through the end
    * manifest, as the plain diff always did. Pre-window files a
    * compaction rewrites contribute nothing (their rows were served
    * before `fromVersion`).
    *
    * Cost: one manifest read per window version (the window is the
    * commits since the stream's last trigger — bounded by commit rate,
    * never by table size). Vacuum note: as with Delta, vacuuming data
    * files a lagging stream has not read yet breaks that stream;
    * retention must cover the maximum expected stream lag.
    */
  def appendOnlyChanges(fromVersion: Long, toVersion: Long): DataFrame = {
    require(0 <= fromVersion && fromVersion <= toVersion,
      s"appendOnlyChanges: bad window (v$fromVersion, v$toVersion]")
    // bootstrap, or a no-op window: the plain diff is already exact
    if (fromVersion == 0 || fromVersion == toVersion)
      return readChangesBetween(fromVersion, toVersion)
    val byV = resolveSequentially(fromVersion to toVersion).toMap
    val endM = byV(toVersion)
    // files appended inside the window and still pending delivery
    var pending = Vector.empty[String]
    var frames = Vector.empty[DataFrame]
    ((fromVersion + 1) to toVersion).foreach { v =>
      val m = byV(v)
      val prev = byV(v - 1)
      val prevF = prev.files.toSet
      val curF = m.files.toSet
      val removed = prev.files.filterNot(curF)
      if (VersionedTable.DataPreservingOps(m.op)) {
        // rows preserved: compacted copies must NOT re-deliver. Window
        // appends being compacted away serve NOW, through the manifest
        // they were last live in (its DVs are theirs).
        val (gone, kept) = pending.partition(removed.contains)
        if (gone.nonEmpty) frames :+= snapshot(prev, gone)
        pending = kept
      } else if (removed.nonEmpty)
        throw new IllegalArgumentException(
          s"stream window (v$fromVersion, v$toVersion] of $tableDir: v$v " +
            s"(op '${m.op}') rewrites or removes ${removed.size} file(s) — " +
            "an incremental batch would re-deliver rewritten rows; restart " +
            "the stream from a fresh checkpoint (full re-read) instead")
      else pending ++= m.files.filterNot(prevF)
    }
    if (pending.nonEmpty) frames :+= snapshot(endM, pending)
    frames match {
      case Vector() => snapshot(endM, Seq.empty)
      case fs =>
        // additively-evolved mid-window schemas null-fill through the
        // END schema (the plain-diff read's behavior)
        fs.reduce(_.unionByName(_, allowMissingColumns = true))
          .select(endM.schema.fieldNames.map(col).toIndexedSeq: _*)
    }
  }

  /** The files of version `fromVersion` that `toVersion` no longer
    * references — EMPTY exactly when the window is append-only in
    * effect, the precise safety condition for consuming
    * [[readChangesBetween]] as an insert feed: metadata-only ops and
    * merge-on-read deletes keep every file (safe — nothing is
    * re-delivered), while any rewrite/optimize/restore in the window
    * removed files whose rows would reappear in the rewritten ones.
    * Costs two manifest reads, never a history scan; `fromVersion = 0`
    * (bootstrap) is trivially safe.
    */
  def filesRemovedBetween(fromVersion: Long, toVersion: Long): Seq[String] = {
    require(0 <= fromVersion && fromVersion <= toVersion,
      s"filesRemovedBetween: bad window (v$fromVersion, v$toVersion]")
    if (fromVersion == 0) return Seq.empty
    val toF = readManifest(toVersion).files.toSet
    readManifest(fromVersion).files.filterNot(toF)
  }

  // ---- row-level change data feed (Delta's CDF) -----------------------

  private def cdcEnabled(m: Manifest): Boolean =
    m.props.get(VersionedTable.CdcEnabledProp).contains("true")

  /** Write `changes` (table-schema rows + `_change_type`, logical
    * names) as a commit's CDC sidecar; returns manifest-relative file
    * names. Always parquet (a metadata sidecar, like the DV files, not
    * table data); invisible until a manifest referencing it lands, and
    * an aborted publish leaves it for vacuum's orphan sweep.
    *
    * The change query runs once, in the write. "No changes" must still
    * leave a part file: an empty cdc list would make changeFeed
    * misclassify the version as pre-enablement and refuse the window.
    * Spark's file writer guarantees it: a ZERO-partition frame (e.g. a
    * merge whose source is an empty local relation) is written as one
    * empty partition, and the first partition of an empty write always
    * writes its (empty) file. Nothing here inspects the frame's
    * partitioning first: `df.rdd` on an adaptive plan executes every
    * shuffle stage of the query just to build the RDD.
    */
  private def writeCdcFiles(changes: DataFrame): Seq[String] = {
    val rel = s"data/cdc-${UUID.randomUUID()}"
    changes.write.mode(SaveMode.ErrorIfExists).parquet(s"$tableDir/$rel")
    val files = listDataFiles(s"$tableDir/$rel").map(t => s"$rel/${t._1}")
    require(files.nonEmpty,
      s"CDC sidecar write produced no files under $tableDir/$rel")
    files
  }

  /** Delta's `readChangeFeed`: every row-level change in versions
    * `[startingVersion, endingVersion]` (both inclusive; `endingVersion
    * < 0` means the head), as table-schema rows plus `_change_type`
    * (insert / delete / update_preimage / update_postimage),
    * `_commit_version`, and `_commit_timestamp` (the manifest mtime —
    * audit-grade, like [[history]]).
    *
    * Row-level ops serve their write-time CDC sidecars (recorded while
    * [[VersionedTable.CdcEnabledProp]] is true — a DML version without
    * one refuses, as Delta does for pre-enablement commits). Appends,
    * overwrites and restores reconstruct from the manifest file diff at
    * read time with no write-time cost: added files are inserts,
    * removed files (read through the PREDECESSOR's snapshot) are
    * deletes. Data-preserving ops (optimize, purge, metadata commits)
    * emit nothing. The whole window must share one column mapping and
    * additive-only schema evolution — a rename/drop/narrowing inside it
    * refuses rather than mislabeling history.
    */
  def changeFeed(startingVersion: Long, endingVersion: Long = -1L): DataFrame = {
    val head = currentVersion().getOrElse(throw new IllegalArgumentException(
      s"$tableDir has no committed version"))
    val end = if (endingVersion < 0L) head else endingVersion
    require(startingVersion >= 1 && startingVersion <= end && end <= head,
      s"changeFeed: bad window [v$startingVersion, v$end] (head is v$head)")
    // one listing supplies every commit timestamp, as history() does
    val mtimes: Map[Long, Long] =
      fs.listStatus(new Path(logDir)).toSeq.flatMap(st => st.getPath.getName match {
        case ManifestRe(n) => Some(n.toLong -> st.getModificationTime)
        case _ => None
      }).toMap
    // resolve only the WINDOW eagerly: a DML version serves its sidecar
    // without touching its predecessor, so a feed starting just past
    // the vacuum horizon works; the predecessor manifest is fetched
    // lazily, only when a file-diff reconstruction actually needs it
    val resolved = resolveSequentially(startingVersion to end)
    val byV = resolved.toMap
    val endM = byV(end)
    var prevFetched: Option[Manifest] = None
    def prevOf(v: Long): Option[Manifest] =
      if (v == 1) None
      else byV.get(v - 1).orElse {
        if (prevFetched.isEmpty) {
          val pm = readManifest(v - 1)
          require(pm.colmap == endM.colmap && pm.droppedPhys == endM.droppedPhys,
            s"changeFeed: the column mapping changed at v$v — split the read " +
              "at the RENAME/DROP COLUMN commit")
          val lost = pm.schema.fieldNames.filterNot(endM.schema.fieldNames.toSet)
          require(lost.isEmpty,
            s"changeFeed: v${v - 1} carries column(s) ${lost.mkString(", ")} " +
              s"absent from v$end's schema (non-additive overwrite) — split " +
              "the read at the overwrite")
          prevFetched = Some(pm)
        }
        prevFetched
      }
    val clash = endM.schema.fieldNames.filter(VersionedTable.CdcReservedCols)
    require(clash.isEmpty,
      s"changeFeed: column(s) ${clash.mkString(", ")} collide with the " +
        "reserved change-feed output columns")
    // one column mapping + additive-only evolution across the window:
    // every version's rows must present faithfully through the END
    // schema, or the feed would mislabel or silently drop history
    resolved.foreach { case (v, mm) =>
      require(mm.colmap == endM.colmap && mm.droppedPhys == endM.droppedPhys,
        s"changeFeed: the column mapping changed inside [v$startingVersion, " +
          s"v$end] (at or before v$v) — split the read at the RENAME/DROP " +
          "COLUMN commit")
      val lost = mm.schema.fieldNames.filterNot(endM.schema.fieldNames.toSet)
      require(lost.isEmpty,
        s"changeFeed: v$v carries column(s) ${lost.mkString(", ")} absent " +
          s"from v$end's schema (non-additive overwrite inside the window) — " +
          "split the read at the overwrite")
    }
    val ct = VersionedTable.CdcTypeCol
    def stamped(df: DataFrame, v: Long): DataFrame = df
      .withColumn(VersionedTable.CdcVersionCol, lit(v))
      .withColumn(VersionedTable.CdcTimestampCol,
        lit(new java.sql.Timestamp(mtimes(v))))
    // ALL DML sidecars in the window read as ONE scan — a CDC-heavy
    // window of thousands of versions must not become a thousand-way
    // union of single-file relations (plan size O(versions), analysis
    // cost worse). Version + timestamp stamp on via a broadcast join
    // against the tiny (sidecar file → version) map; the join key is
    // the tableDir-relative path recovered from _metadata.file_path
    // (deterministic — loadFiles' discipline — so query filters keep
    // pushing into the one scan). Old sidecars null-fill columns added
    // later in the window through the explicit end-version read schema.
    val dmlVersions = (startingVersion to end).filter(v => byV(v).cdc.nonEmpty)
    val sidecarFrame: Option[DataFrame] =
      if (dmlVersions.isEmpty) None
      else {
        val sch = StructType(
          endM.schema.fields.map(f => StructField(f.name, f.dataType)) :+
            StructField(ct, StringType))
        val fileToV = dmlVersions.flatMap(v => byV(v).cdc.map(c =>
          (c, v, new java.sql.Timestamp(mtimes(v)))))
        val vMap = spark.createDataFrame(fileToV).toDF("_graft_cdc_file",
          VersionedTable.CdcVersionCol, VersionedTable.CdcTimestampCol)
        Some(spark.read.schema(sch)
          .parquet(fileToV.map(t => s"$tableDir/${t._1}"): _*)
          .withColumn("_graft_cdc_file", regexp_extract(
            col("_metadata.file_path"), "^.*/(data/cdc-[^/]+/[^/]+)$", 1))
          .join(broadcast(vMap), Seq("_graft_cdc_file"))
          .drop("_graft_cdc_file"))
      }
    val frames: Seq[DataFrame] = sidecarFrame.toSeq ++
        (startingVersion to end).flatMap { v =>
      val m = byV(v)
      lazy val pm = prevOf(v)
      lazy val pmFiles = pm.fold(Set.empty[String])(_.files.toSet)
      lazy val added = m.files.filterNot(pmFiles)
      lazy val removed = pm.fold(Seq.empty[String])(_.files.filterNot(m.files.toSet))
      if (m.cdc.nonEmpty) Nil // served by the batched sidecar scan above
      else m.op match {
        // a clone's v1 is its full content arriving — the append rule
        case "append" | "clone" =>
          if (added.isEmpty) Nil
          else Seq(stamped(snapshot(m, added).withColumn(ct, lit("insert")), v))
        case "overwrite" | "restore" =>
          val dels =
            if (removed.isEmpty) Nil
            else Seq(stamped(
              snapshot(pm.get, removed).withColumn(ct, lit("delete")), v))
          val ins =
            if (added.isEmpty) Nil
            else Seq(stamped(snapshot(m, added).withColumn(ct, lit("insert")), v))
          dels ++ ins
        case "merge" if removed.isEmpty =>
          // a sidecar-less merge that removed no files rewrote nothing,
          // so its added files hold exactly the rows it inserted — the
          // same file-diff derivation appends use (and the write path
          // deliberately skips the sidecar for this shape)
          if (added.isEmpty) Nil
          else Seq(stamped(snapshot(m, added).withColumn(ct, lit("insert")), v))
        case "delete" | "update" | "merge" =>
          throw new IllegalArgumentException(
            s"changeFeed: change data was not recorded for v$v of $tableDir " +
              s"(op '${m.op}' committed before ${VersionedTable.CdcEnabledProp} " +
              "was enabled) — start the feed after the enabling commit")
        case "optimize" | "purge" | "addConstraint" | "dropConstraint" |
            "addGeneratedColumn" | "dropGeneratedColumn" | "setProperty" |
            "unsetProperty" | "renameColumn" | "dropColumn" => Nil
        case other =>
          throw new IllegalArgumentException(
            s"changeFeed: cannot reconstruct changes for op '$other' at v$v")
      }
    }
    val outCols = (endM.schema.fieldNames.toSeq :+ ct :+
      VersionedTable.CdcVersionCol :+ VersionedTable.CdcTimestampCol).map(col)
    // balanced pairwise union: a long window's fold must not build a
    // left-deep tree whose analysis cost grows quadratically in versions
    def unionAll(fs: Seq[DataFrame]): DataFrame =
      if (fs.lengthCompare(1) == 0) fs.head
      else unionAll(fs.grouped(2).map {
        case Seq(a, b) => a.unionByName(b, allowMissingColumns = true)
        case Seq(a) => a
      }.toSeq)
    (if (frames.isEmpty) None else Some(unionAll(frames)))
      .map(_.select(outCols: _*))
      .getOrElse {
        val sch = StructType(endM.schema.fields ++ Seq(
          StructField(ct, StringType, nullable = false),
          StructField(VersionedTable.CdcVersionCol, LongType, nullable = false),
          StructField(VersionedTable.CdcTimestampCol,
            org.apache.spark.sql.types.TimestampType, nullable = false)))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], sch)
      }
  }

  /** The maximal sub-windows of `[startingVersion, endingVersion]` that
    * [[changeFeed]] can serve — the "split the read" its refusal asks
    * for, computed for the consumer. A feed window must present every
    * version's rows through ONE end schema, so it cuts at:
    *
    *  - a RENAME/DROP COLUMN commit (the column mapping changes). The
    *    boundary commit is metadata-only — it contributes no change
    *    rows — and OPENS the following segment;
    *  - a NON-ADDITIVE OVERWRITE (its predecessor's columns vanish).
    *    That version belongs to NEITHER side: its delete rows present
    *    only through the old schema and its inserts only through the
    *    new, so it is EXCLUDED from the returned segments — an
    *    incremental consumer must treat it as a full re-sync point
    *    (exactly Delta's contract for overwrites that change schema).
    *
    * One manifest read per window version (the changeFeed cost). Each
    * returned `(from, to)` is inclusive and legal for
    * `changeFeed(from, to)`; their concatenation covers the window
    * minus excluded re-sync versions.
    */
  def changeFeedSegments(startingVersion: Long,
      endingVersion: Long = -1L): Seq[(Long, Long)] = {
    val head = currentVersion().getOrElse(throw new IllegalArgumentException(
      s"$tableDir has no committed version"))
    val end = if (endingVersion < 0L) head else endingVersion
    require(startingVersion >= 1 && startingVersion <= end && end <= head,
      s"changeFeedSegments: bad window [v$startingVersion, v$end] (head is v$head)")
    val resolved = resolveSequentially(startingVersion to end)
    val segs = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var segStart = startingVersion
    resolved.sliding(2).foreach {
      case Seq((_, a), (v, b)) =>
        val boundary = a.colmap != b.colmap ||
          a.droppedPhys != b.droppedPhys ||
          a.schema.fieldNames.exists(!b.schema.fieldNames.contains(_))
        if (boundary) {
          if (segStart <= v - 1) segs += ((segStart, v - 1))
          // a RENAME/DROP boundary is metadata-only (no change rows) and
          // opens the next segment; any DATA version at a boundary (a
          // non-additive overwrite, a cross-mapping restore) is the
          // excluded re-sync point
          segStart =
            if (b.op == "renameColumn" || b.op == "dropColumn") v else v + 1
        }
      case _ => ()
    }
    if (segStart <= end) segs += ((segStart, end))
    segs.toSeq
  }

  /** Time travel by wall clock (Delta's `TIMESTAMP AS OF`): the newest
    * version whose manifest landed at or before `tsMillis`. Commit
    * times come from manifest file modification time — audit-grade
    * (never load-bearing for correctness; use [[readAt]] to pin an
    * exact version).
    */
  def readAsOf(tsMillis: Long): DataFrame = readAt(versionAsOf(tsMillis))

  /** Resolve `TIMESTAMP AS OF` to a version number: the newest version
    * whose manifest landed at or before `tsMillis`. Filter, not
    * takeWhile: manifest mtimes are not guaranteed monotonic (clock
    * steps), and one out-of-order mtime must not hide every later
    * qualifying version.
    */
  def versionAsOf(tsMillis: Long): Long =
    history().filter(_.modifiedMs <= tsMillis).lastOption.getOrElse(
      throw new IllegalArgumentException(
        s"$tableDir has no version committed at or before $tsMillis")).version

  /** Current version + manifest for a copy-on-write op. */
  private def baseSnapshot(): (Long, Manifest) = {
    val v = currentVersion().getOrElse(
      throw new IllegalArgumentException(s"$tableDir has no committed version"))
    (v, readManifest(v))
  }

  /** A scratch file-name column that cannot collide with a data column
    * (logical OR physical — the pre-alias frame carries physical names).
    */
  private def freshFileCol(m: Manifest): String =
    graft.util.Names.fresh("_graft_file", m.schema.fieldNames.toSeq ++ m.colmap.values)

  // like freshFileCol, the avoid-set must include PHYSICAL names
  // (m.colmap.values): loadFiles stamps the position column on the
  // pre-alias frame, so a column physically named _graft_pos (born with
  // that name, later renamed) would be silently overwritten otherwise
  private def freshPosCol(m: Manifest, fc: String): String =
    graft.util.Names.fresh("_graft_pos",
      (m.schema.fieldNames.toSeq ++ m.colmap.values) :+ fc)

  /** The manifest-relative names of every candidate file containing a
    * row where `hit` is true — ONE distributed scan, file names only on
    * the driver. The scan reads all columns `hit` needs plus the
    * virtual input_file_name; Parquet still prunes untouched columns.
    */
  private def touchedFiles(m: Manifest, candidates: Seq[String],
      hit: Column): Seq[String] = {
    if (candidates.isEmpty) return Seq.empty
    val fileC = freshFileCol(m)
    val names = snapshot(m, candidates, Some(fileC))
      .filter(hit).select(fileC).distinct()
      .collect().map(_.getString(0)).toSeq.sorted
    checkKnown(m, names)
    names
  }

  private def checkKnown(m: Manifest, names: Seq[String]): Unit = {
    val known = m.files.toSet
    val unknown = names.filterNot(known)
    require(unknown.isEmpty,
      s"scanned file names not in manifest (path-encoding drift?): ${unknown.take(3).mkString(", ")}")
  }

  /** Publish a copy-on-write result: `rewritten` replaces the rows of
    * `replaced` files; every other file carries forward with its stats.
    *
    * Concurrency is Delta's WriteSerializable conflict detection, not a
    * table-level CAS: another writer landing first triggers a REBASE —
    * our replacement re-applies on top of the winner's manifest —
    * provided the concurrent commits are compatible: blind appends, or
    * rewrites whose removed files are DISJOINT from ours. Anything that
    * touched one of OUR replaced files, changed deletion vectors,
    * schema, column mapping, or constraints conflicts and throws
    * `ConcurrentModificationException` (the caller's file math is
    * genuinely stale). So two COW writers on disjoint partitions both
    * land; overlapping ones still serialize through a loud retry. A
    * transient rename refusal WITH the version unmoved retries quietly.
    */
  private def publishCow(op: String, base: Long, m: Manifest,
      replaced: Set[String], rewritten: DataFrame,
      dvOut: Option[Seq[String]] = None,
      txn: Option[(String, Long)] = None,
      cdcFiles: Seq[String] = Seq.empty): Long = {
    val (commitRel, newFiles, newStats, newBlooms, newSizes) =
      writeDataFiles(rewritten, m.colmap)
    // update/merge can introduce violating rows; delete/optimize/purge/
    // restore only rearrange rows that already passed
    val rowChecks = m.constraints ++ m.genChecks
    if ((op == "update" || op == "merge") && rowChecks.nonEmpty)
      enforceConstraints(rowChecks,
        loadFiles(m.schema, newFiles, colmap = m.colmap), s"the $op result")
    val carried = m.files.filterNot(replaced)
    val carriedStats = m.stats.filter { case (f, _) => !replaced(f) }
    val carriedBlooms = m.blooms.filter { case (f, _) => !replaced(f) }
    // DV sidecars carry forward by default: entries for replaced files
    // are inert (their file names left the manifest), entries for
    // carried files stay active. purgeDeletes overrides to drop them,
    // and a FULL rewrite (optimizeZOrder) leaves no file any entry can
    // address, so the sidecars drop for free instead of taxing every
    // future read until a manual purge.
    val dvCarried = if (m.files.forall(replaced)) Seq.empty[String] else m.dv
    val carriedSizes = m.sizes.filter { case (f, _) => !replaced(f) }
    // WriteSerializable rebase: rebuild the manifest from the WINNER's
    // (curM), not our stale base — their appends/disjoint rewrites and
    // streaming txn markers all survive; only our replaced files swap
    // for our rewrite. Incompatible concurrency throws.
    def rebase(curV: Long, curM: Manifest): Manifest = {
      def conflict(why: String): Nothing =
        throw new java.util.ConcurrentModificationException(
          s"$op computed against v$base of $tableDir conflicts with the " +
            s"concurrent commit(s) through v$curV: $why — retry the operation " +
            s"(uncommitted files at $commitRel are invisible; vacuum reclaims them)")
      if (curM.schema != m.schema) conflict("the schema changed")
      if (curM.colmap != m.colmap || curM.droppedPhys != m.droppedPhys)
        conflict("the column mapping changed")
      if (curM.constraints != m.constraints || curM.generated != m.generated)
        conflict("constraints/generated columns changed")
      // a property change can alter this op's own obligations (enabling
      // the change feed mid-flight would make this commit's missing CDC
      // sidecar silent data loss for feed consumers) — conflict, like
      // the other metadata
      if (curM.props != m.props) conflict("table properties changed")
      // exactly-once under RACING twins, as the append-commit path: our
      // app's marker moving means another writer committed a batch for
      // this app while we were in flight. Same id -> OUR logical batch
      // already landed (typed signal, not a rebase — rebasing would
      // double-apply it; racing insert-only merges have no file overlap
      // to conflict on); different id -> our window math is stale.
      txn.foreach { case (app, id) =>
        val cur = curM.txns.get(app)
        if (cur != m.txns.get(app)) {
          if (cur.contains(id))
            throw new VersionedTable.ReplayLandedException(curV, app, id)
          conflict(s"transaction marker for app '$app' advanced to " +
            s"${cur.fold("(none)")(_.toString)} while committing batch $id")
        }
      }
      // a new DV could address a file we rewrote WITHOUT it — rows we
      // would silently resurrect; a dropped DV means a purge/restore
      // rearranged history under us
      if (curM.dv != m.dv) conflict("deletion vectors changed")
      val curSet = curM.files.toSet
      val gone = replaced.filterNot(curSet)
      if (gone.nonEmpty)
        conflict(s"${gone.size} of our rewritten file(s) were concurrently " +
          s"rewritten or removed (first: ${gone.head})")
      curM.copy(op = op,
        txns = txn.fold(curM.txns)(curM.txns + _),
        files = curM.files.filterNot(replaced) ++ newFiles,
        stats = curM.stats.filter { case (f, _) => !replaced(f) } ++ newStats,
        blooms = curM.blooms.filter { case (f, _) => !replaced(f) } ++ newBlooms,
        sizes = curM.sizes.filter { case (f, _) => !replaced(f) } ++ newSizes,
        dv = dvOut.getOrElse(
          if (curM.files.forall(replaced)) Seq.empty[String] else curM.dv))
    }
    publishAt(base, m, m.copy(op = op,
      txns = txn.fold(m.txns)(m.txns + _),
      files = carried ++ newFiles, stats = carriedStats ++ newStats,
      dv = dvOut.getOrElse(dvCarried), blooms = carriedBlooms ++ newBlooms,
      sizes = carriedSizes ++ newSizes), commitRel, rebase = Some(rebase),
      cdcFiles = cdcFiles)
  }

  /** RESTORE (Delta's `RESTORE TABLE ... TO VERSION AS OF`): make the
    * head a zero-copy replay of `version` — the new manifest simply
    * references that version's files again (no data moves; the files
    * are immutable and still on disk while any retaining manifest
    * exists). History is preserved: the bad head stays time-travelable
    * below the restored one, and vacuum keeps the restored files
    * because the NEW head references them. The undo button for a wrong
    * delete/merge/overwrite. No-op if already at `version`; conflicts
    * like the other base-pinned ops.
    */
  def restore(version: Long): Long = {
    val (base, baseM) = baseSnapshot()
    if (version == base) return base
    val target = readManifest(version)
    // data replays from the target, but the batch marker (streaming /
    // change-feed checkpoint) stays the HEAD's: a replayed micro-batch
    // must remain a no-op after the restore
    publishAt(base, baseM, target.copy(op = "restore", txns = baseM.txns),
      commitRel = "(none — restore writes no files)")
  }

  /** Snapshot CLONE (Delta's `CREATE TABLE t CLONE s [VERSION AS OF
    * v]`): materialize `version` of this table (default: the head) as
    * an INDEPENDENT table at `targetDir`. Schema, data, deletion
    * vectors, per-file stats/bloom skipping metadata (sidecar
    * included), CHECK constraints, generated-column rules, column
    * mapping and table properties all carry; transaction markers and
    * the change-feed history do NOT — the clone is a new table whose
    * history starts at its own v1 (Delta's clone contract: a stream or
    * exactly-once writer must not mistake the clone for its source,
    * so the source's batch markers would be lies on the clone).
    *
    * Storage: each data file HARD-LINKS into the target when both
    * sides are the exact local filesystem (constant-time, zero bytes
    * copied, and — unlike Delta's path-referencing shallow clone —
    * immune to a later VACUUM of the source, because the link keeps
    * the bytes alive) and falls back to a byte copy otherwise (object
    * stores have no links). Either way the clone OWNS its storage:
    * no write, optimize or vacuum on either table can corrupt the
    * other — the sharp edge Delta documents for shallow clones
    * (source vacuum breaks the clone) cannot occur.
    *
    * The clone's v1 reads as a full-content insert window in its
    * change feed (op `clone`, the append file-diff rule), so an IVM
    * bootstrap or stream over the clone starts exactly as over a
    * freshly written table.
    */
  def cloneTo(targetDir: String, version: Long = -1L): VersionedTable = {
    val v =
      if (version >= 0) version
      else currentVersion().getOrElse(throw new IllegalArgumentException(
        s"$tableDir has no committed version to clone"))
    val m = readManifest(v)
    // qualified-path containment, both directions: a target nested
    // inside the source directory would be reclaimed by the source's
    // vacuum (unreferenced-dir cleanup); a source nested inside the
    // target is the mirror hazard
    val srcQ = fs.makeQualified(new Path(tableDir))
    val tgtQ = fs.makeQualified(new Path(targetDir))
    def contains(outer: Path, inner: Path): Boolean = {
      var p: Path = inner
      while (p != null) { if (p == outer) return true; p = p.getParent }
      false
    }
    require(!contains(srcQ, tgtQ) && !contains(tgtQ, srcQ),
      s"clone target $tgtQ must not equal, contain, or be nested inside " +
        s"the source table directory $srcQ — a nested clone's storage " +
        "would be reclaimed by the outer table's vacuum")
    val target = VersionedTable(spark, targetDir, format, partitionCol,
      statsColumns, bloomColumns, bloomBits, bloomHashes)
    require(target.currentVersion().isEmpty,
      s"clone target $targetDir already has committed versions")
    val tfs = target.fs
    (m.files ++ m.dv ++ m.statsRef.toSeq).distinct.foreach { rel =>
      val src = new Path(s"$tableDir/$rel")
      val dst = new Path(s"$targetDir/$rel")
      tfs.mkdirs(dst.getParent)
      linkOrCopy(src, tfs, dst)
    }
    // Manifest is an inner type — the target re-assembles its v1 from
    // the source's plain fields (txns and cdc deliberately dropped)
    target.publishCloneV1(m.schema, m.files, m.stats, m.dv, m.blooms,
      m.constraints, m.colmap, m.droppedPhys, m.generated, m.sizes,
      m.statsRef, m.props)
    target
  }

  /** Publish a clone's v1 from the source snapshot's fields ([[cloneTo]]
    * runs this on the TARGET instance).
    */
  private def publishCloneV1(schema: StructType, files: Seq[String],
      stats: FileStats, dv: Seq[String], blooms: FileBlooms,
      constraints: Map[String, String], colmap: Map[String, String],
      droppedPhys: Seq[String], generated: Map[String, String],
      sizes: FileSizes, statsRef: Option[String],
      props: Map[String, String]): Unit = {
    fs.mkdirs(new Path(logDir))
    val cm = Manifest(schema, "clone", Map.empty, files, stats, dv, blooms,
      constraints, colmap, droppedPhys, generated, sizes, statsRef, props)
    val tmp = new Path(logDir, s".tmp-${UUID.randomUUID()}")
    writeManifest(tmp, cm, 1L, None)
    publishManifest(tmp, manifestPath(1L)) match {
      case Landed => ()
      case _ => throw new java.util.ConcurrentModificationException(
        s"clone target $tableDir gained a v1 concurrently — " +
          "clone into a fresh directory")
    }
  }

  /** Hard-link `src` to `dst` when both ends are the EXACT local
    * filesystem class (subclass test doubles keep their instrumented
    * IO paths — the rename discipline), falling back to a byte copy
    * when links are unsupported or cross-device.
    */
  private def linkOrCopy(src: Path, tfs: FileSystem, dst: Path): Unit = {
    def exactLocal(f: FileSystem): Boolean =
      f.getClass == classOf[org.apache.hadoop.fs.LocalFileSystem] ||
        f.getClass == classOf[org.apache.hadoop.fs.RawLocalFileSystem]
    val linked = exactLocal(fs) && exactLocal(tfs) && {
      try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(src.toUri.getPath))
        true
      } catch {
        case _: UnsupportedOperationException => false
        // NoSuchFileException IS a FileSystemException — without its own
        // case a source file deleted mid-clone (concurrent vacuum) would
        // fall through to the copy path and die with an opaque IO error
        case e: java.nio.file.NoSuchFileException =>
          throw new IllegalStateException(
            s"clone source file $src vanished mid-clone — most likely a " +
              "concurrent VACUUM of the source table; re-run the clone " +
              "(pin a version the vacuum retains, or pause the vacuum)", e)
        case _: java.nio.file.FileSystemException => false // cross-device
      }
    }
    if (!linked) {
      val ok = org.apache.hadoop.fs.FileUtil.copy(fs, src, tfs, dst,
        false, false, spark.sparkContext.hadoopConfiguration)
      require(ok, s"clone could not copy $src to $dst")
    }
  }

  /** Base-pinned CAS publish of an explicit file list (the shared tail
    * of the copy-on-write ops and restore).
    */
  private def publishAt(base: Long, baseM: Manifest, man: Manifest,
      commitRel: String,
      rebase: Option[(Long, Manifest) => Manifest] = None,
      cdcFiles: Seq[String] = Seq.empty): Long = {
    var attempt = 0
    var rebases = 0
    // the publish base starts PINNED at the caller's snapshot; a moved
    // version either throws (no rebase hook — the caller's math is
    // stale by definition) or re-derives the manifest on the new head
    // via the hook, which itself throws on genuine conflicts. Every
    // caller already resolved its base manifest (baseSnapshot), so the
    // delta-encoding base costs no reads on the happy path — and,
    // unlike an eager re-read, cannot race a concurrent vacuum into the
    // wrong error type before the staleness check below fires.
    var b = base
    var bm = baseM
    // cdc is PER-COMMIT metadata: force it here (the one publish point)
    // so a base/restored manifest's sidecar list can never leak into a
    // new version that did not record those changes
    var mn = man.copy(cdc = cdcFiles)
    while (true) {
      val cur = currentVersion()
      if (!cur.contains(b)) {
        def stale: Nothing =
          throw new java.util.ConcurrentModificationException(
            s"${man.op} computed against v$b but the table is now at " +
              s"${cur.fold("(empty)")(v => s"v$v")} — retry the operation " +
              s"(uncommitted files at $commitRel are invisible; vacuum reclaims them)")
        val curV = cur.getOrElse(stale)
        if (rebase.isEmpty || curV < b) stale
        rebases += 1
        require(rebases <= 50,
          s"${man.op} rebased $rebases times without landing — writer storm " +
            s"on $tableDir; uncommitted files at $commitRel (vacuum reclaims them)")
        val curM = readManifest(curV)
        mn = rebase.get(curV, curM).copy(cdc = cdcFiles) // throws on a genuine conflict
        b = curV
        bm = curM
      } else {
        val tmp = new Path(logDir, s".tmp-${UUID.randomUUID()}")
        writeManifest(tmp, mn, b + 1, Some(b -> bm))
        publishManifest(tmp, manifestPath(b + 1)) match {
          case Landed =>
            maybeAutoCompact(mn)
            return b + 1
          // someone landed b+1 under us: the next loop iteration sees
          // the moved version and rebases or raises the conflict
          case Lost => ()
          case Refused =>
            attempt += 1
            require(attempt < 20,
              s"could not publish ${man.op} after $attempt attempts — v$b is still live; " +
                s"uncommitted files left invisible at $commitRel (vacuum reclaims them)")
        }
      }
    }
    -1L // unreachable
  }

  /** Delta's auto-compaction (`graft.autoOptimize.autoCompact=true`):
    * after a DATA commit lands, when the new manifest records at least
    * `graft.autoCompact.minSmallFiles` (default 64) files smaller than
    * `graft.autoCompact.smallFileBytes` (default 16 MB), bin-pack them
    * immediately via [[optimize]]. Sizes come from the manifest the
    * commit just wrote — zero filesystem calls decide; the compaction
    * itself is rowsPreserved/dataChange=false, so streams serve it as
    * an empty window and the change feed emits nothing. BEST-EFFORT by
    * contract (Delta's too): a concurrent writer beats the compaction,
    * the data commit stands. Steady small-wave ingestion — the
    * incremental medallion's shape, one file set per wave per table —
    * stays at O(table/target-size) file counts instead of accreting
    * forever into exactly the long manifest tail that slows every
    * discovery scan and read.
    */
  private def maybeAutoCompact(mn: Manifest): Unit = {
    if (!VersionedTable.DataChangeOps.contains(mn.op)) return
    if (!mn.props.get(VersionedTable.AutoCompactProp).contains("true")) return
    val small = mn.props.get(VersionedTable.AutoCompactSmallBytesProp)
      .map(_.toLong).getOrElse(16L << 20)
    val minN = mn.props.get(VersionedTable.AutoCompactMinFilesProp)
      .map(_.toInt).getOrElse(64)
    // files without a recorded size (pre-sizes manifests) never count:
    // auto-compact is an opt-in steady-state policy, not a migration
    val n = mn.files.count(f => mn.sizes.get(f).exists(_._1 < small))
    if (n < minN) return
    try optimize(smallFileBytes = small): Unit
    catch { case _: java.util.ConcurrentModificationException => () }
  }

  /** The newest version whose commit CHANGED data (append / overwrite /
    * merge / update / delete) — callers that need "the version my write
    * landed as" after the fact must use this, not [[currentVersion]]:
    * a post-commit auto-compaction (or any maintenance commit) may have
    * advanced the head with a rowsPreserved version whose change feed
    * is empty by design. Walks back over the (few, trailing)
    * maintenance versions only.
    */
  def lastDataChangeVersion(): Option[Long] = {
    var v = currentVersion().getOrElse(return None)
    while (v >= 1) {
      if (VersionedTable.DataChangeOps.contains(readManifest(v).op)) return Some(v)
      v -= 1
    }
    None
  }

  /** MANIFEST-ONLY classification of the version window [from, to]:
    * true iff every data-change version in it only ADDED files — no
    * data file removed, no deletion-vector change. Under copy-on-write
    * that is exactly "the window INSERTED rows and touched no existing
    * row": an update or delete always rewrites (or DV-masks) the file
    * holding the old row. rowsPreserved maintenance versions
    * (optimize / auto-compaction) rewrite files but change no rows and
    * are skipped by op. Zero data-file reads and zero jobs — the IVM
    * dimension-repair no-op gate ([[graft.ecom.IncrementalLakehouse]]).
    * Overwrites classify as non-additive even when the old table was
    * empty — callers fall back to the generic (scan-based) path, which
    * is always correct. A restore is a data change (the feed derives
    * delete+insert from its file diff) and classifies through the same
    * file-diff rule: one that removed files is non-additive.
    */
  def insertOnlyWindow(from: Long, to: Long): Boolean = {
    require(from >= 1L && to >= from, s"bad version window [$from, $to]")
    val vs = versions()
    (from to to).forall { v =>
      val m = readManifest(v)
      if (!VersionedTable.DataChangeOps.contains(m.op)) true
      else if (m.op == "overwrite" || m.op == "clone") false
      else if (!vs.contains(v - 1)) false // predecessor vacuumed — unknowable
      else {
        val prev = readManifest(v - 1)
        val cur = m.files.toSet
        m.dv == prev.dv && prev.files.forall(cur.contains)
      }
    }
  }

  /** Latest snapshot. The returned DataFrame is pinned to the version
    * current at call time: a subsequent commitOverwrite does not change
    * what it reads.
    */
  def read(): DataFrame = readAt(currentVersion().getOrElse(
    throw new IllegalArgumentException(s"$tableDir has no committed version")))

  /** Read-only descriptor of one snapshot for the SQL/catalog layer
    * (`graft.sql`): the file list plus exactly the per-file metadata a
    * planner needs for manifest-level data skipping. `plainScan` marks
    * snapshots a SINGLE uniform parquet scan reproduces exactly — no
    * deletion vectors to anti-join, no column mapping to re-alias, no
    * partition directories to recover (additive schema evolution is
    * fine: the parquet reader null-fills columns a file predates). The
    * catalog's relation rule takes the stats-skipping fast path for
    * those and falls back to the composed [[readAt]] plan otherwise.
    */
  def snapshotMeta(version: Long): VersionedTable.SnapshotMeta = {
    val m = readManifest(version)
    VersionedTable.SnapshotMeta(
      version, m.schema, m.files,
      // droppedPhys too: a raw scan of files that still CARRY a dropped
      // physical column is only safe while no live column can collide
      // with it — the composed readAt path owns that bookkeeping
      plainScan = m.dv.isEmpty && m.colmap.isEmpty && m.droppedPhys.isEmpty &&
        m.files.forall(_.split('/').length == 3),
      m.stats, m.blooms, m.sizes, m.statsRef.map(r => s"$tableDir/$r"))
  }

  /** Time-travel read: the table exactly as of `version`. Byte-identical
    * to what [[read]] returned then — data files are immutable and only
    * [[vacuum]] removes them.
    */
  def readAt(version: Long): DataFrame = {
    val m = readManifest(version)
    snapshot(m, m.files)
  }

  /** Data-skipping read: the rows of the current version with
    * `lo <= column <= hi`, touching ONLY the files whose committed
    * per-file [min, max] for `column` can overlap the range — Delta's
    * file-statistics pruning on the manifest layer. Files with no
    * recorded stats for `column` (all-null file, or committed before
    * the column joined [[statsColumns]]) are read conservatively; the
    * exact predicate is applied on top either way, so pruning can only
    * remove IO, never rows.
    */
  def readRange(column: String, lo: Long, hi: Long): DataFrame =
    readRangeAt(currentVersion().getOrElse(
      throw new IllegalArgumentException(s"$tableDir has no committed version")),
      column, lo, hi)

  def readRangeAt(version: Long, column: String, lo: Long, hi: Long): DataFrame = {
    val m = readManifest(version)
    snapshot(m, pruneByStats(m, column, lo, hi))
      .filter(col(column) >= lo && col(column) <= hi)
  }

  /** Point-lookup read with bloom-filter skipping (Delta/Iceberg's
    * bloom indexes): the rows of the current version where
    * `column = value`, touching only the files whose committed bloom
    * says the value MIGHT be present — the high-cardinality complement
    * to [[readRange]]'s min/max pruning (on a column whose values are
    * spread across every file, min/max can never prune; a bloom prunes
    * all but ~fpp of the files). The probe literal is cast to the
    * column's declared type and hashed exactly as the build side hashed
    * the data (`BloomSketch.hashCols`), so build and probe agree by
    * construction. Files with no committed bloom for `column` are read
    * conservatively, and the exact predicate applies on top either way
    * — skipping can only remove IO, never rows. `value` must be
    * non-null (`x = NULL` is never true in SQL).
    */
  def readPoint(column: String, value: Any): DataFrame =
    readPointAt(currentVersion().getOrElse(
      throw new IllegalArgumentException(s"$tableDir has no committed version")),
      column, value)

  def readPointAt(version: Long, column: String, value: Any): DataFrame = {
    require(value != null, "readPoint value must be non-null (col = NULL is never true)")
    val m = readManifest(version)
    val field = m.schema.fields.find(_.name == column).getOrElse(
      throw new IllegalArgumentException(s"readPoint column $column not in table schema"))
    val probe = lit(value).cast(field.dataType)
    // one driver-local 1-row job re-derives the scan side's xxhash64
    // pair for the probe literal — same codepath, so equal values hash
    // equal regardless of the literal's JVM type
    val (h1c, h2c) = graft.util.BloomSketch.hashCols(probe)
    val hr = spark.range(1).select(h1c, h2c).head()
    val (h1, h2) = (hr.getLong(0), hr.getLong(1))
    val keep = m.files.filter { f =>
      m.blooms.get(f).flatMap(_.get(column)) match {
        case Some((k, bits)) => graft.util.BloomSketch.mightContain(bits, k, h1, h2)
        case None => true // no bloom: conservatively a candidate
      }
    }
    snapshot(m, keep).filter(col(column) === probe)
  }

  private def loadFiles(schema: StructType, files: Seq[String],
      fileCol: Option[String] = None, posCol: Option[String] = None,
      colmap: Map[String, String],
      sizes: Map[String, (Long, Long)] = Map.empty): DataFrame =
    if (files.isEmpty) {
      val base = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      val withF = fileCol.fold(base)(c => base.withColumn(c, lit("")))
      posCol.fold(withF)(c => withF.withColumn(c, lit(-1L)))
    } else if (format == "parquet" && colmap.isEmpty &&
        files.forall(f => f.split('/').length == 3 && sizes.contains(f))) {
      // PLAIN fast path — one pre-resolved parquet relation over a
      // manifest-backed FileIndex (the catalog read path's shape,
      // GraftSqlTable.v1Plan): ZERO filesystem listing and ZERO schema
      // inference at plan time, where the generic path below pays one
      // file-listing job and a footer-reading schema inference per
      // commit directory PER READ — the dominant fixed cost of an
      // incremental step's dozens of table reads (r15 profile: 64
      // listing jobs, ~32 s of job wall per step before this).
      // The explicit dataSchema makes additive evolution free (parquet
      // null-fills missing columns); partition-dir recovery and column
      // mapping stay on the generic path (gated above).
      val meta = VersionedTable.SnapshotMeta(-1L, schema, files,
        plainScan = true, Map.empty, Map.empty,
        sizes.view.filterKeys(files.toSet).toMap, None)
      val rel = org.apache.spark.sql.execution.datasources.LogicalRelation(
        org.apache.spark.sql.execution.datasources.HadoopFsRelation(
          new graft.sql.GraftFileIndex(spark, this, meta),
          // asNullable: the vectorized reader REFUSES a required column
          // missing from a file's footer, and additively-evolved old
          // commits lack the new columns by construction — nullable is
          // exactly what the generic union path exposes
          partitionSchema = StructType(Nil),
          dataSchema = org.apache.spark.sql.graft.shims.asNullable(schema),
          bucketSpec = None,
          fileFormat = new org.apache.spark.sql.execution.datasources
            .parquet.ParquetFileFormat,
          options = Map.empty)(spark))
      val df = org.apache.spark.sql.graft.shims.dataFrame(spark, rel)
      val withF = fileCol.fold(df)(c => df.withColumn(c,
        regexp_extract(col("_metadata.file_path"),
          "^.*/(data/c-[^/]+/.+)$", 1)))
      val withP = posCol.fold(withF)(c =>
        withF.withColumn(c, col("_metadata.row_index")))
      withP.select(schema.map(f => col(f.name)) ++
        fileCol.map(col).toSeq ++ posCol.map(col).toSeq: _*)
    } else {
      // one read per commit dir: basePath recovers the partition column
      // from each dir's own layout, then unionByName aligns commits
      // whose schemas evolved additively
      val byCommit = files.groupBy(_.split('/').take(2).mkString("/")).toSeq.sortBy(_._1)
      val perCommit = byCommit.map { case (dir, fl) =>
        val df = spark.read.format(format)
          .option("basePath", s"$tableDir/$dir")
          .load(fl.map(f => s"$tableDir/$f"): _*)
        // the manifest-relative file name, recovered from the scan's
        // _metadata.file_path (commit dirs are always data/c-<uuid>, so
        // the suffix match is unambiguous regardless of scheme). NOT
        // input_file_name(): that function is NONDETERMINISTIC to
        // Catalyst, and a project containing it blocks predicate
        // pushdown into the scan below — every DV read and COW
        // discovery scan would become a full-file scan at 100 TB
        // (VersionedPlanSpec is the tripwire). _metadata is a proper
        // deterministic metadata column; filters push straight past it.
        // greedy ^.*/ anchors the capture to the LAST data/c- segment, so
        // a tableDir that itself contains "data/c-" cannot shift the
        // extraction (deleteMoR additionally checkKnown-validates)
        val withF = fileCol.fold(df)(c =>
          df.withColumn(c,
            regexp_extract(col("_metadata.file_path"), "^.*/(data/c-[^/]+/.+)$", 1)))
        // the row's physical position in its parquet file — the stable
        // coordinate deletion vectors address rows by (resolved per
        // commit read: metadata columns don't survive a union)
        posCol.fold(withF)(c => withF.withColumn(c, col("_metadata.row_index")))
      }
      val unioned = perCommit.reduce(_.unionByName(_, allowMissingColumns = true))
      // the manifest schema governs column order and types (partition
      // values round-trip through dir names; the cast undoes partition
      // type inference for non-inferable originals like string dates).
      // A schema column NONE of the loaded files carry (a subset read —
      // change feed, constraint read-back — of files older or newer
      // than an additive evolution) null-fills, exactly as the full
      // table read sees it via unionByName.
      val have = unioned.columns.toSet
      val cols = schema.map { f =>
        // column mapping: files store PHYSICAL names (stable across
        // renames); the select aliases them back to the logical schema.
        // The cast exists to undo partition-dir type inference — skip it
        // when the read type already matches modulo nullability: Cast
        // refuses nested-nullability TIGHTENING (array<string> with
        // containsNull=true, which file relations always present, will
        // not cast to a manifest's containsNull=false), and a no-op cast
        // helps nothing
        val phys = colmap.getOrElse(f.name, f.name)
        (if (have(phys)) {
          val c = col(phys)
          if (unioned.schema(phys).dataType.catalogString ==
              f.dataType.catalogString) c
          else c.cast(f.dataType)
        } else lit(null).cast(f.dataType)).as(f.name)
      } ++ fileCol.map(col).toSeq ++ posCol.map(col).toSeq
      unioned.select(cols: _*)
    }

  /** The rows of `files` as of manifest `m`, with `m`'s deletion
    * vectors applied (rows a DV marks deleted never surface). With no
    * DVs this is exactly [[loadFiles]] — zero read overhead for tables
    * that only ever use copy-on-write. With DVs, application is ONE
    * anti-join on (file, row-position) — the distributed equivalent of
    * Delta's reader-side bitmap masking; AQE broadcasts the sidecar
    * when it is small (the common case: DVs exist to avoid rewrites for
    * SPARSE deletes). DV entries addressing files outside `files`
    * (pruned reads, files since rewritten) are inert by construction —
    * a row position is only meaningful inside the immutable file that
    * produced it, and rewritten files get fresh commit-dir names.
    */
  private def snapshot(m: Manifest, files: Seq[String],
      fileCol: Option[String] = None, posCol: Option[String] = None): DataFrame =
    if (m.dv.isEmpty)
      loadFiles(m.schema, files, fileCol, posCol, m.colmap, m.sizes)
    else {
      val fc = fileCol.getOrElse(freshFileCol(m))
      val ic = posCol.getOrElse(
        freshPosCol(m, fc))
      val alive = loadFiles(m.schema, files, Some(fc), Some(ic), m.colmap,
        m.sizes)
        .join(dvEntries(m, fc, ic), Seq(fc, ic), "left_anti")
      val cols = m.schema.map(f => col(f.name)) ++
        fileCol.map(col).toSeq ++ posCol.map(col).toSeq
      alive.select(cols: _*)
    }

  /** The (file, row-position) coordinates of every deleted row, read
    * from the active sidecars and renamed to this read's scratch
    * column names.
    */
  private def dvEntries(m: Manifest, fc: String, ic: String): DataFrame =
    spark.read.schema("f STRING, pos BIGINT")
      .parquet(m.dv.map(p => s"$tableDir/$p"): _*)
      .select(col("f").as(fc), col("pos").as(ic))

  /** Drop all but the newest `keepVersions` manifests and every commit
    * dir no retained manifest references. This — and only this — breaks
    * time travel (and any reader still pinned) beyond the horizon.
    * Manifests are deleted BEFORE data dirs so a crash mid-vacuum leaves
    * orphan data (harmless, re-vacuumable), never a manifest pointing at
    * missing files.
    */
  def vacuum(keepVersions: Int = 1,
      unreferencedGraceMs: Long = VersionedTable.DefaultVacuumGraceMs): Unit = {
    require(keepVersions >= 1, s"keepVersions must be >= 1, got $keepVersions")
    val vs = versions()
    vacuumVersions(vs.dropRight(keepVersions), vs.takeRight(keepVersions),
      unreferencedGraceMs)
  }

  /** Retention-window vacuum (Delta's `VACUUM ... RETAIN n HOURS` on
    * manifest mtimes): drop every version whose manifest landed before
    * `cutoffMs` — except the newest one, which is always retained even
    * if old (a cold table must stay readable). Readers pinned beyond
    * the horizon break, exactly like [[vacuum]].
    */
  def vacuumOlderThan(cutoffMs: Long,
      unreferencedGraceMs: Long = VersionedTable.DefaultVacuumGraceMs): Unit = {
    val vs = versions()
    if (vs.isEmpty) return
    // PREFIX by version order, stopping at the first young manifest:
    // mtimes can be non-monotone across versions (clock steps,
    // multi-host writers on shared storage), and a mid-history hole
    // would orphan every later delta manifest whose chain crosses it —
    // the retained horizon must stay contiguous for the checkpoint in
    // vacuumVersions to terminate every retained chain.
    // a concurrent vacuum can delete a manifest between our versions()
    // listing and the per-version stat — re-list once against the new
    // log state; a second vanish in a row still means "racing vacuum",
    // so classify it instead of surfacing a raw FileNotFoundException
    def old(run: Seq[Long]): Seq[Long] = run.init.takeWhile(v =>
      fs.getFileStatus(manifestPath(v)).getModificationTime < cutoffMs)
    try {
      val o = old(vs)
      vacuumVersions(o, vs.drop(o.size), unreferencedGraceMs)
    } catch {
      case _: java.io.FileNotFoundException =>
        val vs2 = versions()
        if (vs2.isEmpty) return
        try {
          val o = old(vs2)
          vacuumVersions(o, vs2.drop(o.size), unreferencedGraceMs)
        } catch {
          case _: java.io.FileNotFoundException =>
            throw new java.util.ConcurrentModificationException(
              s"vacuumOlderThan: manifests of $tableDir keep vanishing " +
                "under the listing — a concurrent vacuum is reclaiming " +
                "this log; retry the operation")
        }
    }
  }

  /** An unreferenced dir younger than `graceMs` is NOT reclaimed: an
    * in-flight writer's freshly written commit dir is unreferenced by
    * construction until its manifest publishes, and a vacuum racing it
    * would leave the about-to-publish version pointing at deleted files
    * (the CAS cannot catch this — vacuum bumps no version). The same
    * age threshold Delta's VACUUM retention window provides; pass 0
    * only when no writer can be in flight.
    */
  private def vacuumVersions(dropped: Seq[Long], kept: Seq[Long],
      graceMs: Long): Unit = {
    // kept is a contiguous ascending suffix: resolve it sequentially
    // (one read per version) rather than one full chain walk each
    val keptManifests = resolveSequentially(kept)
    val referenced: Set[String] =
      keptManifests.flatMap { case (_, m) => m.files ++ m.dv ++ m.cdc ++ m.statsRef.toSeq }
        .map(_.split('/').take(2).mkString("/")).toSet
    // delta-chain preservation: the retained versions resolve through
    // manifests BELOW them (a v2 delta's base is its predecessor).
    // kept is always a contiguous suffix (vacuum keeps the newest n;
    // vacuumOlderThan takes a prefix), so giving the OLDEST kept
    // version a self-contained `.ckpt` sidecar (which readManifest
    // prefers) terminates every retained chain at or above it — then
    // the dropped prefix's manifests can go.
    if (dropped.nonEmpty && kept.nonEmpty) {
      val k0 = kept.min
      val needsCkpt =
        try !fs.exists(ckptPath(k0)) && !manifestIsFull(k0)
        catch {
          // manifestIsFull's open can hit a manifest a RACING vacuum
          // (different retention) just deleted — classify instead of
          // surfacing the raw stream error; nothing was deleted yet
          case _: java.io.FileNotFoundException =>
            throw new java.util.ConcurrentModificationException(
              s"vacuum: manifest v$k0 of $tableDir vanished mid-probe — " +
                "a concurrent vacuum is reclaiming this log; retry the operation")
        }
      if (needsCkpt) writeCheckpoint(k0, keptManifests.find(_._1 == k0).get._2)
    }
    // a concurrent vacuum may delete the same file between our delete
    // (returns false) and the recheck — converge instead of failing
    def deleteTolerant(p: Path, what: String): Unit =
      if (!fs.delete(p, false) && fs.exists(p))
        throw new IllegalStateException(s"vacuum: could not delete $what")
    // DESCENDING version order: a crash partway then leaves every
    // still-listed version's delta chain intact (a dropped delta's base
    // is always BELOW it, and nothing below is deleted before it), so
    // history()/readManifest over the survivors keep working until the
    // next vacuum finishes the job. Ascending deletion would leave
    // later dropped deltas base-less while versions() still lists them.
    dropped.sorted(Ordering[Long].reverse).foreach { v =>
      // ckpt FIRST: a crash between the two deletes must leave the
      // version either fully present or manifest-only — never a
      // manifest-less orphan ckpt, which readManifest would prefer and
      // silently resurrect while this same vacuum deletes its data
      // files underneath it (and versions() would never list it again
      // for cleanup)
      val ck = ckptPath(v)
      if (fs.exists(ck)) deleteTolerant(ck, s"checkpoint for v$v")
      deleteTolerant(manifestPath(v), s"manifest v$v")
    }
    val youngestKeptMs = System.currentTimeMillis() - graceMs
    val dataPath = new Path(s"$tableDir/data")
    if (fs.exists(dataPath)) fs.listStatus(dataPath).foreach { st =>
      val rel = s"data/${st.getPath.getName}"
      if (!referenced.contains(rel) && st.getModificationTime < youngestKeptMs)
        require(fs.delete(st.getPath, true), s"vacuum: could not delete $rel")
    }
  }

  // ---- manifest + listing plumbing ------------------------------------

  private sealed trait PublishOutcome
  private case object Landed extends PublishOutcome  // we committed
  private case object Lost extends PublishOutcome    // another writer did
  private case object Refused extends PublishOutcome // fs fault, dest free

  /** Atomically land `tmp` at `dest` WITHOUT overwriting, and say which
    * of the three outcomes happened. The primitive differs by
    * filesystem, because only one atomic no-overwrite operation exists
    * on each:
    *
    *  - plain local filesystems: POSIX `link(2)` — `rename(2)` CLOBBERS
    *    an existing destination, so two racing local writers publishing
    *    by rename would silently lose a commit; a hard link fails
    *    `EEXIST` atomically instead (exact-class check: test doubles
    *    SUBCLASS RawLocalFileSystem to instrument rename, and keep it);
    *  - HDFS-contract filesystems: `rename` itself refuses an existing
    *    destination atomically (the same primitive Delta's HDFS
    *    LogStore relies on), with an exists re-check to classify a
    *    refusal as lost-race vs fault.
    */
  private def publishManifest(tmp: Path, dest: Path): PublishOutcome = {
    val cls: Class[_] = fs.getClass
    if (cls == classOf[org.apache.hadoop.fs.LocalFileSystem] ||
        cls == classOf[org.apache.hadoop.fs.RawLocalFileSystem]) {
      val t = java.nio.file.Paths.get(tmp.toUri.getPath)
      val d = java.nio.file.Paths.get(dest.toUri.getPath)
      try {
        java.nio.file.Files.createLink(d, t)
        fs.delete(tmp, false)
        Landed
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          fs.delete(tmp, false); Lost
        case _: java.io.IOException =>
          fs.delete(tmp, false); Refused
      }
    } else {
      // exists pre-check first: on a RawLocalFileSystem SUBCLASS (test
      // doubles; real deployments never take this branch with one) the
      // rename would clobber, and on HDFS it cheaply classifies a
      // known-lost race before the rename round-trip
      if (fs.exists(dest)) { fs.delete(tmp, false); Lost }
      else if (fs.rename(tmp, dest)) Landed
      else {
        val outcome = if (fs.exists(dest)) Lost else Refused
        fs.delete(tmp, false)
        outcome
      }
    }
  }

  /** Write `df`'s rows into a fresh, unreferenced commit dir; returns
    * (commit-relative dir, manifest-relative file names, their stats).
    * Nothing is visible until a manifest referencing the files lands.
    */
  private def writeDataFiles(df: DataFrame,
      colmap: Map[String, String])
      : (String, Seq[String], FileStats, FileBlooms, FileSizes) = {
    val commitRel = s"data/c-${UUID.randomUUID()}"
    val commitAbs = s"$tableDir/$commitRel"
    // column mapping: batches arrive with LOGICAL names; files store
    // PHYSICAL names so every commit epoch agrees on disk
    val phys =
      if (colmap.isEmpty) df
      else df.select(df.columns.map(c => col(c).as(colmap.getOrElse(c, c))).toSeq: _*)
    val w = phys.write.format(format).mode(SaveMode.ErrorIfExists)
    partitionCol.fold(w)(w.partitionBy(_)).save(commitAbs)
    val listed = listDataFiles(commitAbs)
    val newFiles = listed.map(t => s"$commitRel/${t._1}")
    val newSizes: FileSizes =
      listed.map(t => s"$commitRel/${t._1}" -> (t._2, t._3)).toMap
    if (newFiles.isEmpty)
      (commitRel, newFiles, Map.empty: FileStats, Map.empty: FileBlooms, newSizes)
    else {
      val (stats, blooms) = collectFileMeta(commitRel, commitAbs, phys.schema)
      (commitRel, newFiles, stats, blooms, newSizes)
    }
  }

  /** Data files under `dir`, as (dir-relative path, length, mtime).
    * Skips Spark's `_SUCCESS` markers and hidden files. Sizes come for
    * free from the listing — the one walk the write already pays — so
    * commits can record them manifest-side (no later per-file stats).
    */
  private def listDataFiles(dir: String): Seq[(String, Long, Long)] = {
    val base = new Path(dir).toUri.getPath
    val buf = ArrayBuffer.empty[(String, Long, Long)]
    // manual listStatus recursion, NOT fs.listFiles: listFiles wraps each
    // entry in a LocatedFileStatus, which loads permissions eagerly and
    // (on RawLocalFileSystem under a custom scheme) dies in `new
    // File(uri)` — the same fs shape the fault-injection specs use
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val name = st.getPath.getName
      if (st.isDirectory) walk(st.getPath)
      else if (!name.startsWith("_") && !name.startsWith(".")) {
        val f = st.getPath.toUri.getPath
        require(f.startsWith(base + "/"), s"listed file $f escapes commit dir $base")
        buf += ((f.drop(base.length + 1), st.getLen, st.getModificationTime))
      }
    }
    walk(new Path(dir))
    buf.toSeq.sortBy(_._1)
  }

  /** Per-file [min, max] of each stats column for the files just
    * written — the data-skipping metadata [[readRange]] prunes on. One
    * read-back scan of the NEW files only (Delta collects these inline
    * during the write; a post-scan of the committed batch is the
    * jar-free equivalent, and costs one pass over the batch, never the
    * table). Restricted to integral-typed columns: min/max serialize as
    * longs, exact in both the manifest text and the prune compare.
    * All-null files get no entry (conservatively read). Keyed by the
    * manifest-relative file path.
    */
  /** `written` is the schema of the frame as WRITTEN (physical names,
    * declared types). Skipping metadata is collected only for the
    * stats/bloom columns that batch actually carried — a legal evolving
    * append that omits one simply gets no skipping for its files (they
    * hold nulls there; readers treat missing metadata conservatively).
    * The read-back takes `written` as its schema, so it runs no
    * schema-inference job. Every read-back column is still cast to its
    * DECLARED type before aggregation/hashing: a basePath read that
    * inferred partition-column types would turn a string partition
    * value "7" into an int, and a bloom built over the inferred type
    * would disagree with the probe's manifest-typed hash — pruning
    * files that DO contain the value.
    */
  private def collectFileMeta(commitRel: String, commitAbs: String,
      written: StructType): (FileStats, FileBlooms) = {
    // config columns are rename-proof, so physical name == logical name
    val declared = written.fields.map(f => f.name -> f.dataType).toMap
    val statsCols = statsColumns.filter(declared.contains)
    val bloomCols = bloomColumns.filter(declared.contains)
    if (statsCols.isEmpty && bloomCols.isEmpty) (Map.empty, Map.empty)
    else {
      val integral: Set[Any] = Set(LongType, IntegerType, ShortType, ByteType)
      statsCols.foreach { c =>
        require(integral.contains(declared(c)) ||
          declared(c) == DateType || declared(c) == TimestampType,
          s"stats column $c is ${declared(c).simpleString}; only integral, " +
            "date and timestamp types serialize exactly in the manifest")
      }
      // the manifest's long encoding per type — chosen to MATCH the
      // internal value Catalyst literals carry, so StatsPrune compares
      // the recorded range against a DATE '...' / TIMESTAMP '...'
      // predicate literal with no conversion at plan time: DateType →
      // epoch days (unix_date), TimestampType → epoch micros
      // (unix_micros), integrals as themselves
      def asStatLong(c: String): Column = (declared(c) match {
        case DateType => unix_date(col(c).cast(DateType))
        case TimestampType => unix_micros(col(c).cast(TimestampType))
        case _ => col(c)
      }).cast(LongType)
      val back = spark.read.format(format).schema(written)
        .option("basePath", commitAbs).load(commitAbs)
      // ONE read-back pass collects both kinds of skipping metadata:
      // min/max ranges and point-lookup blooms (map-side combinable)
      val aggs = statsCols.flatMap(c => Seq(
        min(asStatLong(c)).as(s"_mn_$c"), max(asStatLong(c)).as(s"_mx_$c"))) ++
        bloomCols.map(c =>
          graft.util.BloomSketch.agg(col(c).cast(declared(c)), bloomBits, bloomHashes)
            .as(s"_bf_$c"))
      val base = new Path(commitAbs).toUri.getPath
      val rows = back.groupBy(input_file_name().as("_f"))
        .agg(aggs.head, aggs.tail: _*)
        .collect()
        .map { r =>
          val abs = new Path(new java.net.URI(r.getString(0))).toUri.getPath
          require(abs.startsWith(base + "/"), s"stats file $abs escapes commit dir")
          val rel = s"$commitRel/${abs.drop(base.length + 1)}"
          val st = statsCols.zipWithIndex.flatMap { case (c, i) =>
            if (r.isNullAt(1 + 2 * i)) None // all-null file: no prunable range
            else Some(c -> (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
          }.toMap
          val bfBase = 1 + 2 * statsCols.size
          val bf = bloomCols.zipWithIndex.map { case (c, i) =>
            c -> (bloomHashes, graft.util.BloomSketch.fromBytes(
              r.getAs[Array[Byte]](bfBase + i)))
          }.toMap
          (rel, st, bf)
        }
      (rows.map(t => t._1 -> t._2).filter(_._2.nonEmpty).toMap,
        rows.map(t => t._1 -> t._3).filter(_._2.nonEmpty).toMap)
    }
  }

  // ---- manifest serialization: full (v1) and delta (v2) forms ---------
  //
  // A FULL manifest is self-contained (every file + its stats/blooms).
  // Rewriting it per commit makes a streaming sink's cumulative log
  // O(files²): the N-th 1-file append writes N file lines. A DELTA
  // manifest (header graft-manifest-v2) instead records `base:<v-1>`
  // plus add/remove actions against its predecessor — O(changed files)
  // bytes per commit, Delta Lake's add/remove-action shape. Every
  // CheckpointInterval-th version is forced full so a reader resolves
  // at most CheckpointInterval-1 deltas (each a small-file read), and
  // vacuum writes a `.ckpt` sidecar for the oldest retained version
  // before deleting its chain prefix. Measured (VersionedLogGrowthSpec,
  // 1000 single-file appends): each delta manifest is a flat 390 bytes
  // while the self-contained head manifest is 234 KB — cumulative log
  // ~6 MB (deltas + 50 checkpoints) vs ~117 MB self-contained, and the
  // LIVE log after a keep-5 retention vacuum is ~0.5 MB. Per-commit log
  // I/O is O(changes) between checkpoints and O(files) only every
  // CheckpointInterval commits.

  private def fileLines(sb: StringBuilder, f: String, m: Manifest, addPrefix: String): Unit = {
    // path \t length \t mtime — size metadata rides the file line so a
    // reader plans with ZERO filesystem stats (Delta's AddFile shape);
    // pre-size manifests wrote the bare path and fall back to a listing
    sb.append(addPrefix).append(f)
    m.sizes.get(f).foreach { case (len, mt) =>
      sb.append('\t').append(len).append('\t').append(mt)
    }
    sb.append('\n')
    // stats ride next to their file line: col \t min \t max \t path
    // (path LAST — it is the only field that could ever be exotic)
    m.stats.get(f).toSeq.flatMap(_.toSeq).sortBy(_._1).foreach { case (c, (mn, mx)) =>
      sb.append("stats:").append(c).append('\t').append(mn).append('\t')
        .append(mx).append('\t').append(f).append('\n')
    }
    // point-lookup blooms: col \t k \t base64(bits) \t path
    m.blooms.get(f).toSeq.flatMap(_.toSeq).sortBy(_._1).foreach { case (c, (k, bits)) =>
      sb.append("bloom:").append(c).append('\t').append(k).append('\t')
        .append(java.util.Base64.getEncoder.encodeToString(
          graft.util.BloomSketch.toBytes(bits)))
        .append('\t').append(f).append('\n')
    }
  }

  // everything that is NOT the file list is small and written in full
  // by BOTH forms, so a delta never needs its base for metadata
  private def metaLines(sb: StringBuilder, m: Manifest): Unit = {
    sb.append("schema:").append(m.schema.json).append('\n')
    sb.append("op:").append(m.op).append('\n')
    // one marker slot per writer app: app \t id (legacy manifests
    // wrote a bare id — parsed back into the default app's slot)
    m.txns.toSeq.sortBy(_._1).foreach { case (a, id) =>
      sb.append("batch:").append(a).append('\t').append(id).append('\n')
    }
    // CHECK constraints: name \t sql (both validated tab/newline-free)
    m.constraints.toSeq.sortBy(_._1).foreach { case (n, e) =>
      sb.append("constraint:").append(n).append('\t').append(e).append('\n')
    }
    // column mapping: logical \t physical (identity entries omitted);
    // tombstoned physical names guard against data resurrection
    m.colmap.toSeq.sortBy(_._1).foreach { case (l, ph) =>
      sb.append("colmap:").append(l).append('\t').append(ph).append('\n')
    }
    m.droppedPhys.foreach(d => sb.append("droppedphys:").append(d).append('\n'))
    // generated columns: name \t sql (computed on omission, verified
    // on presence)
    m.generated.toSeq.sortBy(_._1).foreach { case (n, e) =>
      sb.append("gencol:").append(n).append('\t').append(e).append('\n')
    }
    // the stats sidecar reference is small metadata both forms carry in
    // full — a delta self-describes which sidecar covers its base files
    m.statsRef.foreach(r => sb.append("statsref:").append(r).append('\n'))
    // table properties: key \t value (both validated tab/newline-free)
    m.props.toSeq.sortBy(_._1).foreach { case (k, v) =>
      sb.append("prop:").append(k).append('\t').append(v).append('\n')
    }
    // THIS commit's change-data sidecar files — per-commit metadata
    // (like op:), so both full and delta forms carry their own
    m.cdc.foreach(c => sb.append("cdcfile:").append(c).append('\n'))
  }

  private def writeFullManifest(at: Path, m: Manifest): Unit = {
    val out = fs.create(at, true)
    try {
      val sb = new StringBuilder("graft-manifest-v1\n")
      metaLines(sb, m)
      m.files.foreach(f => fileLines(sb, f, m, "file:"))
      // active deletion-vector sidecars (parquet files of (f, pos)
      // coordinates); readers anti-join these against the data files
      m.dv.foreach(d => sb.append("dvfile:").append(d).append('\n'))
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    } finally out.close()
  }

  private def bloomEq(a: Option[Map[String, (Int, Array[Long])]],
      b: Option[Map[String, (Int, Array[Long])]]): Boolean = (a, b) match {
    case (None, None) => true
    case (Some(x), Some(y)) =>
      (x eq y) || (x.keySet == y.keySet && x.forall { case (k, (n, bits)) =>
        val (n2, bits2) = y(k)
        n == n2 && java.util.Arrays.equals(bits, bits2)
      })
    case _ => false
  }

  /** Can `m` be expressed as add/remove actions over `pm` — reproducing
    * files, stats, blooms and dv EXACTLY (including order), with fewer
    * action lines than a full rewrite?
    */
  private def deltaEncodable(pm: Manifest, m: Manifest): Boolean = {
    val pmSet = pm.files.toSet
    val mSet = m.files.toSet
    val adds = m.files.filterNot(pmSet)
    val rms = pmSet.diff(mSet)
    val addSet = adds.toSet
    val dvAdds = m.dv.filterNot(pm.dv.toSet)
    val dvRms = pm.dv.toSet.diff(m.dv.toSet)
    adds.size + rms.size + dvAdds.size + dvRms.size < m.files.size + m.dv.size &&
      (pm.files.filterNot(rms) ++ adds) == m.files &&
      (pm.dv.filterNot(dvRms) ++ dvAdds) == m.dv &&
      m.files.forall(f =>
        addSet.contains(f) ||
          (m.stats.get(f) == pm.stats.get(f) && bloomEq(m.blooms.get(f), pm.blooms.get(f)) &&
            m.sizes.get(f) == pm.sizes.get(f)))
  }

  private def writeDeltaManifest(at: Path, m: Manifest,
      baseV: Long, pm: Manifest): Unit = {
    val out = fs.create(at, true)
    try {
      val sb = new StringBuilder("graft-manifest-v2\n")
      sb.append("base:").append(baseV).append('\n')
      metaLines(sb, m)
      val pmSet = pm.files.toSet
      val mSet = m.files.toSet
      m.files.filterNot(pmSet).foreach(f => fileLines(sb, f, m, "addfile:"))
      pm.files.filterNot(mSet).foreach(f => sb.append("rmfile:").append(f).append('\n'))
      m.dv.filterNot(pm.dv.toSet).foreach(d => sb.append("adddv:").append(d).append('\n'))
      pm.dv.filterNot(m.dv.toSet).foreach(d => sb.append("rmdv:").append(d).append('\n'))
      out.write(sb.toString.getBytes(StandardCharsets.UTF_8))
    } finally out.close()
  }

  /** Serialize `m` as the manifest for version `next`: a delta against
    * `prev` when one is faithful, profitable, and `next` is not a
    * checkpoint boundary; a full self-contained manifest otherwise.
    */
  private def writeManifest(at: Path, m: Manifest, next: Long,
      prev: Option[(Long, Manifest)]): Unit =
    prev match {
      case Some((bv, pm))
          if next % VersionedTable.CheckpointInterval != 0 && deltaEncodable(pm, m) =>
        writeDeltaManifest(at, m, bv, pm)
      case _ => writeFullManifest(at, spillOrInline(m))
    }

  // ---- stats sidecar: per-file skipping metadata as PARQUET -----------
  //
  // A LARGE table's per-file stats and bloom bits are the heavy part of
  // its metadata (a bloom is KBs per file per column; 10⁵ files would
  // put hundreds of MB in every full manifest AND on the driver at every
  // plan). Above [[statsSidecarThreshold]] files, a full manifest spills
  // them to a parquet sidecar under data/ (`statsref:` line) — Delta's
  // checkpoint-parquet role — and the SQL planner prunes it as a
  // DISTRIBUTED scan ([[graft.sql.GraftFileIndex]]), so the driver never
  // materializes per-file stats for the bulk of the table. Delta
  // manifests between checkpoints carry their added files' metadata
  // inline (small); those in-memory entries override the sidecar.
  // Sidecars live in data/s-<uuid>/ so vacuum's referenced-dir
  // reclamation covers them exactly like commit dirs.

  /** Files at or above this count spill stats/blooms to a parquet
    * sidecar on full-manifest writes. Tunable per session
    * (`spark.graft.statsSidecarThreshold`) — specs pin the distributed
    * path with a tiny threshold.
    */
  private def sidecarThreshold: Int =
    spark.conf.getOption("spark.graft.statsSidecarThreshold")
      .map(_.toInt).getOrElse(4096)

  private def spillOrInline(m: Manifest): Manifest =
    if (m.files.size >= sidecarThreshold &&
        (m.stats.nonEmpty || m.blooms.nonEmpty || m.statsRef.isDefined))
      spillToSidecar(m)
    else if (m.statsRef.isDefined) inlineSidecar(m)
    else m

  private def sidecarDs(rel: String): Dataset[VersionedTable.SidecarRow] =
    spark.read.schema(VersionedTable.sidecarSchema).parquet(s"$tableDir/$rel")
      .as(VersionedTable.sidecarEncoder)

  /** Move every file's skipping metadata into a fresh sidecar: rows for
    * in-memory entries (the delta tail — or everything, at the first
    * threshold crossing) plus the still-live rows of the previous
    * sidecar, carried DISTRIBUTEDLY (the old sidecar is never collected
    * to the driver).
    */
  private def spillToSidecar(m: Manifest): Manifest = {
    val memCovered = m.stats.keySet ++ m.blooms.keySet
    val memRows = memCovered.toSeq.sorted.map { f =>
      VersionedTable.SidecarRow(f,
        m.stats.getOrElse(f, Map.empty).toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
          VersionedTable.SidecarStat(c, mn, mx) },
        m.blooms.getOrElse(f, Map.empty).toSeq.sortBy(_._1).map { case (c, (k, bits)) =>
          VersionedTable.SidecarBloom(c, k, graft.util.BloomSketch.toBytes(bits)) })
    }
    val rel = s"data/s-${UUID.randomUUID()}"
    val mem = spark.createDataset(memRows)(VersionedTable.sidecarEncoder)
    val out = m.statsRef match {
      case Some(old) =>
        // rows for files REMOVED since the old sidecar (COW, optimize)
        // drop here; rows superseded by in-memory entries drop too
        val live = m.files.filterNot(memCovered).toSet
        val liveB = spark.sparkContext.broadcast(live)
        sidecarDs(old).filter(r => liveB.value.contains(r.file)).union(mem)
      case None => mem
    }
    out.repartition(math.max(1, m.files.size / 16384))
      .write.mode(SaveMode.ErrorIfExists).parquet(s"$tableDir/$rel")
    m.copy(stats = Map.empty, blooms = Map.empty, statsRef = Some(rel))
  }

  /** A table that shrank back below the threshold folds its sidecar
    * back into inline manifest lines (rare; one bounded collect).
    */
  private def inlineSidecar(m: Manifest): Manifest = {
    val memCovered = m.stats.keySet ++ m.blooms.keySet
    val live = m.files.filterNot(memCovered).toSet
    val liveB = spark.sparkContext.broadcast(live)
    val rows = sidecarDs(m.statsRef.get).filter(r => liveB.value.contains(r.file)).collect()
    val st: FileStats = rows.iterator.map(r =>
      r.file -> r.stats.map(s => s.col -> (s.mn, s.mx)).toMap)
      .filter(_._2.nonEmpty).toMap
    val bl: FileBlooms = rows.iterator.map(r =>
      r.file -> r.blooms.map(b =>
        b.col -> (b.k, graft.util.BloomSketch.fromBytes(b.bits))).toMap)
      .filter(_._2.nonEmpty).toMap
    m.copy(stats = m.stats ++ st, blooms = m.blooms ++ bl, statsRef = None)
  }

  /** A parsed manifest. Unknown line prefixes are ignored for forward
    * compatibility (and a missing op line reads as "write": pre-op
    * manifests stay readable).
    */
  private case class Manifest(
      schema: StructType,
      op: String,
      txns: Map[String, Long],
      files: Seq[String],
      stats: Map[String, Map[String, (Long, Long)]],
      dv: Seq[String],
      blooms: Map[String, Map[String, (Int, Array[Long])]],
      constraints: Map[String, String],
      colmap: Map[String, String],
      droppedPhys: Seq[String],
      generated: Map[String, String],
      // (length, mtime) per file — absent only for pre-size manifests
      sizes: Map[String, (Long, Long)] = Map.empty,
      // tableDir-relative parquet sidecar holding per-file stats/bloom
      // rows for the bulk of a LARGE table (Delta's checkpoint-parquet
      // role); files whose metadata is in `stats`/`blooms` override it
      statsRef: Option[String] = None,
      // table properties (Delta's TBLPROPERTIES): carried by every
      // commit, survive overwrite, conflict-checked like constraints
      props: Map[String, String] = Map.empty,
      // THIS version's change-data sidecar files (tableDir-relative
      // parquet of table-schema rows + _change_type) — per-commit, NOT
      // carried forward: publishAt resets it on every publish
      cdc: Seq[String] = Seq.empty) {
    /** The on-disk column name for logical `name` (identity unless a
      * rename moved the logical name; physical names never change).
      */
    def physical(name: String): String = colmap.getOrElse(name, name)

    /** Generated rules as null-safe-equality row checks — the one shape
      * constraint enforcement and the dry-run analysis consume.
      */
    def genChecks: Map[String, String] =
      generated.map { case (g, e) => s"generated $g" -> s"$g <=> ($e)" }
  }

  /** Is the stored manifest for `version` self-contained (v1)? Reads
    * only the header line's worth of bytes — looping, because a single
    * InputStream.read may legally return fewer bytes than asked (object
    * stores do), and a short read must not misclassify a full manifest.
    */
  private def manifestIsFull(version: Long): Boolean = {
    val in = fs.open(manifestPath(version))
    try {
      val header = "graft-manifest-v1"
      val buf = new Array[Byte](header.length)
      var off = 0
      var n = 0
      while (off < buf.length && n >= 0) {
        n = in.read(buf, off, buf.length - off)
        if (n > 0) off += n
      }
      off == buf.length && new String(buf, StandardCharsets.UTF_8) == header
    } finally in.close()
  }

  /** Publish a self-contained `.ckpt` sidecar for `version` — content
    * identical to its resolved manifest; a lost race means another
    * vacuum wrote the same bytes, which is fine.
    */
  private def writeCheckpoint(version: Long, m: Manifest): Unit = {
    val tmp = new Path(logDir, s".tmp-${UUID.randomUUID()}")
    writeFullManifest(tmp, m)
    publishManifest(tmp, ckptPath(version)) match {
      case Landed | Lost => ()
      case Refused =>
        throw new IllegalStateException(
          s"vacuum: could not publish chain checkpoint for v$version — " +
            "no manifest was deleted; the table is unchanged")
    }
  }

  private final class MissingManifest(val missing: Long)
    extends RuntimeException(s"manifest v$missing missing", null, false, false)

  /** Resolve a version to its full in-memory [[Manifest]]. A `.ckpt`
    * sidecar (written by vacuum) takes precedence — it is the resolved
    * content and short-circuits the chain walk; otherwise a v1 manifest
    * parses directly and a v2 delta applies its add/remove actions over
    * its recursively-resolved base (at most CheckpointInterval-1 deep).
    *
    * Race note: a reader's chain walk can interleave with a concurrent
    * vacuum — the reader passes a version's ckpt-existence check before
    * vacuum publishes the oldest-retained ckpt, then finds that
    * version's base deleted. Vacuum writes the ckpt durably BEFORE
    * deleting anything, so one retry from the top is guaranteed to
    * resolve any RETAINED version (the re-walk now sees the ckpt); only
    * genuinely vacuumed versions still fail, with the usual message.
    */
  private def readManifest(version: Long): Manifest = {
    // retry while the missing-version frontier ADVANCES: each concurrent
    // vacuum moves its checkpoint horizon strictly upward before
    // deleting, so a retained version's re-walk makes progress per
    // vacuum and terminates; a STALLED frontier means the version (or
    // its chain) is genuinely gone, not racing
    var lastMissing = -1L
    while (true) {
      try return resolveManifest(version)
      catch {
        case e: MissingManifest =>
          if (e.missing <= lastMissing || e.missing >= version)
            throw new IllegalArgumentException(
              s"version ${e.missing} of $tableDir does not exist " +
                "(never committed, or vacuumed)")
          lastMissing = e.missing
      }
    }
    throw new IllegalStateException("unreachable")
  }

  // a parsed manifest file, pre-resolution: either self-contained or a
  // delta awaiting its base
  private sealed trait StoredForm
  private final case class FullForm(m: Manifest) extends StoredForm
  private final case class DeltaForm(base: Long, d: Manifest, rm: Set[String],
      dvAdd: Seq[String], dvRm: Set[String]) extends StoredForm

  private def applyDelta(base: Manifest, f: DeltaForm): Manifest =
    f.d.copy(
      files = base.files.filterNot(f.rm) ++ f.d.files,
      stats = (base.stats -- f.rm) ++ f.d.stats,
      blooms = (base.blooms -- f.rm) ++ f.d.blooms,
      sizes = (base.sizes -- f.rm) ++ f.d.sizes,
      dv = base.dv.filterNot(f.dvRm) ++ f.dvAdd)
      // statsRef stays f.d's own — metaLines carries it in both forms

  private def parseStored(version: Long): StoredForm = {
    val ck = ckptPath(version)
    val p = if (fs.exists(ck)) ck else manifestPath(version)
    if (!fs.exists(p)) throw new MissingManifest(version)
    // the file can vanish between the exists check and the open (the
    // same vacuum race) — classify that as missing too, so the
    // top-level retry covers it
    val in =
      try fs.open(p)
      catch { case _: java.io.FileNotFoundException => throw new MissingManifest(version) }
    val txt =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = txt.split('\n').toSeq
    lines.headOption match {
      case Some("graft-manifest-v1") =>
        FullForm(parseManifestBody(lines, p, filePrefix = "file:"))
      case Some("graft-manifest-v2") =>
        val baseV = lines.find(_.startsWith("base:"))
          .getOrElse(throw new IllegalStateException(s"delta manifest $p has no base line"))
          .stripPrefix("base:").toLong
        DeltaForm(baseV,
          parseManifestBody(lines, p, filePrefix = "addfile:"),
          lines.filter(_.startsWith("rmfile:")).map(_.stripPrefix("rmfile:")).toSet,
          lines.filter(_.startsWith("adddv:")).map(_.stripPrefix("adddv:")),
          lines.filter(_.startsWith("rmdv:")).map(_.stripPrefix("rmdv:")).toSet)
      case h => throw new IllegalStateException(s"unrecognized manifest header $h in $p")
    }
  }

  private def resolveManifest(version: Long): Manifest =
    parseStored(version) match {
      case FullForm(m) => m
      // recurse through resolveManifest (NOT readManifest) so a missing
      // base propagates to the top-level retry intact
      case f: DeltaForm => applyDelta(resolveManifest(f.base), f)
    }

  /** Parse the shared body lines; `filePrefix` selects full (`file:`)
    * vs delta-add (`addfile:`) file lines — stats/bloom lines attach to
    * whichever files the form declares.
    */
  private def parseManifestBody(lines: Seq[String], p: Path,
      filePrefix: String): Manifest = {
    val schema = DataType.fromJson(
      lines.find(_.startsWith("schema:"))
        .getOrElse(throw new IllegalStateException(s"manifest $p has no schema line"))
        .stripPrefix("schema:")).asInstanceOf[StructType]
    val op = lines.find(_.startsWith("op:")).map(_.stripPrefix("op:")).getOrElse("write")
    val txns = lines.filter(_.startsWith("batch:")).map { l =>
      val parts = l.stripPrefix("batch:").split('\t')
      if (parts.length == 2) parts(0) -> parts(1).toLong
      else VersionedTable.DefaultApp -> parts(0).toLong // legacy bare id
    }.toMap
    val fileEntries = lines.filter(_.startsWith(filePrefix)).map { l =>
      val body = l.stripPrefix(filePrefix)
      val parts = body.split('\t')
      if (parts.length >= 3) (parts(0), Some((parts(1).toLong, parts(2).toLong)))
      else (body, None) // legacy bare-path line: no recorded size
    }
    val files = fileEntries.map(_._1)
    val sizes = fileEntries.collect { case (f, Some(s)) => f -> s }.toMap
    val stats = lines.filter(_.startsWith("stats:"))
      .map { l =>
        val parts = l.stripPrefix("stats:").split('\t')
        require(parts.length == 4, s"malformed stats line in $p: $l")
        (parts(3), parts(0), parts(1).toLong, parts(2).toLong)
      }
      .groupBy(_._1)
      .map { case (f, rows) => f -> rows.map(r => r._2 -> (r._3, r._4)).toMap }
    val dv = lines.filter(_.startsWith("dvfile:")).map(_.stripPrefix("dvfile:"))
    val blooms = lines.filter(_.startsWith("bloom:"))
      .map { l =>
        val parts = l.stripPrefix("bloom:").split('\t')
        require(parts.length == 4, s"malformed bloom line in $p: ${l.take(80)}")
        (parts(3), parts(0), parts(1).toInt,
          graft.util.BloomSketch.fromBytes(java.util.Base64.getDecoder.decode(parts(2))))
      }
      .groupBy(_._1)
      .map { case (f, rows) => f -> rows.map(r => r._2 -> (r._3, r._4)).toMap }
    val constraints = lines.filter(_.startsWith("constraint:"))
      .map { l =>
        val parts = l.stripPrefix("constraint:").split('\t')
        require(parts.length == 2, s"malformed constraint line in $p: $l")
        parts(0) -> parts(1)
      }.toMap
    val colmap = lines.filter(_.startsWith("colmap:"))
      .map { l =>
        val parts = l.stripPrefix("colmap:").split('\t')
        require(parts.length == 2, s"malformed colmap line in $p: $l")
        parts(0) -> parts(1)
      }.toMap
    val droppedPhys = lines.filter(_.startsWith("droppedphys:")).map(_.stripPrefix("droppedphys:"))
    val generated = lines.filter(_.startsWith("gencol:"))
      .map { l =>
        val parts = l.stripPrefix("gencol:").split('\t')
        require(parts.length == 2, s"malformed gencol line in $p: $l")
        parts(0) -> parts(1)
      }.toMap
    val statsRef = lines.find(_.startsWith("statsref:")).map(_.stripPrefix("statsref:"))
    val props = lines.filter(_.startsWith("prop:"))
      .map { l =>
        // limit -1: an EMPTY property value is legal (an MV spec with no
        // mins stores "") and must not lose its field to split()'s
        // trailing-empty elision
        val parts = l.stripPrefix("prop:").split("\t", -1)
        require(parts.length == 2, s"malformed prop line in $p: $l")
        parts(0) -> parts(1)
      }.toMap
    val cdc = lines.filter(_.startsWith("cdcfile:")).map(_.stripPrefix("cdcfile:"))
    Manifest(schema, op, txns, files, stats, dv, blooms, constraints,
      colmap, droppedPhys, generated, sizes, statsRef, props, cdc)
  }
}

object VersionedTable {

  /** Clause actions for [[VersionedTable.mergeClauses]]. Assignment
    * maps are target-column name -> expression over the `t`/`s` row
    * structs; values cast to the column's declared type.
    */
  sealed trait MergeAction
  final case class MergeUpdate(set: Map[String, Column]) extends MergeAction
  case object MergeDelete extends MergeAction
  final case class MergeInsert(values: Map[String, Column]) extends MergeAction

  /** One `WHEN` clause of [[VersionedTable.mergeClauses]]: fires when
    * `condition` (a Column over the `t`/`s` row structs) holds; `None`
    * is unconditional. First firing clause wins.
    */
  final case class MergeWhen(condition: Option[Column], action: MergeAction)
  /** The default writer namespace for [[commitAppendBatch]] markers —
    * independent exactly-once writers (a second stream, a
    * [[VersionedPipe]]) pass their own app name so replay detection
    * cannot be clobbered across writers (Delta's transaction appId).
    */
  val DefaultApp: String = "default"

  /** Loosen NESTED nullability (array elements, map values, inner
    * struct fields) to what file relations present on read-back —
    * always nullable. Top-level field flags are left alone (atomic
    * casts ignore them; the schema print keeps the writer's intent).
    */
  private[ecom] def looseNested(schema: StructType): StructType = {
    def loose(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = loose(f.dataType), nullable = true)))
      case a: ArrayType =>
        a.copy(elementType = loose(a.elementType), containsNull = true)
      case m: org.apache.spark.sql.types.MapType => m.copy(
        keyType = loose(m.keyType), valueType = loose(m.valueType),
        valueContainsNull = true)
      case other => other
    }
    StructType(schema.fields.map(f => f.copy(dataType = loose(f.dataType))))
  }

  /** A txn-marked copy-on-write commit lost the publish race to its
    * TWIN: the same `(app, batchId)` marker landed concurrently, so the
    * logical batch is already in the table at `version`. Thrown from
    * the rebase (never from a clean publish); exactly-once callers
    * ([[VersionedTable.commitMergeBatch]],
    * `graft.ops.IncrementalAgg.refresh`) catch it and report
    * "not landed by us" — without this, the WriteSerializable rebase
    * would let two racing insert-only merge twins BOTH land (no file
    * overlap to conflict on) and double-apply the batch.
    */
  final class ReplayLandedException(val version: Long, app: String, id: Long)
    extends RuntimeException(
      s"batch $id for app '$app' already landed concurrently (v$version)")

  /** Every this-many versions the manifest is written FULL even when a
    * delta would be smaller, bounding a reader's delta-chain walk (and
    * the small-file reads it costs) — Delta Lake's checkpoint-interval
    * role. 20 keeps resolution under 20 tiny sequential reads while a
    * 1000-commit streaming log stays ~19x smaller than self-contained
    * manifests (VersionedLogGrowthSpec's measured numbers: ~6 MB
    * cumulative vs ~117 MB).
    */
  val CheckpointInterval: Int = 20

  /** Default in-flight-writer protection window for [[vacuum]]: an
    * unreferenced commit dir younger than this is assumed to belong to
    * a writer between its data write and its manifest publish.
    */
  val DefaultVacuumGraceMs: Long = 60L * 60 * 1000

  /** Table property enabling the row-level change data feed (Delta's
    * `delta.enableChangeDataFeed`): while "true", every row-level op
    * (delete / deleteMoR / update / merge / mergeClauses) records its
    * changed rows in a per-commit CDC parquet sidecar, and
    * [[VersionedTable.changeFeed]] serves them with `_change_type` /
    * `_commit_version` / `_commit_timestamp` columns. Appends,
    * overwrites and restores reconstruct from the file diff at read
    * time (no sidecar needed); data-preserving ops (optimize, purge,
    * metadata commits) emit nothing.
    */
  /** Ops whose commits preserve every live row (Delta's
    * `dataChange=false`): file REWRITES that change layout, never
    * content — compaction (optimize/optimizeRange/optimizeZOrder all
    * publish as "optimize") and DV materialization (purgeDeletes).
    * Streaming sources skip these instead of refusing the window.
    * Metadata-only commits touch no files and need no membership here;
    * restore is deliberately absent (a rewind is a data change).
    */
  val DataPreservingOps: Set[String] = Set("optimize", "purge")

  val CdcEnabledProp: String = "graft.enableChangeDataFeed"

  /** Max distinct source keys for [[mergeCandidates]]' bloom probe —
    * bounds the driver's hash-pair collect (~16 B/key) and the
    * per-candidate-file probe loop; larger sources skip the bloom
    * prune (the stats-range prune still applies).
    */
  val MergeProbeCap: Int = 1024

  /** Max distinct source keys the merge discovery broadcasts (above
    * this, a shuffle semi-join beats shipping the key set to every
    * executor; 2M string keys ≈ tens of MB, the top of the range
    * Spark's own broadcast-join sizing targets).
    */
  val BroadcastKeyCap: Long = 2000000L

  /** Cap (bytes, manifest-recorded sizes of the touched files) under
    * which a CDC-enabled merge caches its classify join for the
    * rewrite + sidecar passes instead of scanning the touched files
    * twice. Runtime-overridable per cluster via
    * [[CdcCacheMaxBytesKey]]; 256 MiB keeps the cached two-struct rows
    * comfortably inside one executor's storage fraction while covering
    * every wave-sized merge.
    */
  val CdcCacheMaxBytes: Long = 256L << 20
  val CdcCacheMaxBytesKey: String = "graft.merge.cdcCacheMaxBytes"

  /** Ops whose commit changes table DATA (vs metadata/compaction) —
    * the set auto-compaction may trigger after.
    */
  private val DataChangeOps: Set[String] =
    Set("append", "overwrite", "merge", "update", "delete", "clone",
      // restore reverts rows (changeFeed derives delete+insert from its
      // file diff) — leaving it out made insertOnlyWindow classify a
      // window containing a restore as "no data change", silently
      // skipping repair for any caller of that public predicate
      "restore")

  /** Opt-in post-commit auto-compaction (Delta's
    * `delta.autoOptimize.autoCompact` shape) + its two thresholds.
    */
  val AutoCompactProp: String = "graft.autoOptimize.autoCompact"
  val AutoCompactSmallBytesProp: String = "graft.autoCompact.smallFileBytes"
  val AutoCompactMinFilesProp: String = "graft.autoCompact.minSmallFiles"

  /** The change-feed output columns Delta reserves, in output order. */
  val CdcTypeCol: String = "_change_type"
  val CdcVersionCol: String = "_commit_version"
  val CdcTimestampCol: String = "_commit_timestamp"
  val CdcReservedCols: Set[String] = Set(CdcTypeCol, CdcVersionCol, CdcTimestampCol)

  /** One snapshot's read-relevant metadata, exposed to `graft.sql`'s
    * catalog integration (see [[VersionedTable.snapshotMeta]]). Files
    * are tableDir-relative; stats are per-file per-column [min, max];
    * blooms are per-file per-column (probe count, filter bits).
    */
  final case class SnapshotMeta(
      version: Long,
      schema: StructType,
      files: Seq[String],
      plainScan: Boolean,
      stats: Map[String, Map[String, (Long, Long)]],
      blooms: Map[String, Map[String, (Int, Array[Long])]],
      // per-file (length, mtime) recorded at commit time — planners
      // build FileStatuses from these with zero filesystem stats
      sizes: Map[String, (Long, Long)] = Map.empty,
      // ABSOLUTE path of the parquet stats sidecar covering the files
      // that have no entry in `stats`/`blooms` (large tables only) —
      // the planner prunes it distributedly instead of holding per-file
      // metadata on the driver
      statsSidecar: Option[String] = None)

  /** One stats-sidecar row: everything the planner can skip `file` on.
    * Public schema — [[graft.sql.GraftFileIndex]] scans it as a Dataset
    * in executors.
    */
  final case class SidecarStat(col: String, mn: Long, mx: Long)
  final case class SidecarBloom(col: String, k: Int, bits: Array[Byte])
  final case class SidecarRow(file: String, stats: Seq[SidecarStat],
      blooms: Seq[SidecarBloom])
  val sidecarEncoder: org.apache.spark.sql.Encoder[SidecarRow] =
    Encoders.product[SidecarRow]
  val sidecarSchema: StructType = sidecarEncoder.schema

  /** One [[VersionedTable.history]] row — the DESCRIBE HISTORY shape.
    * `numAddedFiles`/`numRemovedFiles` are the file-set diff against the
    * predecessor (Delta's operationMetrics churn numbers).
    */
  final case class VersionInfo(
      version: Long,
      op: String,
      batch: Option[Long],
      numFiles: Int,
      modifiedMs: Long,
      numDvFiles: Int = 0,
      numAddedFiles: Int = 0,
      numRemovedFiles: Int = 0)
}
