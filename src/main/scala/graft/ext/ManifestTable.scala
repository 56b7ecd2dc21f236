package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** A minimal manifest-committed parquet table — the missing ATOMIC
  * COMMIT under the repo's append-only sinks, built from the two
  * primitives every real table format (Delta, Iceberg) reduces to:
  * data files are immutable and written OUT OF VIEW, and a single
  * versioned manifest file names the table's exact current contents.
  *
  * Why this exists: a bare parquet directory has three windows —
  * at-least-once appends after a crash, transiently-duplicated rows
  * during an in-place compaction, readers racing writers. All three
  * disappear when visibility is a manifest swap instead of a directory
  * listing, which is why every sink in the repo (the ingest corpus and
  * its indexes, corpus stats, the vector store) commits through here:
  *
  *   - APPEND: data files land under `data/` with UUID names (invisible
  *     — readers only trust the manifest), then one new manifest version
  *     references them. Crash before the commit = orphan files, not
  *     duplicate rows; [[vacuum]] sweeps orphans later.
  *   - IDEMPOTENCE: each commit records its `batchId`; re-appending an
  *     absorbed batch is a no-op, so a crash-REPLAYED micro-batch
  *     cannot double its rows — effectively-once, not at-least-once.
  *   - COMPACT: rewritten files commit in ONE manifest swap that drops
  *     the originals in the same version. A concurrent reader resolves
  *     either the old snapshot or the new one, never a mix, never a
  *     duplicate — an atomicity bare directories cannot offer.
  *   - ISOLATION: a reader pins the manifest version it resolved;
  *     every file it reads is immutable, so its snapshot cannot change
  *     underneath the query.
  *
  * Concurrency control is optimistic CAS on the manifest name: version
  * N+1 is staged to a temp name and published as `v<N+1>` with an
  * atomic create-if-absent — a hard link on local filesystems (POSIX
  * rename(2) would silently replace, losing a racing commit), a rename
  * on HDFS-semantics filesystems (which refuse a rename onto an
  * existing path) — so exactly one of two racing committers wins and
  * the loser re-reads and retries. (On object stores with neither
  * primitive this needs a lock service — the same deployment caveat
  * Delta documents.)
  *
  * Scale: the manifest holds one line per live data file plus one per
  * absorbed batch id — kilobytes for thousands of files; resolution is
  * one `_last_checkpoint` pointer read + O(since-checkpoint) probes
  * (no directory listing), the data read is an explicit file list (no
  * recursive directory scan), and [[expireLog]] bounds the log
  * directory itself.
  */
object ManifestTable extends ManifestLog with ManifestRowOps with ManifestFeeds
    with ManifestMaintenance {

  private[ext] def fs(spark: SparkSession, dir: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  private[ext] def p(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Per-column min/max/null-count for ONE data file, harvested from the
    * parquet footer at commit time. `min`/`max` are canonical strings in
    * the column's comparison family (`long` for int32/int64/date/
    * timestamp, `double`, `string`, `bool`); None = the file has no
    * non-null value for the column. Columns whose footer stats are
    * absent, truncated, decimal/unsigned-typed, or NaN-polluted are
    * simply not listed — the reader then cannot prune on them, which is
    * the safe direction.
    */
  final case class ColStats(typ: String, min: Option[String],
                            max: Option[String], nulls: Long)

  /** Footer-derived stats for one data file: total row count plus
    * [[ColStats]] per usable column (keys lowercased — Spark resolves
    * attributes case-insensitively by default).
    */
  final case class FileStats(rows: Long, cols: Map[String, ColStats])

  /** One DELETION-VECTOR reference: a sidecar dataset under `_dv/<name>`
    * holding (file name, row position) pairs; `rows` = how many of the
    * referencing data file's positions it marks deleted (exact — the
    * positions are distinct by construction, and refs stacked on one
    * file mark disjoint positions because each new DV is computed on the
    * already-DV-applied read).
    */
  final case class DvRef(name: String, rows: Long)

  /** (version, data-file names, absorbed batch ids, per-file column
    * stats); version 0 = empty table before the first commit. `stats`
    * may cover only a subset of `files` — manifests written before stats
    * existed, or files whose footers could not be read, stay readable
    * and are never pruned.
    *
    * `op` names the KIND of commit that produced this version
    * ("append" | "compact" | "delete" | "update" | "merge"; "" on
    * manifests written before op tracking) — the provenance
    * [[appendsBetween]] needs to tell new rows from rewrites.
    *
    * `schemaJson` is the TABLE schema (Spark `StructType.json`) as of
    * this version — schema-on-manifest, the Delta/Iceberg design.
    * Without it, a multi-file parquet read takes the FIRST footer's
    * schema, so files appended later with extra columns silently lose
    * them; with it, every read projects the full column set and
    * null-fills files written before a column existed. None on tables
    * whose first commit predates schema tracking (they keep today's
    * footer-derived behavior).
    *
    * `sizes` records each data file's byte length, captured when the
    * file was moved into `data/` — what lets [[ManifestFileIndex]] build
    * `FileStatus` objects without LISTing the data directory (on object
    * stores a million-entry LIST per query is the throttled path) and
    * [[compact]] size its output without per-file RPCs. May cover a
    * subset of `files` on pre-sizes manifests (readers fall back to
    * listing).
    *
    * `dvs` maps a data file to its stacked deletion-vector references
    * (merge-on-read: the file's rows at those positions are deleted
    * without rewriting the file). `constraints` are the table's named
    * CHECK expressions, enforced at append/merge/update.
    *
    * `ndvCols` and `bloomCols` DECLARE which columns every landed data
    * file carries a sketch for (an HLL sketch in `ndv`, parquet's bloom
    * inside the file): lower-cased physical names, declared by the first
    * write that names them and built by every later one ([[land]]).
    */
  final case class Snapshot(version: Long, files: Seq[String],
                            batchIds: Set[String],
                            stats: Map[String, FileStats] = Map.empty,
                            op: String = "",
                            schemaJson: Option[String] = None,
                            cdcPath: Option[String] = None,
                            sizes: Map[String, Long] = Map.empty,
                            dvs: Map[String, Seq[DvRef]] = Map.empty,
                            constraints: Map[String, String] = Map.empty,
                            partitionCols: Seq[String] = Nil,
                            pvals: Map[String, Map[String, PartValue]] = Map.empty,
                            ndvCols: Seq[String] = Nil,
                            ndv: Map[String, Map[String, String]] = Map.empty,
                            properties: Map[String, String] = Map.empty,
                            colMap: Seq[(String, String)] = Nil,
                            retiredCols: Seq[String] = Nil,
                            bloomCols: Seq[String] = Nil)

  object Snapshot {
    /** Version 0: the table before its first commit. */
    val empty: Snapshot = Snapshot(0L, Seq.empty, Set.empty)
  }

  /** COLUMN MAPPING (`colMap`: logical name → physical parquet name;
    * `retiredCols`: physical names of dropped columns, never reusable):
    * the Delta/Iceberg design that makes RENAME and DROP COLUMN pure
    * metadata commits. Data files are immutable and carry the PHYSICAL
    * name a column had when written; a rename changes only the logical
    * name (physical stays, so every recorded stat, in-file bloom, NDV
    * sketch and partition value keeps its key and keeps pruning); a
    * drop removes the logical column and retires its physical name so
    * a later re-ADD of the same name binds a FRESH physical slot
    * instead of resurrecting the dropped bytes. An empty `colMap` =
    * identity (tables never touched by rename/drop pay nothing); once
    * non-empty it lists EVERY current column, so a delta carrying any
    * `colmap:` line is a full redefinition and absence inherits.
    * Manifest-side invariant: `stats`/`ndv`/`pvals`, the in-file blooms and
    * the `ndvCols`/`bloomCols` declarations are keyed by PHYSICAL names; the
    * recorded `schemaJson` is LOGICAL.
    */
  private[graft] def physName(s: Snapshot, logical: String): String =
    if (s.colMap.isEmpty) logical
    else s.colMap.find(_._1.equalsIgnoreCase(logical)).map(_._2)
      .getOrElse(logical)

  /** True when some column's physical name differs from its logical one
    * — the only case read/write paths must translate.
    */
  private[graft] def mapped(s: Snapshot): Boolean =
    s.colMap.exists { case (l, p) => l != p }

  /** The PHYSICAL schema data files bind to: the logical schema with
    * every field renamed through the mapping.
    */
  private[graft] def physSchema(s: Snapshot,
                         logical: org.apache.spark.sql.types.StructType)
  : org.apache.spark.sql.types.StructType =
    if (!mapped(s)) logical
    else org.apache.spark.sql.types.StructType(
      logical.fields.map(f => f.copy(name = physName(s, f.name))))

  /** `df` (physical-named table columns, possibly plus graft-internal
    * meta columns) renamed to LOGICAL names; non-table columns pass
    * through untouched.
    */
  private[graft] def toLogical(s: Snapshot, df: DataFrame): DataFrame =
    if (!mapped(s)) df
    else {
      import org.apache.spark.sql.functions.col
      val inv = s.colMap.map { case (l, p) => (p.toLowerCase, l) }.toMap
      df.select(df.schema.fields.map { f =>
        inv.get(f.name.toLowerCase) match {
          case Some(l) if l != f.name => col(f.name).as(l)
          case _ => col(f.name)
        }
      }.toSeq: _*)
    }

  /** `df` (logical-named) renamed to PHYSICAL names for writing;
    * columns outside the mapping (a batch introducing a new column)
    * pass through under their own name.
    */
  private[graft] def toPhysical(s: Snapshot, df: DataFrame): DataFrame =
    if (!mapped(s)) df
    else {
      import org.apache.spark.sql.functions.col
      df.select(df.schema.fields.map { f =>
        val p = physName(s, f.name)
        if (p != f.name) col(f.name).as(p) else col(f.name)
      }.toSeq: _*)
    }

  /** A LOGICAL-named predicate expression translated to the physical
    * namespace the manifest's stats/blooms are keyed by — the seam the
    * SQL-string ops cross before probing [[Skipping]].
    */
  private[ext] def toPhysicalExpr(s: Snapshot,
                             e: org.apache.spark.sql.catalyst.expressions.Expression)
  : org.apache.spark.sql.catalyst.expressions.Expression =
    if (!mapped(s)) e
    else e.transformUp {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.size == 1 =>
        org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute(
          Seq(physName(s, a.nameParts.head)))
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference =>
        a.withName(physName(s, a.name))
    }

  /** Multi-part attribute paths in a PARSED (unresolved) predicate
    * bound to the table's struct columns: `meta.n` becomes a resolved
    * `GetStructField` chain over an `AttributeReference(meta)` — the
    * shape [[Skipping]] maps to the footer's dotted leaf stats key, so
    * the SQL-string row ops (deleteWhere/updateWhere/overwriteWhere)
    * prune files on struct-LEAF predicates like the planner path does.
    * Sound inside this seam: row-op predicates evaluate against the
    * BARE table frame (no aliases), so a multi-part name can only be a
    * struct path — and any part that does not resolve is left
    * untouched (the evaluator then conservatively keeps every file,
    * and the actual filter raises its own resolution error).
    */
  private[ext] def resolveStructPaths(s: Snapshot,
                                      e: org.apache.spark.sql.catalyst.expressions.Expression)
  : org.apache.spark.sql.catalyst.expressions.Expression =
    tableSchema(s) match {
      case None => e
      case Some(schema) =>
        import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, GetStructField}
        import org.apache.spark.sql.types.StructType
        def descend(cur: Expression,
                    t: org.apache.spark.sql.types.DataType,
                    parts: List[String]): Option[Expression] = parts match {
          case Nil => Some(cur)
          case p :: rest => t match {
            case st: StructType =>
              val idx = st.fields.indexWhere(_.name.equalsIgnoreCase(p))
              if (idx < 0) None
              else descend(GetStructField(cur, idx,
                Some(st.fields(idx).name)), st.fields(idx).dataType, rest)
            case _ => None
          }
        }
        e.transformUp {
          case ua: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if ua.nameParts.size > 1 =>
            schema.fields.find(f =>
              f.name.equalsIgnoreCase(ua.nameParts.head) &&
                f.dataType.isInstanceOf[StructType]) match {
              case Some(root) =>
                descend(AttributeReference(root.name, root.dataType,
                    root.nullable)(), root.dataType,
                  ua.nameParts.tail.toList).getOrElse(ua)
              case None => ua
            }
        }
    }

  /** The full (logical → physical) list for every schema column —
    * existing mapping entries kept, unmapped columns identity — the
    * base every rename/drop redefinition starts from.
    */
  private[ext] def fullColMap(s: Snapshot,
                         schema: org.apache.spark.sql.types.StructType)
  : Seq[(String, String)] =
    schema.fields.toSeq.map(f => f.name -> physName(s, f.name))

  /** One data file's value for one PARTITION column: the canonical
    * comparison family (the [[Skipping]] vocabulary — "long", "string",
    * "bool") and the value in canonical form; None = the hive null
    * partition. Exact by construction — the partitioned write puts every
    * row of the file in this partition — so pruning on it is equality
    * against a point, not a [min, max] interval (same machinery, always
    * tight).
    */
  final case class PartValue(fam: String, value: Option[String])

  /** The recorded table schema of a snapshot, if this table tracks one. */
  def tableSchema(s: Snapshot): Option[org.apache.spark.sql.types.StructType] =
    s.schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
      .asInstanceOf[org.apache.spark.sql.types.StructType])

  /** SCHEMA EVOLUTION policy, evaluated inside every append's commit
    * callback (so a CAS retry re-merges against the fresh head):
    *
    *   - a column new to the table is APPENDED, forced nullable (files
    *     written before it existed null-fill it on read);
    *   - a column the batch lacks is fine (the batch's rows null-fill);
    *   - a column changing its data type is REJECTED loudly — silent
    *     widening is how readers end up binding the wrong parquet
    *     decoder at depth in a 100 TB table.
    *
    * Tables created before schema tracking (files exist, no schema
    * line) stay schema-less: we cannot know what columns their old
    * files hold without a footer sweep, so guessing would be worse
    * than today's behavior.
    */
  private[ext] def mergedSchemaJson(old: Snapshot,
                               incoming: org.apache.spark.sql.types.StructType)
  : Option[String] = {
    import org.apache.spark.sql.types.StructType
    def nullable(s: StructType) = StructType(s.fields.map(_.copy(nullable = true)))
    tableSchema(old) match {
      case None =>
        if (old.files.isEmpty) Some(nullable(incoming).json) else None
      case Some(cur) =>
        val merged = incoming.fields.foldLeft(cur) { (acc, fd) =>
          acc.fields.find(_.name.equalsIgnoreCase(fd.name)) match {
            case Some(ex) =>
              // nullability-insensitive at EVERY nesting depth: a batch
              // whose named_struct literals carry non-nullable inner
              // fields (or a non-containsNull array) is the same TYPE —
              // strict equality here rejected every struct-column
              // INSERT while printing two identical simpleStrings
              require(org.apache.spark.sql.graft.GraftSqlShims
                  .sameTypeIgnoreNullability(ex.dataType, fd.dataType),
                s"schema evolution cannot change column ${fd.name}: " +
                  s"${ex.dataType.simpleString} -> ${fd.dataType.simpleString}")
              acc
            case None =>
              // a batch may not re-introduce a DROPPED column's physical
              // name (old files still hold those bytes — binding to them
              // would resurrect deleted data) or shadow another column's
              // physical slot; ALTER TABLE ADD COLUMN assigns a fresh
              // physical name for exactly this case
              val takenPhys = old.colMap.collect {
                case (l, ph) if !l.equalsIgnoreCase(fd.name) => ph }
              require(!(old.retiredCols ++ takenPhys)
                  .exists(_.equalsIgnoreCase(fd.name)),
                s"column ${fd.name} collides with a dropped or renamed " +
                  "column's physical name — add it via ALTER TABLE ... " +
                  "ADD COLUMN (which assigns a fresh physical slot) first")
              StructType(acc.fields :+ fd.copy(nullable = true))
          }
        }
        Some(merged.json)
    }
  }

  /** Read `names` under `data/` with the snapshot's recorded schema when
    * one exists — every file projects the FULL table column set (files
    * predating a column null-fill it); without a recorded schema the
    * parquet reader's first-footer schema applies, as before.
    *
    * Files carrying DELETION VECTORS get them applied here — merge-on-
    * read: the file is scanned with its hidden `_metadata` file/position
    * columns and anti-joined against the referenced `_dv/` position
    * sets (small by construction — a point delete's DV is a handful of
    * rows — so Spark broadcasts the probe side; the big scan never
    * shuffles). Every DataFrame face of the table (read, readWhere,
    * readVersion, the feeds, compact's rewrite, the row ops' candidate
    * reads) flows through this method, so DV semantics hold everywhere
    * by construction.
    */
  /** `names` of `s` read with their deletion vectors applied — the seam
    * [[ManifestPlan.dataFrame]]'s DV branch reads through (same
    * primitive as [[read]]).
    */
  private[graft] def readDvApplied(spark: SparkSession, dir: String,
                                   s: Snapshot,
                                   names: Seq[String]): DataFrame =
    readFiles(spark, dir, s, names)

  private[ext] def readFiles(spark: SparkSession, dir: String, s: Snapshot,
                        names: Seq[String]): DataFrame = {
    val (dvd, clean) = names.partition(n => s.dvs.get(n).exists(_.nonEmpty))
    if (dvd.isEmpty) toLogical(s, plainRead(spark, dir, s, names))
    else {
      val fm = "_graft_meta_file"
      val pm = "_graft_meta_pos"
      // readWithPos already returns LOGICAL names (it renames after
      // capturing the _metadata columns)
      val applied = readWithPos(spark, dir, s, dvd, fm, pm).drop(fm, pm)
      if (clean.isEmpty) applied
      else applied.unionByName(toLogical(s, plainRead(spark, dir, s, clean)))
    }
  }

  /** The PHYSICAL frame of `names`: files bind by their written column
    * names ([[physSchema]]); callers surface it through [[toLogical]].
    */
  private[ext] def plainRead(spark: SparkSession, dir: String, s: Snapshot,
                        names: Seq[String]): DataFrame =
    tableSchema(s).fold(spark.read)(sc =>
      spark.read.schema(physSchema(s, sc)))
      .parquet(names.map(n => dataFilePath(dir, n)): _*)

  /** `names` read with two extra columns (`fm` = data file NAME, `pm` =
    * physical row position from `_metadata.row_index`), with the files'
    * existing deletion vectors already APPLIED — the shared primitive
    * under DV-aware reads and DV creation (a new vector computed on this
    * view can never mark an already-deleted position twice, which is
    * what keeps per-ref `rows` counts additive).
    */
  private[ext] def readWithPos(spark: SparkSession, dir: String, s: Snapshot,
                          names: Seq[String], fm: String,
                          pm: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, element_at, split}
    // the hidden _metadata column must be referenced on the RAW scan
    // frame; the logical rename comes after (meta/dv columns are not in
    // the mapping, so toLogical passes them through)
    val base = toLogical(s, plainRead(spark, dir, s, names)
      .withColumn(fm, element_at(split(col("_metadata.file_path"), "/"), -1))
      .withColumn(pm, col("_metadata.row_index")))
    val refs = names.flatMap(n => s.dvs.getOrElse(n, Seq.empty))
      .map(_.name).distinct
    if (refs.isEmpty) base
    else {
      val dv = readDvSidecars(spark, dir, refs)
      base.join(dv,
        base(fm) === dv(DvFileCol) && base(pm) === dv(DvPosCol),
        "left_anti")
    }
  }

  /** Column names inside a `_dv/` sidecar dataset: the data file's NAME
    * (not path — tables relocate) and the 0-based physical row position
    * within it (`_metadata.row_index`, stable because data files are
    * immutable).
    */
  private[ext] val DvFileCol = "_graft_dv_file"
  private[ext] val DvPosCol = "_graft_dv_pos"

  /** The fixed `_dv/` sidecar schema — passed explicitly so DV-applied
    * reads never pay a parquet schema-inference job (every DV scan used
    * to run one; guide §1: the fixed per-action cost dominates the
    * point-op paths).
    */
  private[ext] val DvSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField(DvFileCol,
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField(DvPosCol,
      org.apache.spark.sql.types.LongType)))

  /** All (file, position) rows of the named DV sidecars. */
  private[graft] def readDvSidecars(spark: SparkSession, dir: String,
                                    refs: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    spark.read.schema(DvSchema)
      .parquet(refs.map(n => s"${dvDir(dir)}/$n"): _*)
      .select(col(DvFileCol), col(DvPosCol))
  }

  private[ext] def manifestDir(dir: String) = s"$dir/_manifest"
  private[ext] def dataDir(dir: String) = s"$dir/data"

  /** A manifest file entry resolved to its storage path. Entries are
    * normally bare UUID names under `data/`; a SHALLOW CLONE
    * ([[shallowClone]]) records ABSOLUTE paths into the source table's
    * data directory instead — zero data-file copies — and every reader
    * resolves through this seam. Copy-on-write rewrites replace
    * absolute entries with ordinary relative ones, so a clone
    * un-shares exactly the files it mutates.
    */
  private[ext] def dataFilePath(dir: String, name: String): String =
    if (name.startsWith("/") || name.contains("://")) name
    else s"${dataDir(dir)}/$name"

  /** Read rows as of manifest `version` (see [[snapshotAt]]). The
    * version's OWN recorded schema applies — a column added later does
    * not exist in the historical read, exactly as it didn't then.
    */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val s = snapshotAt(spark, dir, version)
    require(s.files.nonEmpty,
      s"ManifestTable at $dir version $version has no data files")
    readFiles(spark, dir, s, s.files)
  }

  /** The newest version committed at or before `tsMillis` — time travel
    * by TIMESTAMP. A commit's time is its published log file's mtime
    * (immutable once linked into place; the delta preferred, a
    * checkpoint standing in when [[expireLog]] dropped the delta).
    * Raises when `tsMillis` predates the oldest retained commit: an
    * expired-history read must fail loudly, never resolve to a
    * different version than it would have yesterday.
    */
  def versionAt(spark: SparkSession, dir: String, tsMillis: Long): Long = {
    val log = listLog(spark, dir)
    val times = (log.delta.keySet ++ log.ckpt.keySet).toSeq.map(v =>
      v -> log.delta.get(v).orElse(log.ckpt.get(v)).get.getModificationTime)
    require(times.nonEmpty, s"ManifestTable at $dir has no commits")
    val at = times.filter(_._2 <= tsMillis)
    require(at.nonEmpty,
      s"ManifestTable at $dir: no commit at or before $tsMillis " +
        s"(oldest retained commit is v${times.minBy(_._2)._1} at " +
        s"${times.map(_._2).min}) — the requested history is expired " +
        "or predates the table")
    at.maxBy(_._1)._1
  }

  /** [[readVersion]] keyed by timestamp (see [[versionAt]]). */
  def readTimestamp(spark: SparkSession, dir: String,
                    tsMillis: Long): DataFrame =
    readVersion(spark, dir, versionAt(spark, dir, tsMillis))

  /** RESTORE the table to version `v`'s state — one metadata commit
    * that makes the target's files/stats/sizes/DVs/schema the new head,
    * rewriting nothing. The intervening history is NOT erased: the
    * restore is itself a new version, so the mis-step stays auditable
    * and a second restore can undo the first. Current CHECK constraints
    * and the partition layout are KEPT (they are table properties, not
    * data), and absorbed batch/op ids stay absorbed — a replayed append
    * from before the restore still no-ops. Raises if any restored file
    * was already vacuumed past the grace window (a restore must be
    * whole or not at all). The append feed refuses a restore commit
    * (it un-deletes and un-inserts — not expressible as appends); the
    * CHANGE feed spans it: [[changesBetween]] synthesizes the commit's
    * record as the snapshot diff ([[restoreDiffFrame]]), so CDC
    * consumers survive an upstream rewind.
    */
  def restore(spark: SparkSession, dir: String, v: Long,
              opId: String): Boolean = {
    val target = snapshotAt(spark, dir, v)
    val f = fs(spark, dir)
    val head0 = snapshot(spark, dir)
    if (head0.batchIds.contains(opId)) return false
    // files the restore would resurrect must still exist on disk
    val missing = target.files.filterNot(head0.files.contains)
      .filterNot(n => f.exists(p(s"${dataDir(dir)}/$n")))
    require(missing.isEmpty,
      s"restore to v$v needs ${missing.size} data file(s) already " +
        s"vacuumed past the grace window (first: ${missing.headOption
          .getOrElse("")}) — the version is no longer restorable")
    commit(spark, dir) { old =>
      if (old.batchIds.contains(opId)) None
      else Some(old.copy(
        files = target.files,
        stats = target.stats,
        sizes = target.sizes,
        pvals = target.pvals,
        ndv = target.ndv,
        dvs = target.dvs,
        schemaJson = target.schemaJson.orElse(old.schemaJson),
        // the target's column mapping travels with its schema (a
        // restore past a RENAME restores the old logical names bound
        // to the same physical bytes); retired physical names only
        // ever ACCUMULATE — un-retiring one could let a later ADD
        // rebind bytes a drop had orphaned. A pre-mapping target is
        // written as an explicit IDENTITY mapping, never Nil: the log's
        // absent-inherits rule cannot express "mapping cleared"
        colMap =
          if (target.colMap.nonEmpty) target.colMap
          else if (old.colMap.isEmpty) Nil
          else tableSchema(target).orElse(tableSchema(old))
            .map(sc => fullColMap(target, sc)).getOrElse(old.colMap),
        retiredCols = (target.retiredCols ++ old.retiredCols).distinct,
        batchIds = old.batchIds + opId,
        op = "restore", cdcPath = None))
    }
  }

  /** The snapshot's rows (schema comes from the listed files). A table
    * with no committed files yet raises — callers gate on
    * [[snapshot]].files.nonEmpty or supply their own empty frame.
    */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val s = snapshot(spark, dir)
    require(s.files.nonEmpty, s"ManifestTable at $dir has no committed data")
    readFiles(spark, dir, s, s.files)
  }

  /** The layout an append must stage with: an existing table's declared
    * partition columns always win (a conflicting `partitionBy` request
    * is a loud error — partitioning is immutable, like Delta/Iceberg);
    * a nonempty `partitionBy` on a table with no files and no layout
    * DECLARES it, after validating every column exists with a
    * stats-faithful type (integral, string, boolean — the families
    * whose canonical form round-trips a hive directory name exactly).
    */
  private def resolveLayout(snap: Snapshot,
                            schema: org.apache.spark.sql.types.StructType,
                            partitionBy: Seq[String]): Seq[String] = {
    import org.apache.spark.sql.types._
    if (snap.partitionCols.nonEmpty) {
      require(partitionBy.isEmpty ||
        partitionBy.map(_.toLowerCase) ==
          snap.partitionCols.map(_.toLowerCase),
        s"table is partitioned by (${snap.partitionCols.mkString(", ")}); " +
          s"an append cannot re-partition it by (${partitionBy.mkString(", ")})")
      snap.partitionCols
    } else if (partitionBy.isEmpty) Nil
    else {
      require(snap.files.isEmpty,
        "partitioning must be declared at table creation (the table " +
          "already has data files laid out without it)")
      validatePartitionDecl(schema, partitionBy)
      partitionBy
    }
  }

  /** Every declared partition column must exist in `schema` with a
    * stats-faithful type (see [[resolveLayout]]) — shared by the
    * first-append declaration and [[create]]'s DDL declaration.
    */
  private def validatePartitionDecl(
      schema: org.apache.spark.sql.types.StructType,
      partitionBy: Seq[String]): Unit = {
    import org.apache.spark.sql.types._
    partitionBy.foreach { c =>
      val fd = schema.fields.find(_.name.equalsIgnoreCase(c))
      require(fd.isDefined, s"partition column $c is not in the schema")
      require(fd.get.dataType match {
        case ByteType | ShortType | IntegerType | LongType |
             StringType | BooleanType | DateType => true
        case _ => false
      }, s"partition column $c has type ${fd.get.dataType.simpleString}; " +
        "only integral, string, boolean and date columns can partition")
    }
  }

  /** SHALLOW CLONE (`CALL system.clone`) — the dev/test idiom: one
    * metadata commit at `dstDir` referencing the SOURCE table's live
    * data files BY ABSOLUTE PATH (zero data-file copies; see
    * [[dataFilePath]]), carrying the full table surface — schema,
    * stats, sizes, NDV sketches, partition layout + values, CHECK
    * constraints, properties, column mapping. The clone is a fully
    * independent table from its first commit: writes land in its own
    * `data/`, copy-on-write DML replaces exactly the absolute entries
    * it touches with fresh relative files, and the source never sees
    * any of it. Vacuum liveness composes by construction — the clone's
    * vacuum only ever deletes from the clone's own data directory, so
    * cloned (absolute) files are never its candidates; conversely a
    * vacuum of the SOURCE cannot see the clone's references, the same
    * documented caveat Delta shallow clones carry. The bloom
    * declaration travels, and so do the blooms inside the shared data
    * files: bloom pruning and [[keyGate]] work on the clone from its
    * first commit; deletion-vector sidecars cannot cross the boundary at
    * all, so a DV-carrying source must `purge_deletes` first — loud.
    * Returns the clone's head version (always 1).
    */
  def shallowClone(spark: SparkSession, srcDir: String,
                   dstDir: String): Long = {
    val s = snapshot(spark, srcDir)
    require(s.version > 0L, s"clone source $srcDir does not exist")
    require(s.dvs.isEmpty,
      s"clone source $srcDir carries deletion-vector sidecars, which " +
        "cannot cross the table boundary — run system.purge_deletes " +
        "(max_deleted_fraction => 0.0) first")
    require(s.files.forall(s.sizes.contains),
      s"clone source $srcDir predates size tracking — compact it first")
    val rekey: Map[String, String] =
      s.files.map(n => n -> dataFilePath(srcDir, n)).toMap
    def re[A](m: Map[String, A]): Map[String, A] =
      m.flatMap { case (k, v) => rekey.get(k).map(_ -> v) }
    val done = commit(spark, dstDir) { old =>
      require(old.version == 0L,
        s"clone target $dstDir already exists (v${old.version})")
      Some(old.copy(
        files = s.files.map(rekey),
        stats = re(s.stats),
        op = "clone",
        schemaJson = s.schemaJson,
        cdcPath = None,
        sizes = re(s.sizes),
        constraints = s.constraints,
        partitionCols = s.partitionCols,
        pvals = re(s.pvals),
        ndvCols = s.ndvCols,
        ndv = re(s.ndv),
        properties = s.properties,
        colMap = s.colMap,
        retiredCols = s.retiredCols,
        bloomCols = s.bloomCols))
    }
    require(done, s"clone commit to $dstDir did not land")
    snapshot(spark, dstDir).version
  }

  /** CREATE TABLE: declare the schema (and optional partition layout)
    * as version 1's METADATA COMMIT, before any data arrives — the SQL
    * DDL face's entry point ([[GraftCatalog]]). The tracked schema makes
    * an empty table readable (zero-file scan with real columns), and
    * the declared layout binds every later append exactly as a
    * first-append `partitionBy` would. Raises if the table already has
    * any committed version.
    */
  def create(spark: SparkSession, dir: String,
             schema: org.apache.spark.sql.types.StructType,
             partitionBy: Seq[String] = Nil): Unit = {
    validatePartitionDecl(schema, partitionBy)
    // pin the creating session's timezone for generated columns — the
    // contract [[withGeneratedDerived]] and [[requireGeneratedTz]]
    // enforce (harmless for timezone-free generation expressions)
    val tzProp: Map[String, String] =
      if (schema.fields.exists(fd => org.apache.spark.sql.catalyst.util
          .GeneratedColumn.getGenerationExpression(fd).isDefined))
        Map(GeneratedTzKey -> spark.sessionState.conf.sessionLocalTimeZone)
      else Map.empty
    commit(spark, dir) { old =>
      require(old.version == 0L,
        s"ManifestTable at $dir already exists (v${old.version})")
      Some(old.copy(schemaJson = Some(schema.json),
        partitionCols = partitionBy, properties = old.properties ++ tzProp,
        op = "create", cdcPath = None))
    }
    ()
  }

  /** True when `dir` holds a manifest table (any committed version). */
  def exists(spark: SparkSession, dir: String): Boolean =
    headVersion(spark, dir) > 0L

  /** ALTER TABLE ... ADD COLUMN as one metadata commit: the tracked
    * schema gains the column, FORCED nullable — files written before it
    * existed null-fill on read, the exact contract append-side schema
    * evolution already gives ([[mergedSchemaJson]]); no data moves.
    * Raises on a duplicate name or a schema-less legacy table.
    *
    * `default` = (currentSql, existsLiteralSql) carries `ADD COLUMN ...
    * DEFAULT`: Delta's TWO-FIELD protocol, riding the recorded schema's
    * field metadata under Spark's own keys. `CURRENT_DEFAULT` (the
    * declared SQL) fills future INSERTs that omit the column — and is
    * what a later SET/DROP DEFAULT changes. `EXISTS_DEFAULT` (the value
    * FROZEN to a literal at ADD time — `current_date()` evaluates once,
    * here) fills the column ON READ for every file that physically
    * lacks it — which is exactly the pre-ADD files, because every
    * engine write materializes the full column set. No read-path code
    * carries this: Spark's parquet readers (vectorized and not) apply
    * existence defaults from the read schema's field metadata per file
    * footer, on both the `spark.read.schema` path ([[plainRead]]) and
    * the `HadoopFsRelation` planner path ([[ManifestPlan.relation]]) —
    * a file that HAS the column keeps its values, NULLs included.
    * Rewrites read the filled view and write it physically, so the
    * pre-ADD file set only shrinks; a re-ADD after DROP binds a fresh
    * physical slot, so a retired column's bytes (and its old default)
    * can never resurface.
    */
  def addColumn(spark: SparkSession, dir: String, name: String,
                dataType: org.apache.spark.sql.types.DataType,
                default: Option[(String, String)] = None): Boolean =
    commit(spark, dir) { old =>
      val cur = tableSchema(old).getOrElse(throw new IllegalStateException(
        s"ManifestTable at $dir tracks no schema (created before schema " +
          "tracking) — ALTER has nothing to evolve"))
      require(!cur.fields.exists(_.name.equalsIgnoreCase(name)),
        s"column $name already exists in $dir")
      // the new column's PHYSICAL slot: its own name, unless a dropped
      // or renamed column already owns those bytes — then a fresh
      // version-stamped name, so re-adding a dropped column can never
      // resurrect its old data (the column-mapping contract)
      val taken = (old.retiredCols ++ old.colMap.map(_._2))
        .map(_.toLowerCase).toSet
      val phys =
        if (!taken.contains(name.toLowerCase)) name
        else {
          val candidate = Iterator.from(old.version.toInt + 1)
            .map(v => s"${name}_r$v")
            .find(c => !taken.contains(c.toLowerCase)).get
          candidate
        }
      val fieldMeta = default match {
        case None => org.apache.spark.sql.types.Metadata.empty
        case Some((curSql, existsSql)) =>
          // parse both now: a default that cannot parse must fail the
          // ALTER, not every later INSERT/read
          spark.sessionState.sqlParser.parseExpression(curSql)
          spark.sessionState.sqlParser.parseExpression(existsSql)
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString("CURRENT_DEFAULT", curSql)
            .putString("EXISTS_DEFAULT", existsSql)
            .build()
      }
      val newSchema = org.apache.spark.sql.types.StructType(
        cur.fields :+ org.apache.spark.sql.types.StructField(
          name, dataType, nullable = true, fieldMeta))
      val newMap =
        if (old.colMap.isEmpty && phys == name) Nil // stay identity
        else fullColMap(old, cur) :+ (name -> phys)
      Some(old.copy(schemaJson = Some(newSchema.json), colMap = newMap,
        op = "metadata", cdcPath = None))
    }

  /** `[CREATE OR] REPLACE TABLE [AS SELECT]` as ONE atomic manifest
    * commit — the whole definition (schema, partition layout,
    * properties; constraints and the NDV/bloom declarations reset with
    * it) and the
    * whole contents swap together, and the table's HISTORY SURVIVES:
    * the replace is just the next version, so time travel still answers
    * below it, [[restore]] can undo it, and the old data files stay on
    * disk under the same vacuum grace/liveness rules as any rewrite.
    * (Spark's non-staging fallback is `DROP TABLE` + `CREATE` — a
    * destructive, non-atomic pair that erases the log; the
    * [[GraftCatalog]] staging seam routes REPLACE here instead.)
    *
    * `data` (the AS SELECT frame, None for a bare definition) stages
    * invisibly like an append, aligned and cast to the DECLARED schema;
    * the commit then atomically points the manifest at exactly those
    * files. A crash before the commit strands orphans, never a
    * half-replaced table. Column mapping resets to identity over the
    * new schema (the new files bind their own names; retired physical
    * names stay retired). Returns false on a replayed `opId`.
    */
  def replaceTable(spark: SparkSession, dir: String,
                   data: Option[DataFrame],
                   schema: org.apache.spark.sql.types.StructType,
                   partitionBy: Seq[String],
                   properties: Map[String, String], opId: String,
                   mustExist: Boolean = false,
                   mayExist: Boolean = true): Boolean = {
    import org.apache.spark.sql.functions.col
    validatePartitionDecl(schema, partitionBy)
    val head0 = snapshot(spark, dir)
    if (head0.batchIds.contains(opId)) return false
    if (mustExist) require(head0.version > 0L,
      s"REPLACE TABLE: no table at $dir (use CREATE OR REPLACE)")
    if (!mayExist) require(head0.version == 0L,
      s"ManifestTable at $dir already exists (v${head0.version})")
    val landed = data.fold(Landed.empty) { df =>
      land(spark, dir, df.select(schema.fields.map(fd =>
          col(fd.name).cast(fd.dataType).as(fd.name)).toSeq: _*),
        partitionBy, blooms = Nil, ndvCols = Nil)
    }
    commit(spark, dir) { old =>
      if (old.batchIds.contains(opId)) None
      else Some(landed.into(old, replaced = old.files).copy(
        ndvCols = Nil, bloomCols = Nil,
        schemaJson = Some(schema.json),
        partitionCols = partitionBy,
        constraints = Map.empty,
        // REPLACE re-pins the generated-column timezone to the replacing
        // session (the data was just rewritten in it) — same contract
        // as [[create]]
        properties = properties ++
          (if (schema.fields.exists(fd => org.apache.spark.sql.catalyst
              .util.GeneratedColumn.getGenerationExpression(fd).isDefined))
            Map(GeneratedTzKey ->
              spark.sessionState.conf.sessionLocalTimeZone)
          else Map.empty),
        // fresh identity over the new schema; an explicit identity list
        // when a mapping was active (absent-inherits cannot express
        // "cleared" — same rule as restore), retired names accumulate
        colMap =
          if (old.colMap.isEmpty) Nil
          else schema.fields.toSeq.map(fd => fd.name -> fd.name),
        retiredCols = old.retiredCols,
        batchIds = old.batchIds + opId,
        op = "replace", cdcPath = None))
    }
  }

  /** ALTER TABLE ... ALTER COLUMN ... TYPE, restricted to WIDENING
    * within a stats family (byte → short → int → long; float → double)
    * — one metadata commit, zero rewrites. Sound because both the
    * parquet read path and the manifest's pruning metadata are already
    * family-canonical: Spark 4's vectorized reader upcasts a narrower
    * physical column into the wider requested type, and [[Skipping]]
    * records every integral column's stats, blooms and partition
    * values under the one `long` family (floats under `double`), so a
    * predicate on the widened column prunes old files exactly as
    * before. Anything outside the lattice — narrowing, cross-family,
    * string/decimal games — stays a loud error: it would bind the
    * wrong decoder or silently corrupt comparisons at depth.
    * (Scala `append` stays strict — batches must carry the widened
    * type; the SQL INSERT path coerces to the table schema itself.)
    */
  def widenColumnType(spark: SparkSession, dir: String, name: String,
                      to: org.apache.spark.sql.types.DataType): Boolean =
    commit(spark, dir) { old =>
      import org.apache.spark.sql.types._
      val cur = tableSchema(old).getOrElse(throw new IllegalStateException(
        s"ManifestTable at $dir tracks no schema — ALTER has nothing " +
          "to widen"))
      val fd = cur.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name does not exist in $dir"))
      val widens = (fd.dataType, to) match {
        case (ByteType, ShortType | IntegerType | LongType) => true
        case (ShortType, IntegerType | LongType) => true
        case (IntegerType, LongType) => true
        case (FloatType, DoubleType) => true
        case _ => false
      }
      require(widens,
        s"unsupported ALTER COLUMN TYPE on $name: " +
          s"${fd.dataType.simpleString} -> ${to.simpleString} is not a " +
          "widening within a stats family (byte -> short -> int -> long, " +
          "float -> double)")
      Some(old.copy(schemaJson = Some(StructType(cur.fields.map(f =>
        if (f eq fd) f.copy(dataType = to) else f)).json),
        op = "metadata", cdcPath = None))
    }

  /** ALTER TABLE ... ALTER COLUMN ... SET / DROP NOT NULL as one
    * metadata commit. DROP NOT NULL is pure metadata (a wider contract
    * is always safe). SET NOT NULL first VALIDATES EXISTING ROWS — one
    * aggregate over the DV-aware read, inside the commit callback so a
    * CAS retry re-validates against rows a racing append just landed
    * (the [[addConstraint]] discipline) — then flips the recorded
    * field. Enforcement after the flip: the SQL INSERT path gets
    * Spark's own analysis-time nullability checks from the declared V2
    * schema, and the Scala [[append]] path re-checks NOT NULL columns
    * in its constraint pass. Partition columns are immutable like the
    * layout. Returns false when the flag already holds.
    */
  def setColumnNullability(spark: SparkSession, dir: String, name: String,
                           nullable: Boolean): Boolean =
    commit(spark, dir) { old =>
      import org.apache.spark.sql.types.StructType
      val cur = tableSchema(old).getOrElse(throw new IllegalStateException(
        s"ManifestTable at $dir tracks no schema — ALTER has nothing " +
          "to change"))
      val fd = cur.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name does not exist in $dir"))
      require(!old.partitionCols.exists(_.equalsIgnoreCase(name)),
        s"cannot alter nullability of partition column $name")
      if (fd.nullable == nullable) None
      else {
        if (!nullable && old.files.nonEmpty) {
          val n = readFiles(spark, dir, old, old.files)
            .where(org.apache.spark.sql.functions.col(fd.name).isNull)
            .count()
          require(n == 0L,
            s"cannot SET NOT NULL on $name: $n existing row(s) are NULL")
        }
        Some(old.copy(schemaJson = Some(StructType(cur.fields.map(f =>
          if (f eq fd) f.copy(nullable = nullable) else f)).json),
          op = "metadata", cdcPath = None))
      }
    }

  /** ALTER TABLE ... ALTER COLUMN ... COMMENT as one metadata commit —
    * the comment rides the recorded schema's field metadata (the
    * standard Spark slot, so DESCRIBE and the V2 column face surface
    * it); `None` clears. Returns false when nothing changes.
    */
  def setColumnComment(spark: SparkSession, dir: String, name: String,
                       comment: Option[String]): Boolean =
    commit(spark, dir) { old =>
      import org.apache.spark.sql.types.StructType
      val cur = tableSchema(old).getOrElse(throw new IllegalStateException(
        s"ManifestTable at $dir tracks no schema — ALTER has nothing " +
          "to comment"))
      val fd = cur.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name does not exist in $dir"))
      if (fd.getComment() == comment) None
      else {
        val next = comment match {
          case Some(c) => fd.withComment(c)
          case None => fd.copy(metadata =
            new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(fd.metadata).remove("comment").build())
        }
        Some(old.copy(schemaJson = Some(StructType(cur.fields.map(f =>
          if (f eq fd) next else f)).json),
          op = "metadata", cdcPath = None))
      }
    }

  /** ALTER TABLE ... ALTER COLUMN ... SET / DROP DEFAULT as one
    * metadata commit — the default rides the recorded schema's field
    * metadata under Spark's own key (`CURRENT_DEFAULT`), which is
    * where the analyzer's default-column resolution reads it, so
    * INSERTs that omit the column (or write the DEFAULT keyword)
    * substitute it at ANALYSIS time and the stored rows carry real
    * values. SET/DROP DEFAULT is a WRITE-time contract only: rows
    * written while a different (or no) default held keep what they
    * hold, and the `EXISTS_DEFAULT` read-fill an `ADD COLUMN ...
    * DEFAULT` froze (see [[addColumn]]) is deliberately NOT touched
    * here — Delta's two-field protocol, where SET DEFAULT never
    * rewrites history. `None` drops the current default only. Returns
    * false when nothing changes.
    */
  def setColumnDefault(spark: SparkSession, dir: String, name: String,
                       defaultSql: Option[String]): Boolean =
    commit(spark, dir) { old =>
      import org.apache.spark.sql.types.StructType
      val cur = tableSchema(old).getOrElse(throw new IllegalStateException(
        s"ManifestTable at $dir tracks no schema — ALTER has nothing " +
          "to default"))
      val fd = cur.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
        throw new IllegalArgumentException(
          s"column $name does not exist in $dir"))
      val key = "CURRENT_DEFAULT"
      val curDefault =
        if (fd.metadata.contains(key)) Some(fd.metadata.getString(key))
        else None
      if (curDefault == defaultSql) None
      else {
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(fd.metadata)
        val next = fd.copy(metadata = defaultSql match {
          case Some(sql) =>
            // parse now: a default that cannot even parse must fail the
            // ALTER, not every later INSERT
            spark.sessionState.sqlParser.parseExpression(sql)
            mb.putString(key, sql).build()
          case None => mb.remove(key).build()
        })
        Some(old.copy(schemaJson = Some(StructType(cur.fields.map(f =>
          if (f eq fd) next else f)).json),
          op = "metadata", cdcPath = None))
      }
    }

  /** Constraint expressions that reference `col` — rename/drop must not
    * silently break a recorded CHECK (its SQL string holds the old
    * name); the caller rewrites or drops the constraint first.
    */
  private[ext] def constraintsOn(spark: SparkSession, s: Snapshot,
                            col: String): Seq[String] =
    s.constraints.toSeq.collect {
      case (n, e) if spark.sessionState.sqlParser.parseExpression(e)
        .collect { case a: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute => a.nameParts.head }
        .exists(_.equalsIgnoreCase(col)) => n
    }

  /** Generated columns whose generation expression references `col` —
    * rename/drop must not silently break a recorded expression (its
    * SQL holds the old name), the same contract as [[constraintsOn]].
    */
  private[ext] def generatedReferencing(spark: SparkSession, s: Snapshot,
                                        col: String): Seq[String] =
    generatedOf(s).collect {
      case (fd, gen) if spark.sessionState.sqlParser.parseExpression(gen)
        .collect { case a: org.apache.spark.sql.catalyst.analysis
          .UnresolvedAttribute => a.nameParts.head }
        .exists(_.equalsIgnoreCase(col)) => fd.name
    }

  /** ALTER TABLE ... RENAME COLUMN as ONE metadata commit — column
    * mapping (Delta/Iceberg): the logical name changes, the PHYSICAL
    * parquet name stays, so no data file rewrites and every recorded
    * stat, in-file bloom, NDV sketch and partition value keeps its
    * (physical) key — predicates on the NEW name keep pruning through
    * [[keptFiles]]' logical→physical translation. Time travel below the
    * commit answers with the OLD name (the mapping is versioned state).
    * Partition columns cannot be renamed (the layout is immutable, like
    * the declaration) and neither can columns a CHECK constraint
    * references (its recorded SQL would silently break).
    */
  def renameColumn(spark: SparkSession, dir: String, from: String,
                   to: String): Boolean =
    commit(spark, dir) { old =>
      val cur = tableSchema(old).getOrElse(throw new IllegalStateException(
        s"ManifestTable at $dir tracks no schema — ALTER has nothing " +
          "to rename"))
      val fd = cur.fields.find(_.name.equalsIgnoreCase(from)).getOrElse(
        throw new IllegalArgumentException(
          s"column $from does not exist in $dir"))
      require(!cur.fields.exists(_.name.equalsIgnoreCase(to)),
        s"column $to already exists in $dir")
      require(!old.partitionCols.exists(_.equalsIgnoreCase(from)),
        s"cannot rename partition column $from (the partition layout " +
          "is immutable)")
      val cons = constraintsOn(spark, old, from)
      require(cons.isEmpty,
        s"cannot rename $from: CHECK constraint(s) ${cons.mkString(", ")} " +
          "reference it — drop and re-add them with the new name")
      val gens = generatedReferencing(spark, old, from)
      require(gens.isEmpty,
        s"cannot rename $from: generated column(s) ${gens.mkString(", ")} " +
          "compute from it (the recorded expression holds the old name)")
      val newSchema = org.apache.spark.sql.types.StructType(cur.fields.map(
        f => if (f eq fd) f.copy(name = to) else f))
      val newMap = fullColMap(old, cur).map { case (l, ph) =>
        if (l.equalsIgnoreCase(from)) (to, ph) else (l, ph)
      }
      Some(old.copy(schemaJson = Some(newSchema.json), colMap = newMap,
        op = "metadata", cdcPath = None))
    }

  /** ALTER TABLE ... DROP COLUMN as ONE metadata commit: the logical
    * column disappears (reads stop projecting it — the recorded
    * physical schema no longer selects those bytes), nothing rewrites,
    * and the physical name is RETIRED so a later ADD COLUMN of the same
    * name binds a fresh slot instead of resurrecting the dropped data.
    * Same partition/constraint guards as [[renameColumn]]; the last
    * column cannot be dropped.
    */
  def dropColumn(spark: SparkSession, dir: String, name: String): Boolean =
    commit(spark, dir) { old =>
      val cur = tableSchema(old).getOrElse(throw new IllegalStateException(
        s"ManifestTable at $dir tracks no schema — ALTER has nothing " +
          "to drop"))
      require(cur.fields.exists(_.name.equalsIgnoreCase(name)),
        s"column $name does not exist in $dir")
      require(cur.fields.length > 1,
        s"cannot drop $name: it is the table's only column")
      require(!old.partitionCols.exists(_.equalsIgnoreCase(name)),
        s"cannot drop partition column $name (the partition layout is " +
          "immutable)")
      val cons = constraintsOn(spark, old, name)
      require(cons.isEmpty,
        s"cannot drop $name: CHECK constraint(s) ${cons.mkString(", ")} " +
          "reference it — drop them first")
      val gens = generatedReferencing(spark, old, name)
        .filterNot(_.equalsIgnoreCase(name))
      require(gens.isEmpty,
        s"cannot drop $name: generated column(s) ${gens.mkString(", ")} " +
          "compute from it — drop them first")
      val phys = physName(old, name)
      val newSchema = org.apache.spark.sql.types.StructType(
        cur.fields.filterNot(_.name.equalsIgnoreCase(name)))
      val newMap = fullColMap(old, cur)
        .filterNot(_._1.equalsIgnoreCase(name))
      Some(old.copy(schemaJson = Some(newSchema.json),
        colMap = newMap,
        retiredCols = (old.retiredCols :+ phys).distinct,
        // sketching the dropped column stops (new files will not carry
        // it); existing per-file sketches and blooms age out with rewrites
        ndvCols = old.ndvCols.filterNot(_.equalsIgnoreCase(phys)),
        bloomCols = old.bloomCols.filterNot(_.equalsIgnoreCase(phys)),
        op = "metadata", cdcPath = None))
    }

  /** Append `df` as batch `batchId`. Returns true if the batch committed,
    * false if an earlier commit already absorbed this `batchId` (the
    * idempotent-replay no-op). `beforeCommit` is a test seam between the
    * (invisible) data-file write and the manifest swap — the crash
    * window whose worst case is orphan files.
    *
    * `partitionBy` on the FIRST append declares the table's partition
    * layout: every data file then holds exactly one partition tuple,
    * the tuple is recorded in the manifest per file, and predicates on
    * the partition columns prune files EXACTLY (point stats) through
    * [[readWhere]] and the planner-integrated [[scan]] — hive-style
    * partition pruning without directories. Later appends inherit the
    * layout automatically (passing a conflicting one raises).
    *
    * `bloomCols` and `ndvCols` declare, like `partitionBy`: the first
    * write naming them records them in the manifest, and every later
    * append AND rewrite (DML, merge, compaction, DV purge) lands its
    * files with parquet's bloom filter inside them for each declared
    * bloom column and an HLL
    * sketch per declared NDV column. Later calls may repeat the
    * declaration or omit it; naming different columns raises.
    *
    * A `batchId` holding a line break raises before anything is staged
    * (the log records batch ids one per line).
    */
  def append(df0: DataFrame, dir: String, batchId: String,
             beforeCommit: () => Unit = () => (),
             bloomCols: Seq[String] = Nil,
             partitionBy: Seq[String] = Nil,
             ndvCols: Seq[String] = Nil): Boolean = {
    requireOneLine("batch id", batchId)
    // IDENTITY tables wrap the attempt in the standard conflict-rebase
    // loop: a racing append that advanced a mark aborts this one's
    // commit (overlapping minted ranges must never publish), and the
    // retry restages against the fresh mark. Identity-free tables —
    // the overwhelmingly common case — take the attempt directly.
    if (identityOf(snapshot(df0.sparkSession, dir)).isEmpty)
      appendOnce(df0, dir, batchId, beforeCommit, bloomCols, partitionBy,
        ndvCols)
    else retryOnConflict(df0.sparkSession, dir, batchId, attempts = 5)(
      appendOnce(df0, dir, batchId, beforeCommit, bloomCols, partitionBy,
        ndvCols))
  }

  private def appendOnce(df0: DataFrame, dir: String, batchId: String,
             beforeCommit: () => Unit,
             bloomCols: Seq[String],
             partitionBy: Seq[String],
             ndvCols: Seq[String]): Boolean = {
    val spark = df0.sparkSession
    val snap0 = snapshot(spark, dir)
    if (snap0.batchIds.contains(batchId)) return false
    // IDENTITY columns mint first (a generation expression may read
    // them), then GENERATED ALWAYS AS columns compute: omitted →
    // computed, NULL slots → computed, explicit non-null values
    // validated by the synthetic <=> check riding the constraint pass
    val (dfId, idAdv) = fillIdentity(snap0, df0)
    val df = fillGenerated(snap0, dfId)
    // fail a type-conflicting batch BEFORE writing its data files (the
    // commit callback re-merges against the CAS-fresh head anyway)
    mergedSchemaJson(snap0, df.schema)
    // and a constraint-violating one (one aggregate pass, all
    // constraints at once; free when the table has none). NOT NULL
    // columns ride the same pass as synthetic checks — the Scala path's
    // half of the nullability contract (SQL INSERTs get Spark's own
    // analysis-time enforcement from the declared schema). A batch that
    // OMITS a NOT NULL column entirely is refused — reads would
    // null-fill it, the exact silent lie the declaration forbids
    tableSchema(snap0).foreach { sc =>
      val omitted = sc.fields.filter(fd => !fd.nullable &&
        !df.columns.exists(_.equalsIgnoreCase(fd.name)))
      require(omitted.isEmpty,
        s"append batch $batchId omits NOT NULL column(s) " +
          s"${omitted.map(_.name).mkString(", ")} — reads would " +
          "null-fill them; supply the column or DROP NOT NULL first")
    }
    enforceConstraints(df, withNotNull(snap0, df, snap0.constraints),
      s"append batch $batchId")
    val layout = resolveLayout(snap0, df.schema, partitionBy)
    // sketch declarations, inherited or declared here — recorded (like
    // every sidecar/stat key) under PHYSICAL names, so a later rename
    // costs the sketches nothing
    def declared(what: String, cur: Seq[String], req: Seq[String]) =
      declare(what, cur, req.map(c => physName(snap0, c).toLowerCase))
    val blooms = declared("bloom", snap0.bloomCols, bloomCols)
    val tracked = declared("NDV", snap0.ndvCols, ndvCols)
    // data files bind by PHYSICAL names (partition columns cannot be
    // renamed, so `layout` needs no translation)
    val landed = land(spark, dir, toPhysical(snap0, df), layout, blooms,
      tracked)
    val idMarks = identityMarks(spark, dir, snap0, landed.files,
      landed.stats, idAdv)
    beforeCommit()
    if (idAdv.nonEmpty) opConflicted.set(false) // terminal decision
    commit(spark, dir) { old =>
      if (old.batchIds.contains(batchId)) None // lost the race to a replay
      // IDENTITY race: another append advanced a mark after this one
      // staged — committing would publish an overlapping minted range;
      // signal a conflict so the identity retry loop rebases
      else if (idAdv.exists(a => old.properties.get(a.key) != a.prevProp)) {
        opConflicted.set(true); None
      }
      else {
        // the layout was resolved against snap0; a racing creation that
        // declared a DIFFERENT layout makes this staged data wrong —
        // raise rather than commit a mixed table
        require(old.partitionCols.map(_.toLowerCase) ==
          snap0.partitionCols.map(_.toLowerCase),
          s"concurrent commit changed the partition layout of $dir")
        // the staged files bound PHYSICAL names via snap0's mapping; a
        // concurrent RENAME/DROP COLUMN would land them under stale
        // (possibly newly-retired) slots — raise like the layout race
        require(old.colMap == snap0.colMap &&
          old.retiredCols == snap0.retiredCols,
          s"concurrent commit changed the column mapping of $dir")
        // and a racing append that declared DIFFERENT sketch columns
        // raises through the same check as a re-declaration
        Some(landed.into(old, replaced = Nil).copy(
          batchIds = old.batchIds + batchId,
          partitionCols = if (layout.nonEmpty) layout else old.partitionCols,
          bloomCols = declare("bloom", old.bloomCols, blooms),
          ndvCols = declare("NDV", old.ndvCols, tracked),
          properties = old.properties ++ idMarks,
          op = "append", schemaJson = mergedSchemaJson(old, df.schema),
          cdcPath = None))
      }
    }
  }

  /** The duplicated-column prefix a PARTITIONED stage write uses as its
    * hive directory key (see [[stageWrite]]). Never lands in data file
    * bytes — `partitionBy` consumes it into the path.
    */
  private[ext] val PartPrefix = "_gp_"

  /** OPTIMIZED WRITE (guide §6 — small files hurt twice; coalesce on
    * write with a REBALANCE): every staged write otherwise emits one
    * file per input partition, so a small batch flowing through a
    * 32-way session writes 32 tiny files — and a lang-partitioned one
    * writes 32 × (#langs) — each paying a footer read, a rename, a
    * manifest line and bloom/NDV work per commit, and a per-file open
    * on every later read. The AQE rebalance sizes output partitions to
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` at RUNTIME (not
    * from estimates): a tiny batch collapses to one right-sized file,
    * a 100 TB write splits into advisory-sized files — the same
    * optimized-write shuffle Delta/Iceberg use for file sizing, scale-
    * adaptive by construction. Partitioned writes rebalance ON the
    * partition columns so each task holds whole partition values and
    * `partitionBy` emits one file per value per task instead of one
    * per value per input partition. `graft.write.rebalance=false`
    * restores the raw pass-through (e.g. when an upstream layout must
    * be preserved exactly).
    *
    * One exception: an unpartitioned write whose input is already
    * MEASURED small ([[measuredSmall]]) is staged as `coalesce(1)` —
    * the same single file the rebalance would size it to, without the
    * shuffle-map job that only measures it again (a fold's corpus and
    * index appends, which read its built caches).
    */
  private def rebalanced(df: DataFrame, partCols: Seq[String],
                         sized: Boolean): DataFrame = {
    import org.apache.spark.sql.functions.col
    if (!rebalanceOn(df) || sized || callerSized(df.queryExecution.logical)) df
    else if (partCols.nonEmpty) df.hint("rebalance", partCols.map(col): _*)
    else if (measuredSmall(df)) df.coalesce(1)
    else df.hint("rebalance")
  }

  /** True when `df` reads only BUILT caches or local relations through
    * Projects, Filters and left semi/anti joins — operators that never
    * add rows — and the plan's size statistic is at most
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes`: a built cache
    * reports the measured size of its cached batches, so the frame is
    * known to fit one advisory-sized file before anything runs. An
    * unbuilt cache or a scan has only an estimate, and an operator that
    * can add rows (a Generate, a join, a union) an estimate of its
    * output; both keep the rebalance that measures at runtime.
    */
  private def measuredSmall(df: DataFrame): Boolean = {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    def rowBounded(plan: LogicalPlan): Boolean = plan match {
      case m: InMemoryRelation => m.cacheBuilder.isCachedColumnBuffersLoaded
      case _: LocalRelation => true
      case p: Project => rowBounded(p.child)
      case f: Filter => rowBounded(f.child)
      case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti =>
        rowBounded(j.left) && rowBounded(j.right)
      case _ => false
    }
    val plan = df.queryExecution.optimizedPlan
    rowBounded(plan) && plan.stats.sizeInBytes <=
      df.sparkSession.sessionState.conf.getConf(
        org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
  }

  /** The optimized-write gate: the `graft.write.rebalance` kill switch
    * AND adaptive execution itself — with AQE off, a REBALANCE hint
    * degrades to a plain shuffle at `spark.sql.shuffle.partitions`
    * (potentially MORE tiny files plus an unwanted exchange), so the
    * hint must never be applied there (ADVICE r21 #2).
    */
  private[graft] def rebalanceOn(df: DataFrame): Boolean = {
    val conf = df.sparkSession.conf
    conf.getOption("graft.write.rebalance").forall(_.toBoolean) &&
      conf.get("spark.sql.adaptive.enabled", "true").toBoolean
  }

  /** True when the staged frame already carries a DELIBERATE output
    * layout the rebalance must not override: a `coalesce(n)` (an
    * explicit file-count directive), a keyed/range repartition or an
    * earlier rebalance, reachable from the root through partitioning-
    * preserving narrow ops (Project/Filter/partition-local Sort). A
    * plain round-robin `repartition(n)` is NOT layout intent — it is
    * the parallelism aid [[graft.Tables.spread]]-style readers inject,
    * and letting it through is exactly the 32-tiny-files problem the
    * rebalance exists to fix.
    */
  private def callerSized(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
  : Boolean = {
    import org.apache.spark.sql.catalyst.plans.logical._
    plan match {
      case p: Project => callerSized(p.child)
      case f: Filter => callerSized(f.child)
      case s: Sort if !s.global => callerSized(s.child)
      case a: SubqueryAlias => callerSized(a.child)
      case r: Repartition => !r.shuffle // coalesce(n): explicit sizing
      case _: RepartitionByExpression => true
      case _: RebalancePartitions => true
      case _ => false
    }
  }

  /** Stage `df` for a table partitioned on `partCols` (flat parquet when
    * empty). Spark's `partitionBy` strips its key columns from the file
    * bytes, which would break every flat read of `data/` — so the write
    * partitions on a DUPLICATED copy of each column instead: the copy
    * becomes the `_gp_<col>=<value>` directory (consumed by the layout,
    * decoded into manifest `pv:` lines by [[moveToData]]), the original
    * column stays physically in every file. Result: each data file holds
    * exactly ONE partition tuple, and all read paths (plain, DV-applied,
    * feeds, time travel) keep working unchanged on the flat directory.
    *
    * `sized = true` marks a caller that already computed its own output
    * partitioning for file sizing (the maintenance rewrites: compact /
    * compactSmall size to `targetFileBytes`; purgeDeletes is
    * contractually zero-shuffle) — the rebalance must not override it.
    */
  private def stageWrite(df: DataFrame, stage: String,
                         partCols: Seq[String], blooms: Seq[String],
                         sized: Boolean = false): Unit = {
    val opts = bloomOptions(df.schema, blooms)
    if (partCols.isEmpty)
      rebalanced(df, Nil, sized).write.options(opts).parquet(stage)
    else {
      import org.apache.spark.sql.functions.{col, concat, lit, when}
      // the directory key is "v" + canonical value, null kept null:
      // Spark's path writer sends BOTH null and '' to
      // __HIVE_DEFAULT_PARTITION__, so a raw duplicate would conflate
      // them and the "exact" point stats would prove `c = ''` matches
      // nothing — silently dropping rows. The prefix keeps every
      // non-null value (including '') out of the null directory;
      // [[moveToData]] strips it back off.
      val dup = partCols.foldLeft(rebalanced(df, partCols, sized))((d, c) =>
        d.withColumn(PartPrefix + c,
          when(col(c).isNull, lit(null: String))
            .otherwise(concat(lit(PartValueTag), col(c).cast("string")))))
      dup.write.options(opts).partitionBy(partCols.map(PartPrefix + _): _*)
        .parquet(stage)
    }
  }

  /** Writer options giving each declared integral or string bloom column
    * parquet's bloom (default 1% fpp) in every row group: the smallest of
    * 12 adaptive candidates (1 MB halving to 512 B) that holds the chunk's
    * distinct values, and no dictionary (an all-dictionary chunk gets no
    * bloom). Parquet reads the candidate count per column only.
    */
  private def bloomOptions(schema: org.apache.spark.sql.types.StructType,
                           blooms: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.types._
    schema.fields.filter(fd => blooms.contains(fd.name.toLowerCase) &&
      Seq(ByteType, ShortType, IntegerType, LongType, StringType)
        .contains(fd.dataType)).flatMap(fd => Seq(
      "parquet.bloom.filter.adaptive.enabled" -> "true",
      s"parquet.bloom.filter.enabled#${fd.name}" -> "true",
      s"parquet.bloom.filter.candidates.number#${fd.name}" -> "12",
      s"parquet.enable.dictionary#${fd.name}" -> "false")).toMap
  }

  /** Prefix on every non-null `_gp_` directory value (see [[stageWrite]]).
    * Exists only in the transient stage path, never in manifests or data.
    */
  private[ext] val PartValueTag = "v"

  /** Canonical-family map (the [[Skipping]] vocabulary) for the table's
    * partition columns, from the written frame's schema — what
    * [[moveToData]] stamps into each file's [[PartValue]]s. Declaration
    * already restricted the columns to these types.
    */
  private def partFamilies(schema: org.apache.spark.sql.types.StructType,
                           partCols: Seq[String]): Map[String, String] = {
    import org.apache.spark.sql.types._
    partCols.flatMap { c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType =>
          c.toLowerCase -> "long"
        case BooleanType => c.toLowerCase -> "bool"
        case DateType => c.toLowerCase -> "date"
        case _ => c.toLowerCase -> "string"
      })
    }.toMap
  }

  /** Move every staged parquet file into `data/` under a fresh UUID
    * name, returning the names, each file's byte length (captured here —
    * rename preserves it — so the manifest can record sizes without a
    * later RPC per file), and each file's partition values decoded from
    * the hive-style `_gp_<col>=<value>` directories a partitioned
    * [[stageWrite]] produced (empty map per file on flat stages).
    */
  private def moveToData(f: org.apache.hadoop.fs.FileSystem, dir: String,
                         stage: String,
                         partFams: Map[String, String] = Map.empty)
  : (Seq[String], Map[String, Long], Map[String, Map[String, PartValue]]) = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    def walk(at: org.apache.hadoop.fs.Path, pv: Map[String, PartValue])
    : Seq[(org.apache.hadoop.fs.FileStatus, Map[String, PartValue])] =
      f.listStatus(at).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (st.isDirectory) {
          val eq = name.indexOf('=')
          if (name.startsWith(PartPrefix) && eq > 0) {
            val c = ExternalCatalogUtils.unescapePathName(
              name.substring(0, eq)).stripPrefix(PartPrefix).toLowerCase
            val raw = name.substring(eq + 1)
            // only a true null reaches the hive default directory —
            // [[stageWrite]] tags every non-null value (so '' becomes
            // the bare tag, distinct from null); strip the tag back off
            val v =
              if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) None
              else {
                val dec0 = ExternalCatalogUtils.unescapePathName(raw)
                require(dec0.startsWith(PartValueTag),
                  s"staged partition directory $name lacks the " +
                    s"'$PartValueTag' value tag — not a graft stage")
                val s0 = dec0.substring(PartValueTag.length)
                // DATE partitions: the directory carries the cast
                // string ('2024-03-05'); the skipping evaluator's date
                // family compares DAYS since epoch — canonicalize here
                Some(if (partFams.get(c).contains("date"))
                  java.time.LocalDate.parse(s0).toEpochDay.toString
                else s0)
              }
            walk(st.getPath,
              pv + (c -> PartValue(partFams.getOrElse(c, "string"), v)))
          } else walk(st.getPath, pv)
        } else if (st.isFile && name.endsWith(".parquet")) Seq((st, pv))
        else Nil
      }
    val moved = walk(p(stage), Map.empty).map { case (st, pv) =>
      val name = s"${java.util.UUID.randomUUID()}.parquet"
      f.mkdirs(p(dataDir(dir)))
      require(f.rename(st.getPath, p(s"${dataDir(dir)}/$name")),
        s"move to data/ failed for ${st.getPath}")
      (name, st.getLen, pv)
    }
    f.delete(p(stage), true)
    (moved.map(_._1), moved.map(m => m._1 -> m._2).toMap,
      moved.collect { case (n, _, pv) if pv.nonEmpty => n -> pv }.toMap)
  }

  /** Delete and drop the files whose footer stats prove zero rows;
    * files WITHOUT stats (unreadable footer) are conservatively kept.
    */
  private def dropEmpty(f: org.apache.hadoop.fs.FileSystem, dir: String,
                        names: Seq[String],
                        stats: Map[String, FileStats]): Seq[String] = {
    val (empty, live) = names.partition(n => stats.get(n).exists(_.rows == 0L))
    empty.foreach(n => f.delete(p(s"${dataDir(dir)}/$n"), false))
    live
  }

  /** Files a write has [[land]]ed in `data/`, with everything the
    * manifest records per file — invisible until a commit names them.
    */
  private[ext] final case class Landed(
      files: Seq[String], stats: Map[String, FileStats],
      sizes: Map[String, Long], pvals: Map[String, Map[String, PartValue]],
      ndv: Map[String, Map[String, String]]) {
    /** `old` with the `replaced` files (and their deletion vectors)
      * swapped for these, which append after the survivors.
      */
    def into(old: Snapshot, replaced: Seq[String]): Snapshot = {
      val gone = replaced.toSet
      old.copy(files = old.files.filterNot(gone) ++ files,
        stats = old.stats -- gone ++ stats, sizes = old.sizes -- gone ++ sizes,
        pvals = old.pvals -- gone ++ pvals, ndv = old.ndv -- gone ++ ndv,
        dvs = old.dvs -- gone)
    }
  }

  private[ext] object Landed {
    val empty: Landed = Landed(Nil, Map.empty, Map.empty, Map.empty, Map.empty)
  }

  /** THE landing step of every write that adds data files — append,
    * REPLACE, the copy-on-write row ops, the DV update, compaction, the
    * small-file packer and the DV purge: stage `physDf` (physical
    * column names, each declared bloom written into every file) out of
    * view, move the files into `data/`, harvest footer stats and blooms,
    * drop files the footer proves empty (a fully deduplicated batch
    * would otherwise litter the manifest with unprunable empty
    * segments), then build the declared NDV sketches ([[buildNdv]]).
    * `sized` = the caller already shaped the output partitioning (see
    * [[stageWrite]]).
    */
  private[ext] def land(spark: SparkSession, dir: String, physDf: DataFrame,
                        partCols: Seq[String], blooms: Seq[String],
                        ndvCols: Seq[String], sized: Boolean = false): Landed = {
    val f = fs(spark, dir)
    val stage = s"$dir/_stage/${java.util.UUID.randomUUID()}"
    stageWrite(physDf, stage, partCols, blooms, sized)
    val (moved, sizes, pvals) =
      moveToData(f, dir, stage, partFamilies(physDf.schema, partCols))
    val stats = footerStats(spark, dir, moved, blooms)
    val live = dropEmpty(f, dir, moved, stats)
    val keep = live.toSet
    Landed(live, stats.view.filterKeys(keep).toMap,
      sizes.view.filterKeys(keep).toMap, pvals.view.filterKeys(keep).toMap,
      buildNdv(spark, dir, live, ndvCols, physDf.schema))
  }

  /** A sketch declaration as a write resolves it: the table's `cur`
    * declaration wins; a nonempty `req` on an undeclared table declares
    * it; a `req` naming other columns than `cur` raises — a declaration
    * changes only through DROP COLUMN or REPLACE.
    */
  private[ext] def declare(what: String, cur: Seq[String],
                           req: Seq[String]): Seq[String] = {
    require(req.isEmpty || cur.isEmpty || req == cur,
      s"table already declares $what columns (${cur.mkString(", ")}); " +
        s"a write cannot re-declare them as (${req.mkString(", ")})")
    if (cur.nonEmpty) cur else req
  }

  private[ext] def cdcDir(dir: String) = s"$dir/_cdc"
  private[ext] def dvDir(dir: String) = s"$dir/_dv"

  // ---------------------------------------------- constraints
  //
  // Named CHECK expressions recorded in the manifest and enforced on
  // every path that introduces or changes rows (append, merge, the
  // updates). SQL CHECK semantics: a row fails only when the expression
  // is FALSE (NULL passes — express NOT NULL as `col IS NOT NULL`).
  // A training-corpus table that silently absorbs null text is a
  // pipeline bug factory; the table layer refuses, loudly, with counts.

  /** The violating-rows condition for a CHECK expression. */
  private[ext] def violates(exprSql: String): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    not(coalesce(expr(exprSql), lit(true)))
  }

  /** One aggregate pass over `df` counting violations of EVERY
    * constraint at once; raises naming each violated constraint with
    * its row count. Tables without constraints pay nothing.
    */
  private[ext] def enforceConstraints(df: DataFrame,
                                 cons: Map[String, String],
                                 what: String): Unit = {
    import org.apache.spark.sql.functions.{lit, sum, when}
    if (cons.isEmpty) return
    val ordered = cons.toSeq.sortBy(_._1)
    val aggs = ordered.map { case (n, e) =>
      sum(when(violates(e), 1L).otherwise(0L)).as(n)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    val bad = ordered.zipWithIndex.flatMap { case ((n, e), i) =>
      val c = if (row.isNullAt(i)) 0L else row.getLong(i)
      if (c > 0L) Some(s"$n [$e]: $c row(s)") else None
    }
    require(bad.isEmpty,
      s"$what violates CHECK constraint(s): ${bad.mkString("; ")}")
  }

  /** `cons` plus a synthetic `IS NOT NULL` check per NON-NULLABLE
    * schema column present in `df` — NOT NULL is enforced in the same
    * one-aggregate pass as the CHECK constraints at every seam that
    * can introduce a NULL (append, update SET, merge SET/INSERT,
    * overwrite). Columns the frame doesn't carry are the CALLER's
    * omission problem (append raises on them; row-op frames always
    * project the full schema).
    */
  private[ext] def withNotNull(snap: Snapshot, df: DataFrame,
                               cons: Map[String, String])
  : Map[String, String] =
    cons ++ tableSchema(snap).map(_.fields.toSeq
      .filter(fd => !fd.nullable &&
        df.columns.exists(_.equalsIgnoreCase(fd.name)))
      // backtick-quoted (embedded backticks doubled): a column name
      // needing quoting (spaces, dots — possible via the DataFrame
      // path) must still parse as ONE identifier, not brick every
      // later append/UPDATE/MERGE with a parse error
      .map(fd => s"graft.notnull.${fd.name}" ->
        s"`${fd.name.replace("`", "``")}` IS NOT NULL")
      .toMap).getOrElse(Map.empty) ++
      // GENERATED ALWAYS AS columns validate on the same pass: after
      // [[fillGenerated]] the equality is an invariant, so this only
      // fires on an EXPLICIT wrong value (never a silent correction)
      generatedOf(snap)
        .filter(g => df.columns.exists(_.equalsIgnoreCase(g._1.name)))
        .map { case (fd, gen) =>
          s"graft.generated.${fd.name}" ->
            (s"`${fd.name.replace("`", "``")}` <=> " +
              s"(CAST(($gen) AS ${fd.dataType.sql}))")
        }.toMap

  // ---------------------------------------------- generated columns
  //
  // `GENERATED ALWAYS AS (expr)` — the third column-metadata write
  // contract next to DEFAULTs and CHECKs. The expression rides the
  // recorded schema's field metadata under Spark's own key
  // (GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY — the catalog
  // declares SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS, so Spark
  // validates it at CREATE: deterministic, references only
  // non-generated columns). Write-side contract, enforced at every
  // row-introducing or row-changing seam:
  //
  //   - a batch that OMITS the column computes it; a NULL slot in a
  //     provided column computes too (generation fills absence, and a
  //     NULL is absence per row — the one DOCUMENTED divergence from
  //     Delta, which rejects explicit NULLs; the full-width V1 write
  //     path cannot tell an omitted column from a null-filled one);
  //   - an explicit NON-NULL value must equal the expression — the
  //     synthetic `<=>` check above raises otherwise, same one
  //     aggregate as the CHECK/NOT NULL pass, never a silent fix;
  //   - UPDATE/MERGE may not assign the column; instead every update
  //     projection RECOMPUTES it — the stored invariant (c <=> expr
  //     holds for every committed row) makes recomputation identity on
  //     pass-through rows and exactly the dependency refresh on
  //     changed ones.

  /** The table's generated columns with their generation expressions. */
  private[ext] def generatedOf(snap: Snapshot)
  : Seq[(org.apache.spark.sql.types.StructField, String)] =
    tableSchema(snap).map(_.fields.toSeq.flatMap(fd =>
      org.apache.spark.sql.catalyst.util.GeneratedColumn
        .getGenerationExpression(fd).map(fd -> _))).getOrElse(Nil)

  /** Table property pinning the session timezone generated-column
    * values are computed in. Recorded at CREATE/REPLACE time for any
    * table declaring generated columns; [[withGeneratedDerived]] only
    * evaluates TIMEZONE-SENSITIVE derivations (timestamp→date casts,
    * trunc, from_unixtime, ...) when the reading session's timezone
    * matches the pin, and [[fillGenerated]]/[[recomputeGenerated]]
    * refuse a timezone-sensitive write from a differing session —
    * otherwise a reader in another zone derives a day bound shifted by
    * one day and the one-sided evaluator prunes files that contain
    * matching rows (ADVICE r20 #4: wrong results, not just a missed
    * optimization).
    */
  private[graft] val GeneratedTzKey = "graft.generated.timeZone"

  /** True when evaluating `e` depends on the session timezone. Casts
    * consult [[Cast.needsTimeZone]] (a Cast node is always
    * timezone-aware but usually doesn't use it); any other
    * timezone-aware expression counts conservatively.
    */
  private[ext] def tzSensitiveTree(
      e: org.apache.spark.sql.catalyst.expressions.Expression): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, TimeZoneAwareExpression}
    e.exists {
      case c: Cast => Cast.needsTimeZone(c.child.dataType, c.dataType)
      case _: TimeZoneAwareExpression => true
      case _ => false
    }
  }

  /** The analyzed tree of generation expression `genSql` (cast to the
    * generated column's type) resolved over the table schema — None
    * when it fails to parse/resolve (callers treat that
    * conservatively).
    */
  private[ext] def analyzedGen(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      fd: org.apache.spark.sql.types.StructField, genSql: String)
  : Option[org.apache.spark.sql.catalyst.expressions.Expression] =
    try {
      import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Cast}
      import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, Project}
      val attrs = schema.fields.toIndexedSeq.map(f =>
        AttributeReference(f.name, f.dataType, f.nullable)())
      val proj = Project(
        Seq(Alias(Cast(
          spark.sessionState.sqlParser.parseExpression(genSql),
          fd.dataType), "__g")()),
        LocalRelation(attrs))
      spark.sessionState.analyzer.execute(proj).collectFirst {
        case p: Project => p.projectList.head
          .asInstanceOf[org.apache.spark.sql.catalyst.expressions.Alias]
          .child
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Refuse a generated-column WRITE whose session timezone differs
    * from the table's pin when any generation expression is
    * timezone-sensitive — the stored values would silently disagree
    * with everything already committed (and with the derivation
    * [[withGeneratedDerived]] serves readers). Non-sensitive
    * expressions (arithmetic, substrings, date-typed trunc) write from
    * any zone. Unresolvable expressions count sensitive — one-sided.
    */
  private[ext] def requireGeneratedTz(spark: SparkSession,
                                      snap: Snapshot): Unit = {
    val gens = generatedOf(snap)
    if (gens.isEmpty) return
    val rec = snap.properties.get(GeneratedTzKey)
    if (rec.isEmpty) return // pre-pin table: derivation never fires either
    val cur = spark.sessionState.conf.sessionLocalTimeZone
    if (rec.contains(cur)) return
    val schema = tableSchema(snap).getOrElse(return)
    val sensitive = gens.exists { case (fd, gen) =>
      analyzedGen(spark, schema, fd, gen).forall(tzSensitiveTree) }
    require(!sensitive,
      s"this write runs in session timezone $cur but the table's " +
        s"generated columns are pinned to ${rec.get} — their values " +
        "depend on the session timezone, so writing from another zone " +
        "would disagree with committed data; set " +
        s"spark.sql.session.timeZone=${rec.get} for this write")
  }

  /** Fill generated columns on a ROW-INTRODUCING frame: absent columns
    * compute whole, NULL slots of provided columns compute per row.
    */
  private[ext] def fillGenerated(snap: Snapshot, df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, when}
    requireGeneratedTz(df.sparkSession, snap)
    generatedOf(snap).foldLeft(df) { case (acc, (fd, gen)) =>
      if (!acc.columns.exists(_.equalsIgnoreCase(fd.name)))
        acc.withColumn(fd.name, expr(gen).cast(fd.dataType))
      else acc.withColumn(fd.name,
        when(col(fd.name).isNull, expr(gen).cast(fd.dataType))
          .otherwise(col(fd.name)))
    }
  }

  /** Recompute generated columns on an UPDATED full-width frame —
    * identity on rows whose dependencies did not change (the stored
    * invariant), the refresh on rows whose dependencies did.
    */
  private[ext] def recomputeGenerated(snap: Snapshot,
                                      df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions.expr
    requireGeneratedTz(df.sparkSession, snap)
    generatedOf(snap).foldLeft(df) { case (acc, (fd, gen)) =>
      acc.withColumn(fd.name, expr(gen).cast(fd.dataType))
    }
  }

  /** Loud rejection of a SET list naming a generated or identity
    * column — neither is assignable (generated recomputes from its
    * sources; identity values are minted by the append path).
    */
  private[ext] def rejectGeneratedAssign(snap: Snapshot,
                                         cols: Iterable[String],
                                         what: String): Unit = {
    val gen = generatedOf(snap).map(_._1.name.toLowerCase).toSet
    cols.find(c => gen.contains(c.toLowerCase)).foreach(c =>
      throw new UnsupportedOperationException(
        s"$what assigns column $c, which is GENERATED ALWAYS AS — " +
          "generated columns cannot be assigned; they recompute when " +
          "their source columns change"))
    val ids = identityOf(snap).map(_._1.name.toLowerCase).toSet
    cols.find(c => ids.contains(c.toLowerCase)).foreach(c =>
      throw new UnsupportedOperationException(
        s"$what assigns column $c, which is GENERATED AS IDENTITY — " +
          "identity values are minted by the append/INSERT path"))
  }

  // ---------------------------------------------- identity columns
  //
  // `GENERATED { ALWAYS | BY DEFAULT } AS IDENTITY` — transactional
  // value minting without a coordinator. The spec (start/step/
  // allowExplicitInsert) rides the recorded schema's field metadata
  // under Spark's own keys; the HIGH-WATER MARK is a table property
  // (`graft.identity.hwm.<physCol>` = the next value to mint), so it
  // versions and time-travels with everything else. RESTORE keeps the
  // CURRENT mark (restore carries old.properties): the mark is
  // monotonic forever, because rewinding it could re-mint values that
  // rows in still-travelable history already carry. An
  // append that mints values reads the HWM, stamps DENSE per-batch
  // positions (RDD zipWithIndex — no sort, no single-partition
  // window), and its commit callback REFUSES if a concurrent append
  // moved the mark (the standard conflict signal; the append retries
  // against the fresh head, restaging with the new base) — two racing
  // INSERTs can never mint overlapping ranges. Values are unique and
  // monotonic per the step sign; gaps appear only across retried/
  // explicit batches (the Delta identity contract — gaps are allowed,
  // overlaps never).

  /** The table's identity columns with their specs. */
  private[ext] def identityOf(snap: Snapshot)
  : Seq[(org.apache.spark.sql.types.StructField,
      org.apache.spark.sql.connector.catalog.IdentityColumnSpec)] =
    tableSchema(snap).map(_.fields.toSeq.flatMap(fd =>
      org.apache.spark.sql.catalyst.util.IdentityColumn
        .getIdentityInfo(fd).map(fd -> _))).getOrElse(Nil)

  /** The HWM property key for an identity column. */
  private[ext] def identityHwmKey(col: String): String =
    s"graft.identity.hwm.${col.toLowerCase}"

  /** The next value to mint for an identity column at `snap`. The mark
    * is keyed by the column's PHYSICAL name — like every stat and
    * sidecar — so a RENAME cannot orphan it (a logically-keyed mark
    * would fall back to the declared start and re-mint a published
    * range).
    */
  private[ext] def identityBase(snap: Snapshot,
      fd: org.apache.spark.sql.types.StructField,
      spec: org.apache.spark.sql.connector.catalog.IdentityColumnSpec): Long =
    snap.properties.get(identityHwmKey(physName(snap, fd.name)))
      .map(_.toLong).getOrElse(spec.getStart)

  /** `df` with a DENSE 0-based batch position appended — RDD
    * zipWithIndex on the frame's own partitioning (one count job, no
    * sort, no single-partition funnel). Positions are stable for the
    * single staging materialization that consumes them; they carry no
    * cross-run meaning (identity values promise uniqueness, not a
    * particular assignment — Delta's contract).
    */
  private def zipDense(df: DataFrame, posCol: String): DataFrame = {
    import org.apache.spark.sql.Row
    val rdd = df.rdd.zipWithIndex().map { case (r, i) =>
      Row.fromSeq(r.toSeq :+ i) }
    df.sparkSession.createDataFrame(rdd, df.schema
      .add(posCol, org.apache.spark.sql.types.LongType, nullable = false))
  }

  /** One identity column's pending mark advance: the commit refuses if
    * `prevProp` (the HWM property as of the staging snapshot) moved —
    * the signal the append's retry loop rebases on.
    */
  private[ext] final case class IdentityAdvance(
      key: String, prevProp: Option[String], col: String, step: Long)

  /** Mint identity values for an append batch. Explicit non-null
    * values require `allowExplicitInsert` (GENERATED BY DEFAULT);
    * GENERATED ALWAYS refuses them loudly. NULL slots and absent
    * columns mint `base + step * densePos`. The new mark is taken
    * AFTER staging from the staged files' own footer stats (the
    * max/min of the column clears minted and explicit values alike),
    * so no extra pass over the batch ever runs.
    */
  private[ext] def fillIdentity(snap: Snapshot, df0: DataFrame)
  : (DataFrame, Seq[IdentityAdvance]) = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    val ids = identityOf(snap)
    if (ids.isEmpty) return (df0, Nil)
    val pos = "__graft_idpos"
    var df = zipDense(df0, pos)
    val advances = ids.map { case (fd, spec) =>
      val has = df0.columns.exists(_.equalsIgnoreCase(fd.name))
      if (has && !spec.isAllowExplicitInsert)
        require(df0.where(col(fd.name).isNotNull).isEmpty,
          s"column ${fd.name} is GENERATED ALWAYS AS IDENTITY — " +
            "explicit values are not accepted; omit the column " +
            "(or declare it GENERATED BY DEFAULT)")
      val base = identityBase(snap, fd, spec)
      val minted = lit(base) + lit(spec.getStep) * col(pos)
      df = df.withColumn(fd.name,
        if (has) coalesce(col(fd.name).cast(fd.dataType),
          minted.cast(fd.dataType))
        else minted.cast(fd.dataType))
      val key = identityHwmKey(physName(snap, fd.name))
      IdentityAdvance(key, snap.properties.get(key), fd.name, spec.getStep)
    }
    (df.drop(pos), advances)
  }

  /** The post-staging mark values: per advance, the staged files'
    * footer max (min for a negative step) of the column, plus one
    * step. None when the batch staged no rows (mark unchanged). Falls
    * back to one aggregate over the staged files if any footer lacks
    * the column's stats — the mark may never under-advance.
    */
  private[ext] def identityMarks(spark: SparkSession, dir: String,
                                 snap: Snapshot, moved: Seq[String],
                                 stats: Map[String, FileStats],
                                 advances: Seq[IdentityAdvance])
  : Seq[(String, String)] =
    if (advances.isEmpty || moved.isEmpty) Nil
    else advances.map { adv =>
      val phys = physName(snap, adv.col)
      val key = phys.toLowerCase
      val vals: Seq[Long] =
        if (moved.forall(f => stats.get(f).exists(_.cols.contains(key))))
          moved.flatMap { f =>
            val cs = stats(f).cols(key)
            (if (adv.step >= 0) cs.max else cs.min).map(_.toLong)
          }
        else {
          import org.apache.spark.sql.functions.{col, max, min}
          val agg = if (adv.step >= 0) max(col(phys)) else min(col(phys))
          val r = plainRead(spark, dir, snap, moved).agg(agg).head()
          if (r.isNullAt(0)) Nil else Seq(r.getLong(0))
        }
      // CLAMPED in the step direction: a GENERATED BY DEFAULT insert
      // carrying only explicit values BEHIND the mark (the backfill of
      // id=5 after minting 1..100) must not rewind it — the next
      // minting append would re-mint already-published ids, violating
      // the "overlaps never / mark is monotonic forever" contract.
      // Explicit values only ever ADVANCE the mark.
      val mark =
        if (vals.isEmpty) adv.prevProp.map(_.toLong)
        else {
          val cand = (if (adv.step >= 0) vals.max else vals.min) + adv.step
          Some(adv.prevProp.map(_.toLong).fold(cand)(p =>
            if (adv.step >= 0) math.max(cand, p) else math.min(cand, p)))
        }
      adv.key -> mark.map(_.toString).getOrElse("")
    }.filter(_._2.nonEmpty)

  /** Record CHECK constraint `name` = `exprSql`. EXISTING rows are
    * validated first (inside the commit callback, so a CAS retry
    * re-validates against rows a racing append just landed — a
    * constraint can never commit over data that violates it). Returns
    * false when the identical constraint is already present. The commit
    * is op `metadata`: the feeds skip it, like a compaction.
    */
  def addConstraint(spark: SparkSession, dir: String, name: String,
                    exprSql: String): Boolean = {
    require(name.nonEmpty && !name.contains("\t"),
      "constraint names must be non-empty and tab-free")
    spark.sessionState.sqlParser.parseExpression(exprSql) // parse early
    commit(spark, dir) { old =>
      if (old.constraints.get(name).contains(exprSql)) None
      else {
        if (old.files.nonEmpty) {
          val n = readFiles(spark, dir, old, old.files)
            .where(violates(exprSql)).count()
          require(n == 0L,
            s"cannot add CHECK constraint $name [$exprSql]: " +
              s"$n existing row(s) violate it")
        }
        Some(old.copy(constraints = old.constraints + (name -> exprSql),
          op = "metadata", cdcPath = None))
      }
    }
  }

  /** Drop constraint `name`; false if it does not exist. */
  def dropConstraint(spark: SparkSession, dir: String,
                     name: String): Boolean =
    commit(spark, dir) { old =>
      if (!old.constraints.contains(name)) None
      else Some(old.copy(constraints = old.constraints - name,
        op = "metadata", cdcPath = None))
    }

  /** The CHANGE-FEED toggle: with this property `true`, the SQL faces'
    * row-level verbs (DELETE / UPDATE / MERGE) record their CDC
    * sidecars, so `readChangeFeed` spans SQL mutations — Delta's
    * `enableChangeDataFeed` idiom. Scala callers pass `cdc` explicitly;
    * the property is how a declarative surface opts a TABLE in.
    */
  val ChangeFeedProperty = "graft.enableChangeFeed"

  /** True when [[ChangeFeedProperty]] is set `true` on the snapshot. */
  def changeFeedEnabled(snap: Snapshot): Boolean =
    snap.properties.get(ChangeFeedProperty).exists(_.equalsIgnoreCase("true"))

  /** TAGS are properties under this prefix (`graft.tag.<name> = <v>`) —
    * Iceberg's named-ref idiom reduced to the property machinery the
    * manifest already has: one metadata commit to create or drop, and
    * `VERSION AS OF '<name>'` on the SQL catalog resolves through them.
    * [[expireLog]] and [[vacuum]] treat tagged versions as LIVE, so a
    * tag pins its snapshot — log entries and data files — past any
    * retention setting until the tag is dropped.
    */
  val TagPropertyPrefix = "graft.tag."

  /** The snapshot's tags: name → pinned version. */
  def tags(snap: Snapshot): Map[String, Long] =
    snap.properties.collect {
      case (k, v) if k.startsWith(TagPropertyPrefix) =>
        k.stripPrefix(TagPropertyPrefix) -> v.toLong
    }

  /** Name `tag` → `version` (head when None). One metadata commit;
    * re-tagging an existing name to a new version is a loud error
    * (drop it first — a silently moved tag breaks whoever pinned it).
    */
  def createTag(spark: SparkSession, dir: String, tag: String,
                version: Option[Long] = None): Long = {
    require(tag.nonEmpty && !tag.contains("\t"),
      "tag names must be non-empty and tab-free")
    val snap = snapshot(spark, dir)
    val v = version.getOrElse(snap.version)
    require(v >= 1L && v <= snap.version,
      s"cannot tag version $v of $dir (head is ${snap.version})")
    val existing = tags(snap).get(tag)
    require(existing.forall(_ == v),
      s"tag '$tag' already names version ${existing.get}; drop it first")
    if (existing.isEmpty)
      setProperties(spark, dir, Map(s"$TagPropertyPrefix$tag" -> v.toString))
    v
  }

  /** Drop tag `tag`; false if it does not exist. */
  def dropTag(spark: SparkSession, dir: String, tag: String): Boolean =
    unsetProperties(spark, dir, Seq(s"$TagPropertyPrefix$tag"))

  /** Set (upsert) table properties — one metadata-only commit, no data
    * I/O, feed-invisible (a property change moves no rows). False when
    * every pair is already present.
    */
  def setProperties(spark: SparkSession, dir: String,
                    props: Map[String, String]): Boolean = {
    require(props.nonEmpty, "setProperties needs at least one property")
    commit(spark, dir) { old =>
      if (props.forall { case (k, v) => old.properties.get(k).contains(v) })
        None
      else Some(old.copy(properties = old.properties ++ props,
        op = "metadata", cdcPath = None))
    }
  }

  /** Unset table properties; false when none of the keys is present. */
  def unsetProperties(spark: SparkSession, dir: String,
                      keys: Seq[String]): Boolean = {
    require(keys.nonEmpty, "unsetProperties needs at least one key")
    commit(spark, dir) { old =>
      if (!keys.exists(old.properties.contains)) None
      else Some(old.copy(properties = old.properties -- keys,
        op = "metadata", cdcPath = None))
    }
  }

  /** `count(*)` answered ENTIRELY from manifest metadata — footer row
    * counts minus deletion-vector position counts, zero data-file I/O —
    * or None when any live file lacks footer stats (a partial sum would
    * read as a total; the caller then runs the real count). The same
    * one-sided honesty as skipping: metadata answers only what it can
    * PROVE. `asOf` counts a pinned historical version.
    */
  def metaCount(spark: SparkSession, dir: String,
                asOf: Option[Long] = None): Option[Long] = {
    val s = asOf.fold(snapshot(spark, dir))(snapshotAt(spark, dir, _))
    if (!s.files.forall(s.stats.contains)) None
    else Some(s.files.map(f => s.stats(f).rows).sum -
      s.dvs.valuesIterator.flatten.map(_.rows).sum)
  }

  /** `min(col)`/`max(col)` answered ENTIRELY from manifest ColStats —
    * zero data-file I/O — with the same one-sided honesty as
    * [[metaCount]]: Some only when the answer is PROVABLE, i.e.
    *
    *   - the table tracks a schema and the column's type is integral,
    *     double/float, string or boolean (date/timestamp columns share
    *     the long stats family — a long answer would be the wrong type,
    *     so they fall back);
    *   - EVERY live file carries usable footer stats for the column (a
    *     single stats-less file could hide the true extremum);
    *   - NO live file carries a deletion vector (a deleted row may BE
    *     the extremum — the file min/max describes pre-delete bytes).
    *
    * The inner options mirror SQL MIN/MAX null semantics: a table whose
    * column is entirely null answers Some((None, None)). Values decode
    * from the canonical stats family: Long, Double, String or Boolean
    * (cast to the column's exact width at the call site if needed).
    * `asOf` answers against a pinned historical version.
    */
  def metaMinMax(spark: SparkSession, dir: String, colName: String,
                 asOf: Option[Long] = None)
  : Option[(Option[Any], Option[Any])] = {
    import org.apache.spark.sql.types._
    val s = asOf.fold(snapshot(spark, dir))(snapshotAt(spark, dir, _))
    val safeType = tableSchema(s).exists(_.fields.exists(fd =>
      fd.name.equalsIgnoreCase(colName) && (fd.dataType match {
        case ByteType | ShortType | IntegerType | LongType | FloatType |
             DoubleType | StringType | BooleanType => true
        case _ => false
      })))
    if (!safeType || s.files.isEmpty) return None
    if (s.files.exists(fn => s.dvs.get(fn).exists(_.nonEmpty))) return None
    val key = colName.toLowerCase
    val perFile = s.files.map(fn => s.stats.get(fn).flatMap(_.cols.get(key)))
    if (perFile.exists(_.isEmpty)) return None
    val cs = perFile.flatten
    val fams = cs.map(_.typ).distinct
    if (fams.size != 1) return None
    val fam = fams.head
    // belt-and-braces: the schema gate above should make this
    // unreachable, but a family/schema disagreement must fall back,
    // never decode to the wrong type
    if (!Set("long", "double", "string", "bool").contains(fam)) return None
    def decode(v: String): Any = fam match {
      case "long" => v.toLong
      case "double" => v.toDouble
      case "bool" => v.toBoolean
      case _ => v
    }
    val mn = cs.foldLeft(Option.empty[String])((acc, c) =>
      Skipping.fold(fam, acc, c.min, keepMin = true))
    val mx = cs.foldLeft(Option.empty[String])((acc, c) =>
      Skipping.fold(fam, acc, c.max, keepMin = false))
    Some((mn.map(decode), mx.map(decode)))
  }


  /** One clause of a GENERAL `MERGE` ([[mergeGeneral]]). `kind` is
    * `update`, `delete` or `insert`; `condSql` the clause's `AND`
    * condition (None = unconditional); `set` the assignment list
    * (target column → value expression) for update/insert clauses.
    *
    * Expressions live in the PREFIXED namespace the executor joins
    * under: `__t_<col>` is the target row's column, `__s_<col>` the
    * source row's — so a SET expression can mix both sides without
    * ambiguity even though target and source share column names. The
    * SQL face ([[graft.plans.GraftDmlRule]]) produces these strings by
    * renaming the RESOLVED attribute references side-by-side, so
    * scoping is decided by the analyzer, not by string matching.
    */
  final case class MergeClause(kind: String, condSql: Option[String],
                               set: Seq[(String, String)])


  // ---------------------------------------------- data skipping

  /** Read only the files whose footer stats say they MIGHT satisfy
    * `predicateSql` (ANSI boolean expression over the table's columns),
    * then apply the predicate as a normal filter. Pruning is purely an
    * optimization: semantics come from the filter; a file with no stats,
    * an unparseable conjunct, or a column the evaluator cannot order is
    * simply kept. Driver cost is O(live files) over the in-memory
    * manifest — no file listing, no footer reads at query time (stats
    * were harvested at commit). After a [[compact]] with `clusterBy`,
    * files cover near-disjoint ranges and a selective predicate reads
    * O(matching files), not O(table) — at 100 TB this is the difference
    * between touching 3 files and 30 000.
    */
  def readWhere(spark: SparkSession, dir: String,
                predicateSql: String,
                asOf: Option[Long] = None): DataFrame = {
    // `asOf` pins a historical version (see [[snapshotAt]]) — its files
    // are immutable, so commit-time stats and in-file blooms prune a
    // time-travel read exactly as they prune the head
    val s = asOf.fold(snapshot(spark, dir))(snapshotAt(spark, dir, _))
    require(s.files.nonEmpty, s"ManifestTable at $dir has no committed data")
    val kept = keptFiles(spark, dir, s, predicateSql)
    if (kept.isEmpty)
      // keep the schema, scan nothing: the optimizer folds `false` to an
      // empty relation before any file is opened
      readFiles(spark, dir, s, s.files)
        .where(predicateSql)
        .where(org.apache.spark.sql.functions.lit(false))
    else readFiles(spark, dir, s, kept).where(predicateSql)
  }

  /** The table's COMMIT HISTORY as a DataFrame — one row per manifest
    * version: (version, op, n_files, n_batches, rows_known, has_cdc).
    * `rows_known` sums the footer row counts of the files that HAVE
    * stats (null when any live file lacks them — a partial sum would
    * read as a total). Driver cost is O(versions) small manifest reads
    * over the [[expireLog]]-retained window (expired versions are
    * simply absent). The observability face of the table: which commit
    * grew it, which compacted it, which row-level op is CDC-consumable.
    */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val log = listLog(spark, dir)
    // the oldest RESOLVABLE version: 1 when the log is complete, else
    // the oldest surviving checkpoint ([[expireLog]] deletes only below
    // one, so everything from there resolves)
    val start =
      if (log.has(1L)) 1L
      else if (log.ckpt.nonEmpty) log.ckpt.keysIterator.min
      else 1L
    (start to log.head).map { v =>
      val s = resolveAt(spark, dir, v, log)
      val rowsKnown =
        if (s.files.forall(s.stats.contains))
          Some(s.files.map(f => s.stats(f).rows).sum -
            s.dvs.valuesIterator.flatten.map(_.rows).sum)
        else None
      (v, s.op, s.files.size, s.batchIds.size, rowsKnown,
        s.cdcPath.isDefined)
    }.toDF("version", "op", "n_files", "n_batches", "rows_known",
      "has_cdc")
  }

  /** One-row table summary (DESCRIBE DETAIL face): head version, live
    * file count and total recorded bytes, stats-known row count (DV
    * positions subtracted, null when any live file lacks footer stats),
    * partition layout, deletion-vector'd file count, constraint count,
    * absorbed batch-id count, and whether a schema is tracked. Pure
    * manifest math, zero data I/O — the operational at-a-glance read a
    * 100 TB table must answer without listing or scanning anything.
    */
  def detail(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = snapshot(spark, dir)
    val rowsKnown: Option[Long] = metaCount(spark, dir)
    Seq((s.version, s.files.size.toLong,
      s.files.map(f => s.sizes.getOrElse(f, 0L)).sum,
      rowsKnown.map(Long.box).orNull: java.lang.Long,
      s.partitionCols.mkString(","),
      s.dvs.size.toLong, s.constraints.size.toLong,
      s.batchIds.size.toLong, s.schemaJson.isDefined,
      // this driver's streaming sink's last swallowed maintenance
      // failure, if its most recent tick failed (null = healthy) — the
      // operational signal that self-maintenance is silently stuck
      ManifestSink.lastMaintenanceError(dir).orNull: String,
      // manifest-proven per-column distinct-count estimates (HLL
      // union over the tracked columns' per-file sketches; null when
      // the table tracks none) — the join-planning signal
      {
        val nd = metaNdv(spark, dir)
        if (nd.isEmpty) null
        else nd.toSeq.sortBy(_._1)
          .map { case (c, n) => s"$c=$n" }.mkString(",")
      }: String,
      // table properties (tags excluded — they have their own column)
      {
        val ps = s.properties.filterNot(_._1.startsWith(TagPropertyPrefix))
        if (ps.isEmpty) null
        else ps.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(",")
      }: String,
      // named version refs: tag=version, retention-pinned
      {
        val ts = tags(s)
        if (ts.isEmpty) null
        else ts.toSeq.sorted.map { case (t, v) => s"$t=$v" }.mkString(",")
      }: String))
      .toDF("version", "n_files", "size_bytes", "rows_known",
        "partition_cols", "n_dv_files", "n_constraints", "n_batches",
        "has_schema", "last_maintenance_error", "ndv", "properties",
        "tags")
  }

  /** The table's live PARTITIONS (SHOW PARTITIONS face): one row per
    * distinct partition tuple — each declared column's value as its
    * canonical string (null = the hive null partition) — with the
    * tuple's file count and stats-known row count (null when any of its
    * files lacks footer stats; deletion-vector positions subtracted).
    * Pure manifest math, zero data I/O. Raises on unpartitioned tables.
    */
  def partitions(spark: SparkSession, dir: String): DataFrame = {
    val s = snapshot(spark, dir)
    require(s.partitionCols.nonEmpty,
      s"ManifestTable at $dir has no declared partition columns")
    val cols = s.partitionCols.map(_.toLowerCase)
    val rows = s.files.groupBy(f => cols.map(c =>
      s.pvals.getOrElse(f, Map.empty).get(c).flatMap(_.value)))
      .toSeq.map { case (tuple, fs2) =>
        val rowsKnown: Option[Long] =
          if (fs2.forall(s.stats.contains))
            Some(fs2.map(f => s.stats(f).rows).sum -
              fs2.flatMap(f => s.dvs.getOrElse(f, Seq.empty)).map(_.rows).sum)
          else None
        org.apache.spark.sql.Row.fromSeq(
          tuple.map(_.orNull) ++
            Seq(fs2.size, rowsKnown.map(Long.box).orNull))
      }
    val schema = org.apache.spark.sql.types.StructType(
      cols.map(c => org.apache.spark.sql.types.StructField(c,
        org.apache.spark.sql.types.StringType)) ++ Seq(
        org.apache.spark.sql.types.StructField("n_files",
          org.apache.spark.sql.types.IntegerType, nullable = false),
        org.apache.spark.sql.types.StructField("rows_known",
          org.apache.spark.sql.types.LongType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1), schema)
  }

  /** The PLANNER-INTEGRATED read (see [[ManifestFileIndex]]): a normal
    * DataFrame whose file list shrinks at planning time from whatever
    * filters Catalyst pushes toward the scan — `.where` chains, pushed
    * join probes, `spark.sql` over a view. Prefer this over [[readWhere]]
    * for composition; `readWhere` remains the explicit-predicate API
    * (and the two prune identically — same evaluator).
    */
  def scan(spark: SparkSession, dir: String,
           asOf: Option[Long] = None): DataFrame = {
    // built directly (not via the format face): a DV-carrying snapshot
    // returns the union plan — clean files through the pruned
    // FileIndex, DV'd files anti-joined — instead of refusing
    val snap = asOf.fold(snapshot(spark, dir))(snapshotAt(spark, dir, _))
    ManifestPlan.dataFrame(spark, dir, snap)
  }

  /** `keyCol IN (keys...)` as predicate SQL for [[readWhere]] /
    * [[pruneInfo]] — string keys are quoted and escaped, numeric keys
    * pass through. The seam the index sinks use for POINT-PROBE reads:
    * an inner or anti join on `keyCol` restricted to these keys sees
    * exactly the same matches against the pruned read as against the
    * full table (one-sided pruning keeps every file that might hold a
    * listed key).
    */
  def inPredicate(keyCol: String, keys: Seq[Any]): String = {
    require(keys.nonEmpty, "inPredicate needs at least one key")
    val lits = keys.map {
      case s: String => "'" + s.replace("'", "''") + "'"
      case n => n.toString
    }
    s"$keyCol IN (${lits.mkString(",")})"
  }

  /** (files kept, files total) that [[readWhere]] would scan for
    * `predicateSql` — the observable proof that skipping skipped.
    */
  def pruneInfo(spark: SparkSession, dir: String,
                predicateSql: String): (Int, Int) = {
    val s = snapshot(spark, dir)
    (keptFiles(spark, dir, s, predicateSql).size, s.files.size)
  }

  /** Two pruning passes, cheap one first: footer min/max stats (pure
    * in-memory manifest math), then the survivors' in-file blooms for
    * the required equality conjuncts on declared bloom columns. Both
    * are one-sided: a file is dropped only on proof no row can match.
    */
  private[ext] def keptFiles(spark: SparkSession, dir: String, s: Snapshot,
                        predicateSql: String): Seq[String] =
    // SQL strings speak LOGICAL names; the manifest's stats, blooms and
    // partition values are keyed PHYSICAL — translate before probing.
    // (keptForPredicate itself stays physical-namespace: the planner's
    // pushed dataFilters arrive already bound to the physical scan.)
    keptForPredicate(spark, dir, s, toPhysicalExpr(s, resolveStructPaths(s,
      spark.sessionState.sqlParser.parseExpression(predicateSql))))

  /** `pred` (PHYSICAL namespace) augmented with conjuncts DERIVED from
    * GENERATED ALWAYS AS column definitions — Delta's generated-column
    * partition-pruning trick, generalized to every pruning pass that
    * funnels through [[keptForPredicate]] (planner scan, SQL-string row
    * ops, merge candidate selection): for a column `g = f(c)`,
    *
    *   - `c = v`   implies `g = f(v)`    for ANY deterministic f,
    *   - `c IN (…)` maps elementwise the same way,
    *   - `c >= L`  implies `g >= f(L)`  (and `<=` dually; strict
    *     comparisons derive the NON-strict bound) when f is MONOTONE
    *     non-decreasing — CAST between timestamp/date, year(), trunc/
    *     date_trunc, substring(_, 1, n), and integral widening casts,
    *     composed freely.
    *
    * A `WHERE ts BETWEEN …` on a table partitioned by `day GENERATED
    * ALWAYS AS (CAST(ts AS DATE))` thus prunes the date partitions (and
    * any file whose recorded g-stats refute the bound) with zero user
    * rewrite — the derived conjunct rides the same one-sided evaluator,
    * partition point-stats included. Conjuncts only (never under OR/
    * NOT), one-sided soundness: `c op v` holding for a row makes
    * `g op' f(v)` hold by monotonicity and the stored `g <=> f(c)`
    * invariant; any derivation surprise (unresolvable expression,
    * NULL-valued f(v), type mismatch) just drops that conjunct.
    */
  private[graft] def withGeneratedDerived(spark: SparkSession, s: Snapshot,
      pred: org.apache.spark.sql.catalyst.expressions.Expression)
  : org.apache.spark.sql.catalyst.expressions.Expression = {
    val gens = generatedOf(s)
    if (gens.isEmpty) return pred
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, OneRowRelation, Project}
    import org.apache.spark.sql.types._
    val schema = tableSchema(s).getOrElse(return pred)
    // (physical child name) -> (resolved f-tree over one attr, monotone,
    // physical generated name, generated type)
    final case class Deriv(tree: Expression, monotone: Boolean,
                           gPhys: String, gType: DataType)
    def monotoneCast(from: DataType, to: DataType): Boolean =
      (from, to) match {
        case (a, b) if a == b => true
        case (TimestampType, DateType) | (DateType, TimestampType) => true
        case (TimestampNTZType, DateType) | (DateType, TimestampNTZType) =>
          true
        case (a @ (ByteType | ShortType | IntegerType | LongType),
              b @ (ByteType | ShortType | IntegerType | LongType)) =>
          b.defaultSize >= a.defaultSize // widening only: exact, ordered
        case _ => false
      }
    def monotone(e: Expression): Boolean = e match {
      case _: AttributeReference => true
      case c: Cast => monotoneCast(c.child.dataType, c.dataType) &&
        monotone(c.child)
      case y: Year => monotone(y.child)
      case t: TruncDate =>
        t.format.isInstanceOf[Literal] && monotone(t.date)
      case t: TruncTimestamp =>
        t.format.isInstanceOf[Literal] && monotone(t.timestamp)
      case sub: Substring => (sub.pos, sub.len) match {
        case (Literal(p: Int, _), _: Literal) if p == 1 => monotone(sub.str)
        case _ => false
      }
      case _ => false
    }
    val derivs: Map[String, Seq[Deriv]] = gens.flatMap { case (fd, genSql) =>
      try {
        val parsed = spark.sessionState.sqlParser.parseExpression(genSql)
        val refs = parsed.collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
              if a.nameParts.size == 1 => a.nameParts.head.toLowerCase
        }.distinct
        val multi = parsed.exists {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            => a.nameParts.size > 1
          case _ => false
        }
        if (refs.size != 1 || multi) None
        else schema.fields.find(_.name.equalsIgnoreCase(refs.head))
          .flatMap { cfd =>
            val attr = AttributeReference(cfd.name, cfd.dataType)()
            val proj = Project(
              Seq(Alias(Cast(parsed, fd.dataType), "__g")()),
              LocalRelation(attr))
            val analyzed = spark.sessionState.analyzer.execute(proj)
            analyzed.collectFirst { case p: Project =>
              p.projectList.head.asInstanceOf[Alias].child
            }.filter(_.deterministic)
              // a TIMEZONE-SENSITIVE tree (timestamp→date cast, trunc,
              // ...) evaluates with the READER's session timezone while
              // the stored generated/partition values were computed in
              // the writer's — derive only when the session matches the
              // pinned zone, else skip (pruning lost, never rows)
              .filter(tree => !tzSensitiveTree(tree) ||
                s.properties.get(GeneratedTzKey).contains(
                  spark.sessionState.conf.sessionLocalTimeZone))
              .map(tree =>
              physName(s, cfd.name).toLowerCase ->
                Deriv(tree, monotone(tree), physName(s, fd.name),
                  fd.dataType))
          }
      } catch { case scala.util.control.NonFatal(_) => None }
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    if (derivs.isEmpty) return pred
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case o => Seq(o)
    }
    def childName(e: Expression): Option[String] = e match {
      case a: AttributeReference => Some(a.name.toLowerCase)
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
          if a.nameParts.size == 1 => Some(a.nameParts.head.toLowerCase)
      case _ => None
    }
    def fOf(d: Deriv, l: Literal): Option[Literal] =
      try {
        if (l.value == null) None
        else {
          // the conjunct's literal may be typed looser than the child
          // column (a parsed `id = 9` carries an INT against a BIGINT
          // column) — cast it to the child type first, or the resolved
          // f-tree's eval would see the wrong internal representation
          val childT = d.tree.collectFirst {
            case a: AttributeReference => a.dataType }.getOrElse(l.dataType)
          val cv =
            if (childT == l.dataType) l.value
            else Cast(Literal.create(l.value, l.dataType), childT,
              Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
          if (cv == null) return None
          val v = d.tree.transformUp {
            case _: AttributeReference => Literal.create(cv, childT)
          }.eval(null)
          if (v == null) None else Some(Literal.create(v, d.gType))
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    def gAttr(d: Deriv) = AttributeReference(d.gPhys, d.gType)()
    val derived: Seq[Expression] = split(pred).flatMap { conj =>
      def forCol(e: Expression)(mk: Deriv => Option[Expression])
      : Seq[Expression] =
        childName(e).toSeq.flatMap(n =>
          derivs.getOrElse(n, Nil).flatMap(d => mk(d).toSeq))
      conj match {
        case EqualTo(a, l: Literal) => forCol(a)(d =>
          fOf(d, l).map(EqualTo(gAttr(d), _)))
        case EqualTo(l: Literal, a) => forCol(a)(d =>
          fOf(d, l).map(EqualTo(gAttr(d), _)))
        case GreaterThan(a, l: Literal) => forCol(a)(d =>
          if (!d.monotone) None
          else fOf(d, l).map(GreaterThanOrEqual(gAttr(d), _)))
        case GreaterThanOrEqual(a, l: Literal) => forCol(a)(d =>
          if (!d.monotone) None
          else fOf(d, l).map(GreaterThanOrEqual(gAttr(d), _)))
        case LessThan(a, l: Literal) => forCol(a)(d =>
          if (!d.monotone) None
          else fOf(d, l).map(LessThanOrEqual(gAttr(d), _)))
        case LessThanOrEqual(a, l: Literal) => forCol(a)(d =>
          if (!d.monotone) None
          else fOf(d, l).map(LessThanOrEqual(gAttr(d), _)))
        case GreaterThan(l: Literal, a) => forCol(a)(d =>
          if (!d.monotone) None
          else fOf(d, l).map(LessThanOrEqual(gAttr(d), _)))
        case GreaterThanOrEqual(l: Literal, a) => forCol(a)(d =>
          if (!d.monotone) None
          else fOf(d, l).map(LessThanOrEqual(gAttr(d), _)))
        case LessThan(l: Literal, a) => forCol(a)(d =>
          if (!d.monotone) None
          else fOf(d, l).map(GreaterThanOrEqual(gAttr(d), _)))
        case LessThanOrEqual(l: Literal, a) => forCol(a)(d =>
          if (!d.monotone) None
          else fOf(d, l).map(GreaterThanOrEqual(gAttr(d), _)))
        case In(a, list) if list.nonEmpty &&
            list.forall(_.isInstanceOf[Literal]) => forCol(a) { d =>
          val mapped = list.map(l => fOf(d, l.asInstanceOf[Literal]))
          if (mapped.exists(_.isEmpty)) None
          else Some(In(gAttr(d), mapped.map(_.get)))
        }
        case _ => Nil
      }
    }
    if (derived.isEmpty) pred
    else org.apache.spark.sql.catalyst.expressions.And(pred,
      derived.reduce(org.apache.spark.sql.catalyst.expressions.And(_, _)))
  }

  /** [[keptFiles]] over an already-built predicate expression — the
    * entry point [[ManifestFileIndex]] feeds the planner's pushed
    * dataFilters (resolved `AttributeReference` shapes) into. Same
    * one-sided stats + bloom passes as the SQL-string path. Predicates
    * on GENERATED-column sources first gain their derived conjuncts
    * ([[withGeneratedDerived]]) so partition values and stats recorded
    * on the generated column prune too.
    */
  private[graft] def keptForPredicate(spark: SparkSession, dir: String,
                                      s: Snapshot,
                                      pred0: org.apache.spark.sql.catalyst.expressions.Expression)
  : Seq[String] = {
    val pred =
      try withGeneratedDerived(spark, s, pred0)
      catch { case scala.util.control.NonFatal(_) => pred0 }
    // PARTITION pruning first (cheapest, exact): a file's recorded
    // partition values are point stats — min = max = value (or all-null
    // for the hive null partition) — so the same one-sided evaluator
    // proves non-matches exactly; files without recorded values (never
    // written by a partitioned stage) just skip the pass
    val partKept =
      if (s.pvals.isEmpty) s.files
      else s.files.filter { f =>
        s.pvals.get(f) match {
          case None => true
          case Some(pv) =>
            val cols = pv.map { case (c, pvv) =>
              c -> ColStats(pvv.fam, pvv.value, pvv.value,
                if (pvv.value.isEmpty) 1L else 0L)
            }
            !Skipping.skips(pred, FileStats(1L, cols))
        }
      }
    // rows == 0 is a PROOF no row matches any predicate — footer-backed,
    // so still one-sided (files without stats are never dropped)
    val kept = partKept.filter(f =>
      !s.stats.get(f).exists(st =>
        st.rows == 0L || Skipping.skips(pred, st)))
    // only a declared column has blooms to open footers for
    val eqs = Skipping.eqConjuncts(pred).filter(e => s.bloomCols.contains(e._1))
    if (eqs.isEmpty) kept
    else kept.filter { file =>
      eqs.forall { case (c, lits) =>
        // the conjunct must hold, so the file may match only if SOME
        // literal might be present; no bloom / untestable literal => keep
        val tests = lits.flatMap(Skipping.bloomTest)
        tests.size != lits.size ||
          readBloom(spark, dir, file, c).forall(bf => tests.exists(_(bf)))
      }
    }
  }

  // Bloom cache: data files are immutable and UUID-named, so a loaded
  // bloom caches forever; the bound caps memory. Keyed `<data file>#<col>`
  // (clones share entries), columns lower-cased by every caller.
  private val bloomCache =
    new java.util.concurrent.ConcurrentHashMap[String, Option[FileBloom]]()
  private val BloomCacheMax = 4096

  /** Blooms read from data files since JVM start, by a landing write's
    * footer harvest or [[readBloom]] — the observable side of the cache
    * contract (a fold reads each segment's bloom once, not per batch).
    */
  private[graft] val bloomFilesOpened =
    new java.util.concurrent.atomic.AtomicLong(0)

  /** The bloom an open parquet file carries for `colName`; None when a
    * row group has none (the file predates the declaration, or the
    * column's type is one blooms skip): that file counts as bloom-less.
    */
  private def bloomOf(r: org.apache.parquet.hadoop.ParquetFileReader,
                      colName: String): Option[FileBloom] = {
    import scala.jdk.CollectionConverters._
    bloomFilesOpened.incrementAndGet()
    val groups = r.getFooter.getBlocks.asScala.toSeq.map(b => b.getColumns
      .asScala.find(_.getPath.toDotString.equalsIgnoreCase(colName))
      .flatMap(c => Option(r.getBloomFilterDataReader(b).readBloomFilter(c))
        .map { bf =>
          val out = new java.io.ByteArrayOutputStream()
          bf.writeTo(out)
          (c.getPrimitiveType.getPrimitiveTypeName, out.toByteArray)
        }))
    if (groups.isEmpty || groups.exists(_.isEmpty)) None
    else Some(FileBloom(groups.head.get._1, groups.flatten.map(_._2)))
  }

  /** `file`'s bloom for `colName`, read once (clone entries from their
    * source's data file, [[dataFilePath]]) and cached. */
  private[ext] def readBloom(spark: SparkSession, dir: String, file: String,
                             colName: String): Option[FileBloom] = {
    val key = s"${dataFilePath(dir, file)}#$colName"
    val cached = bloomCache.get(key)
    if (cached != null) return cached
    val loaded =
      try {
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            p(dataFilePath(dir, file)), spark.sparkContext.hadoopConfiguration))
        try bloomOf(r, colName) finally r.close()
      } catch { case scala.util.control.NonFatal(_) => None }
    boundedPut(bloomCache, BloomCacheMax, key, loaded)
    loaded
  }

  /** Bytes of per-file blooms [[keyGate]] may broadcast. A large,
    * uncompacted index would otherwise ship its whole bloom layer to
    * the executors every micro-batch; past this the gate routes every
    * row instead. Well above the ~1 MB of a 1M-key, 1% filter.
    */
  private val KeyGateMaxBytes = 16L << 20

  /** A map-side "might any live file of `s` hold this `keyCol` value"
    * predicate over the files' blooms, in one broadcast of their bitsets.
    * Blooms have no false negatives, so a row it rejects matches no live
    * file. None — every row routes — when the table does not declare
    * `keyCol` or is empty, some live file has no bloom for it
    * ([[bloomOf]]) or the blooms together exceed [[KeyGateMaxBytes]]. A key is hashed once per
    * physical type the files store the column as ([[FileBloom.hash]])
    * and tested against every file's bloom: O(live files) per row.
    */
  private[graft] def keyGate(spark: SparkSession, dir: String, s: Snapshot,
                             keyCol: String): Option[Column] = {
    import org.apache.spark.sql.functions.{col, udf}
    val c = physName(s, keyCol).toLowerCase
    val blooms = Array.newBuilder[FileBloom]
    var bytes = 0L
    val complete = s.bloomCols.contains(c) && s.files.nonEmpty &&
      s.files.forall { f =>
        readBloom(spark, dir, f, c).exists { bf =>
          bytes += bf.bitsets.map(_.length).sum
          blooms += bf
          bytes <= KeyGateMaxBytes
        }
      }
    if (!complete) None
    else {
      // blooms exist only on integral and string columns: BINARY = string
      val byType = blooms.result().groupBy(_.typ)
      val str = byType.contains(
        org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY)
      val bc = spark.sparkContext.broadcast(byType)
      val hit: Any => Boolean = k => bc.value.exists { case (typ, bs) =>
        FileBloom.hash(typ, k).forall(h => bs.exists(_.has(h)))
      }
      val gate =
        if (str) udf((k: String) => k != null && hit(k))
        else udf((k: java.lang.Long) => k != null && hit(k))
      Some(gate(col(keyCol).cast(if (str) "string" else "long")))
    }
  }

  /** HLL precision: lgK = 9 (512 registers, ~3% relative error) — a
    * compact sketch is a few hundred bytes, small enough to live as a
    * manifest line per (file, tracked column) like the min/max stats.
    */
  private val NdvLgK = 9

  /** Table-level NDV ESTIMATES from the manifest alone — the per-file
    * sketches union-merged on the driver, zero data I/O, zero jobs. A
    * column's estimate is returned only when EVERY live file carries a
    * sketch for it (the same one-sided honesty as [[metaCount]]); a
    * table with no tracked columns returns an empty map. DV'd deletes
    * make estimates upper bounds until their files rewrite — distinct
    * values cannot be subtracted from a union sketch.
    */
  def metaNdv(spark: SparkSession, dir: String): Map[String, Long] = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    val s = snapshot(spark, dir)
    if (s.ndvCols.isEmpty || s.files.isEmpty) return Map.empty
    // sketches are keyed PHYSICAL (stable across renames); surface the
    // current LOGICAL name — the one a user's query speaks
    val inv = s.colMap.map { case (l, ph) => (ph.toLowerCase, l) }.toMap
    s.ndvCols.flatMap { c0 =>
      val c = c0.toLowerCase
      val sketches = s.files.map(f => s.ndv.get(f).flatMap(_.get(c)))
      if (sketches.exists(_.isEmpty)) None // a file predates tracking
      else {
        val u = new Union(NdvLgK)
        sketches.flatten.foreach(b64 => u.update(HllSketch.heapify(
          java.util.Base64.getDecoder.decode(b64))))
        Some(inv.getOrElse(c, c) -> math.round(u.getResult.getEstimate))
      }
    }.toMap
  }

  /** Build the declared NDV sketches of the just-landed `names` in ONE
    * pass over just those files — O(batch), not O(table), one job however
    * many columns (none when none is declared): rows carry their
    * `input_file_name`, HLL sketches over each value's canonical string
    * (distinct VALUES whatever the type; nulls don't count) fold per
    * partition and merge per (file, column), returned as the manifest's
    * per-file `ndv:` entries. Sketches are MERGEABLE, so table-level NDV
    * is a driver-side fold over the manifest ([[metaNdv]]).
    *
    * `fileSchema` is what the caller staged: reading with it skips the
    * parquet schema-inference JOB a bare read would run.
    */
  private def buildNdv(spark: SparkSession, dir: String, names: Seq[String],
                       ndvCols: Seq[String],
                       fileSchema: org.apache.spark.sql.types.StructType)
  : Map[String, Map[String, String]] = {
    import org.apache.spark.sql.functions.{col, input_file_name}
    import org.apache.datasketches.hll.HllSketch
    val cols = ndvCols.filter(c => fileSchema.fields
      .exists(_.name.equalsIgnoreCase(c))).map(_.toLowerCase).distinct
    if (names.isEmpty || cols.isEmpty) return Map.empty
    val merged = spark.read.schema(fileSchema)
      .parquet(names.map(n => dataFilePath(dir, n)): _*)
      .select(input_file_name.as("_graft_file") +: cols.map(col): _*)
      .rdd.mapPartitions { it =>
        val hlls = scala.collection.mutable.Map[(String, Int), HllSketch]()
        it.foreach { row =>
          val name = row.getString(0).split('/').last
          cols.indices.foreach { i =>
            if (!row.isNullAt(i + 1)) hlls.getOrElseUpdate((name, i),
              new HllSketch(NdvLgK)).update(String.valueOf(row.get(i + 1)))
          }
        }
        // HllSketch is not serializable: its partials travel as bytes
        hlls.iterator.map { case (k, sk) => k -> sk.toCompactByteArray }
      }
      .reduceByKey((a, b) => hllUnion(Seq(a, b)))
      .collect()
    merged.toSeq.groupBy(_._1._1).map { case (file, entries) =>
      file -> entries.map { case ((_, i), bytes) =>
        cols(i) -> java.util.Base64.getEncoder
          .encodeToString(hllUnion(Seq(bytes)))
      }.toMap
    }
  }

  /** The union of compact HLL sketches, as compact bytes. */
  private def hllUnion(parts: Seq[Array[Byte]]): Array[Byte] = {
    import org.apache.datasketches.hll.{HllSketch, Union}
    val u = new Union(NdvLgK)
    parts.foreach(b => u.update(HllSketch.heapify(b)))
    u.getResult.toCompactByteArray
  }

  /** The interleaved-bit z-value of `cols` as one codegen-friendly
    * column expression: each column is bucketed into 2^8 uniform cells
    * between its table-wide min and max (one small aggregate job,
    * collected here — k doubles, not data), then bit i of every bucket
    * id lands at position `i * nCols + colIndex` of the key. Nulls and
    * degenerate (min == max) columns bucket to 0. ~`8 * nCols * 3`
    * integer ops per row, all inside whole-stage codegen.
    */
  private[ext] def zvalue(df: DataFrame,
                     cols: Seq[String]): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    val bits = 8
    val buckets = 1 << bits
    val aggCols = cols.flatMap(c => Seq(
      min(col(c).cast("double")), max(col(c).cast("double"))))
    val bounds = df.agg(aggCols.head, aggCols.tail: _*).head()
    val bucketCols = cols.zipWithIndex.map { case (c, i) =>
      require(!bounds.isNullAt(2 * i),
        s"zorder column $c is not numeric (or all null)")
      val (mn, mx) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
      if (mx <= mn) lit(0L)
      else coalesce(least(greatest(
        // width_bucket: 0 below min, buckets+1 at/above max — clamp into
        // [0, buckets-1]
        width_bucket(col(c).cast("double"), lit(mn), lit(mx), lit(buckets))
          - lit(1), lit(0L)), lit(buckets - 1L)), lit(0L)).cast("long")
    }
    val n = cols.size
    (0 until bits).foldLeft(lit(0L)) { (acc, bit) =>
      bucketCols.zipWithIndex.foldLeft(acc) { case (a, (bc, ci)) =>
        a.bitwiseOR(shiftleft(
          shiftright(bc, bit).bitwiseAND(lit(1L)), bit * n + ci))
      }
    }
  }

  /** Harvest [[FileStats]] from the parquet FOOTERS of `names` under
    * `data/` — row counts and per-column min/max/null-counts are already
    * sitting in each file's metadata, so this is O(files) small reads on
    * the driver (the Iceberg collection strategy), never a scan of the
    * data just written. A file whose footer cannot be read yields no
    * stats (it stays readable and unpruned).
    */
  private def footerStats(spark: SparkSession, dir: String,
                          names: Seq[String],
                          blooms: Seq[String]): Map[String, FileStats] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def one(n: String): Option[(String, FileStats)] =
      scala.util.Try(collectFooter(conf, dataFilePath(dir, n), blooms))
        .toOption.map(n -> _)
    // the footer harvest is driver-side small I/O; a commit that lands
    // many files (a compaction, a large backfill) must not pay it one
    // file at a time — bounded pool, same results in any order
    if (names.size <= 2) names.flatMap(one).toMap
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, names.size))
      try names.map(n => pool.submit(
          new java.util.concurrent.Callable[Option[(String, FileStats)]] {
            override def call(): Option[(String, FileStats)] = one(n)
          })).flatMap(_.get()).toMap
      finally pool.shutdown()
    }
  }

  /** The file's [[FileStats]]; also caches its bloom for each column of
    * `blooms` while the file is open: a just-landed file's probe reads
    * nothing.
    */
  private def collectFooter(conf: org.apache.hadoop.conf.Configuration,
                            path: String, blooms: Seq[String]): FileStats = {
    import scala.jdk.CollectionConverters._
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p(path), conf))
    try {
      blooms.foreach(c => scala.util.Try(bloomOf(r, c))
        .foreach(boundedPut(bloomCache, BloomCacheMax, s"$path#$c", _)))
      val md = r.getFooter
      val schema = md.getFileMetaData.getSchema
      val blocks = md.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      // fold (typ, min, max, nulls, usable) per column across row groups
      var acc = Map.empty[String, (String, Option[String], Option[String], Long, Boolean)]
      for (b <- blocks; c <- b.getColumns.asScala) {
        val name = c.getPath.toDotString.toLowerCase
        val fam = Skipping.family(
          schema.getType(c.getPath.toArray: _*).asPrimitiveType)
        val st = c.getStatistics
        val prev = acc.getOrElse(name, (fam.getOrElse(""), None, None, 0L, true))
        val next =
          if (fam.isEmpty || st == null || !st.isNumNullsSet || !prev._5)
            (prev._1, None, None, 0L, false)
          else if (!st.hasNonNullValue) {
            if (st.getNumNulls == b.getRowCount) // genuinely all-null block
              (prev._1, prev._2, prev._3, prev._4 + st.getNumNulls, true)
            else (prev._1, None, None, 0L, false) // stats dropped (e.g. oversized)
          } else {
            val (mn, mx) = Skipping.canonical(fam.get, st)
            if (mn.isEmpty) (prev._1, None, None, 0L, false) // NaN etc.
            else (prev._1,
              Skipping.fold(fam.get, prev._2, mn, keepMin = true),
              Skipping.fold(fam.get, prev._3, mx, keepMin = false),
              prev._4 + st.getNumNulls, true)
          }
        acc = acc.updated(name, next)
      }
      FileStats(rows, acc.collect { case (n, (typ, mn, mx, nulls, true)) =>
        n -> ColStats(typ, mn, mx, nulls)
      })
    } finally r.close()
  }
}
