package graft.ext

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Expression}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, RelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

/** PLANNER-INTEGRATED manifest reads — the [[ManifestTable]] as a real
  * Spark file index instead of a side-channel API.
  *
  * [[ManifestTable.readWhere]] prunes files well, but only for callers
  * who hand it the predicate as a string: a `.where(...)` added three
  * operators later, a join's pushed-down IN, or plain `spark.sql` over a
  * view never reach it. This is the standard table-format answer
  * (Delta's TahoeFileIndex, Iceberg's planning path): implement Spark's
  * `FileIndex` seam, whose `listFiles(partitionFilters, dataFilters)`
  * the planner calls AT PLANNING TIME with every filter it could push
  * toward the scan — already resolved, already split into conjuncts.
  * Those expressions feed the exact same one-sided [[Skipping]] stats
  * pass and in-file bloom pass as `readWhere`, so:
  *
  *   - `ManifestTable.scan(spark, dir).where("doc_id < 40")` scans only
  *     the files whose stats admit the band — the predicate prunes
  *     through Catalyst, no special read API;
  *   - filters COMPOSE: later `.where`s, filter pushdown through
  *     projections, and constant-folded join probes all land in
  *     `dataFilters` for free;
  *   - the scan stays a normal `FileSourceScanExec` over parquet —
  *     vectorized reader, whole-stage codegen, row-group pushdown all
  *     unchanged; only the FILE LIST shrinks.
  *
  * The snapshot is pinned at construction (manifest-swap isolation: a
  * concurrent commit cannot change a running query's file list), and the
  * one `data/` directory listing happens here, not per query stage.
  * Driver cost per `listFiles` call is O(live files) in-memory math plus
  * cached bloom probes — the same budget `readWhere` spends.
  */
class ManifestFileIndex(spark: SparkSession, dir: String,
                        snap: ManifestTable.Snapshot) extends FileIndex {

  // A FileIndex serves plain per-file scans; files carrying deletion
  // vectors need their anti-join applied, which this seam cannot
  // express — refuse loudly rather than resurrect deleted rows
  require(snap.dvs.isEmpty,
    s"ManifestTable at $dir v${snap.version} carries deletion vectors " +
      s"on ${snap.dvs.size} file(s); the planner-integrated scan cannot " +
      "apply them — read via ManifestTable.read/readWhere, or compact() " +
      "to retire the vectors")

  private val dataPath = new Path(s"$dir/data")

  // Data files are immutable and UUID-named, so statuses can never go
  // stale. When the manifest recorded every file's size (any table
  // committed since sizes existed), the statuses are built DIRECTLY
  // from the snapshot — no LIST of data/ at all, the call object stores
  // throttle at millions of entries. Pre-sizes manifests fall back to
  // one listing at construction; there a snapshot whose files were
  // already vacuumed (historical read past the grace window) fails
  // HERE, loudly, not with a mid-query FileNotFound. (On the no-list
  // path a vacuumed-away file surfaces as the scan's FileNotFound —
  // the same grace-window contract, detected at first touch.)
  private val statusByName: Map[String, FileStatus] =
    if (snap.files.forall(snap.sizes.contains))
      snap.files.map { n =>
        n -> new FileStatus(snap.sizes(n), false, 1, 128L * 1024 * 1024,
          0L, new Path(ManifestTable.dataFilePath(dir, n)))
      }.toMap
    else {
      ManifestFileIndex.dataDirListings.incrementAndGet()
      val fs = dataPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val live = snap.files.toSet
      val listed = fs.listStatus(dataPath).iterator
        .filter(st => st.isFile && live(st.getPath.getName))
        .map(st => st.getPath.getName -> st).toMap
      require(listed.size == snap.files.size,
        s"ManifestTable at $dir v${snap.version}: " +
          s"${snap.files.size - listed.size} data files of the snapshot " +
          "are gone from disk (vacuumed past the grace window?)")
      listed
    }

  override def rootPaths: Seq[Path] = Seq(dataPath)

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept =
      if (dataFilters.isEmpty) snap.files
      else ManifestTable.keptForPredicate(spark, dir, snap,
        dataFilters.reduce(And))
    Seq(PartitionDirectory(InternalRow.empty,
      kept.map(statusByName).toArray))
  }

  override def inputFiles: Array[String] =
    snap.files.map(n => ManifestTable.dataFilePath(dir, n)).toArray

  override def refresh(): Unit = ()

  override def sizeInBytes: Long = statusByName.values.map(_.getLen).sum

  override def partitionSchema: StructType = StructType(Nil)
}

object ManifestFileIndex {
  /** Listings of `data/` taken by index construction — the observable
    * proof the manifest-recorded sizes keep the planner path LIST-free
    * (only pre-sizes manifests should ever increment this).
    */
  private[graft] val dataDirListings =
    new java.util.concurrent.atomic.AtomicLong()
}

/** The shared PLAN BUILDERS behind every planner-integrated read of a
  * manifest snapshot — the format face ([[ManifestSource]]), the Scala
  * face ([[ManifestTable.scan]]), and the SQL catalog face
  * ([[GraftTableV2]]) all produce the same plan shapes from here.
  */
object ManifestPlan {

  /** The snapshot's table schema: manifest-tracked when present (files
    * predating a column null-fill it, same contract as
    * [[ManifestTable.read]]); footer-derived otherwise. A schema-less
    * EMPTY table is unreadable (nothing to derive columns from).
    */
  def schemaOf(spark: SparkSession, dir: String,
               snap: ManifestTable.Snapshot): StructType =
    ManifestTable.tableSchema(snap).getOrElse {
      require(snap.files.nonEmpty,
        s"ManifestTable at $dir has no committed data (and no tracked schema)")
      spark.read.parquet(snap.files.map(n => ManifestTable.dataFilePath(dir, n)): _*).schema
    }

  /** The parquet relation over the snapshot's DV-LESS files, planned
    * through [[ManifestFileIndex]] — `FileSourceScanExec`, vectorized
    * reader, whole-stage codegen, stats+bloom file pruning. The caller
    * must have split off DV-carrying files ([[dataFrame]] does).
    */
  def relation(spark: SparkSession, dir: String,
               snap: ManifestTable.Snapshot): HadoopFsRelation =
    // the scan binds to the files' PHYSICAL column names (column
    // mapping); [[dataFrame]] aliases the frame back to logical names,
    // and filters pushed down through those aliases arrive here already
    // physical — matching the manifest's physical-keyed stats/blooms
    HadoopFsRelation(new ManifestFileIndex(spark, dir, snap),
      partitionSchema = StructType(Nil),
      dataSchema = ManifestTable.physSchema(snap,
        schemaOf(spark, dir, snap)),
      bucketSpec = None, fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)

  /** The DV-AWARE planner read (VERDICT r13 order: lift the deletion-
    * vector refusal): files WITHOUT outstanding deletion vectors plan
    * through [[ManifestFileIndex]] — the full Catalyst-pruned,
    * codegen'd path — and files WITH vectors contribute their
    * anti-joined frame, unioned on top. Filters a caller stacks above
    * push into BOTH branches (union pushdown), so the clean branch
    * still prunes on manifest stats and the DV branch prunes at the
    * parquet row-group level. A table with one outstanding point-delete
    * keeps planner pruning for every untouched file — at 100 TB the
    * alternative (this whole read falling back to an unpruned path
    * until compaction retires the vector) is a cliff.
    */
  def dataFrame(spark: SparkSession, dir: String,
                snap: ManifestTable.Snapshot): org.apache.spark.sql.DataFrame = {
    val (dvd, clean) =
      snap.files.partition(n => snap.dvs.get(n).exists(_.nonEmpty))
    val cleanDf = ManifestTable.toLogical(snap, spark.baseRelationToDataFrame(
      relation(spark, dir, snap.copy(files = clean, dvs = Map.empty))))
    val df =
      if (dvd.isEmpty) cleanDf
      else {
        val dvdDf = ManifestTable.readDvApplied(spark, dir, snap, dvd)
        // align to the table schema's column order on both branches
        val cols = cleanDf.schema.fieldNames
          .map(org.apache.spark.sql.functions.col).toSeq
        cleanDf.select(cols: _*).unionByName(dvdDf.select(cols: _*))
      }
    maybeBroadcast(spark, snap, df)
  }

  /** MANIFEST-PROVEN broadcast hint: Spark sizes a scan by raw file
    * bytes, which overstates a table whose rows are mostly behind
    * deletion vectors — a small-in-truth dimension then misses the
    * broadcast threshold and every join against it shuffles. When the
    * manifest can PROVE the visible fraction (footer row counts minus
    * DV positions, the [[ManifestTable.metaCount]] math), scale the
    * bytes by it; if the effective size clears the session's
    * auto-broadcast threshold that the raw size missed, attach the
    * hint — exactly what the optimizer would do with honest stats.
    * No-ops (returns `df` unhinted) whenever nothing changes.
    */
  private def maybeBroadcast(spark: SparkSession,
                             snap: ManifestTable.Snapshot,
                             df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold",
      "10485760") match {
      case t if t.endsWith("b") || t.endsWith("B") =>
        try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(t)
        catch { case scala.util.control.NonFatal(_) => -1L }
      case t => try t.toLong
        catch { case scala.util.control.NonFatal(_) => -1L }
    }
    if (threshold <= 0 || snap.dvs.isEmpty) return df
    if (!snap.files.forall(f =>
      snap.sizes.contains(f) && snap.stats.contains(f))) return df
    val rawBytes = snap.files.map(snap.sizes).sum
    val totalRows = snap.files.map(f => snap.stats(f).rows).sum
    val deleted = snap.dvs.valuesIterator.flatten.map(_.rows).sum
    if (totalRows <= 0L || rawBytes < threshold) return df
    val effective =
      (rawBytes.toDouble * (totalRows - deleted) / totalRows).toLong
    if (effective < threshold)
      org.apache.spark.sql.functions.broadcast(df)
    else df
  }
}

/** The format face's fallback relation for a DV-CARRYING snapshot: a
  * `RelationProvider` must return one `BaseRelation`, which cannot be
  * the union plan [[ManifestPlan.dataFrame]] builds — so this relation
  * answers `buildScan` by RUNNING that plan, with the pushed filters
  * re-applied as a SQL conjunction (file pruning via the clean branch's
  * [[ManifestFileIndex]], DV anti-join intact). `unhandledFilters`
  * keeps Spark's own Filter above (the default), so a filter this
  * translation drops only widens the scan, never the answer.
  */
class ManifestDvRelation(spark: SparkSession, dir: String,
                         snap: ManifestTable.Snapshot)
    extends BaseRelation
    with org.apache.spark.sql.sources.PrunedFilteredScan {
  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = ManifestPlan.schemaOf(spark, dir, snap)
  override def buildScan(requiredColumns: Array[String],
                         filters: Array[org.apache.spark.sql.sources.Filter])
  : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val base = ManifestPlan.dataFrame(spark, dir, snap)
    val filtered = filters.flatMap(FilterSql.toSql)
      .foldLeft(base)((d, sql) => d.where(sql))
    // project to EXACTLY the requested columns (possibly zero, for a
    // pure count) — the contract is rows shaped as requiredColumns
    filtered.select(requiredColumns.toSeq
      .map(org.apache.spark.sql.functions.col): _*).rdd
  }
}

/** A [[FileIndex]] over an EXPLICIT file list, no pruning — the leaf
  * relation [[ManifestStreamSource]]'s CDC batches are built from: each
  * micro-batch names its exact files (appended data files or a commit's
  * CDC sidecar), so there is nothing left to prune and nothing to list.
  */
class StaticFileIndex(spark: SparkSession,
                      paths: Seq[Path]) extends FileIndex {
  private val statuses: Array[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    paths.map(p => p.getFileSystem(conf).getFileStatus(p)).toArray
  }
  override def rootPaths: Seq[Path] = paths
  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    Seq(PartitionDirectory(InternalRow.empty, statuses))
  override def inputFiles: Array[String] = paths.map(_.toString).toArray
  override def refresh(): Unit = ()
  override def sizeInBytes: Long = statuses.map(_.getLen).sum
  override def partitionSchema: StructType = StructType(Nil)
}

/** The `graft-manifest` data source — batch AND streaming faces of the
  * manifest table:
  *
  *   - `spark.read.format("graft-manifest").load(dir)` resolves the
  *     manifest snapshot and returns a parquet relation planned through
  *     [[ManifestFileIndex]]. Option `versionAsOf` pins a historical
  *     version (time travel); `timestampAsOf` (epoch millis) pins the
  *     newest commit at or before the instant via
  *     [[ManifestTable.versionAt]] — mutually exclusive with
  *     `versionAsOf`. Pruning then runs against that version's own
  *     stats and files.
  *   - `spark.readStream.format("graft-manifest").load(dir)` returns the
  *     table's APPEND FEED as a [[ManifestStreamSource]] (offsets =
  *     manifest versions). Option `sinceVersion` starts the feed AFTER
  *     the named version (exclusive, matching
  *     [[ManifestTable.appendsBetween]]); default 0 = from the table's
  *     beginning. `sinceTimestamp` (epoch millis, mutually exclusive)
  *     starts after the newest commit at or before the instant —
  *     "changes since when I last looked". Option `readChangeFeed = true` streams the FULL CDC
  *     feed instead (`_change_type` + `commit_version` columns — the
  *     streaming face of [[ManifestTable.changesBetween]]). Option
  *     `maxVersionsPerTrigger` bounds each micro-batch to that many
  *     manifest versions — the backfill rate limiter.
  *
  * Registered via META-INF/services so the short name works; the class
  * name (`graft.ext.ManifestSource`) always works.
  */
class ManifestSource extends RelationProvider with StreamSourceProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-manifest needs a path: spark.read.format(\"graft-manifest\").load(dir)"))

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val dir = pathOf(parameters)
    val spark = sqlContext.sparkSession
    require(!(parameters.contains("versionAsOf") &&
      parameters.contains("timestampAsOf")),
      "graft-manifest: versionAsOf and timestampAsOf are mutually exclusive")
    val pinned = parameters.get("versionAsOf").map(_.toLong)
      .orElse(parameters.get("timestampAsOf").map(ts =>
        ManifestTable.versionAt(spark, dir, ts.toLong)))
    val snap = pinned
      .fold(ManifestTable.snapshot(spark, dir))(v =>
        ManifestTable.snapshotAt(spark, dir, v))
    // an EMPTY table with a tracked schema is legitimately readable
    // (CREATE TABLE before the first INSERT) — the zero-file index
    // plans an empty scan with real columns; only a schema-less empty
    // table has nothing to offer (schemaOf raises there)
    if (snap.dvs.exists(_._2.nonEmpty) || ManifestTable.mapped(snap))
      // DV-carrying snapshots answer through the union plan; a
      // RelationProvider cannot return it directly, so this fallback
      // relation runs it per buildScan (pruned via the clean branch).
      // Column-MAPPED snapshots take the same door: a BaseRelation's
      // schema must be the logical one, and only the DataFrame plan
      // can alias the physical scan back to it
      new ManifestDvRelation(spark, dir, snap)
    else ManifestPlan.relation(spark, dir, snap)
  }

  private def cdcOn(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists(_.equalsIgnoreCase("true"))

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
  : (String, StructType) = {
    val dir = pathOf(parameters)
    val spark = sqlContext.sparkSession
    val base = schema.getOrElse(
      ManifestPlan.schemaOf(spark, dir, ManifestTable.snapshot(spark, dir)))
    (shortName(),
      if (!cdcOn(parameters)) base
      else base.add("_change_type", org.apache.spark.sql.types.StringType)
        .add("commit_version", org.apache.spark.sql.types.LongType))
  }

  /** `df.writeStream.format("graft-manifest").start(dir)` — the
    * manifest table as a streaming SINK. Each micro-batch appends as
    * manifest batch id `stream-<queryBatchId>`, so a restarted query
    * re-delivering a batch is absorbed by the table's own idempotence:
    * exactly-once END TO END when the source replays deterministically
    * (the same transactional-sink contract as Delta's txn version).
    * `.partitionBy(cols)` on the writer declares the table's partition
    * layout on the first batch; later batches inherit it. Option
    * `bloomCols` (comma-separated) declares the table's bloom columns
    * the same way: every later batch, and every maintenance rewrite,
    * lands its files with their per-file blooms.
    * Append output mode only — a manifest table is an append-feed log,
    * not a keyed store.
    *
    * SELF-MAINTENANCE options make the streamed table sustainable
    * indefinitely: `packSmallBytes` runs [[ManifestTable.compactSmall]]
    * (repack files under that size) and `retainVersions` runs
    * checkpoint + [[ManifestTable.expireLog]], both every
    * `maintainEvery` batches (default 100) — bounded log, bounded
    * small-file count, O(small bytes)/O(expired names) per maintenance
    * tick, and a maintenance failure never fails the data batch.
    */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-manifest sink supports Append output mode only, got $outputMode")
    val dir = pathOf(parameters)
    val blooms = parameters.get("bloomCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    new ManifestSink(dir, partitionColumns, blooms,
      retainVersions = parameters.get("retainVersions").map(_.toLong),
      packSmallBytes = parameters.get("packSmallBytes").map(_.toLong),
      maintainEvery = parameters.get("maintainEvery")
        .map(_.toLong).getOrElse(100L))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String])
  : org.apache.spark.sql.execution.streaming.Source = {
    val dir = pathOf(parameters)
    val spark = sqlContext.sparkSession
    require(!(parameters.contains("sinceVersion") &&
      parameters.contains("sinceTimestamp")),
      "graft-manifest: sinceVersion and sinceTimestamp are mutually exclusive")
    // sinceTimestamp: start AFTER the newest commit at or before the
    // instant — "changes since when I last looked", clock-keyed
    val since = parameters.get("sinceVersion").map(_.toLong)
      .orElse(parameters.get("sinceTimestamp").map(ts =>
        ManifestTable.versionAt(spark, dir, ts.toLong)))
      .getOrElse(0L)
    // the base TABLE schema: when Spark hands back the source schema it
    // includes the CDC columns — strip them, the source re-adds them
    val base = schema.map(sc => org.apache.spark.sql.types.StructType(
      sc.fields.filterNot(f => cdcOn(parameters) &&
        (f.name == "_change_type" || f.name == "commit_version"))))
      .getOrElse(ManifestPlan.schemaOf(spark, dir, ManifestTable.snapshot(spark, dir)))
    new ManifestStreamSource(spark, dir, base, since, cdcOn(parameters),
      parameters.get("maxVersionsPerTrigger").map(_.toLong),
      parameters.get("maxFilesPerTrigger").map(_.toInt),
      parameters.get("maxBytesPerTrigger").map(_.toLong),
      parameters.get("skipChangeCommits").exists(_.equalsIgnoreCase("true")))
  }
}

/** The V1 streaming sink over a [[ManifestTable]] (see
  * [[ManifestSource.createSink]]). `addBatch` rebuilds a batch frame
  * over the micro-batch's already-computed rows
  * ([[org.apache.spark.sql.graft.GraftSqlShims.asBatch]] — a streaming
  * plan cannot be re-planned by a writer) and appends it under the
  * deterministic batch id `stream-<batchId>`: a crash-replayed batch
  * hits the manifest's id dedup and commits nothing, which is the whole
  * exactly-once contract. The append path does the rest — stats,
  * blooms, partition layout, constraint enforcement — so a streamed
  * table is indistinguishable from a batch-built one to every reader,
  * feed and maintenance op.
  */
class ManifestSink(dir: String, partitionCols: Seq[String],
                   bloomCols: Seq[String],
                   retainVersions: Option[Long] = None,
                   packSmallBytes: Option[Long] = None,
                   maintainEvery: Long = 100L)
    extends org.apache.spark.sql.execution.streaming.Sink
    with org.apache.spark.internal.Logging {
  override def addBatch(batchId: Long,
                        data: org.apache.spark.sql.DataFrame): Unit = {
    val batch = org.apache.spark.sql.graft.GraftSqlShims.asBatch(data)
    val spark = data.sparkSession
    ManifestTable.append(batch, dir, s"stream-$batchId",
      bloomCols = bloomCols, partitionBy = partitionCols)
    // SELF-MAINTENANCE on a batch cadence: without it a 10 s-cadence
    // sink grows its log and small-file count forever. Every
    // `maintainEvery`-th batch: pack the accumulated under-sized files
    // (O(small bytes), right-sized files untouched), then expire the
    // log past the retention window (O(expired names)). Both are
    // crash-safe no-ops to replay, and a maintenance failure must
    // never fail the data batch — the next cadence point retries. But
    // a failure must not be INVISIBLE either (a persistent permission
    // loss would retry silently forever): it logs, and the last
    // message surfaces through [[ManifestSink.lastMaintenanceError]] /
    // [[ManifestTable.detail]] until a tick succeeds.
    if ((retainVersions.nonEmpty || packSmallBytes.nonEmpty) &&
      batchId > 0L && batchId % maintainEvery == 0L)
      try {
        packSmallBytes.foreach(minBytes =>
          // the pack target must EXCEED the candidate threshold or the
          // packer's own outputs stay candidates forever; 2x leaves
          // packed files comfortably clear of it
          ManifestTable.compactSmall(spark, dir,
            targetFileBytes = math.max(128L * 1024 * 1024, 2L * minBytes),
            minFileBytes = minBytes))
        retainVersions.foreach { retain =>
          ManifestTable.checkpoint(spark, dir)
          ManifestTable.expireLog(spark, dir, retainVersions = retain)
        }
        ManifestSink.maintenanceErrors.remove(dir)
      } catch {
        case scala.util.control.NonFatal(e) =>
          logWarning(s"ManifestSink[$dir]: maintenance at batch " +
            s"$batchId failed (data batch committed; will retry next " +
            s"cadence point): $e")
          ManifestSink.maintenanceErrors.put(dir,
            s"batch $batchId: ${e.toString}")
      }
  }
  override def toString: String = s"ManifestSink[$dir]"
}

object ManifestSink {
  /** Last maintenance failure per table dir IN THIS DRIVER (cleared by
    * the next successful tick) — the observable behind
    * `detail().last_maintenance_error`, so a persistently failing
    * self-maintenance loop is visible instead of retrying silently
    * forever.
    */
  private[graft] val maintenanceErrors =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** The last swallowed maintenance failure for `dir` in this driver,
    * if the most recent tick failed.
    */
  def lastMaintenanceError(dir: String): Option[String] =
    Option(maintenanceErrors.get(dir))
}
