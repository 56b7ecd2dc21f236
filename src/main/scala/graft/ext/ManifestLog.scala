package graft.ext

import org.apache.spark.sql.SparkSession
import scala.annotation.tailrec

/** The COMMIT LOG of [[ManifestTable]] — its on-disk format (one encoder,
  * [[deltaLines]]; one decoder, [[parseLog]] + [[applyDelta]]), the
  * `_last_checkpoint` pointer, head resolution and the driver snapshot
  * cache, the CAS commit, checkpoints and log expiry. Mixed into `object
  * ManifestTable`; see [[ManifestRowOps]] for the module-boundary
  * contract. Every other module commits through [[commit]] and reads
  * through [[snapshot]] / [[resolveAt]]; none of them spells a log line.
  */
private[ext] trait ManifestLog { this: ManifestTable.type =>

  // ---------------------------------------------- the commit log
  //
  // INCREMENTAL, the Delta-log design: every commit publishes one small
  // DELTA file `d<NNNNNNNN>` holding only that commit's ACTIONS
  // (add:/remove: files + the new files' stats, newly absorbed batch
  // ids, op kind, schema-if-changed, cdc/dv references) — O(change)
  // bytes, never O(table). Every [[CheckpointInterval]]-th commit also
  // writes a CHECKPOINT `v<NNNNNNNN>`: the same encoding, as the delta
  // from the EMPTY table (every live file an add:, every ref, constraint
  // and property new), so resolution replays at most CheckpointInterval
  // deltas past the nearest checkpoint, and a table committed every
  // 10 s for a year never rewrites its million-file listing per commit.
  // Checkpoints written before this encoding, and pre-incremental tables
  // (all `v` files, the pre-r12 full-manifest format), list their files
  // as `file:` lines, which the reader takes as `add:`: a full manifest
  // IS a checkpoint.

  /** The log file names of version `v`: its checkpoint and its delta. */
  private[ext] def ckptName(v: Long): String = f"v$v%08d"
  private[ext] def deltaName(v: Long): String = f"d$v%08d"

  /** One log file's status; None when it does not exist. */
  private def logStat(f: org.apache.hadoop.fs.FileSystem, dir: String,
                      name: String): Option[org.apache.hadoop.fs.FileStatus] =
    try Some(f.getFileStatus(p(s"${manifestDir(dir)}/$name")))
    catch { case _: java.io.FileNotFoundException => None }

  /** The (checkpoint, delta) log files of a table, from ONE listing of
    * `_manifest/` — O(versions) names, no data I/O. `{8,}`: versions
    * past 10^8 widen the zero-padded name rather than vanish (numeric
    * max below).
    */
  private[ext] final case class LogFiles(
      ckpt: Map[Long, org.apache.hadoop.fs.FileStatus],
      delta: Map[Long, org.apache.hadoop.fs.FileStatus]) {
    def head: Long =
      (ckpt.keysIterator ++ delta.keysIterator).foldLeft(0L)(math.max)
    def has(v: Long): Boolean = ckpt.contains(v) || delta.contains(v)
  }

  /** Directory LISTINGS of `_manifest/` this JVM — the observable proof
    * the `_last_checkpoint` pointer path never lists (a 10 s-cadence
    * streaming sink writes millions of log names over a year; a LIST
    * per `snapshot()`/`getOffset` is the throttled path on object
    * stores, and O(all versions ever) names on any store).
    */
  private[graft] val logListings =
    new java.util.concurrent.atomic.AtomicLong()

  private[ext] def listLog(spark: SparkSession, dir: String): LogFiles = {
    logListings.incrementAndGet()
    val f = fs(spark, dir)
    val md = p(manifestDir(dir))
    if (!f.exists(md)) return LogFiles(Map.empty, Map.empty)
    val sts = f.listStatus(md).filter(_.isFile)
    LogFiles(
      sts.filter(_.getPath.getName.matches("v\\d{8,}"))
        .map(s => s.getPath.getName.drop(1).toLong -> s).toMap,
      sts.filter(_.getPath.getName.matches("d\\d{8,}"))
        .map(s => s.getPath.getName.drop(1).toLong -> s).toMap)
  }

  // ------------------------------------- the _last_checkpoint pointer
  //
  // Delta's design: a tiny `_manifest/_last_checkpoint` file names the
  // latest checkpoint version, so HEAD resolution is one pointer read +
  // one getFileStatus per version SINCE that checkpoint (forward
  // existence probes — versions are dense by CAS construction, so the
  // first missing delta IS the head), never a listing of the whole log
  // directory. The pointer is a HINT, not a commit: it only moves
  // forward, and a missing or stale one costs a listing / extra delta
  // replays, speed only. It is staged and renamed over the old one, so a
  // reader never sees it torn; both sides skip the local checksum file,
  // which a rename would move in a second step.

  private def lastCheckpointPath(dir: String) =
    p(s"${manifestDir(dir)}/_last_checkpoint")

  private def rawFs(spark: SparkSession, dir: String) = fs(spark, dir) match {
    case c: org.apache.hadoop.fs.ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  private[ext] def readLastCheckpoint(spark: SparkSession,
                                 dir: String): Option[Long] =
    try {
      val f = rawFs(spark, dir)
      val in = f.open(lastCheckpointPath(dir))
      val s = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
              finally in.close()
      val v = s.toLong
      if (v > 0L) Some(v) else None
    } catch { case scala.util.control.NonFatal(_) => None }

  private[ext] def writeLastCheckpoint(spark: SparkSession, dir: String,
                                  v: Long): Unit =
    try {
      if (readLastCheckpoint(spark, dir).forall(_ < v)) {
        val (f, dst) = (rawFs(spark, dir), lastCheckpointPath(dir))
        val staged = p(s"$dst.${java.util.UUID.randomUUID()}")
        try {
          val out = f.create(staged, true)
          try out.write(v.toString.getBytes("UTF-8")) finally out.close()
          // rename(2) replaces atomically; HDFS refuses an existing target
          if (!f.rename(staged, dst))
            org.apache.hadoop.fs.FileContext.getFileContext(dst.toUri, f.getConf)
              .rename(staged, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
        } finally f.delete(staged, false)
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** The log reachable FROM THE POINTER: the pointed-at checkpoint, any
    * newer checkpoint on the deterministic [[CheckpointInterval]] grid
    * (one probe — covers a stale pointer), and the deltas probed
    * forward until the first gap. O(head - checkpoint) getFileStatus
    * calls, NO directory listing. None = no pointer / pointed-at
    * checkpoint missing — caller falls back to [[listLog]].
    */
  private def probeLog(spark: SparkSession, dir: String): Option[LogFiles] =
    readLastCheckpoint(spark, dir).flatMap { c =>
      val f = fs(spark, dir)
      logStat(f, dir, ckptName(c)).map { ckptSt =>
        var ckpt = Map(c -> ckptSt)
        var delta = Map.empty[Long, org.apache.hadoop.fs.FileStatus]
        var w = c + 1L
        var miss = false
        while (!miss) {
          logStat(f, dir, deltaName(w)) match {
            case Some(st) => delta += (w -> st); w += 1L
            case None => miss = true
          }
        }
        val head = w - 1L
        // a stale pointer (checkpoint write raced or a later one landed
        // after this reader cached the pointer): the newest checkpoint
        // sits on the interval grid — one extra probe recovers it and
        // keeps replay bounded by the interval, not the staleness
        val gridC = (head / CheckpointInterval) * CheckpointInterval
        if (gridC > c)
          logStat(f, dir, ckptName(gridC)).foreach(st => ckpt += (gridC -> st))
        LogFiles(ckpt, delta)
      }
    }

  /** [[probeLog]] when the pointer exists, else one full listing — the
    * HEAD-resolution entry point for [[snapshot]]/[[headVersion]]/
    * [[commit]]. Time travel, history and expiry keep the full listing
    * (they need versions BEHIND the pointer).
    */
  private def headLog(spark: SparkSession, dir: String): LogFiles =
    probeLog(spark, dir).getOrElse(listLog(spark, dir))

  /** DRIVER SNAPSHOT CACHE. Snapshots are immutable once committed, so a
    * resolved version caches forever; the key carries the log file's
    * (length, mtime) identity — plus the PREVIOUS version's file
    * identity when the listing has it — so a table DELETED AND RECREATED
    * at the same path can only serve a stale snapshot if BOTH adjacent
    * new log files collide with the old ones on (length, mtime), two
    * independent coincidences even on coarse-mtime filesystems. (Exact
    * identity would need a content read per resolve — the RPC the cache
    * exists to avoid.) `getOffset` every trigger and repeated
    * `snapshot()` calls become one `_manifest/` listing + a map hit:
    * zero parse, zero O(files) work. Overflow evicts ONE arbitrary
    * entry, not the map — a 300-table driver keeps its working set.
    */
  private val snapCache =
    new java.util.concurrent.ConcurrentHashMap[String, Snapshot]()
  private[graft] var snapCacheMaxForTest = 256

  private def cacheKey(dir: String, v: Long, log: LogFiles): Option[String] =
    log.ckpt.get(v) match {
      // a checkpoint is a full-state file — its own (len, mtime) is the
      // identity (v-1 may be absent from a pointer-probed listing, so
      // folding it in would make the key listing-dependent)
      case Some(st) => Some(s"$dir#$v#${st.getLen}#${st.getModificationTime}")
      case None => log.delta.get(v).map { st =>
        // delta-keyed: fold in v-1's file identity, present in EVERY
        // listing that can see delta v (probeLog probes forward from its
        // checkpoint; listLog sees everything) — log files are immutable
        // once published, so the suffix is stable across resolves
        val prev = log.ckpt.get(v - 1L).orElse(log.delta.get(v - 1L))
          .map(ps => s"#${ps.getLen}#${ps.getModificationTime}").getOrElse("")
        s"$dir#$v#${st.getLen}#${st.getModificationTime}$prev"
      }
    }

  private def cachePut(key: Option[String], s: Snapshot): Unit =
    key.foreach(boundedPut(snapCache, snapCacheMaxForTest, _, s))

  // at the bound evict ONE entry, not the map: a multi-table driver keeps
  // its working set warm
  private[ext] def boundedPut[V](m: java.util.concurrent.ConcurrentHashMap[String, V],
                                 max: Int, k: String, v: V): Unit = {
    while (m.size >= max) {
      val it = m.keySet.iterator
      if (it.hasNext) m.remove(it.next()) else m.clear()
    }
    m.put(k, v)
  }

  private[graft] def snapshotCacheSizeForTest: Int = snapCache.size

  /** Log files parsed this JVM (checkpoints + deltas) — the observable
    * proof the snapshot cache works: an unchanged table's repeated
    * `snapshot()` adds zero.
    */
  private[graft] val logFileReads =
    new java.util.concurrent.atomic.AtomicLong()

  /** Test seam: a cleared cache simulates a FRESH DRIVER resolving the
    * table cold — what the checkpoint cadence bounds.
    */
  private[graft] def clearSnapshotCacheForTest(): Unit = snapCache.clear()

  /** Resolve `v` against an already-taken listing: nearest cached
    * version or checkpoint at-or-below `v`, then replay the deltas up to
    * `v` (each at most once per JVM — intermediates cache too). Cost is
    * O(deltas since checkpoint) small file reads on a cold cache, a map
    * hit on a warm one.
    */
  private[ext] def resolveAt(spark: SparkSession, dir: String, v: Long,
                        log: LogFiles): Snapshot = {
    if (v == 0L) return Snapshot.empty
    var w = v
    var base = Snapshot.empty
    var found = false
    while (!found && w > 0L) {
      val cached = cacheKey(dir, w, log).flatMap(k => Option(snapCache.get(k)))
      cached match {
        case Some(s) => base = s; found = true
        case None if log.ckpt.contains(w) =>
          base = readManifest(spark, dir, w)
          cachePut(cacheKey(dir, w, log), base)
          found = true
        case None =>
          require(log.delta.contains(w),
            s"ManifestTable at $dir: the log has no file for version $w " +
              "(manifest directory corrupted?)")
          w -= 1
      }
    }
    var cur = base
    ((base.version + 1L) to v).foreach { u =>
      cur = applyDelta(cur, readDelta(spark, dir, u), u)
      cachePut(cacheKey(dir, u, log), cur)
    }
    cur
  }

  /** Resolve the table's current snapshot: the highest committed version
    * in the log. A half-written log file can never be resolved — they
    * appear only by atomic link/rename.
    */
  def snapshot(spark: SparkSession, dir: String): Snapshot = {
    val log = headLog(spark, dir)
    val head = log.head
    if (head == 0L) Snapshot.empty
    else resolveAt(spark, dir, head, log)
  }

  /** The table's current committed version WITHOUT resolving the
    * snapshot — a pointer read + O(since-checkpoint) existence probes
    * (one directory listing on pointer-less tables), zero parse. What a
    * streaming source's per-trigger `getOffset` should pay.
    */
  def headVersion(spark: SparkSession, dir: String): Long =
    headLog(spark, dir).head

  /** The snapshot as of manifest `version` — TIME TRAVEL. Any version
    * inside the [[expireLog]] retention window resolves (deltas are
    * O(change); checkpoints kilobytes per thousand files) as long as
    * [[vacuum]]'s grace window has not swept the data files it
    * references; a pinned reader inside the window sees the exact
    * historical table. Versions expired from the log raise here.
    */
  def snapshotAt(spark: SparkSession, dir: String, version: Long): Snapshot = {
    val log = listLog(spark, dir)
    require(log.has(version),
      s"ManifestTable at $dir has no manifest version $version")
    resolveAt(spark, dir, version, log)
  }

  private[ext] def enc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private[ext] def dec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  /** Log line format, shared by checkpoints and deltas: a checkpoint is
    * the delta from the empty table ([[deltaLines]] with an empty base).
    * Readers ignore unknown prefixes, so lines added after the format's
    * first release parse as absent on old manifests (files stay
    * readable, never pruned):
    *
    *   add:<name>                        file added by the commit
    *                                     (checkpoint: one per live file)
    *   file:<name>                       legacy alias of add: — what
    *                                     older checkpoints and pre-r12
    *                                     full manifests list
    *   remove:<name>                     DELTA: file removed (rewrites)
    *   batch:<id>                        absorbed batch ids (checkpoint:
    *                                     all; delta: new this commit)
    *   op:<kind>                         the commit kind of THIS version
    *   schema:<jsonEnc>                  table schema (delta: only when
    *                                     the commit changed it)
    *   cdc:<dirname>                     CDC sidecar dir of THIS commit
    *   rows:<name>\t<rowCount>           one per added file with stats
    *   col:<name>\t<colEnc>\t<typ>\t<nulls>\t<flag>\t<minEnc>\t<maxEnc>
    *   size:<name>\t<bytes>              file length at move time
    *   dv:<name>\t<dvName>\t<rows>       deletion-vector ref (checkpoint:
    *                                     all refs; delta: new refs)
    *   constraint:<nameEnc>\t<exprEnc>   CHECK constraint (delta: added)
    *   dropconstraint:<nameEnc>          DELTA: constraint dropped
    *   cleardv:<name>                    DELTA: the file's deletion-vector
    *                                     refs RESET before this delta's
    *                                     dv: lines (restore only)
    *   partcols:<colEnc>[\t<colEnc>...]  the table's PARTITION layout
    *                                     (declared at creation, immutable)
    *   pv:<name>\t<colEnc>\t<fam>\t<flag>\t<valEnc>
    *                                     one file's partition value for
    *                                     one column (flag 0 = the hive
    *                                     null partition)
    *   ndvcols:<colEnc>[\t<colEnc>...]   columns tracking NDV sketches
    *                                     (declared once, inherited)
    *   bloomcols:<colEnc>[\t<colEnc>...] columns whose data files carry
    *                                     parquet bloom filters (declared
    *                                     once, inherited)
    *   ndv:<name>\t<colEnc>\t<b64>       one file's per-column HLL
    *                                     sketch (Datasketches compact
    *                                     bytes, base64) — mergeable, so
    *                                     table NDV = union over files
    *   property:<kEnc>\t<vEnc>           a table property set (or, in a
    *                                     checkpoint, carried)
    *   dropproperty:<kEnc>               DELTA: a table property unset
    *   colmap:<logicalEnc>\t<physEnc>    COLUMN MAPPING entry (one per
    *                                     column; any present = the full
    *                                     current mapping, absent =
    *                                     inherit — the mapping never
    *                                     shrinks to empty once active)
    *   retired:<physEnc>                 a DROPPED column's physical
    *                                     name (same full-set-or-inherit
    *                                     rule as colmap)
    *
    * `flag` 1 = min/max present (URL-encoded canonical strings); 0 = the
    * column is entirely null in the file. Values are URL-encoded so
    * string min/max containing tabs or newlines cannot break the
    * line-oriented format.
    */
  private[ext] final case class ParsedLog(
      adds: Seq[String], removes: Seq[String],
      batchIds: Set[String], op: String,
      schemaJson: Option[String], cdcPath: Option[String],
      stats: Map[String, FileStats], sizes: Map[String, Long],
      dvs: Map[String, Seq[DvRef]], dvClear: Set[String],
      consAdd: Seq[(String, String)], consDrop: Set[String],
      partitionCols: Option[Seq[String]],
      pvals: Map[String, Map[String, PartValue]],
      ndvCols: Option[Seq[String]],
      ndv: Map[String, Map[String, String]],
      propsSet: Seq[(String, String)],
      propsUnset: Set[String],
      colMap: Option[Seq[(String, String)]],
      retired: Option[Seq[String]],
      bloomCols: Option[Seq[String]])

  private[ext] def parseLog(lines: List[String]): ParsedLog = {
    // each line's values under its prefix, in file order
    val byKey = lines.groupBy(_.takeWhile(_ != ':'))
    def all(key: String): List[String] =
      byKey.getOrElse(key, Nil).map(_.drop(key.length + 1))
    // limit -1: trailing empty fields SURVIVE the split. A column whose
    // min/max is the empty string writes "...\t1\t\t" (enc("") = ""), and
    // Java's default limit-0 split would drop those fields and brick every
    // snapshot() of the table with ArrayIndexOutOfBoundsException.
    def fields(key: String): List[Array[String]] =
      all(key).map(_.split("\t", -1))
    def flagged(flag: String, v: String) =
      if (flag == "1") Some(dec(v)) else None
    def pairs(key: String) = fields(key).map(a => (dec(a(0)), dec(a(1))))
    // per-file (column -> value) entries of pv:/ndv: lines
    def perFile[V](key: String)(value: Array[String] => V) =
      fields(key).groupBy(_(0)).map { case (file, as) =>
        file -> as.map(a => dec(a(1)) -> value(a)).toMap
      }
    val cols = fields("col").groupBy(_(0))
    // a column-list line (partcols:/ndvcols:/bloomcols:); filter("")
    // makes the EMPTY list round-trip: an empty declaration serializes
    // as a bare "key:" (REPLACE TABLE resets a declaration), and "" is
    // never a real column name
    def colList(key: String): Option[Seq[String]] =
      all(key).headOption.map(_.split("\t", -1).toSeq.map(dec).filter(_.nonEmpty))
    ParsedLog(
      adds = all("add") ++ all("file"),
      removes = all("remove"),
      batchIds = all("batch").toSet,
      op = all("op").headOption.getOrElse(""),
      schemaJson = all("schema").headOption.map(dec),
      cdcPath = all("cdc").headOption,
      stats = fields("rows").map { a =>
        a(0) -> FileStats(a(1).toLong, cols.getOrElse(a(0), Nil).map(c =>
          dec(c(1)) -> ColStats(c(2), flagged(c(4), c(5)), flagged(c(4), c(6)),
            c(3).toLong)).toMap)
      }.toMap,
      sizes = fields("size").map(a => a(0) -> a(1).toLong).toMap,
      dvs = fields("dv").groupBy(_(0)).map { case (file, as) =>
        file -> as.map(a => DvRef(a(1), a(2).toLong))
      },
      dvClear = all("cleardv").toSet,
      consAdd = pairs("constraint"),
      consDrop = all("dropconstraint").map(dec).toSet,
      partitionCols = colList("partcols"),
      pvals = perFile("pv")(a => PartValue(a(2), flagged(a(3), a(4)))),
      ndvCols = colList("ndvcols"),
      ndv = perFile("ndv")(_(2)),
      propsSet = pairs("property"),
      propsUnset = all("dropproperty").map(dec).toSet,
      colMap = Some(pairs("colmap")).filter(_.nonEmpty),
      retired = Some(all("retired").map(dec)).filter(_.nonEmpty),
      bloomCols = colList("bloomcols"))
  }

  private[ext] def readLogLines(spark: SparkSession, dir: String,
                           name: String): List[String] = {
    logFileReads.incrementAndGet()
    val f = fs(spark, dir)
    val in = f.open(p(s"${manifestDir(dir)}/$name"))
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
    finally in.close()
  }

  /** A CHECKPOINT (or a pre-incremental full manifest): the complete
    * table state at `v`, replayed onto the empty table.
    */
  private def readManifest(spark: SparkSession, dir: String,
                           v: Long): Snapshot =
    applyDelta(Snapshot.empty, parseLog(readLogLines(spark, dir, ckptName(v))), v)

  /** One commit's ACTIONS (the delta file for `v`). */
  private[ext] def readDelta(spark: SparkSession, dir: String,
                        v: Long): ParsedLog =
    parseLog(readLogLines(spark, dir, deltaName(v)))

  /** Apply one commit's actions to its base snapshot. Replay order is
    * canonical: survivors keep the base's order, added files append at
    * the end — exactly the shape every commit callback produces.
    */
  private[ext] def applyDelta(base: Snapshot, d: ParsedLog, v: Long): Snapshot = {
    val gone = d.removes.toSet
    Snapshot(v,
      files = base.files.filterNot(gone) ++ d.adds,
      batchIds = base.batchIds ++ d.batchIds,
      stats = base.stats -- gone ++ d.stats,
      op = d.op,
      schemaJson = d.schemaJson.orElse(base.schemaJson),
      cdcPath = d.cdcPath,
      sizes = base.sizes -- gone ++ d.sizes,
      dvs = d.dvs.foldLeft(base.dvs -- gone -- d.dvClear) {
        case (acc, (file, refs)) =>
          acc.updated(file, acc.getOrElse(file, Seq.empty) ++ refs)
      },
      constraints = base.constraints ++ d.consAdd -- d.consDrop,
      partitionCols = d.partitionCols.getOrElse(base.partitionCols),
      pvals = base.pvals -- gone ++ d.pvals,
      ndvCols = d.ndvCols.getOrElse(base.ndvCols),
      ndv = base.ndv -- gone ++ d.ndv,
      properties = base.properties ++ d.propsSet -- d.propsUnset,
      colMap = d.colMap.getOrElse(base.colMap),
      retiredCols = d.retired.getOrElse(base.retiredCols),
      bloomCols = d.bloomCols.getOrElse(base.bloomCols))
  }

  /** Every this-many versions the commit path also writes a FULL
    * checkpoint, bounding snapshot resolution to that many delta
    * replays past the nearest checkpoint. 10 is Delta's default.
    */
  private[graft] val CheckpointInterval = 10L

  /** The log lines taking `old` to `next` — the ONE encoder: a commit
    * publishes `deltaLines(head, next)`, a checkpoint
    * `deltaLines(Snapshot.empty, s)`. Set differences throughout: added
    * files (with their per-file detail lines) and removed ones, new
    * batch ids, changed constraints/properties and the dropped ones, a
    * declaration or mapping line only when it changed. Relies on the
    * commit invariants [[applyDelta]] replays under: a surviving file
    * keeps its stats, size, partition values and sketches, batch ids
    * only grow, and schema / mapping / retired names never go back to
    * empty.
    */
  private[ext] def deltaLines(old: Snapshot, next: Snapshot): Seq[String] = {
    val oldSet = old.files.toSet
    val newSet = next.files.toSet
    val adds = next.files.filterNot(oldSet)
    // refs per file normally APPEND (each new DV marks positions
    // the prior ones don't) and the delta carries the new suffix; a
    // commit that SHRINKS or rewrites a surviving file's refs (only
    // restore does this) emits cleardv: + the full new list, so a
    // cold replay reconstructs the exact state
    val dvCleared = next.files.filter { fn =>
      oldSet.contains(fn) && {
        val o = old.dvs.getOrElse(fn, Seq.empty)
        val n = next.dvs.getOrElse(fn, Seq.empty)
        !(n.size >= o.size && n.take(o.size) == o)
      }
    }.toSet
    val dvAdds = next.dvs.toSeq.sortBy(_._1).flatMap { case (file, refs) =>
      val pre = if (dvCleared.contains(file)) Seq.empty
                else old.dvs.getOrElse(file, Seq.empty)
      refs.drop(pre.size).map(r => s"dv:$file\t${r.name}\t${r.rows}")
    }
    // (key, value) entries new or changed in `n`, then keys gone from it
    def changed(o: Map[String, String], n: Map[String, String]) =
      n.toSeq.sortBy(_._1).filterNot { case (k, v) => o.get(k).contains(v) }
        .map { case (k, v) => s"${enc(k)}\t${enc(v)}" }
    def dropped(o: Map[String, String], n: Map[String, String]) =
      (o.keySet -- n.keySet).toSeq.sorted.map(enc)
    // a column-list declaration, written whenever it changed (an empty
    // one as a bare "key:")
    def declared(key: String, o: Seq[String], n: Seq[String]) =
      if (n != o) Seq(s"$key:" + n.map(enc).mkString("\t")) else Nil
    val lines = (if (next.op.nonEmpty) Seq("op:" + next.op) else Nil) ++
      next.schemaJson.filterNot(old.schemaJson.contains)
        .map(j => "schema:" + enc(j)).toSeq ++
      next.cdcPath.map("cdc:" + _).toSeq ++
      declared("partcols", old.partitionCols, next.partitionCols) ++
      declared("ndvcols", old.ndvCols, next.ndvCols) ++
      declared("bloomcols", old.bloomCols, next.bloomCols) ++
      (if (next.colMap != old.colMap)
        next.colMap.map { case (l, ph) => s"colmap:${enc(l)}\t${enc(ph)}" }
       else Nil) ++
      (if (next.retiredCols != old.retiredCols)
        next.retiredCols.map(ph => "retired:" + enc(ph)) else Nil) ++
      adds.map("add:" + _) ++
      old.files.filterNot(newSet).map("remove:" + _) ++
      (next.batchIds -- old.batchIds).toSeq.sorted.map("batch:" + _) ++
      dvCleared.toSeq.sorted.map("cleardv:" + _) ++
      dvAdds ++
      changed(old.constraints, next.constraints).map("constraint:" + _) ++
      dropped(old.constraints, next.constraints).map("dropconstraint:" + _) ++
      changed(old.properties, next.properties).map("property:" + _) ++
      dropped(old.properties, next.properties).map("dropproperty:" + _) ++
      // the per-file detail lines, for the added files only
      adds.flatMap { fn =>
        next.pvals.get(fn).toSeq.flatMap(_.toSeq.sortBy(_._1).map {
          case (c, pv) => s"pv:$fn\t${enc(c)}\t${pv.fam}\t" +
            pv.value.fold("0\t")(v => s"1\t${enc(v)}")
        }) ++
          next.ndv.get(fn).toSeq.flatMap(_.toSeq.sortBy(_._1).map {
            case (c, b64) => s"ndv:$fn\t${enc(c)}\t$b64"
          }) ++
          next.sizes.get(fn).map(b => s"size:$fn\t$b") ++
          next.stats.get(fn).toSeq.flatMap { st =>
            s"rows:$fn\t${st.rows}" +: st.cols.toSeq.sortBy(_._1).map {
              case (c, cs) =>
                s"col:$fn\t${enc(c)}\t${cs.typ}\t${cs.nulls}\t" +
                  (if (cs.min.isDefined) s"1\t${enc(cs.min.get)}\t${enc(cs.max.get)}"
                   else "0\t\t")
            }
          }
      }
    // the op, file / sidecar names and batch ids ride raw: refuse to
    // publish one that would split its line
    lines.foreach(requireOneLine("a manifest log line", _))
    lines
  }

  /** Refuses `s` when it holds a line break: a log line carries it raw,
    * so it would split there, and a cold reader would parse another
    * value (a batch id `b\n1` reads back as `b`, and a replay under the
    * same id commits a second copy).
    */
  private[ext] def requireOneLine(what: String, s: String): Unit =
    require(!s.exists(c => c == '\n' || c == '\r'),
      s"$what holds a line break: ${enc(s)}")

  /** Stage `lines` and publish them as `_manifest/<name>` with an atomic
    * CREATE-IF-ABSENT, returning whether this writer won. Not
    * exists-then-rename: on the local filesystem FileSystem.rename maps
    * to POSIX rename(2), which silently REPLACES an existing
    * destination, so two racing committers could both pass the exists
    * check and the second would overwrite the first (lost commit).
    * link(2) IS atomic create-if-absent, so for file:// we hardlink the
    * staged file into place and let FileAlreadyExistsException signal
    * the lost race. Elsewhere keep rename: HDFS rename refuses an
    * existing destination atomically; object stores without that need a
    * lock service (Delta's documented caveat).
    */
  private def publishLog(f: org.apache.hadoop.fs.FileSystem, dir: String,
                         name: String, lines: Seq[String]): Boolean = {
    f.mkdirs(p(manifestDir(dir)))
    val tmp = p(s"${manifestDir(dir)}/.tmp-${java.util.UUID.randomUUID()}")
    val out = f.create(tmp, true)
    try out.write(lines.mkString("\n").getBytes("UTF-8"))
    finally out.close()
    val target = p(s"${manifestDir(dir)}/$name")
    val won =
      if ("file".equalsIgnoreCase(f.getUri.getScheme)) {
        try {
          java.nio.file.Files.createLink(
            new java.io.File(target.toUri.getPath).toPath,
            new java.io.File(tmp.toUri.getPath).toPath)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else !f.exists(target) && f.rename(tmp, target)
    f.delete(tmp, false)
    won
  }

  /** Write a full checkpoint of `s` as `v<version>`: the delta from the
    * empty table. Best-effort and race-tolerant: the delta for the
    * version is the commit of record, so a lost race (another committer
    * checkpointed the same version — byte-identical content) or an I/O
    * failure here costs only replay speed, never correctness.
    */
  private[ext] def writeCheckpoint(spark: SparkSession, dir: String,
                              s: Snapshot): Unit =
    try {
      publishLog(fs(spark, dir), dir, ckptName(s.version),
        deltaLines(Snapshot.empty, s))
      // advance the pointer even on a lost publish race — the content
      // at this version is byte-identical whoever wrote it
      writeLastCheckpoint(spark, dir, s.version)
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Force a checkpoint of the current head — LOG COMPACTION on demand
    * (the commit path already checkpoints every [[CheckpointInterval]]
    * versions). Returns the checkpointed version (0 = empty table,
    * nothing written).
    */
  def checkpoint(spark: SparkSession, dir: String): Long = {
    val s = snapshot(spark, dir)
    if (s.version > 0L) writeCheckpoint(spark, dir, s)
    s.version
  }

  /** LOG RETENTION — the other half of what keeps `_manifest/` bounded
    * (the pointer stops per-query LISTs; this stops the directory
    * itself growing forever: a 10 s-cadence streaming sink writes ~3M
    * log names a year). Deletes every log file STRICTLY BELOW the
    * newest checkpoint at or below `head - retainVersions`, then bumps
    * the pointer there, so:
    *
    *   - every version in the retained window still resolves (the
    *     oldest surviving file is a full checkpoint; all deltas above
    *     it survive) — time travel, the feeds and the streaming source
    *     keep working over `[keepFrom, head]`;
    *   - versions below it become UNRESOLVABLE — the documented
    *     retention contract (Delta's `logRetentionDuration`). Their
    *     CDC/DV sidecars lose their last reference and the next
    *     [[vacuum]] sweeps them past its grace window.
    *
    * Run it with [[vacuum]] as table maintenance. Returns the number of
    * log files deleted (0 when no checkpoint is old enough — including
    * always on a pre-checkpoint table, whose whole log is younger than
    * one interval).
    */
  def expireLog(spark: SparkSession, dir: String,
                retainVersions: Long = 1000L): Int = {
    require(retainVersions >= 0L, "retainVersions must be >= 0")
    val f = fs(spark, dir)
    val log = listLog(spark, dir) // maintenance pass: the one full LIST
    // a TAG pins its version's resolvability: the expiry floor never
    // rises past the oldest tagged version, whatever retainVersions says
    val oldestTag = tags(snapshot(spark, dir)).values
      .foldLeft(Long.MaxValue)(math.min)
    val cutoff = math.min(log.head - retainVersions, oldestTag)
    val keepFrom = log.ckpt.keysIterator.filter(_ <= cutoff)
      .foldLeft(0L)(math.max)
    if (keepFrom <= 0L) return 0
    val doomed =
      log.ckpt.filter(_._1 < keepFrom).values ++
        log.delta.filter(_._1 < keepFrom).values
    val n = doomed.count { st => f.delete(st.getPath, false) }
    writeLastCheckpoint(spark, dir, keepFrom)
    n
  }

  /** CAS loop: read head, apply `update` (None = no-op), publish the
    * commit's DELTA ([[deltaLines]] — O(change) lines, the set
    * difference between the head and the callback's result); a lost
    * create-if-absent means another commit won — re-read and retry.
    * After winning, the applied snapshot is cached (derived by REPLAYING
    * the just-written delta, so cache and readers can never disagree)
    * and every [[CheckpointInterval]]-th version also writes a full
    * checkpoint. Returns true if this call committed.
    */
  @tailrec
  private[ext] final def commit(spark: SparkSession, dir: String)
                          (update: Snapshot => Option[Snapshot])
  : Boolean = {
    val f = fs(spark, dir)
    val old = snapshot(spark, dir)
    update(old) match {
      case None => false
      case Some(next0) =>
        val next = old.version + 1
        val lines = deltaLines(old, next0)
        if (!publishLog(f, dir, deltaName(next), lines))
          commit(spark, dir)(update) // lost the race: retry on new head
        else {
          val applied = applyDelta(old, parseLog(lines.toList), next)
          // key the cache entry as a later resolve's listing will (v-1's
          // identity folded in, checkpoint file preferred) so the next
          // read resolves warm; extra getFileStatus on the WRITE path only
          val prevV = Some(old.version).filter(_ > 0L)
          val prevC = prevV.flatMap(u => logStat(f, dir, ckptName(u)).map(u -> _))
          val prevD = if (prevC.isDefined) None
                      else prevV.flatMap(u => logStat(f, dir, deltaName(u)).map(u -> _))
          cachePut(cacheKey(dir, next, LogFiles(prevC.toMap,
            prevD.toMap ++ logStat(f, dir, deltaName(next)).map(next -> _))),
            applied)
          if (next % CheckpointInterval == 0L)
            writeCheckpoint(spark, dir, applied)
          true
        }
    }
  }

  /** The sidecar names ANY log file references: `_cdc/` dirs (`cdc:`
    * lines) and `_dv/` datasets (`dv:` lines, second field) — the
    * conservative liveness sets vacuum sweeps against. One raw line scan,
    * no snapshot resolution: O(versions) small reads, never
    * O(files x versions) parse work.
    */
  private[ext] def referencedSidecars(spark: SparkSession, dir: String)
  : (Set[String], Set[String]) = {
    val f = fs(spark, dir)
    val md = p(manifestDir(dir))
    if (!f.exists(md)) return (Set.empty, Set.empty)
    val (cdc, dv) = f.listStatus(md).iterator
      .filter(s => s.isFile && s.getPath.getName.matches("[vd]\\d{8,}"))
      .flatMap(s => readLogLines(spark, dir, s.getPath.getName))
      .filter(l => l.startsWith("cdc:") || l.startsWith("dv:")).toList
      .partition(_.startsWith("cdc:"))
    (cdc.map(_.drop(4)).toSet, dv.map(_.drop(3).split("\t", -1)(1)).toSet)
  }
}
