package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** ROW-LEVEL OPERATIONS of [[ManifestTable]] — the copy-on-write and
  * merge-on-read mutation family (DELETE/UPDATE, their deletion-vector
  * variants, OVERWRITE, MERGE in all its shapes), split out of the core
  * object for navigability. Mixed into `object ManifestTable`; every
  * member keeps its name, signature and semantics — the module boundary
  * is purely textual. Shared machinery (read primitives, staging,
  * pruning, the commit CAS) lives in the core and is reached through
  * the self-type.
  */
private[ext] trait ManifestRowOps { this: ManifestTable.type =>

  // ---------------------------------------------- row-level operations
  //
  // COPY-ON-WRITE, the Delta/Iceberg v1 strategy: data files are
  // immutable, so changing SOME rows means rewriting the files that hold
  // them and swapping old-for-new in one manifest commit. The whole
  // game at 100 TB is touching as few files as possible — candidate
  // selection runs through the same [[Skipping]] stats + bloom pruning
  // as reads, so after a clustered compaction a selective DELETE/UPDATE
  // rewrites O(matching files), not O(table). Every op:
  //
  //   - records its `opId` in the absorbed-batch set — a crash-replayed
  //     op is a no-op, same effectively-once contract as [[append]];
  //   - rewrites INVISIBLY (stage → data/ under new UUID names) and
  //     becomes visible only at the manifest swap — a crash mid-rewrite
  //     leaves orphans for [[vacuum]], never a half-applied op;
  //   - ABORTS (returns false, rewrite orphaned) if a concurrent
  //     rewrite already replaced one of its candidate files — committing
  //     anyway would resurrect rows the other rewrite removed, the same
  //     lost-update hazard [[compact]] aborts on.


  /** Write `out` (None = no rewritten rows) to new data files and swap
    * them for `candidates` in one commit, recording `opId` and `op`.
    * `cdc` (rows already carrying `_change_type`) lands as a sidecar
    * dataset under `_cdc/<uuid>` BEFORE the swap and is referenced by
    * the commit's `cdc:` manifest line — a crash strands an orphan
    * sidecar, never a commit claiming changes it didn't write. The
    * rewritten files carry the table's declared sketches ([[land]]).
    */
  private def cowCommit(spark: SparkSession, dir: String, snap: Snapshot,
                        candidates: Seq[String], out: Option[DataFrame],
                        op: String, opId: String, beforeSwap: () => Unit,
                        cdc: Option[DataFrame] = None): Boolean = {
    val landed = out.fold(Landed.empty)(df => land(spark, dir,
      toPhysical(snap, df), snap.partitionCols, snap.bloomCols, snap.ndvCols))
    val cdcName = cdc.map { changes =>
      // _change_type is RESERVED when CDC is on: a table column of that
      // name would be silently replaced in the sidecar, corrupting the
      // feed — fail the op instead
      require(!out.exists(_.columns.exists(c =>
        c.equalsIgnoreCase("_change_type"))),
        "CDC reserves the column name _change_type; this table has one")
      val name = java.util.UUID.randomUUID().toString
      // sidecars bind by PHYSICAL names, exactly like data files, so a
      // later column rename costs recorded history nothing
      toPhysical(snap, changes).write.parquet(s"${cdcDir(dir)}/$name")
      name
    }
    beforeSwap()
    // the op's own terminal decision starts HERE: clear any conflict
    // signal a NESTED row op (another write on this thread inside the
    // caller's closure, or the beforeSwap callback) left behind, so a
    // decline below (replayed opId, CAS-lost-but-applied) can never
    // read as this op's conflict and trigger a spurious rebase
    opConflicted.set(false)
    commit(spark, dir) { old =>
      if (old.batchIds.contains(opId)) None // replayed op: already applied
      // conflict: a candidate vanished, or a deletion vector landed on
      // one after we read it (our rewrite would resurrect its rows)
      else if (candidates.exists(c => !old.files.contains(c) ||
        old.dvs.getOrElse(c, Seq.empty) != snap.dvs.getOrElse(c, Seq.empty))) {
        opConflicted.set(true); None
      }
      // rewrites read through the DV-applied view, so the rewritten
      // candidates' deletion vectors are retired with their files
      else Some(landed.into(old, replaced = candidates).copy(
        batchIds = old.batchIds + opId,
        // a row-level op never changes the schema, but a table CREATED
        // by one (merge into an empty table) must still record it —
        // otherwise later appends adding columns would silently lose
        // them to the first footer's schema on read
        schemaJson = old.schemaJson.orElse(
          out.flatMap(df => mergedSchemaJson(old, df.schema))),
        op = op, cdcPath = cdcName))
    }
  }

  /** OPTIMISTIC REBASE for the row-level family: re-executes `op`
    * against the fresh head when it conflict-aborts, up to `attempts`
    * times, then raises loudly. Sound for every op in this module
    * because they are DETERMINISTIC FUNCTIONS OF THE HEAD — a
    * re-execution recomputes candidates, positions and rewrites from
    * the post-winner snapshot, which is exactly the serializable
    * "loser ran after the winner" order (Delta's commit-retry resolves
    * the same races the same way). Two writers touching DISJOINT files
    * already both land without coming here (the conflict check is
    * per-candidate); this wrapper buys the SAME-FILE disjoint-row
    * races — a DV delete and an UPDATE hitting different rows of one
    * file — at the price of one re-execution.
    *
    * The loop keys on the CONFLICT SIGNAL the abort branches raise
    * (a thread-local, set exactly where a commit callback refuses
    * because a candidate was rewritten or re-DV'd): `true` =
    * committed; `false` without the signal = the op declined for its
    * own reasons (replayed opId, empty candidates, an unmatched
    * tombstone batch) — done, NOT a conflict; `false` with the signal
    * = a genuine conflict abort worth rebasing. Exhausted attempts
    * raise [[java.util.ConcurrentModificationException]] — never a
    * silent drop of a mutation the caller asked for.
    */
  def retryOnConflict(spark: SparkSession, dir: String, opId: String,
                      attempts: Int = 3)(op: => Boolean): Boolean = {
    var left = math.max(0, attempts)
    while (true) {
      opConflicted.set(false)
      if (op) return true
      if (!opConflicted.get) return false
      if (left == 0)
        throw new java.util.ConcurrentModificationException(
          s"row-level op $opId on $dir still conflicting after " +
            s"$attempts rebase attempts — concurrent writers keep " +
            "touching its candidate files; retry later or coordinate " +
            "the writers")
      left -= 1
    }
    false // unreachable
  }

  /** Raised by the row ops' conflict-abort branches so
    * [[retryOnConflict]] can tell a conflict from an op that declined
    * for its own reasons. Row ops run synchronously on the calling
    * thread, so a thread-local carries the signal exactly one
    * attempt's distance.
    */
  private[ext] val opConflicted: ThreadLocal[Boolean] =
    ThreadLocal.withInitial(() => false)

  /** A row op declining for its OWN reasons (replayed opId, empty
    * candidates, nothing to do): clear the conflict signal first, so a
    * NESTED op's conflict inside the caller's closure can never bleed
    * into this op's verdict (the [[retryOnConflict]] contract — false
    * without the signal means "done, not a conflict").
    */
  private def declined(): Boolean = { opConflicted.set(false); false }

  /** DELETE FROM the table: rows where `predicateSql` is TRUE are
    * removed (FALSE or NULL survive — SQL DELETE semantics). Only the
    * files whose stats/blooms admit a match are rewritten; files the
    * pruning PROVES clean are never read, let alone rewritten; and a
    * candidate whose stats prove EVERY row matches
    * ([[Skipping.provesAll]] — a whole-partition or whole-band delete)
    * is dropped from the manifest outright, never read OR rewritten.
    * `DELETE WHERE lang = 'de'` on a lang-partitioned 100 TB table is
    * therefore a pure metadata commit: zero data I/O, O(dropped files)
    * manifest lines. Returns true if this call committed; false =
    * replayed `opId` (already applied) or a conflicting concurrent
    * rewrite (nothing applied — re-run against the new head if the
    * delete is still wanted).
    *
    * `cdc = true` additionally records the deleted rows as a CDC sidecar
    * (`_change_type = "delete"`), making the commit consumable by
    * [[changesBetween]] — one extra filtered pass over the candidate
    * files, nothing over the rest of the table. (CDC must enumerate the
    * dropped rows, so whole-file drops are read once for the sidecar —
    * still write-free on the data path.)
    */
  def deleteWhere(spark: SparkSession, dir: String, predicateSql: String,
                  opId: String, beforeSwap: () => Unit = () => (),
                  cdc: Boolean = false): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not}
    val snap = snapshot(spark, dir)
    if (snap.batchIds.contains(opId)) return declined()
    val candidates = keptFiles(spark, dir, snap, predicateSql)
    // METADATA-ONLY split: stats proving a full match mean the file's
    // DV-invisible rows are deleted too by dropping it — sound, they
    // were already invisible. Conflict detection below still covers
    // these files (a racing DV or rewrite aborts the commit).
    val predE = toPhysicalExpr(snap, resolveStructPaths(snap,
      spark.sessionState.sqlParser.parseExpression(predicateSql)))
    val (whole, partial) = candidates.partition(f =>
      snap.stats.get(f).exists(st => Skipping.provesAll(predE, st)))
    val cond = coalesce(expr(predicateSql), lit(false))
    // CDC needs the partial candidates TWICE (survivors + deleted rows):
    // persist the one read so the second pass hits the cache, not the
    // files — a CDC delete costs the same candidate I/O as a plain one
    val candDf =
      if (partial.isEmpty) None
      else Some(readFiles(spark, dir, snap, partial))
    if (cdc) candDf.foreach(_.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      val out = candDf.map(_.where(not(cond)))
      val changes =
        if (!cdc) None
        else {
          val wholeDf =
            if (whole.isEmpty) None
            else Some(readFiles(spark, dir, snap, whole))
          (candDf.map(_.where(cond)).toSeq ++ wholeDf)
            .reduceOption(_.unionByName(_))
            .map { dels =>
              // checked here too: on an all-whole delete cowCommit's
              // out-based reserve check has nothing to inspect
              require(!dels.columns.exists(c =>
                c.equalsIgnoreCase("_change_type")),
                "CDC reserves the column name _change_type; this table has one")
              dels.withColumn("_change_type", lit("delete"))
            }
        }
      cowCommit(spark, dir, snap, candidates, out, "delete", opId,
        beforeSwap, changes)
    } finally if (cdc) candDf.foreach(_.unpersist(false))
  }

  /** UPDATE ... SET: rows where `predicateSql` is TRUE get each `set`
    * column replaced by its SQL expression (evaluated against the OLD
    * row, as in SQL UPDATE); other rows pass through byte-identical.
    * `set` columns must already exist — an UPDATE is not a schema
    * change — and the new value is cast back to the column's type so
    * the table schema cannot drift. Same pruning, idempotence and
    * conflict contract as [[deleteWhere]].
    */
  def updateWhere(spark: SparkSession, dir: String, predicateSql: String,
                  set: Map[String, String], opId: String,
                  beforeSwap: () => Unit = () => (),
                  cdc: Boolean = false): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, when}
    require(set.nonEmpty, "updateWhere needs at least one SET column")
    val snap = snapshot(spark, dir)
    if (snap.batchIds.contains(opId)) return declined()
    rejectGeneratedAssign(snap, set.keys, "updateWhere")
    val candidates = keptFiles(spark, dir, snap, predicateSql)
    val cond = coalesce(expr(predicateSql), lit(false))
    // the SET projection against the OLD row; `onlyMatched` restricts it
    // to matching rows (the CDC postimage), otherwise pass-through rows
    // keep their values
    def applied(df: DataFrame, onlyMatched: Boolean): DataFrame = {
      set.keys.foreach(k => require(
        df.schema.fields.exists(_.name.equalsIgnoreCase(k)),
        s"updateWhere SET column $k does not exist (UPDATE is not a schema change)"))
      val base = if (onlyMatched) df.where(cond) else df
      val out = base.select(base.schema.fields.map { fd =>
        set.find(_._1.equalsIgnoreCase(fd.name)) match {
          case Some((_, e)) =>
            (if (onlyMatched) expr(e).cast(fd.dataType)
             else when(cond, expr(e).cast(fd.dataType)).otherwise(col(fd.name)))
              .as(fd.name)
          case None => col(fd.name)
        }
      }.toSeq: _*)
      // generated columns refresh from their (possibly updated)
      // sources; identity on pass-through rows by the stored invariant
      recomputeGenerated(snap, out)
    }
    // CDC scans the candidates three times (pass-through rewrite,
    // preimages, postimages): persist the one read so every pass past
    // the first is a cache hit — same candidate I/O as a plain update
    val candDf =
      if (candidates.isEmpty) None
      else Some(readFiles(spark, dir, snap, candidates))
    if (cdc) candDf.foreach(_.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      // only the CHANGED rows need constraint validation (pass-through
      // rows already satisfy the table's invariants)
      candDf.foreach { df =>
        val chg = applied(df, onlyMatched = true)
        enforceConstraints(chg, withNotNull(snap, chg, snap.constraints),
          "updateWhere")
      }
      val out = candDf.map(applied(_, onlyMatched = false))
      val changes =
        if (!cdc) None
        else candDf.map(df => df.where(cond)
          .withColumn("_change_type", lit("update_preimage"))
          .unionByName(applied(df, onlyMatched = true)
            .withColumn("_change_type", lit("update_postimage"))))
      cowCommit(spark, dir, snap, candidates, out, "update", opId,
        beforeSwap, changes)
    } finally if (cdc) candDf.foreach(_.unpersist(false))
  }

  // ------------------------------------------ merge-on-read (DV) ops
  //
  // Copy-on-write makes a 1-row delete rewrite whole files — on a 100 TB
  // table with 512 MB files a point delete is a 512 MB rewrite. The
  // MERGE-ON-READ strategy (Delta's deletion vectors, Iceberg's
  // positional deletes) writes O(matched rows) instead: a sidecar of
  // (file, position) pairs the readers anti-join away. Reads get a
  // broadcast anti-join per DV'd file until [[compact]] rewrites the
  // file and RETIRES its vectors — write cost proportional to the
  // change, read cost amortized away at the next compaction. Same
  // pruning (only candidate files are scanned to find matches), same
  // opId idempotence, same conflict-abort, same CDC contract as the
  // copy-on-write ops.

  /** Commit that changes NO data (zero matches / zero candidates): the
    * opId must still be absorbed so a crash-replay of the op stays a
    * no-op, and the op kind recorded for feed provenance.
    */
  private def emptyOpCommit(spark: SparkSession, dir: String, op: String,
                            opId: String): Boolean = {
    opConflicted.set(false) // terminal decision: drop nested-op signals
    commit(spark, dir) { old =>
      if (old.batchIds.contains(opId)) None
      else Some(old.copy(batchIds = old.batchIds + opId, op = op,
        cdcPath = None))
    }
  }

  /** `set` applied to every row of `df` (expressions see the OLD row;
    * values cast back to the column's type — SQL UPDATE semantics).
    */
  private def applySet(df: DataFrame, set: Map[String, String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    set.keys.foreach(k => require(
      df.schema.fields.exists(_.name.equalsIgnoreCase(k)),
      s"SET column $k does not exist (UPDATE is not a schema change)"))
    df.select(df.schema.fields.map { fd =>
      set.find(_._1.equalsIgnoreCase(fd.name)) match {
        case Some((_, e)) => expr(e).cast(fd.dataType).as(fd.name)
        case None => col(fd.name)
      }
    }.toSeq: _*)
  }

  /** Bare-file-name → manifest-entry resolver for the DV ops: the
    * position scan identifies files by `_metadata.file_path`'s last
    * segment, but the dvs map (and the readers that consult it) key by
    * the manifest ENTRY — a bare UUID name for ordinary files, an
    * ABSOLUTE path for shallow-cloned ones (ADVICE r20 #3: recording
    * under the bare name made every DV op on a clone a silent no-op).
    * Entries end in UUID file names, so the basename is unique within
    * one candidate set; a collision (two entries sharing a name) cannot
    * be resolved and raises loudly rather than mis-keying a vector.
    */
  private def dvEntryResolver(candidates: Seq[String],
                              what: String): String => String = {
    val byName = candidates.groupBy(_.split('/').last)
    byName.find(_._2.size > 1).foreach { case (n, es) =>
      throw new IllegalStateException(
        s"$what: candidate entries ${es.mkString(", ")} share the file " +
          s"name $n — deletion vectors cannot disambiguate them")
    }
    (name: String) => byName.get(name).map(_.head).getOrElse(name)
  }

  /** True when two candidate entries share a basename — the one shape
    * deletion-vector keying cannot disambiguate (two shallow clones
    * carrying a same-named file, composed into one table). The DV ops
    * detect it UP FRONT and fall back to the copy-on-write path: only
    * the DV keying is ambiguous, not the operation, so failing the
    * statement would be needlessly loud (ADVICE r21 #3).
    */
  private[graft] def dvBasenameCollision(candidates: Seq[String]): Boolean =
    candidates.groupBy(_.split('/').last).exists(_._2.size > 1)

  private def warnDvFallback(what: String, dir: String): Unit =
    org.slf4j.LoggerFactory.getLogger(getClass).warn(
      s"$what on $dir: candidate entries share a file basename; deletion " +
        "vectors cannot key them — falling back to the copy-on-write path")

  /** DELETE FROM, merge-on-read: same row semantics, idempotence and
    * conflict contract as [[deleteWhere]], but the matched rows' file
    * positions land as ONE deletion-vector sidecar (O(matched rows)
    * bytes) and no data file is rewritten — the point-delete path for
    * tables where a CoW rewrite would dwarf the change. Readers apply
    * the vector; [[compact]] retires it. `cdc = true` records the
    * deleted rows exactly as the CoW delete does.
    */
  def deleteWhereDV(spark: SparkSession, dir: String, predicateSql: String,
                    opId: String, beforeSwap: () => Unit = () => (),
                    cdc: Boolean = false): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    val snap = snapshot(spark, dir)
    if (snap.batchIds.contains(opId)) return declined()
    val candidates = keptFiles(spark, dir, snap, predicateSql)
    if (candidates.isEmpty)
      return emptyOpCommit(spark, dir, "delete", opId)
    if (dvBasenameCollision(candidates)) {
      warnDvFallback("deleteWhereDV", dir)
      return deleteWhere(spark, dir, predicateSql, opId, beforeSwap,
        cdc = cdc)
    }
    // a candidate whose stats prove EVERY row matches is DROPPED from
    // the manifest instead of DV'd — a deletion vector naming all of a
    // file's positions is strictly worse than removing the file (same
    // visibility, plus per-read anti-join rent until a purge). Same
    // metadata-only split as the CoW delete.
    val predE = toPhysicalExpr(snap, resolveStructPaths(snap,
      spark.sessionState.sqlParser.parseExpression(predicateSql)))
    val (whole, partial) = candidates.partition(f =>
      snap.stats.get(f).exists(st => Skipping.provesAll(predE, st)))
    val cond = coalesce(expr(predicateSql), lit(false))
    val fm = "_graft_meta_file"
    val pm = "_graft_meta_pos"
    // `fm` carries the data file's NAME (the last path segment); the
    // manifest entry of a SHALLOW-CLONED file is an ABSOLUTE path, so
    // the dvs map must be keyed back through the entry or readers —
    // which look up `snap.dvs(<entry>)` — would never see the vector
    // and the "deleted" rows would stay visible (ADVICE r20 #3)
    val entryOf = dvEntryResolver(partial, "deleteWhereDV")
    val matched =
      if (partial.isEmpty) None
      else Some(readWithPos(spark, dir, snap, partial, fm, pm)
        .where(cond)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      val counts = matched.map(_.groupBy(col(fm)).count().collect()
        .map(r => entryOf(r.getString(0)) -> r.getLong(1)).toMap)
        .getOrElse(Map.empty[String, Long])
      if (counts.isEmpty && whole.isEmpty)
        return emptyOpCommit(spark, dir, "delete", opId)
      val dvName =
        if (counts.isEmpty) None
        else {
          val name = java.util.UUID.randomUUID().toString
          // written from the matched scan's own partitioning: no
          // shuffle, no single-task funnel — a wide delete's positions
          // land in parallel (a point delete occupies one task anyway)
          matched.get.select(col(fm).as(DvFileCol), col(pm).as(DvPosCol))
            .write.parquet(s"${dvDir(dir)}/$name")
          Some(name)
        }
      val cdcName =
        if (!cdc) None
        else {
          val wholeDf =
            if (whole.isEmpty) None
            else Some(readFiles(spark, dir, snap, whole))
          (matched.map(_.drop(fm, pm)).toSeq ++ wholeDf)
            .reduceOption(_.unionByName(_)).map { dels =>
              require(!dels.columns.exists(c =>
                c.equalsIgnoreCase("_change_type")),
                "CDC reserves the column name _change_type; this table has one")
              val name = java.util.UUID.randomUUID().toString
              toPhysical(snap, dels.withColumn("_change_type",
                  lit("delete")))
                .write.parquet(s"${cdcDir(dir)}/$name")
              name
            }
        }
      beforeSwap()
      opConflicted.set(false) // terminal decision: drop nested-op signals
      commit(spark, dir) { old =>
        if (old.batchIds.contains(opId)) None
        // conflict: a candidate was rewritten away, or another DV landed
        // on one after we computed positions (ours could double-mark)
        else if (candidates.exists(c => !old.files.contains(c) ||
          old.dvs.getOrElse(c, Seq.empty) != snap.dvs.getOrElse(c, Seq.empty))) {
          opConflicted.set(true); None
        }
        else Some(old.copy(
          files = old.files.filterNot(whole.contains),
          stats = old.stats -- whole,
          sizes = old.sizes -- whole,
          pvals = old.pvals -- whole,
          ndv = old.ndv -- whole,
          batchIds = old.batchIds + opId,
          dvs = counts.foldLeft(old.dvs -- whole) {
            case (acc, (file, n)) =>
              acc.updated(file, acc.getOrElse(file, Seq.empty) :+
                DvRef(dvName.get, n))
          },
          op = "delete", cdcPath = cdcName))
      }
    } finally matched.foreach(_.unpersist(false))
  }

  /** UPDATE ... SET, merge-on-read: the matched rows' positions land as
    * a deletion vector and their REWRITTEN versions append as new files
    * — O(matched rows) written, unmatched rows never touched (the CoW
    * update rewrites whole candidate files even when one row matched).
    * Same SET semantics, idempotence, conflict and CDC contract as
    * [[updateWhere]].
    */
  def updateWhereDV(spark: SparkSession, dir: String, predicateSql: String,
                    set: Map[String, String], opId: String,
                    beforeSwap: () => Unit = () => (),
                    cdc: Boolean = false): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit}
    require(set.nonEmpty, "updateWhereDV needs at least one SET column")
    val snap = snapshot(spark, dir)
    if (snap.batchIds.contains(opId)) return declined()
    rejectGeneratedAssign(snap, set.keys, "updateWhereDV")
    val candidates = keptFiles(spark, dir, snap, predicateSql)
    if (candidates.isEmpty)
      return emptyOpCommit(spark, dir, "update", opId)
    if (dvBasenameCollision(candidates)) {
      warnDvFallback("updateWhereDV", dir)
      return updateWhere(spark, dir, predicateSql, set, opId, beforeSwap,
        cdc)
    }
    val cond = coalesce(expr(predicateSql), lit(false))
    val fm = "_graft_meta_file"
    val pm = "_graft_meta_pos"
    // same entry resolution as deleteWhereDV: a shallow-cloned file's
    // manifest entry is an absolute path while `fm` is the bare name —
    // the dvs map must be keyed by the entry readers look up
    val entryOf = dvEntryResolver(candidates, "updateWhereDV")
    val matched = readWithPos(spark, dir, snap, candidates, fm, pm)
      .where(cond)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = matched.groupBy(col(fm)).count().collect()
        .map(r => entryOf(r.getString(0)) -> r.getLong(1)).toMap
      if (counts.isEmpty)
        return emptyOpCommit(spark, dir, "update", opId)
      val updated = recomputeGenerated(snap,
        applySet(matched.drop(fm, pm), set))
      enforceConstraints(updated,
        withNotNull(snap, updated, snap.constraints), "updateWhereDV")
      val dvName = java.util.UUID.randomUUID().toString
      // no coalesce(1): parallel positions write, same as deleteWhereDV
      matched.select(col(fm).as(DvFileCol), col(pm).as(DvPosCol))
        .write.parquet(s"${dvDir(dir)}/$dvName")
      val landed = land(spark, dir, toPhysical(snap, updated),
        snap.partitionCols, snap.bloomCols, snap.ndvCols)
      val cdcName =
        if (!cdc) None
        else {
          require(!updated.columns.exists(c =>
            c.equalsIgnoreCase("_change_type")),
            "CDC reserves the column name _change_type; this table has one")
          val name = java.util.UUID.randomUUID().toString
          toPhysical(snap, matched.drop(fm, pm)
            .withColumn("_change_type", lit("update_preimage"))
            .unionByName(updated
              .withColumn("_change_type", lit("update_postimage"))))
            .write.parquet(s"${cdcDir(dir)}/$name")
          Some(name)
        }
      beforeSwap()
      opConflicted.set(false) // terminal decision: drop nested-op signals
      commit(spark, dir) { old =>
        if (old.batchIds.contains(opId)) None
        else if (candidates.exists(c => !old.files.contains(c) ||
          old.dvs.getOrElse(c, Seq.empty) != snap.dvs.getOrElse(c, Seq.empty))) {
          opConflicted.set(true); None
        }
        else Some(landed.into(old, replaced = Nil).copy(
          batchIds = old.batchIds + opId,
          dvs = counts.foldLeft(old.dvs) { case (acc, (file, n)) =>
            acc.updated(file, acc.getOrElse(file, Seq.empty) :+
              DvRef(dvName, n))
          },
          op = "update", cdcPath = cdcName))
      }
    } finally matched.unpersist(false)
  }


  /** INSERT OVERWRITE ... WHERE (Delta's replaceWhere): one atomic
    * commit replaces exactly the rows matching `predicateSql` with
    * `df`'s rows. Every incoming row must itself satisfy the predicate
    * — the contract that keeps the op a targeted backfill (rewrite one
    * partition/band) instead of a silent full-table overwrite;
    * violations fail loudly with a count before anything lands. File
    * work mirrors [[deleteWhere]]: candidates come from one-sided
    * pruning, candidates whose stats PROVE full coverage drop by pure
    * metadata ([[Skipping.provesAll]]), only straddling files are
    * rewritten without their matching rows, and the new data stages
    * like an append (partition layout respected, stats + blooms
    * recorded). On a lang-partitioned table
    * `overwriteWhere(df, dir, "lang = 'de'", ...)` is therefore: drop
    * the de files, write df — the partition-backfill idiom, O(replaced
    * region) at any table size. Same idempotence (opId) and
    * conflict-abort contract as the other row ops; `cdc = true` records
    * the replaced rows as deletes and `df`'s rows as inserts in one
    * sidecar.
    */
  def overwriteWhere(df0: DataFrame, dir: String, predicateSql: String,
                     opId: String, beforeSwap: () => Unit = () => (),
                     cdc: Boolean = false): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not}
    val spark = df0.sparkSession
    val snap = snapshot(spark, dir)
    if (snap.batchIds.contains(opId)) return declined()
    // generated columns: omitted/null slots compute, wrong explicit
    // values fail the synthetic check in enforceConstraints below.
    // IDENTITY columns: an overwrite REPLACES rows, so their values
    // must arrive with the data — allowed only under BY DEFAULT
    identityOf(snap).foreach { case (fd, spec) =>
      require(spec.isAllowExplicitInsert,
        s"overwriteWhere would write identity column ${fd.name} " +
          "(GENERATED ALWAYS AS IDENTITY) explicitly — declare it " +
          "GENERATED BY DEFAULT to backfill, or restore instead")
    }
    val df = fillGenerated(snap, df0)
    val cond = coalesce(expr(predicateSql), lit(false))
    val nBad = df.where(not(cond)).count()
    require(nBad == 0L,
      s"overwriteWhere: $nBad incoming row(s) do not satisfy " +
        s"[$predicateSql] — an overwrite may only write rows inside the " +
        "region it replaces")
    enforceConstraints(df, withNotNull(snap, df, snap.constraints),
      s"overwriteWhere $opId")
    // align to the table's column order and types (an overwrite is not
    // a schema change); a schema-less legacy table takes df as-is and
    // unionByName below stays the loud check
    val aligned = tableSchema(snap) match {
      case None => df
      case Some(ts) =>
        val have = df.columns.map(_.toLowerCase).toSet
        val want = ts.fields.map(_.name.toLowerCase).toSet
        require(have == want,
          s"overwriteWhere: incoming columns (${have.toSeq.sorted
            .mkString(", ")}) do not match the table's (${want.toSeq.sorted
            .mkString(", ")}) — an overwrite is not a schema change")
        // cast only on a REAL type difference: Spark refuses casts that
        // merely tighten container nullability (array<float> with
        // containsNull=true -> false), and column values written under
        // the looser shape are already valid under it
        df.select(ts.fields.map { f =>
          val in = df.schema.fields
            .find(_.name.equalsIgnoreCase(f.name)).get.dataType
          if (org.apache.spark.sql.graft.GraftSqlShims
              .sameTypeIgnoreNullability(in, f.dataType)) col(f.name)
          else col(f.name).cast(f.dataType).as(f.name)
        }: _*)
    }
    if (cdc) require(!aligned.columns.exists(c =>
      c.equalsIgnoreCase("_change_type")),
      "CDC reserves the column name _change_type; this table has one")
    val candidates = keptFiles(spark, dir, snap, predicateSql)
    val predE = toPhysicalExpr(snap, resolveStructPaths(snap,
      spark.sessionState.sqlParser.parseExpression(predicateSql)))
    val (whole, partial) = candidates.partition(f =>
      snap.stats.get(f).exists(st => Skipping.provesAll(predE, st)))
    val candDf =
      if (partial.isEmpty) None
      else Some(readFiles(spark, dir, snap, partial))
    if (cdc) candDf.foreach(_.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      val out = (candDf.map(_.where(not(cond))).toSeq :+ aligned)
        .reduceOption(_.unionByName(_))
      val changes =
        if (!cdc) None
        else {
          val wholeDf =
            if (whole.isEmpty) None
            else Some(readFiles(spark, dir, snap, whole))
          val dels = (candDf.map(_.where(cond)).toSeq ++ wholeDf)
            .reduceOption(_.unionByName(_))
            .map(_.withColumn("_change_type", lit("delete")))
          val ins = aligned.withColumn("_change_type", lit("insert"))
          Some(dels.map(_.unionByName(ins)).getOrElse(ins))
        }
      cowCommit(spark, dir, snap, candidates, out, "overwrite", opId,
        beforeSwap, changes)
    } finally if (cdc) candDf.foreach(_.unpersist(false))
  }

  /** MERGE (upsert) `source` into the table on `keyCols`: a table row
    * whose key matches a source row is REPLACED by it; source rows with
    * no match are INSERTED — `WHEN MATCHED THEN UPDATE SET * / WHEN NOT
    * MATCHED THEN INSERT *`. NULL keys never match (SQL equality), so a
    * null-keyed source row always inserts. The caller dedups the source:
    * duplicate source keys land as duplicate rows, as a multi-match
    * MERGE would error anyway.
    *
    * File selection: candidate files are pruned with a predicate built
    * FROM THE SOURCE'S KEYS — an exact IN list (stats + bloom pruning,
    * the point-lookup path) when the source has at most `maxProbeKeys`
    * distinct keys of integral/string type, else per-column [min, max]
    * range conjuncts (stats pruning). Either way the pruning is
    * one-sided: a file is skipped only on proof it holds no matching
    * key, so untouched files provably contain no matched row. On a
    * clustered 100 TB table a small upsert batch rewrites a handful of
    * files; the table is never scanned.
    *
    * The rewrite anti-joins candidates against the distinct source keys
    * (one shuffle on the key, or a broadcast when Spark sizes the key
    * set small) and appends the source aligned to the table's column
    * order — missing source columns are a loud error, extra ones too:
    * MERGE is not a schema change. Same idempotence and conflict
    * contract as [[deleteWhere]].
    */
  /** The candidate files a SOURCE-KEYED row op must rewrite — every
    * file that can hold a key from `keyDf`. The pruning predicate is
    * built as CATALYST EXPRESSIONS (never a SQL string round-trip:
    * Spark's parser processes backslash escapes inside quoted literals,
    * so a string key containing '\' would parse to a DIFFERENT bound
    * and prune files that hold real matches): an exact IN probe for a
    * small key set of bloom-able type, else [min, max] range conjuncts
    * per key column. `keptForPredicate` consumes the expressions
    * directly, the same entry point the planner's pushed filters use.
    * Shared by [[merge]] and [[deleteMatching]].
    */
  private def sourceKeyCandidates(spark: SparkSession, dir: String,
                                  snap: Snapshot, keyDf: DataFrame,
                                  keyCols: Seq[String],
                                  tSchema: org.apache.spark.sql.types.StructType,
                                  maxProbeKeys: Int): Seq[String] = {
    import org.apache.spark.sql.functions.{col, max, min}
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.{expressions => ce}
    def attr(k: String) = UnresolvedAttribute(Seq(k))
    def cLit(v: Any): Option[ce.Literal] =
      try Some(ce.Literal(v))
      catch { case scala.util.control.NonFatal(_) => None }
    def probeType(k: String): Boolean =
      tSchema.fields.find(_.name.equalsIgnoreCase(k)).exists(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType => true
        case _ => false
      })
    val smallKeys =
      if (keyCols.size == 1 && probeType(keyCols.head)) {
        val rows = keyDf.filter(col(keyCols.head).isNotNull)
          .limit(maxProbeKeys + 1).collect()
        if (rows.length <= maxProbeKeys) Some(rows.map(_.get(0)).toSeq)
        else None
      } else None
    // None = all source keys NULL (no row can match: zero candidates);
    // Some(None) = nothing provable (keep every file); Some(Some(e)) =
    // prune with e
    val pred: Option[Option[ce.Expression]] = smallKeys match {
      case Some(keys) if keys.isEmpty => None
      case Some(keys) =>
        val lits = keys.flatMap(cLit(_))
        Some(if (lits.size == keys.size)
          Some(ce.In(attr(keyCols.head), lits))
        else None) // an un-literal-able key value: no pruning
      case None =>
        val aggs = keyCols.flatMap(k => Seq(min(col(k)), max(col(k))))
        val b = keyDf.agg(aggs.head, aggs.tail: _*).head()
        val conjs: Seq[ce.Expression] =
          keyCols.zipWithIndex.flatMap { case (k, i) =>
            if (b.isNullAt(2 * i)) None
            else for {
              lo <- cLit(b.get(2 * i))
              hi <- cLit(b.get(2 * i + 1))
            } yield ce.And(ce.GreaterThanOrEqual(attr(k), lo),
              ce.LessThanOrEqual(attr(k), hi)): ce.Expression
          }
        Some(if (conjs.isEmpty) None
        else Some(conjs.reduce(ce.And(_, _))))
    }
    pred match {
      case None => Seq.empty[String]
      case Some(None) => snap.files
      case Some(Some(e)) =>
        keptForPredicate(spark, dir, snap, toPhysicalExpr(snap, e))
    }
  }

  /** DELETE BY SOURCE KEYS — the delete half of a CDC apply: every
    * table row whose key tuple appears in `source` goes, in one atomic
    * copy-on-write commit over the source-key-pruned candidate files
    * (same pruning as [[merge]]: an incoming tombstone batch rewrites
    * O(matched files), never the table). `cdc = true` records the
    * deleted rows as a `delete` sidecar, so a replicated table's own
    * feed stays consumable. False when the op id already committed, the
    * table is empty, or no file can hold a source key (nothing to do —
    * no empty commit).
    */
  def deleteMatching(source: DataFrame, dir: String, keyCols: Seq[String],
                     opId: String, beforeSwap: () => Unit = () => (),
                     maxProbeKeys: Int = 1024,
                     cdc: Boolean = false): Boolean = {
    import org.apache.spark.sql.functions.{col, lit}
    require(keyCols.nonEmpty, "deleteMatching needs at least one key column")
    val spark = source.sparkSession
    val snap = snapshot(spark, dir)
    if (snap.batchIds.contains(opId)) return declined()
    if (snap.files.isEmpty) return declined()
    val tSchema = tableSchema(snap).getOrElse(
      readFiles(spark, dir, snap, snap.files).schema)
    keyCols.foreach { k =>
      require(tSchema.fields.exists(_.name.equalsIgnoreCase(k)),
        s"deleteMatching key column $k is not a table column")
      require(source.columns.exists(_.equalsIgnoreCase(k)),
        s"deleteMatching key column $k is not a source column")
    }
    // key tuples in TABLE types, so the anti-join compares like for like
    val keyDf = source.select(keyCols.map { k =>
      val fd = tSchema.fields.find(_.name.equalsIgnoreCase(k)).get
      col(k).cast(fd.dataType).as(fd.name)
    }.toSeq: _*).distinct()
    val tableKeyCols = keyDf.columns.toSeq
    val candidates = sourceKeyCandidates(spark, dir, snap, keyDf,
      tableKeyCols, tSchema, maxProbeKeys)
    if (candidates.isEmpty) return declined()
    val candDf = readFiles(spark, dir, snap, candidates)
    if (cdc) candDf.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val out = candDf.join(keyDf, tableKeyCols, "left_anti")
      val changes =
        if (!cdc) None
        else Some(candDf.join(keyDf, tableKeyCols, "left_semi")
          .withColumn("_change_type", lit("delete")))
      cowCommit(spark, dir, snap, candidates, Some(out), "delete", opId,
        beforeSwap, changes)
    } finally if (cdc) candDf.unpersist(false)
  }

  def merge(source: DataFrame, dir: String, keyCols: Seq[String],
            opId: String, beforeSwap: () => Unit = () => (),
            maxProbeKeys: Int = 1024, cdc: Boolean = false): Boolean = {
    import org.apache.spark.sql.functions.{col, lit, max, min}
    import org.apache.spark.sql.types._
    require(keyCols.nonEmpty, "merge needs at least one key column")
    val spark = source.sparkSession
    val snap = snapshot(spark, dir)
    if (snap.batchIds.contains(opId)) return declined()
    val tSchema = tableSchema(snap).getOrElse(
      if (snap.files.isEmpty) source.schema
      else readFiles(spark, dir, snap, snap.files).schema)
    keyCols.foreach(k => require(
      tSchema.fields.exists(_.name.equalsIgnoreCase(k)),
      s"merge key column $k is not a table column"))
    // MERGE is not a schema change in EITHER direction: a missing source
    // column fails the select below, and an extra one is rejected here —
    // silently dropping it would lose an evolving source's data column
    // with no signal. Generated columns the source omits (or
    // null-fills) compute first — a full-row upsert must land the
    // derived value, not null. IDENTITY columns cannot be minted here
    // (the mark is append-side): GENERATED ALWAYS refuses the full-row
    // replace outright, BY DEFAULT requires the source to carry the
    // values (the user owns uniqueness — the Delta contract)
    identityOf(snap).foreach { case (fd, spec) =>
      require(spec.isAllowExplicitInsert,
        s"merge would assign identity column ${fd.name} (GENERATED " +
          "ALWAYS AS IDENTITY) from the source — route inserts through " +
          "append/INSERT, which mints values")
    }
    val source2 = fillGenerated(snap, source)
    val extra = source2.columns.filterNot(c =>
      tSchema.fields.exists(_.name.equalsIgnoreCase(c)))
    require(extra.isEmpty,
      s"merge source has columns the table lacks: ${extra.mkString(", ")} " +
        "(merge is not a schema change — append with schema evolution, " +
        "or drop them explicitly)")
    val aligned = source2.select(tSchema.fields.map(fd =>
      col(fd.name).cast(fd.dataType).as(fd.name)).toSeq: _*)
    enforceConstraints(aligned,
      withNotNull(snap, aligned, snap.constraints), "merge source")
    if (snap.files.isEmpty)
      return cowCommit(spark, dir, snap, Nil, Some(aligned), "merge", opId,
        beforeSwap,
        if (cdc) Some(aligned.withColumn("_change_type", lit("insert")))
        else None)
    val keyDf = aligned.select(keyCols.map(col).toSeq: _*).distinct()
    val candidates = sourceKeyCandidates(spark, dir, snap, keyDf, keyCols,
      tSchema, maxProbeKeys)
    val candDf =
      if (candidates.isEmpty) None
      else Some(readFiles(spark, dir, snap, candidates))
    // CDC reads the candidates twice more (matched preimages + their
    // keys): persist the one read, same contract as delete/update
    if (cdc) candDf.foreach(_.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
    val survivors = candDf.map(_.join(keyDf, keyCols.toSeq, "left_anti"))
    val out = Some(survivors.fold(aligned)(_ unionByName aligned))
    // CDC: matched target rows are update_preimage; their replacing
    // source rows update_postimage (source semi-joined on the MATCHED
    // target keys — candidate files provably hold every possible match,
    // so the join against candidates is the join against the table);
    // the remaining source rows are inserts
    val changes =
      if (!cdc) None
      else {
        val matched = candDf.map(_.join(keyDf, keyCols.toSeq, "left_semi"))
        val matchedKeys = matched.map(
          _.select(keyCols.map(col).toSeq: _*).distinct())
        val pre = matched.map(
          _.withColumn("_change_type", lit("update_preimage")))
        val post = matchedKeys.map(mk =>
          aligned.join(mk, keyCols.toSeq, "left_semi")
            .withColumn("_change_type", lit("update_postimage")))
        val ins = matchedKeys.fold(aligned)(mk =>
          aligned.join(mk, keyCols.toSeq, "left_anti"))
          .withColumn("_change_type", lit("insert"))
        Some((pre.toSeq ++ post.toSeq :+ ins).reduce(_ unionByName _))
      }
    cowCommit(spark, dir, snap, candidates, out, "merge", opId,
      beforeSwap, changes)
    } finally if (cdc) candDf.foreach(_.unpersist(false))
  }


  /** GENERAL MERGE — the full SQL `MERGE INTO` clause algebra:
    *
    *   - `matched` clauses (update with PARTIAL column SETs over both
    *     rows, or delete), each optionally conditional; first matching
    *     clause wins per target row (SQL clause-order semantics);
    *   - `notMatched` insert clauses (conditional, explicit column
    *     lists — unassigned columns null-fill);
    *   - `notMatchedBySource` update/delete clauses (target-scope only).
    *
    * Scale contract: without NOT-MATCHED-BY-SOURCE clauses the rewrite
    * scope is the SOURCE-KEY-PRUNED candidate files — same
    * [[sourceKeyCandidates]] proof as [[merge]], an upsert batch touches
    * O(matched files) never O(table). NMBS clauses quantify over every
    * target row ("rows the source does NOT name"), which no per-file
    * key stat can bound, so their presence widens the scope to the full
    * file list — inherent to the semantics (Delta pays the same full
    * scan), and the reason they are a separate argument rather than a
    * default.
    *
    * SQL cardinality rule, CLAUSE-AWARE (Delta's contract): a target
    * row RAISES only when more than one source row matches it under
    * the FULL ON condition (keys AND residue) and satisfies some
    * matched clause condition — the genuinely non-deterministic case.
    * Multiply-keyed sources whose residue or clause conditions
    * disambiguate to at most one modifying row per target (the SCD
    * idiom: `ON t.id = s.id AND s.ts > t.ts`, or mutually-exclusive
    * clause guards) commit. Cost: one aggregation over the batch-sized
    * source always; a deduplicated source pays nothing more, and only
    * a duplicate-keyed source adds a tag-join-window pass over the
    * candidate rows (raise + collapse of the fan-out to the single
    * firing pair).
    *
    * ON-condition generality: `sourceKeyCols` names the i-th SOURCE
    * column providing the i-th target key (the `ON t.id = s.src_id`
    * shape; defaults to same names), and `residueSql` carries the
    * non-equi ON conjuncts (`AND s.ts > t.ts` — the SCD idiom) in the
    * `__t_`/`__s_` prefixed namespace. MATCHED means keys equal AND
    * residue true; NOT MATCHED (either direction) quantifies over the
    * FULL ON condition. The key equalities alone drive file pruning —
    * a residue only narrows the match, so the key-candidate superset
    * proof is unchanged.
    *
    * Same opId idempotence, constraint enforcement (changed rows only),
    * conflict-abort and optional-CDC contract as [[merge]]; commits as
    * op `merge`. Returns false when replayed, conflicted, or nothing
    * could change (the opId is still absorbed by an empty commit).
    */
  def mergeGeneral(source: DataFrame, dir: String, keyCols: Seq[String],
                   matched: Seq[MergeClause], notMatched: Seq[MergeClause],
                   notMatchedBySource: Seq[MergeClause], opId: String,
                   beforeSwap: () => Unit = () => (),
                   maxProbeKeys: Int = 1024, cdc: Boolean = false,
                   sourceKeyCols: Seq[String] = Nil,
                   residueSql: Option[String] = None,
                   scopeSql: Option[String] = None): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, col, count, expr, lit, when}
    // THETA shape (no equality pair in the ON): legal with a residue —
    // MATCHED is then residue-only and the candidate scope is the whole
    // table (no key stat can bound "some source row satisfies a
    // non-equi condition"); the documented Delta-parity full-scan cost
    require(keyCols.nonEmpty || residueSql.nonEmpty,
      "mergeGeneral needs at least one key column, or (theta merge) a " +
        "residue condition")
    require(sourceKeyCols.isEmpty || sourceKeyCols.size == keyCols.size,
      "sourceKeyCols must pair 1:1 with keyCols")
    // scopeSql: a predicate over the bare table frame that every row
    // ANY clause can change provably satisfies (the SQL faces pass the
    // statement's own WHERE) — used ONLY to bound the candidate files.
    // Incompatible with insert clauses: the insert anti-join needs the
    // full key-candidate superset, which a change-scope bound is not.
    require(scopeSql.isEmpty || notMatched.isEmpty,
      "scopeSql cannot bound a merge with NOT MATCHED insert clauses")
    require(matched.forall(c => c.kind == "update" || c.kind == "delete"),
      "matched clauses must be update or delete")
    require(notMatched.forall(_.kind == "insert"),
      "not-matched clauses must be insert")
    require(notMatchedBySource.forall(c =>
      c.kind == "update" || c.kind == "delete"),
      "not-matched-by-source clauses must be update or delete")
    require((matched ++ notMatched ++ notMatchedBySource).nonEmpty,
      "mergeGeneral needs at least one clause")
    val spark = source.sparkSession
    val snap = snapshot(spark, dir)
    if (snap.batchIds.contains(opId)) return declined()
    val tSchema = tableSchema(snap).getOrElse {
      require(snap.files.nonEmpty,
        "mergeGeneral into an empty schema-less table: create the table " +
          "with a recorded schema first")
      readFiles(spark, dir, snap, snap.files).schema
    }
    def tField(c: String) = tSchema.fields.find(_.name.equalsIgnoreCase(c))
    // the i-th SOURCE column providing the i-th target key (the `ON
    // t.id = s.src_id` shape) — defaults to the same names
    val sKeys = if (sourceKeyCols.nonEmpty) sourceKeyCols else keyCols
    def sKeyOf(k: String): String = sKeys(keyCols.indexOf(k))
    keyCols.zip(sKeys).foreach { case (k, sk) =>
      require(tField(k).isDefined,
        s"mergeGeneral key column $k is not a table column")
      require(source.columns.exists(_.equalsIgnoreCase(sk)),
        s"mergeGeneral source key column $sk is not a source column")
    }
    (matched ++ notMatched ++ notMatchedBySource).foreach(_.set.foreach {
      case (c, _) => require(tField(c).isDefined,
        s"MERGE assigns column $c, which is not a table column " +
          "(merge is not a schema change)")
    })
    // UPDATE clauses may not assign GENERATED ALWAYS AS columns (they
    // recompute); INSERT clauses may carry them — wrong explicit
    // values fail the synthetic <=> check, null/omitted slots compute
    (matched ++ notMatchedBySource).filter(_.kind == "update").foreach(c =>
      rejectGeneratedAssign(snap, c.set.map(_._1), "MERGE UPDATE"))
    // IDENTITY + insert clauses: minting lives on the append path
    // (the mark advance is a commit-level contract this joined rewrite
    // does not carry) — GENERATED ALWAYS refuses; BY DEFAULT requires
    // every insert clause to assign the column explicitly
    if (notMatched.nonEmpty) identityOf(snap).foreach { case (fd, spec) =>
      require(spec.isAllowExplicitInsert,
        s"MERGE INSERT cannot mint identity column ${fd.name} " +
          "(GENERATED ALWAYS AS IDENTITY) — route inserts through " +
          "append/INSERT")
      require(notMatched.forall(_.set.exists(
          _._1.equalsIgnoreCase(fd.name))),
        s"MERGE INSERT clauses must assign identity column ${fd.name} " +
          "explicitly (GENERATED BY DEFAULT; null-filling it would be " +
          "a silent lie) — or route inserts through append/INSERT")
    }
    val tP = "__t_"
    val sP = "__s_"
    val Marker = "__graft_present"
    // the prefixed frames the clause expressions resolve against
    val srcP = source.select(source.columns.map(c =>
      col(c).as(sP + c)).toSeq: _*)
    def srcKeyCast(k: String) =
      col(sP + sKeyOf(k)).cast(tField(k).get.dataType)
    lazy val keyDf = source.select(keyCols.map { k =>
      val fd = tField(k).get
      col(sKeyOf(k)).cast(fd.dataType).as(fd.name)
    }.toSeq: _*).distinct()
    // NMBS quantifies over rows the source does NOT name — unboundable
    // by key stats — and a theta merge has no keys to bound with: both
    // start from the whole table. The change-scope predicate (when the
    // caller proved one) then prunes EITHER base: files whose stats
    // refute it hold no row any clause can change
    val candidates0 =
      if (snap.files.isEmpty) Seq.empty[String]
      else if (notMatchedBySource.nonEmpty || keyCols.isEmpty) snap.files
      else sourceKeyCandidates(spark, dir, snap, keyDf, keyCols.map(k =>
        tField(k).get.name), tSchema, maxProbeKeys)
    val candidates = scopeSql match {
      case None => candidates0
      case Some(sc) =>
        val kept = keptFiles(spark, dir, snap, sc).toSet
        candidates0.filter(kept)
    }
    if (candidates.isEmpty && notMatched.isEmpty)
      return emptyOpCommit(spark, dir, "merge", opId)
    val tgt =
      if (candidates.isEmpty) None
      else Some(readFiles(spark, dir, snap, candidates))
    // SQL cardinality rule, CLAUSE-AWARE (Delta's contract): a target
    // row is in violation only when MORE THAN ONE source row both
    // matches it under the FULL ON condition (keys AND residue) and
    // satisfies some matched clause condition — multiply-matching
    // source rows whose residue or clause conditions disambiguate to
    // at most one modifier are legal (the SCD idiom). The cheap
    // source-side duplicate-key pre-check keeps the common
    // deduplicated-source path entirely free of the per-pair probe
    // (distinct ON keys make >1 full-ON match per target impossible);
    // only a duplicate-keyed source pays the joined-frame pass below.
    val dupSourceKeys = matched.nonEmpty && tgt.isDefined &&
      !source.groupBy(sKeys.map(col).toSeq: _*)
        .agg(count(lit(1)).as("__n")).where(col("__n") > 1).isEmpty
    // clause-selection column: first matching clause wins, SQL order;
    // matched clauses number from 0, NMBS from 1000 (disjoint guards)
    val NmbsBase = 1000
    def condCol(c: MergeClause): Column =
      c.condSql.map(s => coalesce(expr(s), lit(false))).getOrElse(lit(true))
    def clauseCol(isMatched: Column): Column = {
      val arms =
        matched.zipWithIndex.map { case (c, i) =>
          (isMatched && condCol(c), lit(i)) } ++
        notMatchedBySource.zipWithIndex.map { case (c, i) =>
          (!isMatched && condCol(c), lit(NmbsBase + i)) }
      arms.foldRight(lit(-1): Column) { case ((p, v), acc) =>
        when(p, v).otherwise(acc) }
    }
    def updates: Seq[(Int, Seq[(String, String)])] =
      matched.zipWithIndex.collect {
        case (MergeClause("update", _, set), i) => (i, set) } ++
      notMatchedBySource.zipWithIndex.collect {
        case (MergeClause("update", _, set), i) => (NmbsBase + i, set) }
    def deletes: Seq[Int] =
      matched.zipWithIndex.collect {
        case (MergeClause("delete", _, _), i) => i } ++
      notMatchedBySource.zipWithIndex.collect {
        case (MergeClause("delete", _, _), i) => NmbsBase + i }
    // the new value of column fd for a row, by which clause fired
    def valueOf(fd: org.apache.spark.sql.types.StructField): Column =
      updates.foldRight(col(tP + fd.name)) { case ((ci, set), acc) =>
        set.find(_._1.equalsIgnoreCase(fd.name)) match {
          case Some((_, e)) => when(col("__clause") === ci,
            expr(e).cast(fd.dataType)).otherwise(acc)
          case None => acc
        }
      }
    // an insert-only merge rewrites NOTHING: candidates serve only the
    // match anti-join, the commit is a pure append (no removed files, so
    // it rides the append-only feed like a zero-candidate upsert)
    val rewriting = matched.nonEmpty || notMatchedBySource.nonEmpty
    def prefixT(df: DataFrame): DataFrame = df.select(tSchema.fields.map(
      fd => col(fd.name).as(tP + fd.name)).toSeq: _*)
    val keysEq =
      if (keyCols.isEmpty) lit(true)
      else keyCols.map(k => col(tP + k) === srcKeyCast(k)).reduce(_ && _)
    // MATCHED means the FULL ON condition: key equalities (the pruning
    // proof) AND the residue conjuncts (`AND s.ts > t.ts` — the SCD
    // idiom); a key-equal row failing the residue is NOT MATCHED on
    // both sides
    val fullOn = residueSql.map(r => keysEq && expr(r)).getOrElse(keysEq)
    val joined = (if (rewriting) tgt else None).map { t =>
      val tgtP = prefixT(t)
      // matched clauses need the source ROW; marker-only clauses (no
      // matched clause references __s_*) join a deduplicated key marker
      // so duplicate unmatched source keys cannot duplicate target rows.
      // The match marker lives OUTSIDE the __t_/__s_ prefix namespaces —
      // a source column named `present` prefixes to __s_present and can
      // never shadow it
      if (matched.nonEmpty && !dupSourceKeys)
        tgtP.join(srcP.withColumn(Marker, lit(true)), fullOn, "left_outer")
          .withColumn("__clause",
            clauseCol(coalesce(col(Marker), lit(false))))
      else if (matched.nonEmpty) {
        // duplicate ON keys in the source: the left_outer join can fan
        // a target row out. Tag each target row, join, then (a) RAISE
        // if any target row has >1 clause-firing match — the genuine
        // cardinality violation — and (b) collapse the fan-out back to
        // ONE row per target: the firing pair if there is one (unique
        // after (a)), else any pass-through copy (all identical in the
        // __t_ columns, so the pick cannot change the output). The
        // window pass costs one shuffle over the CANDIDATE rows only,
        // and only on this dup-key path.
        import org.apache.spark.sql.expressions.Window
        import org.apache.spark.sql.functions.{monotonically_increasing_id, row_number}
        val j0 = tgtP.withColumn("__tid", monotonically_increasing_id())
          .join(srcP.withColumn(Marker, lit(true)), fullOn, "left_outer")
          .withColumn("__clause",
            clauseCol(coalesce(col(Marker), lit(false))))
          .withColumn("__fired",
            coalesce(col(Marker), lit(false)) && col("__clause") >= 0 &&
              col("__clause") < NmbsBase)
        val viol = j0.where(col("__fired")).groupBy(col("__tid"))
          .agg(count(lit(1)).as("__n")).where(col("__n") > 1)
        require(viol.isEmpty,
          "MERGE cardinality violation: a target row matches more than " +
            "one source row that satisfies a matched clause condition " +
            "(under the full ON condition) — deduplicate the source on " +
            "the ON keys, or make the clause conditions/ON residue " +
            "disambiguate to at most one modifying row")
        j0.withColumn("__rn", row_number().over(
            Window.partitionBy(col("__tid"))
              .orderBy(col("__fired").desc, col("__tid"))))
          .where(col("__rn") === 1)
          .drop("__rn", "__fired", "__tid")
      }
      else if (residueSql.isEmpty)
        tgtP.join(srcP.select(keyCols.map(k =>
            srcKeyCast(k).as(sP + sKeyOf(k))).toSeq: _*)
          .distinct().withColumn(Marker, lit(true)), keysEq, "left_outer")
          .withColumn("__clause",
            clauseCol(coalesce(col(Marker), lit(false))))
      else {
        // NMBS-only under a residue: the residue references arbitrary
        // source columns, so the key-marker dedup above cannot apply —
        // decide existence with a semi/anti pair instead, which never
        // fans a target row out however many source rows match it
        // (legal here: no matched clause reads source values)
        val m = tgtP.join(srcP, fullOn, "left_semi")
          .withColumn(Marker, lit(true))
        val u = tgtP.join(srcP, fullOn, "left_anti")
          .withColumn(Marker, lit(false))
        m.unionByName(u).withColumn("__clause", clauseCol(col(Marker)))
      }
    }
    if (cdc) joined.foreach(_.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    try {
      val outTgt = joined.map { j =>
        val kept = if (deletes.isEmpty) j
          else j.where(!col("__clause").isin(deletes: _*))
        recomputeGenerated(snap, kept.select(tSchema.fields.map(fd =>
          valueOf(fd).as(fd.name)).toSeq: _*))
      }
      // insert path: source rows (dups preserved — each inserts
      // independently) with no candidate match BY THE FULL ON CONDITION;
      // candidate files provably hold every possible key match (a
      // residue only narrows), so anti against them is anti against the
      // table
      val insOut = if (notMatched.isEmpty) None else {
        val unmatched = tgt match {
          case None => srcP
          case Some(t) if residueSql.isEmpty =>
            val tkeys = t.select(keyCols.map(k =>
              col(tField(k).get.name).as("__k_" + k)).toSeq: _*)
            srcP.join(tkeys, keyCols.map(k =>
              srcKeyCast(k) === col("__k_" + k)).reduce(_ && _),
              "left_anti")
          case Some(t) =>
            // the residue reads target columns, so the anti side is the
            // full prefixed row — Catalyst prunes it back to the
            // condition's columns
            srcP.join(prefixT(t), fullOn, "left_anti")
        }
        val armed = notMatched.zipWithIndex
          .foldRight(lit(-1): Column) { case ((c, i), acc) =>
            when(condCol(c), lit(i)).otherwise(acc) }
        val firing = unmatched.withColumn("__clause", armed)
          .where(col("__clause") >= 0)
        // a column no firing clause assigns gets its DECLARED DEFAULT
        // when one exists (the CURRENT_DEFAULT schema metadata INSERT
        // INTO also fills from — constant by Spark's DDL contract),
        // else NULL: partial MERGE inserts and partial INSERT column
        // lists agree
        def unassigned(fd: org.apache.spark.sql.types.StructField): Column =
          (if (fd.metadata.contains("CURRENT_DEFAULT"))
            expr(fd.metadata.getString("CURRENT_DEFAULT"))
          else lit(null)).cast(fd.dataType)
        Some(fillGenerated(snap, firing.select(tSchema.fields.map { fd =>
          notMatched.zipWithIndex.foldRight(
              unassigned(fd): Column) { case ((c, i), acc) =>
            c.set.find(_._1.equalsIgnoreCase(fd.name)) match {
              case Some((_, e)) => when(col("__clause") === i,
                expr(e).cast(fd.dataType)).otherwise(acc)
              case None => acc
            }
          }.as(fd.name)
        }.toSeq: _*)))
      }
      val out = (outTgt.toSeq ++ insOut.toSeq).reduceOption(_ unionByName _)
      if (out.isEmpty) return emptyOpCommit(spark, dir, "merge", opId)
      // constraints + NOT NULL: changed rows only (pass-through rows
      // already hold); enforceConstraints is free when both are empty
      locally {
        val updIdx = updates.map(_._1)
        val changedTgt = joined.map(j =>
          recomputeGenerated(snap,
            (if (updIdx.isEmpty) j.where(lit(false))
             else j.where(col("__clause").isin(updIdx: _*)))
              .select(tSchema.fields.map(fd =>
                valueOf(fd).as(fd.name)).toSeq: _*)))
        (changedTgt.toSeq ++ insOut.toSeq).reduceOption(_ unionByName _)
          .foreach(chg => enforceConstraints(chg,
            withNotNull(snap, chg, snap.constraints), "mergeGeneral"))
      }
      val changes =
        if (!cdc) None
        else {
          val updIdx = updates.map(_._1)
          def tRow(j: DataFrame) = tSchema.fields.map(fd =>
            col(tP + fd.name).as(fd.name))
          val pre = joined.filter(_ => updIdx.nonEmpty).map(j =>
            j.where(col("__clause").isin(updIdx: _*))
              .select(tRow(j).toSeq: _*)
              .withColumn("_change_type", lit("update_preimage")))
          val post = joined.filter(_ => updIdx.nonEmpty).map(j =>
            recomputeGenerated(snap,
              j.where(col("__clause").isin(updIdx: _*))
                .select(tSchema.fields.map(fd =>
                  valueOf(fd).as(fd.name)).toSeq: _*))
              .withColumn("_change_type", lit("update_postimage")))
          val del = joined.filter(_ => deletes.nonEmpty).map(j =>
            j.where(col("__clause").isin(deletes: _*))
              .select(tRow(j).toSeq: _*)
              .withColumn("_change_type", lit("delete")))
          val ins = insOut.map(_.withColumn("_change_type", lit("insert")))
          (pre.toSeq ++ post.toSeq ++ del.toSeq ++ ins.toSeq)
            .reduceOption(_ unionByName _)
        }
      cowCommit(spark, dir, snap,
        if (rewriting) candidates else Nil, out, "merge", opId,
        beforeSwap, changes)
    } finally if (cdc) joined.foreach(_.unpersist(false))
  }

}
