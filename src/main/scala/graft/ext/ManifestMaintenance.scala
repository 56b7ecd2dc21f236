package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** MAINTENANCE of [[ManifestTable]] — compaction (clustered/z-order),
  * small-file packing, deletion-vector purge and the vacuum sweep.
  * Mixed into `object ManifestTable`; see [[ManifestRowOps]] for the
  * module-boundary contract.
  */
private[ext] trait ManifestMaintenance { this: ManifestTable.type =>

  /** Rewrite the current snapshot's files into ~`targetFileBytes` files
    * and commit the replacement as ONE manifest version — readers see
    * the old snapshot or the new one, never a mix. Old files become
    * orphans for [[vacuum]]; batch-id history is preserved so replay
    * idempotence survives compaction. `beforeSwap` is the test seam
    * between the rewrite and the swap.
    *
    * `clusterBy` turns the rewrite into a CLUSTERING pass: rows are
    * range-partitioned and sorted on the given columns, so each output
    * file covers a tight, near-disjoint min/max range and [[readWhere]]'s
    * stats pruning skips most of the table for selective predicates on
    * those columns — the Delta/Iceberg `OPTIMIZE ... ORDER BY` story.
    * Appends keep whatever ranges they arrive with (no write-path tax);
    * clustering is where skipping power gets built, at compaction.
    *
    * `zorder = true` clusters on the INTERLEAVED-BIT z-value of the
    * `clusterBy` columns instead of their lexicographic order. Linear
    * multi-column clustering concentrates all its skipping power in the
    * leading column (the second column's per-file ranges stay wide);
    * the z-curve keeps rows close in EVERY dimension close on the
    * curve, so each file covers a tight hyper-rectangle and predicates
    * on ANY participating column prune — Delta's `ZORDER BY`. Columns
    * must be numeric (cast-able to double); each is bucketed uniformly
    * between its min and max ([[Skipping]]-style per-column aggregates,
    * one small job), 8 bits per dimension, bits interleaved
    * round-robin. The z-value is a transient sort key only — never
    * written.
    *
    * Like every rewrite, compaction lands its files with the table's
    * declared blooms and NDV sketches ([[land]]), at the compacted
    * files' row counts.
    */
  def compact(spark: SparkSession, dir: String,
              targetFileBytes: Long = 128L * 1024 * 1024,
              beforeSwap: () => Unit = () => (),
              clusterBy: Seq[String] = Nil,
              zorder: Boolean = false): (Int, Int) = {
    val f = fs(spark, dir)
    val snap = snapshot(spark, dir)
    if (snap.files.isEmpty) return (0, 0)
    // manifest-recorded sizes spare the per-file RPC; pre-sizes files
    // fall back to getFileStatus
    val totalBytes = snap.files.map(n => snap.sizes.getOrElse(n,
      f.getFileStatus(p(dataFilePath(dir, n))).getLen)).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    // schema-aware read: rewritten files MATERIALIZE the full column set,
    // so after one compaction every live file carries every table column
    val base = readFiles(spark, dir, snap, snap.files)
    val reshaped =
      if (clusterBy.isEmpty) {
        // partitioned tables reshuffle ON the partition columns, so each
        // task holds whole tuples and the partitioned stage write emits
        // one file per (task, tuple) — ~one per tuple, no file explosion
        if (snap.partitionCols.isEmpty) base.repartition(nOut)
        else base.repartition(nOut,
          snap.partitionCols.map(org.apache.spark.sql.functions.col): _*)
      } else if (zorder) {
        val zk = "_graft_zkey"
        base.withColumn(zk, zvalue(base, clusterBy))
          .repartitionByRange(nOut, org.apache.spark.sql.functions.col(zk))
          .sortWithinPartitions(org.apache.spark.sql.functions.col(zk))
          .drop(zk)
      } else base.repartitionByRange(nOut,
          clusterBy.map(org.apache.spark.sql.functions.col): _*)
        .sortWithinPartitions(
          clusterBy.map(org.apache.spark.sql.functions.col): _*)
    // range partitioning can leave empty output partitions; landing
    // drops the provably-empty files
    val landed = rewrite(spark, dir, snap, reshaped)
    beforeSwap()
    // replace EXACTLY the files this compaction read; files appended by
    // a concurrent writer (present in `old` but not in the snapshot we
    // rewrote) carry over untouched. If any file we rewrote is GONE from
    // the head — a conflicting rewrite (another compact) already replaced
    // it — committing ours would land a SECOND copy of every row it
    // holds (filterNot would be a no-op), so the loser aborts instead:
    // its rewrite becomes orphans for [[vacuum]] and the table keeps
    // exactly one copy. Returns (0, 0) on an aborted conflict.
    val committed = commit(spark, dir) { old =>
      // a candidate gone from the head, OR a deletion vector landed on
      // one since we read it: either way our rewrite reflects a stale
      // view — committing would resurrect removed rows. Abort.
      if (snap.files.exists(fn => !old.files.contains(fn)) ||
        snap.files.exists(fn => old.dvs.getOrElse(fn, Seq.empty) !=
          snap.dvs.getOrElse(fn, Seq.empty))) None
      // the rewrite read through the DV-applied view, so the deleted
      // positions are gone from the output: the rewrite RETIRES the
      // rewritten files' deletion vectors
      else Some(landed.into(old, replaced = snap.files).copy(
        op = "compact", cdcPath = None))
    }
    if (committed) (snap.files.size, landed.files.size) else (0, 0)
  }

  /** Land a maintenance rewrite of `snap`'s rows (logical names): the
    * caller already sized its output partitioning, which the landing
    * step's optimized-write rebalance must keep.
    */
  private def rewrite(spark: SparkSession, dir: String, snap: Snapshot,
                      rows: DataFrame): Landed =
    land(spark, dir, toPhysical(snap, rows), snap.partitionCols,
      snap.bloomCols, snap.ndvCols, sized = true)

  /** BIN-PACKING compaction — rewrite ONLY the files smaller than
    * `minFileBytes` into ~`targetFileBytes` files, leaving every
    * right-sized file untouched. [[compact]] rewrites the whole table;
    * on a 100 TB table fed by a 10 s-cadence streaming sink that is a
    * 100 TB rewrite to fix a few thousand small files — this pass is
    * O(small bytes) instead, so it can run on a tight maintenance
    * cadence forever. Sizes come from the manifest (no per-file RPC);
    * DV'd candidates rewrite through the applied view and retire their
    * vectors; partitioned tables reshuffle on their partition columns
    * so the one-tuple-per-file invariant survives. Needs at least two
    * candidates (packing one file buys nothing). Same atomic-swap,
    * conflict-abort, feeds-skip-it contract as [[compact]]. Returns
    * (files rewritten, files written); (0, 0) = nothing to pack or a
    * concurrent rewrite won.
    */
  def compactSmall(spark: SparkSession, dir: String,
                   targetFileBytes: Long = 128L * 1024 * 1024,
                   minFileBytes: Long = 64L * 1024 * 1024,
                   beforeSwap: () => Unit = () => ()): (Int, Int) = {
    // an inverted threshold pair makes the packer's own outputs
    // perpetual candidates — every tick rewrites the same data forever;
    // refuse loudly instead (the streaming sink sizes its target up)
    require(minFileBytes <= targetFileBytes,
      s"compactSmall: minFileBytes ($minFileBytes) must not exceed " +
        s"targetFileBytes ($targetFileBytes) — outputs would repack forever")
    val f = fs(spark, dir)
    val snap = snapshot(spark, dir)
    def sizeOf(n: String): Long = snap.sizes.getOrElse(n,
      f.getFileStatus(p(dataFilePath(dir, n))).getLen)
    val candidates = snap.files.filter(sizeOf(_) < minFileBytes)
    if (candidates.size < 2) return (0, 0)
    val candBytes = candidates.map(sizeOf).sum
    val nOut = math.max(1,
      math.ceil(candBytes.toDouble / targetFileBytes).toInt)
    val base = readFiles(spark, dir, snap, candidates)
    val landed = rewrite(spark, dir, snap,
      if (snap.partitionCols.isEmpty) base.repartition(nOut)
      else base.repartition(nOut,
        snap.partitionCols.map(org.apache.spark.sql.functions.col): _*))
    beforeSwap()
    val committed = commit(spark, dir) { old =>
      if (candidates.exists(fn => !old.files.contains(fn)) ||
        candidates.exists(fn => old.dvs.getOrElse(fn, Seq.empty) !=
          snap.dvs.getOrElse(fn, Seq.empty))) None
      else Some(landed.into(old, replaced = candidates).copy(
        op = "compact", cdcPath = None))
    }
    if (committed) (candidates.size, landed.files.size) else (0, 0)
  }

  /** DV MAINTENANCE — the targeted flip side of [[compact]]'s full-table
    * purge: rewrite ONLY the data files whose deletion-vector'd fraction
    * has crossed `maxDeletedFraction`, retiring their vectors. Merge-on-
    * read trades write cost for read cost (every read of a DV'd file
    * pays an anti-join); once a file is mostly deleted that rent exceeds
    * the one-time rewrite, and this call collects it — per FILE, not per
    * table, so a 100 TB table with one delete-heavy region rewrites just
    * that region. Files are rewritten through the DV-applied view with
    * NO repartitioning (one slightly-smaller file per input file's
    * partitions — clustering layout survives, zero shuffle). Same
    * atomic-swap, conflict-abort contract as [[compact]]: returns
    * (files rewritten, files written), (0, 0) when nothing crossed the
    * threshold or a concurrent rewrite won. Files without footer row
    * counts are skipped (their fraction is unknowable — the safe
    * direction; the next full [[compact]] retires their vectors).
    */
  def purgeDeletes(spark: SparkSession, dir: String,
                   maxDeletedFraction: Double = 0.3,
                   beforeSwap: () => Unit = () => ()): (Int, Int) = {
    require(maxDeletedFraction > 0.0,
      "maxDeletedFraction must be > 0 (0 would rewrite every DV'd file " +
        "— that is compact())")
    val snap = snapshot(spark, dir)
    val candidates = snap.files.filter { fn =>
      val dvRows = snap.dvs.getOrElse(fn, Seq.empty).map(_.rows).sum
      dvRows > 0L && snap.stats.get(fn).exists(st =>
        st.rows > 0L && dvRows.toDouble / st.rows >= maxDeletedFraction)
    }
    if (candidates.isEmpty) return (0, 0)
    // a file DV'd down to zero live rows rewrites to nothing: landing
    // drops it
    val landed = rewrite(spark, dir, snap,
      readFiles(spark, dir, snap, candidates))
    beforeSwap()
    val committed = commit(spark, dir) { old =>
      // same staleness hazards as compact: a candidate rewritten away,
      // or a NEW vector stacked since we read (our rewrite would
      // resurrect its rows)
      if (candidates.exists(c => !old.files.contains(c) ||
        old.dvs.getOrElse(c, Seq.empty) != snap.dvs.getOrElse(c, Seq.empty)))
        None
      // the rewrite applied the vectors; they retire with their files.
      // A row-preserving rewrite, exactly like compact: the feeds skip
      // it instead of re-surfacing survivor rows
      else Some(landed.into(old, replaced = candidates).copy(
        op = "compact", cdcPath = None))
    }
    if (committed) (candidates.size, landed.files.size) else (0, 0)
  }

  /** Delete data files no longer referenced by any version a reader
    * inside the `graceMs` window (default 24 h) could still be pinned
    * to, plus leftover stage directories — the standard table-format
    * answer (Delta's vacuum retention) to vacuum's races:
    *
    *   - a CONCURRENT APPEND moves its data files into `data/` BEFORE
    *     committing the manifest; a grace-less vacuum in that window
    *     deletes them and the append then commits a manifest referencing
    *     deleted files — permanent snapshot corruption. Fresh files are
    *     inside the grace window, so the append survives.
    *   - a READER pinned to an older version still needs its (now
    *     orphaned) compacted-away files. The liveness set is therefore
    *     NOT just the head: it is the state just before the first
    *     commit inside the grace window plus every add since — exactly
    *     what any in-grace pin can reference. Time travel to versions
    *     OLDER than the grace is the documented sacrifice (same as
    *     Delta: vacuum bounds how far back you can travel).
    *
    * `graceMs = 0` restores sweep-everything-but-head (tests, quiesced
    * tables). Orphans are judged by file mtime — rename preserves it,
    * so the clock starts at the original write, conservative in the
    * right direction.
    */
  def vacuum(spark: SparkSession, dir: String,
             graceMs: Long = 24L * 3600 * 1000): Int = {
    val f = fs(spark, dir)
    val cutoff = System.currentTimeMillis() - graceMs
    val head = snapshot(spark, dir)
    val log = listLog(spark, dir)
    // commit time = the delta file's mtime (immutable once published)
    val inGrace = (log.ckpt.keySet ++ log.delta.keySet).filter(v =>
      log.delta.get(v).orElse(log.ckpt.get(v))
        .exists(_.getModificationTime >= cutoff))
    val live: Set[String] =
      if (inGrace.isEmpty) head.files.toSet
      else try {
        val vG = inGrace.min
        val base =
          if (vG <= 1L) Set.empty[String]
          else resolveAt(spark, dir, vG - 1L, log).files.toSet
        val adds = (vG to head.version).iterator.flatMap { v =>
          // every commit publishes a delta; an expired-delta checkpoint
          // version contributes its full state instead (a superset of
          // its adds — conservative, keeps more)
          if (log.delta.contains(v)) readDelta(spark, dir, v).adds
          else resolveAt(spark, dir, v, log).files
        }.toSet
        base ++ adds ++ head.files
      } catch {
        case scala.util.control.NonFatal(_) =>
          // resolution hiccup (mid-expiry race): keep every name any
          // log file mentions — maximally conservative, sweeps less
          head.files.toSet ++ (log.ckpt.keys ++ log.delta.keys)
            .flatMap { v =>
              val name = if (log.delta.contains(v)) deltaName(v) else ckptName(v)
              try parseLog(readLogLines(spark, dir, name)).adds
              catch { case scala.util.control.NonFatal(_) => Nil }
            }
      }
    // TAGGED versions stay restorable forever: their full file sets
    // join the live set (expireLog keeps their log entries, so the
    // resolution here cannot miss; a failure is a corrupt tag and
    // conservatively pins nothing extra)
    val taggedLive = tags(head).values.toSet.flatMap { (v: Long) =>
      try resolveAt(spark, dir, v, log).files
      catch { case scala.util.control.NonFatal(_) => Seq.empty[String] }
    }
    val liveAll = live ++ taggedLive
    val dd = p(dataDir(dir))
    val removed = if (!f.exists(dd)) 0 else f.listStatus(dd)
      .filter(s => s.isFile && !liveAll.contains(s.getPath.getName) &&
        s.getModificationTime < cutoff)
      .map { s => f.delete(s.getPath, false); 1 }.sum
    val sd = p(s"$dir/_stage")
    if (f.exists(sd)) f.listStatus(sd)
      .filter(_.getModificationTime < cutoff)
      .foreach(s => f.delete(s.getPath, true))
    // CDC sidecar dirs: referenced by the `cdc:` line of SOME log file
    // for as long as that log file lives (the feed is replayable
    // history inside [[expireLog]]'s retention window); a crashed
    // cowCommit's unreferenced dir — or a sidecar whose last referencing
    // log file was expired — gets swept past the grace. Same story for
    // deletion-vector sidecars under `_dv/`.
    lazy val (cdcRefs, dvRefs) = referencedSidecars(spark, dir)
    val cd = p(cdcDir(dir))
    if (f.exists(cd)) {
      f.listStatus(cd)
        .filter(s => !cdcRefs.contains(s.getPath.getName) &&
          s.getModificationTime < cutoff)
        .foreach(s => f.delete(s.getPath, true))
    }
    val dvd = p(dvDir(dir))
    if (f.exists(dvd)) {
      f.listStatus(dvd)
        .filter(s => !dvRefs.contains(s.getPath.getName) &&
          s.getModificationTime < cutoff)
        .foreach(s => f.delete(s.getPath, true))
    }
    removed
  }
}
