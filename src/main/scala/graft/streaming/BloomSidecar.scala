package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one home of the segment indexes the ingest folds keep:
  * [[Ingest]]'s fingerprints and both [[NearDupSink]] folds' band hashes
  * and bucket ids. An index at `indexDir` is an append-only store of
  * per-batch segments, a [[graft.ext.ManifestTable]] under
  * `indexDir/segments` (reads are snapshot file lists, never directory
  * scans) whose one declared bloom column is the index's probe key: every
  * segment, compaction and other rewrite writes the key's parquet bloom
  * into each file it lands, and [[probe]] routes on those blooms. A bloom
  * lives and dies with its file: the routing layer has no files, crash
  * window or maintenance of its own.
  *
  * A bloom never DECIDES membership: a positive routes rows to the
  * precise anti-join/probe, a negative proves absence (blooms have no
  * false negatives). So a segment without a bloom costs probe latency
  * (the gate turns off), never data.
  */
private[graft] object BloomSidecar {

  private def segmentsPath(indexDir: String) = s"$indexDir/segments"

  /** Point-probe bound: when a probe's distinct key set fits under this,
    * the index is read through [[graft.ext.ManifestTable.readWhere]] with
    * a `key IN (...)` predicate — per-segment footer stats + per-file
    * blooms then prune the read to the handful of segments that might
    * hold a listed key (VERDICT r10 #4), instead of scanning every
    * segment ever appended. Larger probe sets fall back to the full
    * read: the join itself is O(batch) either way, and a driver-side
    * key list must stay bounded.
    */
  val PointProbeMaxKeys = 1024

  /** Every row of the index at `indexDir`, or None before its first
    * segment.
    */
  def read(spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val seg = segmentsPath(indexDir)
    if (graft.ext.ManifestTable.snapshot(spark, seg).files.nonEmpty)
      Some(graft.ext.ManifestTable.read(spark, seg))
    else None
  }

  /** Append `rows`, a fold batch's survivor keys, as one new segment of
    * the index at `indexDir` (O(batch): nothing over the accumulated
    * index is read or shuffled), declaring `keyCol` as its probe key.
    *
    * The manifest batch id is a fresh UUID on purpose: the append is
    * UNCONDITIONAL, which makes the index SELF-HEALING. A fold commits
    * its corpus under its batch id first and appends here last; after a
    * crash between the two, the replay's survivors re-emerge from the
    * probe (their keys are missing), the corpus no-ops on the absorbed
    * batch id, and this append backfills the keys. Idempotence belongs
    * to the corpus commit: duplicates from the healing are harmless, as
    * a probe is idempotent in its right side. Otherwise segments stay
    * duplicate-free without a distinct(): a survivor won the probe
    * against every earlier segment, and batch-local dedup runs first.
    */
  def append(indexDir: String, rows: DataFrame, keyCol: String): Unit = {
    graft.ext.ManifestTable.append(rows, segmentsPath(indexDir),
      java.util.UUID.randomUUID().toString, bloomCols = Seq(keyCol))
    ()
  }

  /** The index rows a batch probe needs, or None when nothing can
    * match.
    *
    * One snapshot of the index at `indexDir` decides both the
    * empty-index case and the gate: its per-file blooms filter `rows`
    * MAP-SIDE on `keyCol` ([[graft.ext.ManifestTable.keyGate]]; a row
    * they reject matches no live segment). ONE bounded collect then
    * returns the bloom-positive distinct `keyCol` values, and that
    * single job decides everything: none → the index is never read; at
    * most [[PointProbeMaxKeys]] → a stats+bloom pruned segment read;
    * more → the full snapshot read. Callers probe ALL of `rows` against
    * the result: every row that can match has a bloom-positive key, and
    * every index row under such a key is read, so routing and pruning
    * never change a probe's answer.
    */
  def probe(spark: SparkSession, indexDir: String, rows: DataFrame,
            keyCol: String): Option[DataFrame] = {
    val seg = segmentsPath(indexDir)
    val snap = graft.ext.ManifestTable.snapshot(spark, seg)
    if (snap.files.isEmpty) None
    else {
      val hot = graft.ext.ManifestTable.keyGate(spark, seg, snap, keyCol)
        .fold(rows)(rows.filter)
      graft.core.BoundedCollect.distinct(hot, keyCol, PointProbeMaxKeys) match {
        case Some(keys) if keys.isEmpty => None
        case Some(keys) => Some(graft.ext.ManifestTable.readWhere(spark,
          seg, graft.ext.ManifestTable.inPredicate(keyCol, keys.toSeq)))
        case None => Some(graft.ext.ManifestTable.read(spark, seg))
      }
    }
  }

  /** Index maintenance shared by [[Ingest.compactIndex]] and
    * [[NearDupSink.compactIndex]]: many per-batch segments → few
    * right-sized files CLUSTERED on the index's one declared bloom
    * column, its probe key (each compacted file then covers a
    * near-disjoint key range, so even stats-only pruning answers point
    * probes), each compacted file written with its own bloom. One
    * manifest swap, so it is safe WHILE the fold appends — a concurrent
    * append rebases over the swap, a conflicting compaction aborts —
    * then [[graft.ext.ManifestTable.vacuum]] sweeps
    * the replaced segments past its grace window. (0, 0) on an index
    * with no segment yet.
    */
  def compact(spark: SparkSession, indexDir: String,
              targetFileBytes: Long): (Int, Int) = {
    val seg = segmentsPath(indexDir)
    val key = graft.ext.ManifestTable.snapshot(spark, seg).bloomCols
    require(key.size <= 1,
      s"index $seg declares bloom columns (${key.mkString(", ")}); " +
        "an index declares exactly its probe key")
    val counts = graft.ext.ManifestTable.compact(spark, seg,
      targetFileBytes, clusterBy = key)
    graft.ext.ManifestTable.vacuum(spark, seg)
    counts
  }
}
