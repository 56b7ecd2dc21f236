package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The bloom-routed index probe shared by [[Ingest]] (fingerprints) and
  * both [[NearDupSink]] folds (band hashes, bucket ids), over the
  * blooms inside the index's own data files: each index declares its
  * probe key as its one bloom column on its first segment append
  * ([[graft.ext.ManifestTable.append]] with `bloomCols`), so every
  * segment, compaction and other rewrite writes the key's parquet bloom
  * into each file it lands. A bloom lives and dies with its file: the
  * routing layer has no files, crash window or maintenance of its own.
  *
  * A bloom never DECIDES membership: a positive routes rows to the
  * precise anti-join/probe, a negative proves absence (blooms have no
  * false negatives). So a segment without a bloom costs probe latency
  * (the gate turns off), never data.
  */
private[graft] object BloomSidecar {

  /** The index rows a batch probe needs, or None when nothing can
    * match.
    *
    * One snapshot of the index at `segDir` decides both the empty-index
    * case and the gate: its per-file blooms filter `rows` MAP-SIDE on
    * `keyCol` ([[graft.ext.ManifestTable.keyGate]]; a row they reject
    * matches no live segment). ONE bounded collect then returns the
    * bloom-positive distinct `keyCol` values, and that single job
    * decides everything: none → the index is never read; at most
    * [[Ingest.PointProbeMaxKeys]] → a stats+bloom pruned segment read;
    * more → the full snapshot read. Callers probe ALL of `rows` against
    * the result: every row that can match has a bloom-positive key, and
    * every index row under such a key is read, so routing and pruning
    * never change a probe's answer.
    */
  def probe(spark: SparkSession, segDir: String, rows: DataFrame,
            keyCol: String): Option[DataFrame] = {
    val snap = graft.ext.ManifestTable.snapshot(spark, segDir)
    if (snap.files.isEmpty) None
    else {
      val hot = graft.ext.ManifestTable.keyGate(spark, segDir, snap, keyCol)
        .fold(rows)(rows.filter)
      graft.core.BoundedCollect.distinct(hot, keyCol,
          Ingest.PointProbeMaxKeys) match {
        case Some(keys) if keys.isEmpty => None
        case Some(keys) => Some(graft.ext.ManifestTable.readWhere(spark,
          segDir, graft.ext.ManifestTable.inPredicate(keyCol, keys.toSeq)))
        case None => Some(graft.ext.ManifestTable.read(spark, segDir))
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
  def compact(spark: SparkSession, segDir: String,
              targetFileBytes: Long): (Int, Int) = {
    val key = graft.ext.ManifestTable.snapshot(spark, segDir).bloomCols
    require(key.size <= 1,
      s"index $segDir declares bloom columns (${key.mkString(", ")}); " +
        "an index declares exactly its probe key")
    val counts = graft.ext.ManifestTable.compact(spark, segDir,
      targetFileBytes, clusterBy = key)
    graft.ext.ManifestTable.vacuum(spark, segDir)
    counts
  }
}
