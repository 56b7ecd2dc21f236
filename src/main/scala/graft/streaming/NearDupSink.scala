package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Self-maintaining NEAR-duplicate corpus sink — the near-dup sibling of
  * [[Ingest.ingestBatchCommitted]] (exact dedup): fold arriving batches into
  * a corpus that contains no document near-duplicate to any EARLIER
  * survivor, continuously. This is the online form of the batch
  * `dedup_near_keep` operator, and the missing piece between the static
  * probes ([[StreamNearDup.probeMinHash]] — index built once from a
  * frozen corpus) and a living training corpus that grows as batches
  * arrive.
  *
  * Per batch: (1) WITHIN-batch near-dup keep-one
  * ([[graft.ext.Components.nearDupKeep]] — LSH candidates, exact-Jaccard
  * verify, connected components, min-id representative, hot-bucket cap +
  * audit on by default); (2) CROSS-batch probe of the survivors against
  * the accumulated SIGNATURE index ([[StreamNearDup.probeMinHash]] —
  * banded signature join, MinHash-estimate verify; the index stores
  * 8·numHashes bytes per document, never text or shingles); (3) commit
  * the remaining survivors to `corpusDir` and their signature band rows
  * as ONE new index segment — the same O(batch) append-only layout as
  * [[Ingest]], with the segments' per-file band-hash blooms gating the
  * probe ([[BloomSidecar.probe]]): a batch none of whose band hashes
  * any segment's bloom admits skips the index read entirely.
  *
  * Sequential-fold semantics (NOT batch-global clustering): a document
  * is kept iff it is not near-dup to an earlier SURVIVOR. On a
  * transitive chain A~B~C (A,B,C in successive batches, A≁C), the fold
  * keeps A and C — B was suppressed by A, so C never sees its neighbor —
  * where a global pass would keep A alone. That is the standard online
  * dedup contract; the `neardup_corpus_replay` oracle replays exactly
  * this fold.
  *
  * Preconditions: document ids unique across ALL batches (they key the
  * corpus and the within-batch representatives); run length/quality
  * filtering UPSTREAM ([[Ingest.pipeline]] ordering) — documents with
  * fewer words than the shingle width have empty shingle sets, which no
  * signature can match, so they would re-ingest on replay. Replay
  * idempotence for shingled documents is structural: a replayed
  * survivor's signature is identical to its indexed copy, every
  * position agrees, est_jaccard = 1.0 ≥ any threshold.
  *
  * Crash ordering is corpus-commit THEN index-append, the same
  * self-healing choice (and for the same reason) as
  * [[Ingest.ingestBatchCommitted]]: the corpus absorbs a replayed batch
  * id, the unconditional index append backfills.
  */
object NearDupSink {

  private def segmentsPath(indexDir: String) = s"$indexDir/segments"

  /** The accumulated signature index (band, band_hash, corpus_id,
    * sig_idx), or None before the first batch. The segment store is a
    * [[graft.ext.ManifestTable]] (data under `segments/data`, atomic
    * manifest commits): reads are explicit snapshot file lists.
    */
  def readIndex(spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val seg = segmentsPath(indexDir)
    if (graft.ext.ManifestTable.snapshot(spark, seg).files.nonEmpty)
      Some(graft.ext.ManifestTable.read(spark, seg))
    else None
  }

  /** Fold one batch into the corpus. See the object doc for semantics.
    *
    * The batch's signature band rows are computed in ONE pass
    * (shingle+MinHash over the within-batch survivors, persisted) and
    * reused three ways — the bloom gate filters them, the cross-batch
    * probe joins them ([[StreamNearDup.probeMinHashRows]]), and the
    * segment append semi-joins them down to the fold's survivors — where
    * the naive composition would re-shingle the batch for each. On a
    * micro-batch the signature pass IS the dominant compute, so this is
    * the difference between one and three passes of per-batch latency.
    *
    * The corpus lands through [[graft.ext.ManifestTable]] keyed by
    * `batchId` — effectively-once, the same contract (and the same
    * self-healing index argument) as [[Ingest.ingestBatchCommitted]]: a
    * crash between the corpus commit and the signature-segment append
    * leaves the replay's survivors re-emerging from the probe (their
    * signatures are missing), the corpus no-oping on the absorbed batch
    * id, and the index append backfilling the signatures; a second
    * replay probes est 1.0 against its own indexed copy and converges to
    * a full no-op. Returns true iff this call committed `batchId`.
    *
    * `statsDir`, when set, maintains a manifest-committed [[StatsSink]]
    * store under the SAME batch id, committed BEFORE the corpus — the
    * one crash-consistent ordering (the argument at
    * [[Ingest.ingestBatchCommitted]]). Requires a `lang` column.
    */
  def ingestBatchCommitted(batch: DataFrame, corpusDir: String,
                           indexDir: String, batchId: String,
                           idCol: String = "id", textCol: String = "text",
                           threshold: Double = 0.6, minEstJaccard: Double = 0.5,
                           numHashes: Int = 16, bands: Int = 4,
                           shingleFn: Column => Column =
                             graft.ext.MinHashLSH.wordShingles(_, 3),
                           statsDir: Option[String] = None): Boolean = {
    // guard HERE, not only in StreamNearDup's row builders: the raw
    // cast("long") below must never be reached with a string id that
    // would null out and empty the index
    graft.core.Ids.requireNumericId(batch, idCol,
      "NearDupSink.ingestBatchCommitted")
    val spark = batch.sparkSession
    val within = graft.core.Caches.track(
      graft.ext.Components.nearDupKeep(batch, idCol, textCol, threshold,
          shingleFn = shingleFn)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val rows = graft.core.Caches.track(
      StreamNearDup.buildMinHashIndex(within, idCol, textCol,
          numHashes, bands, shingleFn)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    // gate and pruned read decided by ONE bounded-collect job (see
    // BloomSidecar.probe): 4 jobs per fold on the benchmark's 2000-doc
    // batch, AQE stages included; the anti-join on its hits runs inside
    // the first append, the first action on `kept`. An empty index or no
    // bloom-positive key leaves `within`, already persisted, as the
    // survivors; only the probed anti-join is cached
    val probed = BloomSidecar.probe(spark, segmentsPath(indexDir), rows,
        "band_hash")
      .map { index =>
        val hits = StreamNearDup.probeMinHashRows(
            rows.select(col("corpus_id").as("probe_id"),
              col("sig_idx").as("sig_p"), col("band"), col("band_hash")),
            index, numHashes, bands, minEstJaccard)
          .select(col("probe_id").as(idCol)).distinct()
        // `hits` is at most one id per batch row: broadcast it, or the
        // planner picks a sort-merge join and AQE shuffles `within` by
        // id before turning the join into a broadcast anyway. The hint
        // holds whatever the batch size, so it assumes a micro-batch:
        // 8 bytes per batch row go through the driver to every executor
        // (a 1M-row batch ships about 8 MB, plus the hash table), a
        // small share of the batch text the fold already holds cached
        graft.core.Caches.track(
          within.join(broadcast(hits), Seq(idCol), "left_anti")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
      }
    val kept = probed.getOrElse(within)
    statsDir.foreach(d => StatsSink.appendCommitted(kept, d, batchId, textCol))
    val committed = graft.ext.ManifestTable.append(kept, corpusDir, batchId)
    // the fold's survivor band rows: a semi-join against the persisted
    // batch rows, NOT a re-shingle of kept; column order re-pinned so
    // every appended segment file carries the identical schema. Single
    // consumer (the append) — no persist needed
    val bandRows =
      rows.join(kept.select(col(idCol).cast("long").as("corpus_id")),
          Seq("corpus_id"), "left_semi")
        .select(col("band"), col("band_hash"), col("corpus_id"), col("sig_idx"))
    // manifest-committed segment append under a fresh UUID: the index
    // append must stay UNCONDITIONAL (the self-healing backfill after a
    // replay); it declares band_hash as the index's bloom column, whose
    // per-file blooms serve BloomSidecar.probe's gate and pruned read
    graft.ext.ManifestTable.append(bandRows, segmentsPath(indexDir),
      java.util.UUID.randomUUID().toString, bloomCols = Seq("band_hash"))
    probed.foreach(_.unpersist())
    rows.unpersist()
    within.unpersist()
    committed
  }

  /** The cosine-family sibling of [[ingestBatchCommitted]] — near-dedup
    * of an EMBEDDING corpus as batches arrive, completing the
    * self-maintaining sink family across all three distance families
    * (md5-exact via [[Ingest]], Jaccard via [[ingestBatchCommitted]],
    * cosine here). Per batch: within-batch keep-one
    * ([[graft.ext.Similarity.embedNearDup]] pairs → components → min-id
    * representative), cross-batch [[StreamNearDup.probeEmbed]] against
    * the accumulated hyperplane bucket index (exact-cosine verify against
    * the vector riding on the index row), corpus commit keyed by
    * `batchId`, O(batch) segment append. The gate keys on the segments'
    * per-file `bk` blooms, so it skips the index read when no batch
    * vector lands in a bucket id any table occupies.
    *
    * Same preconditions and commit contract as [[ingestBatchCommitted]]:
    * an identical replayed vector re-emerges only while its indexed copy
    * is missing (it lands in its own bucket in every table), then
    * cosines 1.0 against it and converges to a no-op.
    */
  def ingestBatchEmbedCommitted(batch: DataFrame, corpusDir: String,
                                indexDir: String, batchId: String,
                                idCol: String = "id", vecCol: String = "v",
                                minCos: Double = 0.9, bits: Int = 6,
                                dims: Int = 64, tables: Int = 2): Boolean = {
    graft.core.Ids.requireNumericId(batch, idCol,
      "NearDupSink.ingestBatchEmbedCommitted")
    val spark = batch.sparkSession
    val pairs = graft.ext.Similarity.embedNearDup(batch, idCol, vecCol,
      minCos, bits, dims, tables)
    val drop = graft.ext.Components.components(pairs, "id_a", "id_b")
      .filter(col("rep") =!= col("id"))
      .select(col("id").as(idCol))
    val within = graft.core.Caches.track(
      batch.join(drop, Seq(idCol), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    // one bucket pass over the batch, reused by gate + probe + segment
    // append — same single-pass layout as [[ingestBatchCommitted]]
    val rows = graft.core.Caches.track(
      StreamNearDup.buildEmbedIndex(within, idCol, vecCol, bits, dims, tables)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    // the gate keys on `bk` alone, a superset of the (tbl, bk) the
    // bucketed join is inner on: reading every index row of the routed
    // buckets keeps every match
    val probed = BloomSidecar.probe(spark, segmentsPath(indexDir), rows,
        "bk")
      .map { index =>
        val hits = StreamNearDup.probeEmbedRows(
            rows.select(col("corpus_id").as("probe_id"),
              col("v_idx").as("v_p"), col("bks_idx").as("bks_p"),
              col("tbl"), col("bk")),
            index, tables, minCos)
          .select(col("probe_id").as(idCol)).distinct()
        // broadcast `hits`, as in [[ingestBatchCommitted]] (and under
        // the same micro-batch assumption: 8 bytes per batch row)
        graft.core.Caches.track(
          within.join(broadcast(hits), Seq(idCol), "left_anti")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
      }
    val kept = probed.getOrElse(within)
    val committed = graft.ext.ManifestTable.append(kept, corpusDir, batchId)
    // single consumer (the append) — no persist needed
    val bandRows =
      rows.join(kept.select(col(idCol).cast("long").as("corpus_id")),
          Seq("corpus_id"), "left_semi")
        .select(col("tbl"), col("bk"), col("corpus_id"),
          col("v_idx"), col("bks_idx"))
    graft.ext.ManifestTable.append(bandRows, segmentsPath(indexDir),
      java.util.UUID.randomUUID().toString, bloomCols = Seq("bk"))
    probed.foreach(_.unpersist())
    rows.unpersist()
    within.unpersist()
    committed
  }

  /** Segments → right-sized files clustered on the index's declared
    * probe key — `band_hash` for the MinHash index, `bk` for the embed
    * index — so the probe's point lookups prune on stats alone
    * ([[BloomSidecar.compact]], as [[Ingest.compactIndex]]).
    */
  def compactIndex(spark: SparkSession, indexDir: String,
                   targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    BloomSidecar.compact(spark, segmentsPath(indexDir), targetFileBytes)
}
