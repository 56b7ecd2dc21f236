package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Self-maintaining NEAR-duplicate corpus sink — the near-dup sibling of
  * [[Ingest.pipelineToCorpus]] (exact dedup): fold arriving batches into
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
  * 8·numHashes bytes per document, never text or shingles); (3) append
  * the remaining survivors to `corpusDir` and their signature band rows
  * as ONE new index segment — the same O(batch) append-only layout as
  * [[Ingest]], with a [[BloomSidecar]] over band hashes gating the probe:
  * a batch none of whose band hashes appear in any sidecar skips the
  * index read entirely.
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
  * Crash ordering is corpus-append THEN index-append, the same
  * at-least-once choice (and for the same reason) as
  * [[Ingest.ingestBatch]].
  */
object NearDupSink {

  private def segmentsPath(indexDir: String) = s"$indexDir/segments"
  private def bloomPath(indexDir: String) = s"$indexDir/bloom"

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
    */
  /** `statsDir`, when set, maintains [[StatsSink]] segments over the
    * fold's SURVIVORS (the rows that land in the corpus) — appended
    * before the corpus write, mirroring the committed variant's
    * stats-first ordering. Requires a `lang` column on the batch.
    */
  def ingestBatch(batch: DataFrame, corpusDir: String, indexDir: String,
                  idCol: String = "id", textCol: String = "text",
                  threshold: Double = 0.6, minEstJaccard: Double = 0.5,
                  numHashes: Int = 16, bands: Int = 4,
                  shingleFn: Column => Column =
                    graft.ext.MinHashLSH.wordShingles(_, 3),
                  statsDir: Option[String] = None): Unit = {
    foldAndCommit(batch, indexDir, idCol, textCol, threshold, minEstJaccard,
      numHashes, bands, shingleFn) { kept =>
      statsDir.foreach(d => StatsSink.append(kept, d, textCol))
      // optimized write (guide §6): rebalance so the corpus file count
      // grows with bytes, not batches x parallelism (same conf/AQE gate
      // as the staged writes — ADVICE r21 #2)
      graft.ext.ManifestTable.rebalancedPlain(kept)
        .write.mode("append").parquet(corpusDir); true
    }
    ()
  }

  /** [[ingestBatch]] with the corpus landed through
    * [[graft.ext.ManifestTable]] keyed by `batchId` — effectively-once,
    * the same contract (and the same self-healing index argument) as
    * [[Ingest.ingestBatchCommitted]]: a crash between the corpus commit
    * and the signature-segment append leaves the replay's survivors
    * re-emerging from the probe (their signatures are missing), the
    * corpus no-oping on the absorbed batch id, and the index append
    * backfilling the signatures; a second replay probes est 1.0 against
    * its own indexed copy and converges to a full no-op. Returns true
    * iff this call committed new corpus rows.
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
                           statsDir: Option[String] = None): Boolean =
    foldAndCommit(batch, indexDir, idCol, textCol, threshold, minEstJaccard,
      numHashes, bands, shingleFn) { kept =>
      statsDir.foreach(d => StatsSink.appendCommitted(kept, d, batchId, textCol))
      graft.ext.ManifestTable.append(kept, corpusDir, batchId)
    }

  /** The shared fold: within-batch keep-one, ONE signature pass reused
    * by the bloom gate + cross-batch probe + segment append, then
    * `landCorpus(kept)` (whose return value this returns) followed by
    * the unconditional index-segment + sidecar append.
    */
  private def foldAndCommit(batch: DataFrame, indexDir: String,
                            idCol: String, textCol: String, threshold: Double,
                            minEstJaccard: Double, numHashes: Int, bands: Int,
                            shingleFn: Column => Column)
                           (landCorpus: DataFrame => Boolean): Boolean = {
    // guard HERE, not only in StreamNearDup's row builders: every public
    // entry point (ingestBatch / ingestBatchCommitted / pipelineToCorpus)
    // funnels through this fold, so the raw cast("long") below can never
    // be reached with a string id that would null out and empty the index
    graft.core.Ids.requireNumericId(batch, idCol, "NearDupSink.ingestBatch")
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
    // BloomSidecar.probe): the sink's own jobs on the benchmark's
    // 2000-doc batch are 4 per fold, this probe included
    val survivors = BloomSidecar.probe(spark, bloomPath(indexDir),
        segmentsPath(indexDir), rows, col("band_hash"), "band_hash")
      .fold(within) { index =>
        val hits = StreamNearDup.probeMinHashRows(
            rows.select(col("corpus_id").as("probe_id"),
              col("sig_idx").as("sig_p"), col("band"), col("band_hash")),
            index, numHashes, bands, minEstJaccard)
          .select(col("probe_id").as(idCol)).distinct()
        within.join(hits, Seq(idCol), "left_anti")
      }
    val kept = graft.core.Caches.track(survivors
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val committed = landCorpus(kept)
    // the fold's survivor band rows: a semi-join against the persisted
    // batch rows, NOT a re-shingle of kept; column order re-pinned so
    // every appended segment file carries the identical schema. Single
    // consumer (the append) since the sidecar build moved inside the
    // append's bloom pass — no persist needed
    val bandRows =
      rows.join(kept.select(col(idCol).cast("long").as("corpus_id")),
          Seq("corpus_id"), "left_semi")
        .select(col("band"), col("band_hash"), col("corpus_id"), col("sig_idx"))
    // manifest-committed segment append under a fresh UUID: the index
    // append must stay UNCONDITIONAL (self-healing backfill after a
    // replay — see ingestBatchCommitted); per-file band_hash blooms
    // serve BloomSidecar.probe's pruned read, the merged sidecar (built
    // in the SAME pass via SidecarBloomSpec) keeps serving the gate
    graft.ext.ManifestTable.append(bandRows, segmentsPath(indexDir),
      java.util.UUID.randomUUID().toString, bloomCols = Seq("band_hash"),
      sidecarBloom = Some(graft.ext.ManifestTable.SidecarBloomSpec(
        col("band_hash"), BloomSidecar.ExpectedItems, BloomSidecar.Fpp,
        bf => BloomSidecar.write(spark, bloomPath(indexDir), bf))))
    kept.unpersist()
    rows.unpersist()
    within.unpersist()
    committed
  }

  /** The cosine-family sibling of [[ingestBatch]] — near-dedup of an
    * EMBEDDING corpus as batches arrive, completing the self-maintaining
    * sink family across all three distance families (md5-exact via
    * [[Ingest]], Jaccard via [[ingestBatch]], cosine here). Per batch:
    * within-batch keep-one ([[graft.ext.Similarity.embedNearDup]] pairs →
    * components → min-id representative), cross-batch
    * [[StreamNearDup.probeEmbed]] against the accumulated hyperplane
    * bucket index (exact-cosine verify against the vector riding on the
    * index row), O(batch) segment + sidecar append. The bloom keys are
    * `tbl:bucket` strings, so the gate skips the index read when no
    * batch vector lands in any occupied bucket of any table.
    *
    * Same preconditions and crash ordering as [[ingestBatch]]; vectors
    * replay-idempotently because an identical vector lands in its own
    * bucket in every table and cosines 1.0 against its indexed copy.
    */
  def ingestBatchEmbed(batch: DataFrame, corpusDir: String, indexDir: String,
                       idCol: String = "id", vecCol: String = "v",
                       minCos: Double = 0.9, bits: Int = 6, dims: Int = 64,
                       tables: Int = 2): Unit = {
    foldAndCommitEmbed(batch, indexDir, idCol, vecCol, minCos, bits, dims,
      tables) { kept =>
      // optimized write (guide §6): rebalance so the corpus file count
      // grows with bytes, not batches x parallelism (same conf/AQE gate
      // as the staged writes — ADVICE r21 #2)
      graft.ext.ManifestTable.rebalancedPlain(kept)
        .write.mode("append").parquet(corpusDir); true
    }
    ()
  }

  /** [[ingestBatchEmbed]] through [[graft.ext.ManifestTable]] keyed by
    * `batchId` — effectively-once with the self-healing bucket index,
    * completing the committed-sink family across all three distance
    * families (md5-exact, Jaccard, cosine): an identical replayed
    * vector re-emerges only while its indexed copy is missing, then
    * cosines 1.0 against it and converges to a no-op.
    */
  def ingestBatchEmbedCommitted(batch: DataFrame, corpusDir: String,
                                indexDir: String, batchId: String,
                                idCol: String = "id", vecCol: String = "v",
                                minCos: Double = 0.9, bits: Int = 6,
                                dims: Int = 64, tables: Int = 2): Boolean =
    foldAndCommitEmbed(batch, indexDir, idCol, vecCol, minCos, bits, dims,
      tables) { kept =>
      graft.ext.ManifestTable.append(kept, corpusDir, batchId)
    }

  private def foldAndCommitEmbed(batch: DataFrame, indexDir: String,
                                 idCol: String, vecCol: String,
                                 minCos: Double, bits: Int, dims: Int,
                                 tables: Int)
                                (landCorpus: DataFrame => Boolean): Boolean = {
    graft.core.Ids.requireNumericId(batch, idCol,
      "NearDupSink.ingestBatchEmbed")
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
    // append — same single-pass layout as [[ingestBatch]]
    val rows = graft.core.Caches.track(
      StreamNearDup.buildEmbedIndex(within, idCol, vecCol, bits, dims, tables)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val bloomKey = concat_ws(":", col("tbl"), col("bk"))
    // the sidecar keys are `tbl:bucket` composites while the pruned read
    // keys on `bk`: a row routes to the probe iff its own table's
    // composite might hit, and the bucketed join is inner on (tbl, bk),
    // so reading every index row of the routed buckets keeps every match
    val survivors = BloomSidecar.probe(spark, bloomPath(indexDir),
        segmentsPath(indexDir), rows, bloomKey, "bk")
      .fold(within) { index =>
        val hits = StreamNearDup.probeEmbedRows(
            rows.select(col("corpus_id").as("probe_id"),
              col("v_idx").as("v_p"), col("bks_idx").as("bks_p"),
              col("tbl"), col("bk")),
            index, tables, minCos)
          .select(col("probe_id").as(idCol)).distinct()
        within.join(hits, Seq(idCol), "left_anti")
      }
    val kept = graft.core.Caches.track(survivors
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    val committed = landCorpus(kept)
    // single consumer (the append) since the sidecar build moved inside
    // the append's bloom pass — no persist needed; the sidecar key stays
    // the `tbl:bucket` composite the gate checks
    val bandRows =
      rows.join(kept.select(col(idCol).cast("long").as("corpus_id")),
          Seq("corpus_id"), "left_semi")
        .select(col("tbl"), col("bk"), col("corpus_id"),
          col("v_idx"), col("bks_idx"))
    graft.ext.ManifestTable.append(bandRows, segmentsPath(indexDir),
      java.util.UUID.randomUUID().toString, bloomCols = Seq("bk"),
      sidecarBloom = Some(graft.ext.ManifestTable.SidecarBloomSpec(
        bloomKey, BloomSidecar.ExpectedItems, BloomSidecar.Fpp,
        bf => BloomSidecar.write(spark, bloomPath(indexDir), bf))))
    kept.unpersist()
    rows.unpersist()
    within.unpersist()
    committed
  }

  /** Segments → right-sized files clustered on the probe key (the
    * banded join's point lookups then prune on stats alone), per-file
    * blooms rebuilt, routing sidecars → one; safe against concurrent
    * appends (one manifest swap; a conflicting compaction aborts),
    * exactly as [[Ingest.compactIndex]]. `keyCol` is `band_hash` for
    * the MinHash index, `bk` for the embed index.
    */
  def compactIndex(spark: SparkSession, indexDir: String,
                   targetFileBytes: Long = 128L * 1024 * 1024,
                   keyCol: String = "band_hash"): (Int, Int) = {
    val counts = graft.ext.ManifestTable.compact(spark,
      segmentsPath(indexDir), targetFileBytes,
      clusterBy = Seq(keyCol), bloomCols = Seq(keyCol))
    graft.ext.ManifestTable.vacuum(spark, segmentsPath(indexDir))
    BloomSidecar.fold(spark, bloomPath(indexDir))
    counts
  }

  /** [[ingestBatch]] wired as a continuously-running streaming sink. */
  def pipelineToCorpus(docs: DataFrame, corpusDir: String, indexDir: String,
                       idCol: String = "id", textCol: String = "text",
                       threshold: Double = 0.6, minEstJaccard: Double = 0.5,
                       trigger: Trigger = Trigger.ProcessingTime("0 seconds"),
                       checkpointDir: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        ingestBatch(batch, corpusDir, indexDir, idCol, textCol,
          threshold, minEstJaccard)
      }
    checkpointDir.fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
  }
}
