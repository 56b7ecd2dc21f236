package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.ext.QualityFilter
import graft.ext.TextAnalysis

/** The training-data ingest path composed end-to-end: corpus dedup →
  * quality filter → PII scrub — the order a real pipeline wants
  * (cheapest rejection first: an md5 anti-join kills exact repeats
  * before any text statistics run, and only documents that survive
  * filtering pay for scrubbing).
  *
  * Every stage is STATELESS — the anti-join probes a static corpus
  * index, the audit and the scrub are projections — so one function
  * serves three deployments identically: a Structured Streaming ingest
  * (Append mode, nothing grows with stream length), a batch backfill,
  * and the DuckDB replay oracle (`ingest_pipeline`). For stream-vs-ITSELF
  * dedup inside a watermark horizon, put
  * [[StreamDedup.dedupExactStream]] in front; it composes at the same
  * seam.
  */
object Ingest {

  /** Survivors of dedup + quality filtering, with PII scrubbed from the
    * text column. `corpusIndex` is a [[StreamDedup.fingerprintIndex]]
    * over the already-ingested corpus (persist it; broadcast if small).
    */
  def pipeline(docs: DataFrame, corpusIndex: DataFrame,
               textCol: String = "text"): DataFrame =
    QualityFilter.withQualityAudit(
        StreamDedup.dedupAgainstIndex(docs, corpusIndex, textCol), textCol)
      .filter(col("keep"))
      .drop("drop_reasons", "keep")
      .withColumn(textCol, TextAnalysis.scrubPii(col(textCol)))

  // ------------------------------------------- self-maintaining corpus

  /** The fingerprint index is APPEND-ONLY SEGMENTED (VERDICT r8 #1: the
    * r8 layout rewrote `union.distinct` of the WHOLE index every
    * micro-batch — O(corpus) shuffle + write per batch, a genuine
    * scale-killer at 10⁹ fingerprints). Each batch now appends ONE new
    * parquet segment holding only that batch's survivor fingerprints
    * (O(batch) write, no shuffle over history); readers scan all
    * segments. Segments stay duplicate-free without any distinct():
    * a survivor is by definition absent from every earlier segment (it
    * won the anti-join), and batch-local dedup runs first, so no
    * fingerprint is ever written twice — a crash-REPLAYED batch
    * anti-joins away entirely and appends nothing.
    */
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

  /** All fingerprints accumulated at `indexDir` (one `fp` column), or an
    * empty frame before the first batch. The segment store is a
    * [[graft.ext.ManifestTable]] (data files under `segments/data`,
    * atomic manifest commits), so this read is an explicit snapshot
    * file list — never a recursive directory scan.
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame = {
    val seg = segmentsPath(indexDir)
    if (graft.ext.ManifestTable.snapshot(spark, seg).files.nonEmpty)
      graft.ext.ManifestTable.read(spark, seg)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("fp",
          org.apache.spark.sql.types.StringType))))
  }

  /** Periodic index maintenance: the segments re-clustered on `fp`, the
    * index's declared bloom column ([[BloomSidecar.compact]]).
    */
  def compactIndex(spark: SparkSession, indexDir: String,
                   targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    BloomSidecar.compact(spark, segmentsPath(indexDir), targetFileBytes)

  /** Stages 1-3 of the fold — bloom-routed exact dedup vs the index,
    * the quality filter, then the PII scrub — returning the PERSISTED
    * scrubbed survivors, each still carrying `fp`, the md5 of its
    * PRE-scrub text (callers write `drop("fp")`, index `fp`, then
    * unpersist). One cache serves the whole fold: the stats, corpus and
    * near-dup stages read it without `fp`, [[appendExactIndex]] reads
    * `fp` alone.
    *
    * The index keys ARRIVAL content, so fingerprints are taken BEFORE
    * the scrub: the corpus stores scrubbed text, and md5(scrubbed)
    * would never match a re-arriving raw document — a repeat of any
    * PII-bearing document would re-ingest forever. (This is also why
    * the fold decomposes pipeline() rather than calling it: the
    * pre-scrub fingerprints must be observable.) Batch-local exact dedup
    * first; which surviving row carries a duplicated text is arbitrary,
    * as with any content-keyed dedup.
    *
    * Returns the persisted survivors plus a release thunk for the
    * dedup'd+fingerprinted batch (persisted so the probe's bounded
    * collect and the anti-join share ONE dropDuplicates shuffle) —
    * callers invoke it after their first action materializes the
    * survivors.
    */
  private def dedupQuality(batch: DataFrame, indexDir: String,
                           textCol: String): (DataFrame, () => Unit) = {
    val spark = batch.sparkSession
    // a null fp (null text) never matches, so left_anti keeps it; the
    // quality filter drops it either way
    val local = graft.core.Caches.track(
      batch.dropDuplicates(Seq(textCol))
        .withColumn("fp", md5(col(textCol)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    // every row is anti-joined: routing only picks which index rows
    // the probe reads (none, the bloom-positive fingerprints', or all)
    val deduped = BloomSidecar.probe(spark, segmentsPath(indexDir), local, "fp")
      .fold(local)(idx => local.join(idx, Seq("fp"), "left_anti"))
    val release = () => { local.unpersist(); () }
    (graft.core.Caches.track(
      QualityFilter.withQualityAudit(deduped, textCol)
        .filter(col("keep"))
        .drop("drop_reasons", "keep")
        .withColumn(textCol, TextAnalysis.scrubPii(col(textCol)))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)),
      release)
  }

  /** O(batch): append the survivors' fingerprints as a new
    * manifest-committed segment — nothing over the accumulated index is
    * read or shuffled. The first segment declares `fp` as the index's
    * bloom column; every segment file carries its `fp` bloom inside
    * it, so a committed segment always routes. The manifest batch
    * id is a fresh UUID on purpose: index appends must stay
    * UNCONDITIONAL so the self-healing backfill ([[ingestBatchCommitted]])
    * still lands after a replay — idempotence belongs to the corpus
    * commit, duplicates here are harmless (an anti-join is idempotent in
    * its right side). The per-file blooms serve both halves of
    * [[BloomSidecar.probe]]: the map-side gate and the point-probe
    * pruning.
    */
  private def appendExactIndex(indexDir: String, survivors: DataFrame): Unit = {
    graft.ext.ManifestTable.append(survivors.select("fp"),
      segmentsPath(indexDir), java.util.UUID.randomUUID().toString,
      bloomCols = Seq("fp"))
    ()
  }

  /** Fold ONE batch of arriving documents into a self-maintaining
    * corpus: batch-local exact dedup, corpus dedup against the persisted
    * index, quality filter, survivors appended to `corpusDir` scrubbed
    * and COMMITTED through [[graft.ext.ManifestTable]] under `batchId`,
    * their fingerprints appended as one new index segment.
    *
    * Corpus dedup is BLOOM-ROUTED: the index segments' per-file blooms
    * (one broadcast) decide map-side which fingerprints might be
    * indexed — a bloom has no false negatives — and
    * [[BloomSidecar.probe]] reads none of the index, only the
    * bloom-positive fingerprints' segments, or all of it. The bloom never
    * decides membership — false positives just widen the index read —
    * so a segment without a bloom costs latency, never data.
    *
    * Commit contract: the corpus records each batch id in its manifest,
    * so a crash-REPLAYED micro-batch can never duplicate its survivors.
    * The exact fingerprint index stays an append-only segment store and
    * is appended UNCONDITIONALLY after the corpus commit, which makes it
    * self-healing: if a crash lands between the corpus commit and the
    * index append, the replay's survivors re-emerge from dedup (their
    * fingerprints are missing), the corpus append no-ops on the absorbed
    * batch id, and the index append backfills the missing fingerprints.
    * Index duplicates from that healing are harmless — an anti-join
    * probe is idempotent in its right side. Once a batch's fingerprints
    * land, the same content under ANY batch id anti-joins away entirely.
    * Returns true iff this call committed `batchId` (false: an earlier
    * commit already absorbed it).
    *
    * `statsDir`, when set, maintains a MANIFEST-COMMITTED
    * [[StatsSink]] store under the SAME batch id, committed BEFORE the
    * corpus — the one ordering where every crash window replays
    * consistently: stats-committed-but-not-corpus replays to identical
    * survivors (the chain is content-deterministic and the index, which
    * lands last, is unchanged), so the stats no-op and the corpus
    * catches up; corpus-committed-but-not-index replays with both
    * already absorbed while the index heals. Stats-after-corpus would
    * instead LOSE the batch's stats forever — the replay no-ops on the
    * absorbed corpus id and never revisits them. Precondition (shared
    * with the replay oracles): equal texts within a batch carry equal
    * attribution columns, so the arbitrary in-batch dedup survivor
    * cannot flip per-language counts between original run and replay.
    * Requires a `lang` column when `statsDir` is set; read the totals
    * with [[StatsSink.readCommitted]].
    */
  def ingestBatchCommitted(batch: DataFrame, corpusDir: String,
                           indexDir: String, batchId: String,
                           textCol: String = "text",
                           statsDir: Option[String] = None): Boolean = {
    val (survivors, release) = dedupQuality(batch, indexDir, textCol)
    val scrubbed = survivors.drop("fp")
    statsDir.foreach(d => StatsSink.appendCommitted(scrubbed, d, batchId))
    val committed =
      graft.ext.ManifestTable.append(scrubbed, corpusDir, batchId)
    release()
    appendExactIndex(indexDir, survivors)
    survivors.unpersist()
    committed
  }

  /** The WHOLE training-data ingest as one self-maintaining fold: exact
    * dedup (vs the exact fingerprint index) → quality filter → PII
    * scrub → NEAR-dup dedup (vs the near-dup signature index) → corpus
    * commit, both indexes maintained O(batch), on the
    * [[ingestBatchCommitted]] commit discipline — via
    * [[NearDupSink.ingestBatchCommitted]] for the stats → corpus →
    * near-index tail. The near-dup stage runs on SCRUBBED text — the
    * corpus's content — while the exact index keys arrival text, so each
    * index is consistent with what probes it on replay. `statsDir`
    * totals describe the chain's FINAL survivors (requires a `lang`
    * column). Crash windows, in commit order
    * (stats, corpus, near-dup index, exact index — each later than the
    * last):
    *
    *   - after STATS, before corpus: the chain is content-deterministic,
    *     so the replay recomputes identical survivors; stats no-op on
    *     the absorbed batch id, the corpus catches up.
    *   - after CORPUS, before the near-dup index: the replay's
    *     survivors re-emerge (neither index has them), stats and corpus
    *     no-op, the near-dup index append backfills, exact follows.
    *   - after the NEAR-DUP index, before exact: the replay's rows
    *     probe est-1.0 against their OWN indexed signatures and the
    *     near-dup stage drops them all — stats/corpus append nothing
    *     (already absorbed anyway) — while `appendExactIndex` runs on
    *     the PRE-near-dup survivors, backfilling the exact
    *     fingerprints; a third replay then vanishes at stage 1.
    *
    * Stats-last would instead lose the batch's totals forever (the
    * replay no-ops on the absorbed corpus id and never revisits them) —
    * the same argument as [[ingestBatchCommitted]], now holding across
    * the full chain. Returns true iff this call committed `batchId`.
    */
  def ingestBatchFullCommitted(batch: DataFrame, corpusDir: String,
                               exactIndexDir: String, nearIndexDir: String,
                               batchId: String,
                               idCol: String = "id", textCol: String = "text",
                               threshold: Double = 0.6,
                               minEstJaccard: Double = 0.5,
                               statsDir: Option[String] = None): Boolean = {
    val (survivors, release) = dedupQuality(batch, exactIndexDir, textCol)
    val committed = NearDupSink.ingestBatchCommitted(survivors.drop("fp"),
      corpusDir, nearIndexDir, batchId, idCol, textCol, threshold,
      minEstJaccard, statsDir = statsDir)
    release()
    appendExactIndex(exactIndexDir, survivors)
    survivors.unpersist()
    committed
  }

  /** [[ingestBatchFullCommitted]] behind one `writeStream` — the full
    * chain, effectively-once END TO END: Structured Streaming replays a
    * crashed micro-batch under the SAME epoch id, so
    * `"<runPrefix>-<epochId>"` is a stable batch id and the corpus/stats
    * manifests absorb the replay as a no-op while the indexes self-heal
    * (the window walk on [[ingestBatchFullCommitted]]). `runPrefix`
    * names the logical stream — keep it constant across restarts of the
    * same checkpointed query, distinct between independent streams
    * sharing a corpus.
    */
  def pipelineToCorpusFullCommitted(docs: DataFrame, corpusDir: String,
                                    exactIndexDir: String, nearIndexDir: String,
                                    runPrefix: String,
                                    idCol: String = "id",
                                    textCol: String = "text",
                                    threshold: Double = 0.6,
                                    minEstJaccard: Double = 0.5,
                                    trigger: Trigger = Trigger.ProcessingTime("0 seconds"),
                                    checkpointDir: Option[String] = None,
                                    statsDir: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        ingestBatchFullCommitted(batch, corpusDir, exactIndexDir,
          nearIndexDir, s"$runPrefix-$epochId", idCol, textCol,
          threshold, minEstJaccard, statsDir)
        ()
      }
    checkpointDir.fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
  }

  /** [[ingestBatchCommitted]] behind one `writeStream` — the simple
    * chain, effectively-once end to end on the same epoch-keyed batch-id
    * discipline as [[pipelineToCorpusFullCommitted]] (Structured
    * Streaming replays a crashed micro-batch under the same epoch id,
    * so the corpus/stats manifests absorb the replay while the index
    * self-heals).
    */
  def pipelineToCorpusCommitted(docs: DataFrame, corpusDir: String,
                                indexDir: String, runPrefix: String,
                                textCol: String = "text",
                                trigger: Trigger = Trigger.ProcessingTime("0 seconds"),
                                checkpointDir: Option[String] = None,
                                statsDir: Option[String] = None): StreamingQuery = {
    val writer = docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        ingestBatchCommitted(batch, corpusDir, indexDir,
          s"$runPrefix-$epochId", textCol, statsDir)
        ()
      }
    checkpointDir.fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
  }
}
