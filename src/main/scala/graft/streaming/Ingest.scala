package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.{StringType, StructType}
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

  /** All fingerprints accumulated at `indexDir` (one `fp` column), or an
    * empty frame before the first batch ([[BloomSidecar.read]]).
    */
  def readIndex(spark: SparkSession, indexDir: String): DataFrame =
    BloomSidecar.read(spark, indexDir).getOrElse(spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], new StructType().add("fp", StringType)))

  /** Periodic index maintenance: the segments re-clustered on `fp`, the
    * index's declared bloom column ([[BloomSidecar.compact]]).
    */
  def compactIndex(spark: SparkSession, indexDir: String,
                   targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    BloomSidecar.compact(spark, indexDir, targetFileBytes)

  /** Stages 1-3 of the fold — bloom-routed exact dedup vs the index,
    * the quality filter, then the PII scrub — returning the PERSISTED
    * scrubbed survivors, each still carrying `fp`, the md5 of its
    * PRE-scrub text (callers write `drop("fp")` and index `fp`). One
    * cache serves the whole fold: the stats, corpus and near-dup stages
    * read it without `fp`, the exact index append reads `fp` alone. The
    * dedup'd+fingerprinted batch is cached too, so the probe's bounded
    * collect and the anti-join share ONE dropDuplicates shuffle; the
    * caller's [[graft.core.Caches.scoped]] frees both.
    *
    * The index keys ARRIVAL content, so fingerprints are taken BEFORE
    * the scrub: the corpus stores scrubbed text, and md5(scrubbed)
    * would never match a re-arriving raw document — a repeat of any
    * PII-bearing document would re-ingest forever. (This is also why
    * the fold decomposes pipeline() rather than calling it: the
    * pre-scrub fingerprints must be observable.) Batch-local exact dedup
    * first; which surviving row carries a duplicated text is arbitrary,
    * as with any content-keyed dedup.
    */
  private def dedupQuality(batch: DataFrame, indexDir: String,
                           textCol: String): DataFrame = {
    val spark = batch.sparkSession
    // a null fp (null text) never matches, so left_anti keeps it; the
    // quality filter drops it either way
    val local = graft.core.Caches.persist(
      batch.dropDuplicates(Seq(textCol)).withColumn("fp", md5(col(textCol))))
    // every row is anti-joined: routing only picks which index rows
    // the probe reads (none, the bloom-positive fingerprints', or all)
    val deduped = BloomSidecar.probe(spark, indexDir, local, "fp")
      .fold(local)(idx => local.join(idx, Seq("fp"), "left_anti"))
    graft.core.Caches.persist(
      QualityFilter.withQualityAudit(deduped, textCol)
        .filter(col("keep"))
        .drop("drop_reasons", "keep")
        .withColumn(textCol, TextAnalysis.scrubPii(col(textCol))))
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
    * so a crash-REPLAYED micro-batch can never duplicate its survivors;
    * the fingerprint segment lands after the corpus commit, through the
    * unconditional, self-healing [[BloomSidecar.append]]. Once a batch's
    * fingerprints land, the same content under ANY batch id anti-joins
    * away entirely. Returns true iff this call committed `batchId`
    * (false: an earlier commit already absorbed it). Every cache the
    * fold builds is freed when it returns or throws
    * ([[graft.core.Caches.scoped]]).
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
                           statsDir: Option[String] = None): Boolean =
    graft.core.Caches.scoped {
      val survivors = dedupQuality(batch, indexDir, textCol)
      val scrubbed = survivors.drop("fp")
      statsDir.foreach(d => StatsSink.appendCommitted(scrubbed, d, batchId))
      val committed =
        graft.ext.ManifestTable.append(scrubbed, corpusDir, batchId)
      BloomSidecar.append(indexDir, survivors.select("fp"), "fp")
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
    *     (already absorbed anyway) — while the exact index append runs on
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
                               statsDir: Option[String] = None): Boolean =
    graft.core.Caches.scoped {
      val survivors = dedupQuality(batch, exactIndexDir, textCol)
      val committed = NearDupSink.ingestBatchCommitted(survivors.drop("fp"),
        corpusDir, nearIndexDir, batchId, idCol, textCol, threshold,
        minEstJaccard, statsDir = statsDir)
      BloomSidecar.append(exactIndexDir, survivors.select("fp"), "fp")
      committed
    }

  /** [[ingestBatchFullCommitted]] behind one `writeStream`: the full
    * chain, effectively-once END TO END ([[foldStream]]).
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
                                    statsDir: Option[String] = None): StreamingQuery =
    foldStream(docs, runPrefix, trigger, checkpointDir) { (batch, batchId) =>
      ingestBatchFullCommitted(batch, corpusDir, exactIndexDir, nearIndexDir,
        batchId, idCol, textCol, threshold, minEstJaccard, statsDir)
    }

  /** [[ingestBatchCommitted]] behind one `writeStream`: the simple
    * chain, effectively-once end to end ([[foldStream]]).
    */
  def pipelineToCorpusCommitted(docs: DataFrame, corpusDir: String,
                                indexDir: String, runPrefix: String,
                                textCol: String = "text",
                                trigger: Trigger = Trigger.ProcessingTime("0 seconds"),
                                checkpointDir: Option[String] = None,
                                statsDir: Option[String] = None): StreamingQuery =
    foldStream(docs, runPrefix, trigger, checkpointDir) { (batch, batchId) =>
      ingestBatchCommitted(batch, corpusDir, indexDir, batchId, textCol,
        statsDir)
    }

  /** `docs` folded micro-batch by micro-batch through `fold` behind one
    * Append-mode `writeStream`, each batch under the id
    * `"<runPrefix>-<epochId>"`. Structured Streaming replays a crashed
    * micro-batch under the SAME epoch id, so the corpus/stats manifests
    * absorb the replay as a no-op while the indexes self-heal (the
    * window walk on [[ingestBatchFullCommitted]]). `runPrefix` names the
    * logical stream — keep it constant across restarts of the same
    * checkpointed query, distinct between independent streams sharing a
    * corpus.
    */
  private def foldStream(docs: DataFrame, runPrefix: String, trigger: Trigger,
                         checkpointDir: Option[String])(
                         fold: (DataFrame, String) => Boolean): StreamingQuery = {
    val writer = docs.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        fold(batch, s"$runPrefix-$epochId")
        ()
      }
    checkpointDir.fold(writer)(cp => writer.option("checkpointLocation", cp))
      .start()
  }
}
