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
  * id, the unconditional index append ([[BloomSidecar.append]])
  * backfills. Each fold runs in one [[graft.core.Caches.scoped]] scope,
  * so everything it caches, its operators' intermediates included, is
  * freed when it returns or throws.
  */
object NearDupSink {

  /** The accumulated signature index (band, band_hash, corpus_id,
    * sig_idx), or None before the first batch ([[BloomSidecar.read]]).
    */
  def readIndex(spark: SparkSession, indexDir: String): Option[DataFrame] =
    BloomSidecar.read(spark, indexDir)

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
    * `batchId` — effectively-once, with the self-healing signature
    * append of [[BloomSidecar.append]]; a second replay probes est 1.0
    * against its own indexed copy and converges to a full no-op.
    * Returns true iff this call committed `batchId`.
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
    // cast("long") in the tail must never be reached with a string id
    // that would null out and empty the index
    graft.core.Ids.requireNumericId(batch, idCol,
      "NearDupSink.ingestBatchCommitted")
    graft.core.Caches.scoped {
      val within = graft.core.Caches.persist(
        graft.ext.Components.nearDupKeep(graft.core.Measured.onePartition(batch),
          idCol, textCol, threshold, shingleFn = shingleFn))
      val rows = graft.core.Caches.persist(StreamNearDup.buildMinHashIndex(
        within, idCol, textCol, numHashes, bands, shingleFn))
      commitTail(within, rows, corpusDir, indexDir, batchId, idCol,
          "band_hash", Seq("band", "band_hash", "corpus_id", "sig_idx"),
          kept => statsDir.foreach(d =>
            StatsSink.appendCommitted(kept, d, batchId, textCol))) { index =>
        StreamNearDup.probeMinHashRows(
          rows.select(col("corpus_id").as("probe_id"),
            col("sig_idx").as("sig_p"), col("band"), col("band_hash")),
          index, numHashes, bands, minEstJaccard)
      }
    }
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
    graft.core.Caches.scoped {
      val one = graft.core.Measured.onePartition(batch)
      val pairs = graft.ext.Similarity.embedNearDup(one, idCol, vecCol,
        minCos, bits, dims, tables)
      val drop = graft.ext.Components.components(pairs, "id_a", "id_b")
        .filter(col("rep") =!= col("id"))
        .select(col("id").as(idCol))
      val within = graft.core.Caches.persist(
        one.join(drop, Seq(idCol), "left_anti"))
      // one bucket pass over the batch, reused by gate + probe + segment
      // append — same single-pass layout as [[ingestBatchCommitted]]
      val rows = graft.core.Caches.persist(
        StreamNearDup.buildEmbedIndex(within, idCol, vecCol, bits, dims, tables))
      // the gate keys on `bk` alone, a superset of the (tbl, bk) the
      // bucketed join is inner on: reading every index row of the routed
      // buckets keeps every match
      commitTail(within, rows, corpusDir, indexDir, batchId, idCol, "bk",
          Seq("tbl", "bk", "corpus_id", "v_idx", "bks_idx"), _ => ()) { index =>
        StreamNearDup.probeEmbedRows(
          rows.select(col("corpus_id").as("probe_id"),
            col("v_idx").as("v_p"), col("bks_idx").as("bks_p"),
            col("tbl"), col("bk")),
          index, tables, minCos)
      }
    }
  }

  /** Both folds' tail, after the within-batch keep-one `within` and its
    * persisted index rows `rows` (`corpus_id` = the document id): the
    * probe on `keyCol` (one bounded-collect job, [[BloomSidecar.probe]]),
    * `within` anti-joined to the `probe_id`s `hits` finds in the probed
    * index rows (cached; with nothing to probe, `within` is the
    * survivors), `stats`, the corpus commit (its flag is the result),
    * then the survivors' `segCols` rows appended as one segment.
    */
  private def commitTail(within: DataFrame, rows: DataFrame,
                         corpusDir: String, indexDir: String, batchId: String,
                         idCol: String, keyCol: String, segCols: Seq[String],
                         stats: DataFrame => Unit)(
                         hits: DataFrame => DataFrame): Boolean = {
    val kept = BloomSidecar.probe(within.sparkSession, indexDir, rows, keyCol)
      .fold(within) { index =>
        // `hits` is at most one id per batch row: broadcast it, or the
        // planner picks a sort-merge join that shuffles `within` by id
        // (a cache's scan reports no partitioning, even when one
        // partition built it) and AQE turns it into a broadcast. The hint
        // holds whatever the batch size, so it assumes a micro-batch:
        // 8 bytes per batch row go through the driver to every executor
        // (a 1M-row batch ships about 8 MB, plus the hash table), a
        // small share of the batch text the fold already holds cached
        graft.core.Caches.persist(within.join(
          broadcast(hits(index).select(col("probe_id").as(idCol)).distinct()),
          Seq(idCol), "left_anti"))
      }
    stats(kept)
    val committed = graft.ext.ManifestTable.append(kept, corpusDir, batchId)
    // the fold's survivor index rows: a semi-join against the persisted
    // batch rows, NOT a rebuild from kept; column order re-pinned so
    // every appended segment file carries the identical schema. Single
    // consumer (the append) — no persist needed
    BloomSidecar.append(indexDir,
      rows.join(kept.select(col(idCol).cast("long").as("corpus_id")),
          Seq("corpus_id"), "left_semi")
        .select(segCols.map(col): _*),
      keyCol)
    committed
  }

  /** Segments → right-sized files clustered on the index's declared
    * probe key — `band_hash` for the MinHash index, `bk` for the embed
    * index — so the probe's point lookups prune on stats alone
    * ([[BloomSidecar.compact]], as [[Ingest.compactIndex]]).
    */
  def compactIndex(spark: SparkSession, indexDir: String,
                   targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    BloomSidecar.compact(spark, indexDir, targetFileBytes)
}
