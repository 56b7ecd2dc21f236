package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.TextFunctions

/** Incremental corpus statistics — the O(batch) answer to "how many
  * documents / tokens / characters does the corpus hold, per language?"
  * for a corpus that grows by appends. Each arriving batch writes ONE
  * tiny parquet segment holding its PARTIAL aggregate (a handful of
  * per-language rows); the corpus-level answer is the sum over segments,
  * computed at read time from kilobytes of segment rows. Nothing ever
  * rescans the corpus: at 100 TB the alternative — a full groupBy over
  * every ingested document each time someone asks for corpus totals —
  * is a 100 TB scan, while this sink answers from segments whose total
  * size is (batches × languages) rows.
  *
  * This works because the maintained statistics are ASSOCIATIVE AND
  * COMMUTATIVE partial aggregates (counts and sums — the same algebra
  * Spark itself exploits for map-side partial aggregation, applied
  * across batches instead of across partitions): any grouping of the
  * arriving documents into batches folds to the identical total, which
  * is exactly what the `corpus_stats_replay` oracle hash-checks against
  * a single-pass DuckDB aggregate. Statistics that do NOT decompose
  * exactly get the MERGEABLE-SKETCH treatment instead: segments carry a
  * per-batch HLL sketch and [[readWithDistinct]] union-merges them
  * (same algebra at sketch precision); one-shot sketch queries over a
  * static corpus are [[graft.ext.TextAnalysis.approxCorpusStats]].
  *
  * Storage: every segment is COMMITTED through [[graft.ext.ManifestTable]]
  * under the batch id of the batch it describes ([[appendCommitted]]),
  * so a crash-replayed batch finds its id in the manifest and no-ops
  * instead of double-counting — standalone, or composed with the ingest
  * folds ([[Ingest.ingestBatchCommitted]],
  * [[NearDupSink.ingestBatchCommitted]]), which commit the stats of
  * their SURVIVORS under the corpus batch id so totals describe corpus
  * content. Reads ([[readCommitted]], [[readWithDistinct]]) see one
  * manifest snapshot.
  *
  * Maintenance: segments are one-row-scale, so the only growth is FILE
  * COUNT — [[compact]] folds them in one atomic manifest swap, so a
  * stats read sees the pre- or the post-compaction files, never both.
  */
object StatsSink {

  /** One batch's partial aggregate: (lang, n_docs, n_tokens, n_chars)
    * per language — token counting is the whitespace tokenizer shared
    * with the `text_tokens` oracle ([[TextFunctions.wsTokenCount]]);
    * null languages roll up under their own group (parquet round-trips
    * the null key) so no document is ever dropped from totals.
    */
  def batchStats(batch: DataFrame, textCol: String = "text",
                 langCol: String = "lang"): DataFrame =
    batch.groupBy(col(langCol).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFunctions.wsTokenCount(col(textCol))).cast("long").as("n_tokens"),
        sum(length(col(textCol)).cast("long")).cast("long").as("n_chars"),
        hll_sketch_agg(col(textCol)).as("text_sketch"))

  /** The fixed segment schema [[batchStats]] writes — the schema of the
    * empty store, so both readers aggregate one frame shape whether or
    * not a batch has committed yet.
    */
  private val segmentSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("lang",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("n_docs",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_tokens",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("n_chars",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("text_sketch",
      org.apache.spark.sql.types.BinaryType)))

  /** One batch's partial-aggregate segment, committed through
    * [[graft.ext.ManifestTable]] keyed by `batchId`. O(batch): one
    * map-side-combined groupBy over the batch, a ~per-language-row
    * write, nothing read. A crash-replayed batch finds its id in the
    * manifest and no-ops instead of double-counting. Returns true iff
    * committed.
    */
  def appendCommitted(batch: DataFrame, statsDir: String, batchId: String,
                      textCol: String = "text",
                      langCol: String = "lang"): Boolean =
    graft.ext.ManifestTable.append(
      batchStats(batch, textCol, langCol).coalesce(1), statsDir, batchId)

  /** The committed segment rows, or an empty frame with the segment
    * schema before the first non-empty commit.
    */
  private def segments(spark: SparkSession, statsDir: String): DataFrame =
    if (graft.ext.ManifestTable.snapshot(spark, statsDir).files.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], segmentSchema)
    else graft.ext.ManifestTable.read(spark, statsDir)

  /** Corpus totals so far: the segment rows re-aggregated — kilobytes
    * in, one row per language out, corpus never touched. Exact columns
    * only (the `corpus_stats_replay` oracle surface); distinct-content
    * estimates live on [[readWithDistinct]]. Empty frame (same columns)
    * before the first batch.
    */
  def readCommitted(spark: SparkSession, statsDir: String): DataFrame =
    segments(spark, statsDir)
      .groupBy("lang")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"))

  /** [[readCommitted]] plus the statistic sums CANNOT maintain: distinct
    * text content per language, via per-batch Datasketches HLL sketches
    * (`hll_sketch_agg` at append time) union-merged at read. Sketch
    * registers are max-per-bucket, so the merge of per-batch partials is
    * IDENTICAL to a one-shot sketch — the same associativity contract as
    * the exact columns, at sketch precision (~2% at the default lgK
    * against true distincts; the spec pins fold == one-shot equality and
    * bounds the estimate against exact count-distinct). ~KB per segment
    * row; duplicates across batches are absorbed, not double-counted —
    * the one corpus statistic for which that is true without an index.
    */
  def readWithDistinct(spark: SparkSession, statsDir: String): DataFrame =
    segments(spark, statsDir)
      .groupBy("lang")
      .agg(sum("n_docs").as("n_docs"), sum("n_tokens").as("n_tokens"),
        sum("n_chars").as("n_chars"),
        hll_sketch_estimate(hll_union_agg(col("text_sketch")))
          .as("n_distinct_est"))

  /** Segment-file maintenance: many per-batch files → few, in ONE
    * manifest swap ([[graft.ext.ManifestTable.compact]]). Row contents
    * are preserved (re-aggregation stays a read-time concern) and the
    * batch-id history survives, so replays stay no-ops after a
    * compaction. Returns (input files, output files).
    */
  def compact(spark: SparkSession, statsDir: String,
              targetFileBytes: Long = 128L * 1024 * 1024): (Int, Int) =
    graft.ext.ManifestTable.compact(spark, statsDir, targetFileBytes)
}
