package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Schemas

/** W4 — deterministic token-budget batch assignment (SURVEY.md §2.5 W4,
  * modeling auto_translate.py:281-300): a greedy reset-on-overflow running
  * sum over rows in input order. A batch closes when adding the next row's
  * expected cost (input tokens × (1 + outputFactor), +1 separator) would
  * push the running total past the budget; the system-prompt base cost is
  * carried into every batch.
  *
  * Scale design (SURVEY §7 "what's hard" #1): the greedy scan is
  * sequential by definition, so a naive global Window.orderBy would
  * single-thread 100 TB. Instead: range-partition by `pos`, greedy-pack
  * each partition independently (each partition opens a fresh batch — at
  * worst this wastes one partial batch per partition, negligible at
  * scale), then assign global contiguous batch ids with a two-pass
  * per-partition-count + offset scheme. No shuffle beyond the range
  * partitioning; no driver-side row loop (only one long per partition is
  * collected).
  */
object Batching {

  /** Expected token cost of one row (input + projected output + separator). */
  def rowCost(tokens: Long, outputFactor: Double = Schemas.OutputFactor): Long =
    math.ceil(tokens * (1.0 + outputFactor)).toLong + 1L

  /** Assign batch ids to a (pos, ..., tokens)-shaped DataFrame.
    *
    * @param df          must contain `pos` (long, globally unique, input order)
    *                    and `tokens` (long)
    * @param budget      token budget per batch (auto_translate.py:31 → 4000)
    * @param baseCost    system-prompt token cost carried into every batch
    * @param numPartitions parallelism for the greedy pack; 1 reproduces the
    *                    reference's exact sequential boundaries
    * @return df + (batch_index: Long 0-based global, custom_id: "batch-%04d"
    *         1-based like auto_translate.py:311)
    */
  def assignBatches(df: DataFrame, budget: Long = Schemas.TokenBudget,
                    baseCost: Long = 0L,
                    outputFactor: Double = Schemas.OutputFactor,
                    numPartitions: Int = 0): DataFrame = {
    val spark = df.sparkSession
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    // Persist the range-partitioned RDD so the repartitionByRange + sort
    // shuffle runs ONCE: pass 1 (counts) materializes it, pass 2 reads the
    // cached blocks. Without this each pass re-executes the whole upstream
    // lineage (the double work flagged in VERDICT r1 §wrong #1). The blocks
    // must outlive this call — the returned plan reads them on every
    // action — so cleanup is deferred to the enclosing Caches.scoped, or
    // to Caches.release() once results are materialized (ADVICE r2).
    val sorted = graft.core.Caches.track(
      df.repartitionByRange(parts, col("pos")).sortWithinPartitions("pos")
        .rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    packAndStitch(df.sparkSession, sorted, df.schema, budget, baseCost,
      outputFactor)
  }

  /** [[assignBatches]] over an EXPLICIT contiguous partition column:
    * partition `i` packs exactly the rows with `partCol == i`, ordered by
    * `pos`. Same two-pass pack-and-stitch as the range path; the
    * difference is that partition CONTENTS are a pure function of the
    * data (range bounds from `repartitionByRange` come from sampling —
    * deterministic for a fixed input layout but opaque to an external
    * replayer), so the multi-partition offset/stitching logic is exactly
    * SQL-replayable — the `w4_batcher_par` oracle row.
    *
    * @param partCol 0-based integral partition index, contiguous ranges
    *        of `pos` (e.g. `floor(pos * parts / n)`); values outside
    *        [0, numParts) throw in the shuffle.
    */
  def assignBatchesByPart(df: DataFrame, partCol: String, numParts: Int,
                          budget: Long = Schemas.TokenBudget,
                          baseCost: Long = 0L,
                          outputFactor: Double = Schemas.OutputFactor): DataFrame = {
    val schema = df.schema
    val pIdx = schema.fieldIndex(partCol)
    val posIdx = schema.fieldIndex("pos")
    val partitioner = new org.apache.spark.Partitioner {
      def numPartitions: Int = numParts
      def getPartition(key: Any): Int = key.asInstanceOf[(Int, Long)]._1
    }
    val sorted = graft.core.Caches.track(
      df.rdd.map(r => ((r.getAs[Number](pIdx).intValue(), r.getLong(posIdx)), r))
        .repartitionAndSortWithinPartitions(partitioner)
        .map(_._2)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    packAndStitch(df.sparkSession, sorted, schema, budget, baseCost,
      outputFactor)
  }

  /** The shared two-pass core: pass 1 greedy-packs each partition and
    * collects ONE batch count per partition; pass 2 re-packs with the
    * scanned global offsets. `sorted` must be persisted by the caller so
    * the passes share one materialization.
    */
  private def packAndStitch(spark: org.apache.spark.sql.SparkSession,
                            sorted: org.apache.spark.rdd.RDD[Row],
                            schema: StructType, budget: Long, baseCost: Long,
                            outputFactor: Double): DataFrame = {
    val tokIdx = schema.fieldIndex("tokens")

    // pass 1: number of batches each partition produces (one long each)
    def packCount(it: Iterator[Row]): Int = {
      var batches = 0; var running = 0L; var open = false
      it.foreach { r =>
        val cost = rowCost(r.getLong(tokIdx), outputFactor)
        if (!open || running + cost > budget) {
          batches += 1; running = baseCost + cost; open = true
        } else running += cost
      }
      batches
    }
    val counts = sorted.mapPartitionsWithIndex { case (i, it) =>
      Iterator((i, packCount(it)))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)((a, b) => a + b)
    val bOffsets = spark.sparkContext.broadcast(offsets)

    // pass 2: assign global batch indexes
    val outSchema = StructType(schema.fields :+
      StructField("batch_index", LongType, nullable = false) :+
      StructField("custom_id", StringType, nullable = false))
    val rdd = sorted.mapPartitionsWithIndex { case (i, it) =>
      var batch = bOffsets.value(i) - 1
      var running = 0L; var open = false
      it.map { r =>
        val cost = rowCost(r.getLong(tokIdx), outputFactor)
        if (!open || running + cost > budget) {
          batch += 1; running = baseCost + cost; open = true
        } else running += cost
        Row.fromSeq(r.toSeq :+ batch :+ f"batch-${batch + 1}%04d")
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** T3-flavored batching: greedy token packing PER KEY (one key = one
    * input file of the reference's folder mode), with per-key 1-based
    * batch numbering and stem-prefixed custom ids
    * (jsonl_convertor.py:76-79; folder fan-out batch_auto_translate
    * .py:189-229). One shuffle co-locates each key's rows, then a single
    * sequential pack per key — no global offsets needed because
    * numbering restarts per key, which is exactly the reference's
    * per-file semantics. Replaces the reference's ThreadPool-of-
    * subprocesses with ordinary task parallelism.
    *
    * @param df must contain keyCol, `pos` (ordering within key), `tokens`
    */
  def assignBatchesPerKey(df: DataFrame, keyCol: String,
                          budget: Long = Schemas.TokenBudget,
                          baseCost: Long = 0L,
                          outputFactor: Double = Schemas.OutputFactor): DataFrame = {
    val spark = df.sparkSession
    val parts = spark.sparkContext.defaultParallelism
    val sorted = df.repartition(parts, col(keyCol))
      .sortWithinPartitions(keyCol, "pos")
    val schema = df.schema
    val keyIdx = schema.fieldIndex(keyCol)
    val tokIdx = schema.fieldIndex("tokens")
    val outSchema = StructType(schema.fields :+
      StructField("batch_index", LongType, nullable = false) :+
      StructField("custom_id", StringType, nullable = false))
    val rdd = sorted.rdd.mapPartitions { it =>
      var curKey: String = null
      var batch = -1L
      var running = 0L
      var open = false
      it.map { r =>
        val k = r.getString(keyIdx)
        if (k != curKey) { curKey = k; batch = -1; open = false; running = 0L }
        val cost = rowCost(r.getLong(tokIdx), outputFactor)
        if (!open || running + cost > budget) {
          batch += 1; running = baseCost + cost; open = true
        } else running += cost
        Row.fromSeq(r.toSeq :+ batch :+ f"$k%s-batch-${batch + 1}%04d")
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Build the OpenAI-shaped batch-request table from batch-assigned rows
    * (auto_translate.py:303-332): one request per custom_id; the user
    * message is the {description_id: sentence} JSON map in batch order.
    */
  def buildRequests(assigned: DataFrame, systemPrompt: String,
                    model: String = Schemas.DefaultModel,
                    maxTokens: Int = Schemas.TokenBudget.toInt): DataFrame = {
    assigned
      .groupBy("custom_id")
      .agg(sort_array(collect_list(struct(
        col("pos"), col("description_id"), col("english_sentence")))).as("rows"))
      .select(
        col("custom_id"),
        lit("POST").as("method"),
        lit("/v1/chat/completions").as("url"),
        struct(
          lit(model).as("model"),
          array(
            struct(lit("system").as("role"), lit(systemPrompt).as("content")),
            struct(lit("user").as("role"),
              to_json(map_from_entries(transform(col("rows"),
                r => struct(r.getField("description_id"), r.getField("english_sentence")))))
                .as("content"))
          ).as("messages"),
          lit(0.0).as("temperature"),
          lit(maxTokens).as("max_tokens")).as("body"))
  }

  /** Batch membership map (A6, auto_translate.py:930-935): ordered
    * description_id list per custom_id — the expected-rows side of the
    * reconcile join, persisted so reconcile can run in a fresh session
    * (SURVEY §3.1).
    */
  def batchMembership(assigned: DataFrame): DataFrame =
    assigned.groupBy("custom_id")
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("description_id")))),
        r => r.getField("description_id")).as("description_ids"))
}
