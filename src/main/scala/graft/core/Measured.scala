package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one size rule of the micro-batch paths: a frame whose bytes are
  * MEASURED small runs on one partition. Spark's `SinglePartition`
  * satisfies every clustered distribution, so the aggregates, distincts
  * and joins planned over such a frame need no `Exchange`, and each
  * exchange saved is a Spark job (and a driver re-plan) under adaptive
  * execution. Two bounds use the one measurement:
  *
  *  - [[small]], the unpartitioned write gate
  *    ([[graft.ext.ManifestTable]]'s optimized write): at most the
  *    advisory partition size, the one file the rebalance would size
  *    the rows to.
  *  - [[oneTask]], the ingest folds' gate: at most the largest shuffle
  *    that adaptive execution's partition coalescing would put in ONE
  *    partition anyway ([[oneTaskBytes]]). Planning such a batch on one
  *    partition up front only drops the exchanges; over it, coalescing
  *    spreads the batch's work over the cores, and so does the fold.
  *
  * Only measurements count, never an estimate: the rows of a local
  * relation (sized as the unsafe rows Spark would ship), the bytes of a
  * BUILT cache, or the manifest's recorded file sizes. An unbuilt cache,
  * a scan or an operator that can add rows has only an estimate, so a
  * frame over one keeps its distributed plan, and a batch over the bound
  * plans as it would without this rule.
  */
private[graft] object Measured {
  import org.apache.spark.sql.internal.SQLConf

  /** The advisory partition size: the most one partition is given. */
  def advisory(spark: SparkSession): Long =
    spark.sessionState.conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** The largest shuffle that adaptive execution coalesces into one
    * partition: a coalesced partition's target size is
    * `max(min(total / minPartitions, advisory), minPartitionSize)`,
    * where `minPartitions` is the default parallelism under
    * `parallelismFirst` (Spark's default) or a set minimum partition
    * number, else 1. So with either, `minPartitionSize` (1 MB by
    * default); otherwise the advisory size, if larger. -1 (nothing
    * fits) when adaptive execution or its coalescing is off: every
    * shuffle then keeps `spark.sql.shuffle.partitions`.
    */
  def oneTaskBytes(spark: SparkSession): Long = {
    val c = spark.sessionState.conf
    val minSize = c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
    if (!c.getConf(SQLConf.ADAPTIVE_EXECUTION_ENABLED) ||
        !c.getConf(SQLConf.COALESCE_PARTITIONS_ENABLED)) -1L
    else if (c.getConf(SQLConf.COALESCE_PARTITIONS_PARALLELISM_FIRST) ||
        c.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_NUM).isDefined) minSize
    else advisory(spark).max(minSize)
  }

  /** True when `df` reads only local relations or BUILT caches through
    * Projects, Filters and left semi/anti joins — operators that never
    * add rows — and the rows it reads measure at most `limit` bytes
    * (the semi/anti joins' right sides included).
    */
  def fits(df: DataFrame, limit: Long): Boolean =
    measuredBytes(df.queryExecution.optimizedPlan, limit).exists(_ <= limit)

  /** `df` [[fits]] one advisory-sized partition. */
  def small(df: DataFrame): Boolean = fits(df, advisory(df.sparkSession))

  /** `df` [[fits]] the shuffle that coalescing gives one partition. */
  def oneTask(df: DataFrame): Boolean = fits(df, oneTaskBytes(df.sparkSession))

  /** `df` coalesced to one partition when it is [[oneTask]], else `df`. */
  def onePartition(df: DataFrame): DataFrame =
    if (oneTask(df)) df.coalesce(1) else df

  /** The measured bytes `plan` reads, or None when a leaf has no
    * measurement or the plan can add rows. Stops counting once past
    * `limit`.
    */
  private def measuredBytes(plan: LogicalPlan, limit: Long): Option[Long] = {
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    import org.apache.spark.sql.catalyst.plans.logical._
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    plan match {
      case m: InMemoryRelation if m.cacheBuilder.isCachedColumnBuffersLoaded =>
        Some(m.stats.sizeInBytes.min(Long.MaxValue).toLong)
      case l: LocalRelation => Some(localBytes(l, limit))
      case p: Project => measuredBytes(p.child, limit)
      case f: Filter => measuredBytes(f.child, limit)
      case j: Join if j.joinType == LeftSemi || j.joinType == LeftAnti =>
        for {
          l <- measuredBytes(j.left, limit)
          r <- measuredBytes(j.right, limit)
        } yield l + r
      case _ => None
    }
  }

  /** The unsafe-row bytes of `l`'s rows, counted until past `limit`. */
  private def localBytes(l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation,
                         limit: Long): Long = {
    val unsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(l.output.map(_.dataType).toArray)
    val rows = l.data.iterator
    var bytes = 0L
    while (rows.hasNext && bytes <= limit)
      bytes += unsafe(rows.next()).getSizeInBytes
    bytes
  }
}
