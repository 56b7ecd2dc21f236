package org.apache.spark.sql.graft

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** The one `private[sql]` seam this engine needs: turning a
  * LogicalPlan into a DataFrame, which V1 streaming sources must do —
  * `Source.getBatch` has to return a Dataset whose plan is marked
  * `isStreaming = true`, and the only constructor for that is
  * `Dataset.ofRows` (Spark's own FileStreamSource does exactly this).
  * Kept to a single forwarding method in a dedicated namespace — the
  * standard connector pattern (Delta ships a whole
  * `org.apache.spark.sql.delta` package for the same reason) — so the
  * internal-API surface the build depends on stays grep-ably tiny.
  */
object GraftSqlShims {
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** The inverse seam, for the V1 streaming SINK: `Sink.addBatch`
    * receives a DataFrame whose plan belongs to the streaming
    * incremental execution and cannot be re-planned by a writer — the
    * connector must rebuild a BATCH frame over the already-computed
    * rows. Spark's own sinks (and Delta's) do exactly this via
    * `internalCreateDataFrame`.
    */
  def asBatch(df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val rdd = df.queryExecution.toRdd.map(_.copy())
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, df.schema, isStreaming = false)
  }

  /** [[asBatch]] over rows cached at the RDD level, plus the thunk that
    * releases them. Planning `df` here runs its AQE stage jobs (under
    * the caller's call site, as a Dataset action would name them); the
    * cache then fills inside the first job that reads the frame and adds
    * no job of its own, where a `Dataset.persist` of a frame about to be
    * collected cost two more jobs per call on the corpus_ingest
    * benchmark.
    */
  def cachedBatch(df: org.apache.spark.sql.DataFrame,
                  level: org.apache.spark.storage.StorageLevel)
  : (org.apache.spark.sql.DataFrame, () => Unit) = {
    val sc = df.sparkSession.sparkContext
    val site = sc.getCallSite()
    val rdd = withCallSite(sc, site.shortForm, site.longForm)(
      df.queryExecution.toRdd).map(_.copy()).persist(level)
    (df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, df.schema, isStreaming = false),
      () => { rdd.unpersist(blocking = false); () })
  }

  /** A computed BATCH frame re-marked as a streaming micro-batch — what
    * a V1 `Source.getBatch` must return for a part it cannot express as
    * a file-list relation (the restore commit's synthesized snapshot
    * diff: a join-built plan, not a set of parquet paths). The rows are
    * the batch plan's own lazy RDD; only the streaming flag changes.
    */
  def asStream(df: org.apache.spark.sql.DataFrame)
  : org.apache.spark.sql.DataFrame = {
    val rdd = df.queryExecution.toRdd.map(_.copy())
    df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rdd, df.schema, isStreaming = true)
  }

  /** Runs `body` with its jobs' call site pinned to (`short`, `long`)
    * — `SparkContext.setCallSite(CallSite)` is `private[spark]`. This is
    * how an engine helper that runs its own jobs names its CALLER in
    * the UI and in listener events, as a Dataset action does. An outer
    * call site, when one is set, is left in force.
    */
  def withCallSite[T](sc: org.apache.spark.SparkContext, short: String,
                      long: String)(body: => T): T =
    if (sc.getLocalProperty(org.apache.spark.util.CallSite.LONG_FORM) != null) body
    else {
      sc.setCallSite(org.apache.spark.util.CallSite(short, long))
      try body finally sc.clearCallSite()
    }

  /** `DataType.sameType` (type equality ignoring nullability) is
    * `private[sql]` — the schema-align paths compare through this seam
    * so a mere containsNull difference never forces a refused cast.
    */
  def sameTypeIgnoreNullability(a: org.apache.spark.sql.types.DataType,
                                b: org.apache.spark.sql.types.DataType)
  : Boolean = a.sameType(b)

  /** The identity-transform extractor (`PARTITIONED BY (col)`) — the
    * `IdentityTransform` case class is `private[sql]`, so the catalog
    * matches through this seam.
    */
  def identityColumn(t: org.apache.spark.sql.connector.expressions.Transform)
  : Option[String] = t match {
    case id: org.apache.spark.sql.connector.expressions.IdentityTransform =>
      Some(id.ref.fieldNames.mkString("."))
    case _ => None
  }

  /** V2 `Predicate` → V1 `Filter` via Spark's own bridge
    * (`private[sql] PredicateUtils`) — what lets the catalog reuse ONE
    * filter-to-SQL translation for scans, deletes and overwrites.
    */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
  : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)
}

/** Public bridge over Spark's `private[sql]`
  * `V2TableWithV1Fallback` (the seam `DataStreamWriter.toTable` and
  * streaming relation resolution consult for tables whose streaming
  * face is a V1 sink/source) — the same package-placement move Delta
  * uses. A table extending this trait exposes `v1Table` publicly;
  * nothing else of the parent leaks.
  */
trait GraftV1FallbackTable
    extends org.apache.spark.sql.connector.catalog.V2TableWithV1Fallback
