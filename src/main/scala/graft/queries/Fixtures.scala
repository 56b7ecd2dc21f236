package graft.queries

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType
import graft.Tables
import graft.ext.ManifestTable
import graft.ext.ManifestTable.Snapshot

/** The set-up the oracle fixtures share: their working directories, the
  * `graft_fix` catalog and its tables, and the checks a row-level op
  * fixture makes on the commit it landed.
  */
private[queries] object Fixtures {

  def fsOf(s: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), s.sparkContext.hadoopConfiguration)

  /** `path`, deleted recursively first: the fixture's working root,
    * fresh on every pass.
    */
  def freshRoot(s: SparkSession, path: String): String = {
    fsOf(s, path).delete(new Path(path), true)
    path
  }

  // ONE warehouse for every graft_fix query: Spark caches a catalog
  // instance at first reference, so a per-query warehouse conf would
  // silently lose to whichever query ran first (queries run in map
  // order — effectively arbitrary). Distinct table names isolate.
  val wh = "/tmp/graft_fix/wh"

  /** Registers the `graft_fix` catalog over [[wh]]. */
  def catalog(s: SparkSession): Unit = {
    s.conf.set("spark.sql.catalog.graft_fix", "graft.ext.GraftCatalog")
    s.conf.set("spark.sql.catalog.graft_fix.warehouse", wh)
  }

  val DocSchema = "(doc_id BIGINT, lang STRING, n_chars BIGINT)"

  /** `graft_fix.<name>` dropped and CREATEd as `schema` (the statement's
    * text after the table name), with `documents`' (doc_id, lang,
    * n_chars) published as the view `<name>_src`. Every statement
    * re-runs, so a fixture built on it replays whole on each warm bench
    * pass.
    */
  def create(s: SparkSession, d: String, name: String,
             schema: String = DocSchema): Unit = {
    catalog(s)
    s.sql(s"DROP TABLE IF EXISTS graft_fix.$name")
    Tables.load(s, d, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .createOrReplaceTempView(s"${name}_src")
    s.sql(s"CREATE TABLE graft_fix.$name $schema")
  }

  /** [[create]], then one `INSERT INTO graft_fix.<name> <rows> FROM
    * <name>_src WHERE <band>` per band; returns the table's snapshot.
    * BANDED inserts: each commit writes >= 1 file whose doc_id stats span
    * only its band, so the file split (and therefore any strict-subset
    * pruning proof over it) holds at ANY parallelism and scale factor — a
    * single insert + compact split depends on the session's task count
    * (local[4] in graft.Explain compacted such a table to 2 files and
    * tripped the degenerate require).
    */
  def banded(s: SparkSession, d: String, name: String,
             schema: String = DocSchema,
             rows: String = "SELECT doc_id, lang, n_chars",
             bands: Seq[String] = Seq(0, 100, 200, 300).map(lo =>
               s"doc_id >= $lo AND doc_id < ${lo + 100}")): Snapshot = {
    create(s, d, name, schema)
    bands.foreach(b =>
      s.sql(s"INSERT INTO graft_fix.$name $rows FROM ${name}_src WHERE $b"))
    val snap = snapshot(s, name)
    require(snap.files.size >= bands.size,
      s"fixture degenerate: ${snap.files.size} files after " +
        s"${bands.size} banded inserts")
    snap
  }

  def snapshot(s: SparkSession, name: String): Snapshot =
    ManifestTable.snapshot(s, s"$wh/$name")

  /** The head snapshot of `graft_fix.<name>`, required to have landed as
    * an `op` commit (`what` names the statement in the failure).
    */
  def landed(s: SparkSession, name: String, op: String,
             what: String): Snapshot = {
    val snap = snapshot(s, name)
    require(snap.op == op, s"$what landed as '${snap.op}', not '$op'")
    snap
  }

  /** Requires that going from `before` to `after` rewrote at least one
    * file and fewer than `below`: the op's candidate pruning held.
    */
  def rewrote(before: Snapshot, after: Snapshot, below: Int,
              what: String): Unit = {
    val n = before.files.toSet.diff(after.files.toSet).size
    require(n > 0 && n < below,
      s"$what rewrote $n of ${before.files.size} files (expected 1 to " +
        s"${below - 1}) — candidate pruning did not hold")
  }

  /** Runs `stream` into a memory sink until it has consumed everything
    * available, stops it, and returns the collected rows as `schema`.
    */
  def drained(s: SparkSession, stream: DataFrame,
              schema: StructType): DataFrame = {
    val sink = "graft_fix_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val q = stream.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    val rows = try {
      q.processAllAvailable()
      s.table(sink).collect().toSeq
    } finally { q.stop(); s.catalog.dropTempView(sink) }
    import scala.jdk.CollectionConverters._
    s.createDataFrame(rows.asJava, schema)
  }

  /** Runs `df`, then reads the `numFiles` metric of every file scan in
    * its executed plan that `scan` selects (all of them by default),
    * inside adaptive query stages too: the files the scan really opened.
    */
  def filesRead(df: DataFrame,
                scan: FileSourceScanExec => Boolean = _ => true): Seq[Long] = {
    df.collect()
    Adaptive.collect(df.queryExecution.executedPlan) {
      case f: FileSourceScanExec if scan(f) => f.metrics("numFiles").value
    }
  }

  /** Plan traversal that descends into adaptive plans and their query
    * stages, where a plain `collect` stops at `AdaptiveSparkPlanExec`.
    */
  private object Adaptive
    extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
}
