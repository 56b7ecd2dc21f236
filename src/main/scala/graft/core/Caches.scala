package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Registry for plan intermediates that operators persist because the
  * returned DataFrame re-reads them on every action (Batching's
  * range-partitioned RDD, MinHashLSH's shingle frame). The blocks must
  * outlive the operator call — the caller's action is what consumes them —
  * so the operator cannot unpersist eagerly. Spark's ContextCleaner drops
  * them when the returned plan is garbage-collected; long-lived sessions
  * that run many queries (bench, verify, a REPL) can bound accumulation
  * deterministically by calling [[release]] once the results of previous
  * queries are materialized (ADVICE r2 — Batching.scala:55).
  */
object Caches {

  private val rdds = new ConcurrentLinkedQueue[RDD[_]]()
  private val frames = new ConcurrentLinkedQueue[Dataset[_]]()

  def track[T](r: RDD[T]): RDD[T] = { rdds.add(r); r }
  def track[T](df: Dataset[T]): Dataset[T] = { frames.add(df); df }

  /** `df` persisted (MEMORY_AND_DISK_SER) and tracked — or `df` as is
    * when an identical plan is cached already (the same batch folded
    * again while an earlier call's intermediates are still held): it
    * reads that cache, where a second persist would only log a re-cache
    * warning.
    */
  def persist[T](df: Dataset[T]): Dataset[T] =
    if (df.storageLevel != StorageLevel.NONE) df
    else track(df.persist(StorageLevel.MEMORY_AND_DISK_SER))

  /** Unpersist every tracked intermediate (non-blocking). Safe to call at
    * any point where no returned-but-unmaterialized plan from a previous
    * operator call is still needed.
    */
  def release(): Unit = {
    var r = rdds.poll()
    while (r != null) { r.unpersist(blocking = false); r = rdds.poll() }
    var f = frames.poll()
    while (f != null) { f.unpersist(blocking = false); f = frames.poll() }
  }
}
