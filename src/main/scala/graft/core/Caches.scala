package graft.core

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.storage.StorageLevel

/** Registry for plan intermediates that operators persist because the
  * plan they build re-reads them on every action (Batching's
  * range-partitioned RDD, MinHashLSH's colliding buckets, the bucketed
  * vectors of `Similarity.embedNearDup`, the reconcile join shared by
  * the output and the reports). The blocks must outlive the operator
  * call — the caller's action is what consumes them — so the operator
  * cannot unpersist eagerly. Inside [[scoped]] a registration lives as
  * long as the innermost open scope: a micro-batch fold runs in one, so
  * nothing it caches outlives the batch, whichever operator cached it.
  * Outside any scope a registration lives until [[release]]: this
  * registry references every tracked RDD and frame, and the session's
  * CacheManager every persisted `Dataset`, so Spark's ContextCleaner
  * drops neither. Long-lived sessions that run many queries (bench,
  * verify, a REPL) call [[release]] once the results of previous
  * queries are materialized (ADVICE r2 — Batching.scala:55).
  */
object Caches {

  private val rdds = new ConcurrentLinkedQueue[RDD[_]]()
  private val frames = new ConcurrentLinkedQueue[Dataset[_]]()

  /** This thread's open scopes, innermost first, each holding its
    * registrations' unpersists, newest first. Not inheritable. */
  private val open = ThreadLocal.withInitial[List[List[() => Unit]]](() => Nil)

  /** True when the innermost open scope took `free`. */
  private def hold(free: () => Unit): Boolean = open.get match {
    case held :: outer => open.set((free :: held) :: outer); true
    case Nil => false
  }

  def track[T](r: RDD[T]): RDD[T] = {
    if (!hold(() => r.unpersist(blocking = false))) rdds.add(r); r
  }

  def track[T](df: Dataset[T]): Dataset[T] = {
    if (!hold(() => df.unpersist(blocking = false))) frames.add(df); df
  }

  /** `df` persisted (MEMORY_AND_DISK_SER) and tracked — or `df` as is,
    * and not tracked, when an identical plan is cached already (the
    * same batch folded again while an earlier call's intermediates are
    * still held): it reads that cache, whose owner frees it, where a
    * second persist would only log a re-cache warning.
    */
  def persist[T](df: Dataset[T]): Dataset[T] =
    if (df.storageLevel != StorageLevel.NONE) df
    else track(df.persist(StorageLevel.MEMORY_AND_DISK_SER))

  /** `body` with every [[track]] and [[persist]] on this thread
    * registered to a new scope, unpersisted (non-blocking) when `body`
    * returns or throws, newest first, so a cache goes before the caches
    * it reads. Scopes nest: an inner one frees only its own
    * registrations. Use a scope only for a body whose result holds no
    * lazy plan over the frames it caches (a fold's commit flag, a
    * collected row set): a plan returned past the scope would recompute
    * every freed intermediate.
    */
  def scoped[A](body: => A): A = {
    open.set(Nil :: open.get)
    try body
    finally {
      val held = open.get.head
      open.set(open.get.tail)
      held.foreach(_())
    }
  }

  /** Unpersist every intermediate tracked outside a scope
    * (non-blocking). Safe to call at any point where no
    * returned-but-unmaterialized plan from a previous operator call is
    * still needed.
    */
  def release(): Unit = {
    var r = rdds.poll()
    while (r != null) { r.unpersist(blocking = false); r = rdds.poll() }
    var f = frames.poll()
    while (f != null) { f.unpersist(blocking = false); f = frames.poll() }
  }
}
