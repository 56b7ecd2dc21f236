package graft.core

import java.util.concurrent.atomic.AtomicReference
import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.reflect.ClassTag
import org.apache.spark.FutureAction
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}

/** Driver collects with a ceiling — the size probes of the micro-batch
  * folds ("is this small enough to handle on the driver, and if so,
  * what is it?") answered by ONE Spark job instead of a
  * materialize/count/collect chain or a `take` that escalates through
  * partial partition scans, one job per step.
  *
  * Each helper runs exactly one job of its own over the frame's final
  * stage (plus whatever AQE stage jobs the frame's plan needs) and adds
  * no shuffle. What crosses the network is bounded, not only what the
  * driver keeps: a partition that alone holds more than `n` results
  * ships an overflow marker instead of its rows, and as soon as the
  * results received pass `n` the job is cancelled, so at most about
  * (concurrently running tasks + 1) × `n` results are ever in flight —
  * never partitions × n. The driver keeps at most `n` and drops them on
  * overflow. Like a Dataset action, the jobs carry the CALLER's call
  * site, so the UI and listeners attribute them to the fold that asked,
  * not to this file.
  */
object BoundedCollect {

  /** The rows of `df` when there are at most `n`, else None. */
  def rows(df: DataFrame, n: Int): Option[Array[Row]] = atCaller(df, "rows") {
    checkCeiling(n)
    run(df.rdd, n, mutable.ArrayBuffer.empty[Row]) { it =>
      val part = it.take(n + 1).toArray
      if (part.length > n) None else Some(part)
    }
  }

  /** The distinct non-null values of column `c` of `df` when there are
    * at most `n`, else None. Nulls are skipped; a value that appears in
    * several partitions counts once.
    */
  def distinct(df: DataFrame, c: String, n: Int): Option[Array[Any]] =
    atCaller(df, "distinct") {
      checkCeiling(n)
      run(df.select(c).rdd.map(_.get(0)), n, mutable.LinkedHashSet.empty[Any]) {
        it =>
          val seen = mutable.LinkedHashSet.empty[Any]
          while (it.hasNext && seen.size <= n) {
            val v = it.next()
            if (v != null) seen += v
          }
          if (seen.size > n) None else Some(seen.toArray)
      }
    }

  /** `body` (which plans `df` — AQE runs its stage jobs there — and
    * then runs the collect job) under the call site of the first frame
    * outside this object.
    */
  private def atCaller[T](df: DataFrame, what: String)(body: => T): T = {
    val stack = Thread.currentThread.getStackTrace
    val caller = stack.drop(
      stack.lastIndexWhere(_.getClassName.startsWith(
        getClass.getName.stripSuffix("$"))) + 1)
    val short = caller.headOption.fold(s"BoundedCollect.$what")(f =>
      s"BoundedCollect.$what at ${f.getFileName}:${f.getLineNumber}")
    org.apache.spark.sql.graft.GraftSqlShims.withCallSite(
      df.sparkSession.sparkContext, short, caller.mkString("\n"))(body)
  }

  private def checkCeiling(n: Int): Unit =
    require(n >= 0 && n < Int.MaxValue,
      s"BoundedCollect: ceiling must be in [0, ${Int.MaxValue - 1}], got $n")

  /** One job over `rdd`; `perPartition` ships a partition's results, or
    * None when that partition alone exceeds `n`. `acc` (a buffer or a
    * set) gathers on the driver until it holds more than `n`; then the
    * job is cancelled. The result handler runs on the scheduler's single
    * event thread, and the job's future completes only after its last
    * call.
    */
  private def run[T: ClassTag](rdd: RDD[T], n: Int,
                               acc: mutable.Growable[T] with Iterable[T])
                              (perPartition: Iterator[T] => Option[Array[T]])
  : Option[Array[T]] = {
    @volatile var over = false
    val job = new AtomicReference[FutureAction[Unit]]()
    val handle = (_: Int, part: Option[Array[T]]) =>
      if (!over) {
        part.foreach(acc ++= _)
        if (part.isEmpty || acc.size > n) {
          over = true
          acc.clear()
          Option(job.get).foreach(_.cancel())
        }
      }
    job.set(rdd.sparkContext.submitJob(rdd, perPartition,
      rdd.partitions.indices, handle, ()))
    // an overflow seen before `job` was set could not cancel it
    if (over) job.get.cancel()
    Await.ready(job.get, Duration.Inf)
    if (over) None
    else { job.get.value.get.get; Some(acc.toArray) }
  }
}
