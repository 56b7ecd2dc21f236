package graftbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call the benchmark made into a module. Times are taken on
  * the client thread; `startMs`/`endMs` share the clock of Spark's listener
  * events so jobs can be laid against spans.
  */
final class Span(val id: Int, val name: String, val module: String,
                 val parent: Int, val op: Int, val startMs: Long,
                 val startNs: Long) {
  var endMs: Long = -1L
  var endNs: Long = -1L
  def ms: Double = (endNs - startNs) / 1e6
}

/** One Spark job as the listener saw it. `site` is the long call site of
  * the job's result stage.
  */
final class JobRec(val id: Int, val startMs: Long, val group: String,
                   val execId: Long, val site: String) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** Outside-in tracing: spans recorded by the benchmark around each call
  * into a module, and every Spark job attributed from outside the program.
  *
  *  - to a span, by the job group the benchmark sets while the span is open
  *    (AQE stage jobs inherit it; the SQL execution's group is the fallback);
  *  - to a module and a source file, by the first `graft.` frame of the
  *    job's call site; jobs submitted from AQE or broadcast threads carry no
  *    engine frame of their own, so their `spark.sql.execution.id` leads to
  *    the call site of the SQL execution (or of its root execution); a job
  *    with no engine frame anywhere belongs to the module the span called.
  *
  * Spans stay in memory; [[writeSpans]] writes them once, at the end.
  */
final class Tracer(sc: SparkContext) extends SparkListener
    with QueryExecutionListener {

  import Tracer._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val execs = new ConcurrentHashMap[Long, (String, Long, String)]()
  /** Planning ms (analysis, optimization, planning) per query id; an SQL
    * execution's end event names the query it ran.
    */
  private val planning = new ConcurrentHashMap[Long, java.lang.Double]()
  private val execQuery = new ConcurrentHashMap[Long, java.lang.Long]()

  val spans = mutable.ArrayBuffer[Span]()
  private var open: List[Span] = Nil
  /** Index of the closed-loop operation the next spans belong to. */
  var op: Int = -1

  // ------------------------------------------------------------ client side

  def span[T](name: String, module: String)(body: => T): T = {
    val s = new Span(spans.size, name, module, open.headOption.fold(-1)(_.id),
      op, System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = s :: open
    sc.setJobGroup(GroupPrefix + s.id, name, interruptOnCancel = false)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      open = open.tail
      open.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name,
          interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  // ---------------------------------------------------------- listener side

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val site = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    val rec = new JobRec(e.jobId, e.time, prop("spark.jobGroup.id").orNull,
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L), site)
    e.stageIds.foreach(sid => stageJob.putIfAbsent(sid, e.jobId))
    jobs.put(e.jobId, rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    for (jid <- Option(stageJob.get(e.stageId)); j <- Option(jobs.get(jid))) {
      j.synchronized {
        j.tasks += 1
        if (m != null) {
          j.cpuNs += m.executorCpuTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      execs.put(s.executionId, (s.details,
        s.rootExecutionId.map(_.asInstanceOf[Long]).getOrElse(-1L),
        s.jobGroupId.orNull))
    case e: SparkListenerSQLExecutionEnd =>
      org.apache.spark.sql.BenchQe.queryId(e).foreach(q => execQuery.put(e.executionId, Long.box(q)))
    case _ =>
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
                         durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    planning.put(qe.id, Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs.toDouble).sum)
  }

  override def onFailure(funcName: String, qe: QueryExecution,
                         exception: Exception): Unit = ()

  // ----------------------------------------------------------- attribution

  /** Wait until the listener bus has delivered every event posted so far. */
  def drain(): Unit = org.apache.spark.BenchBus.drain(sc)

  def allJobs: Seq[JobRec] = jobs.values.asScala.toSeq.sortBy(_.id)

  private lazy val spanById: Map[Int, Span] = spans.map(s => s.id -> s).toMap

  private def spanOfGroup(g: String): Option[Span] =
    Option(g).filter(_.startsWith(GroupPrefix))
      .flatMap(x => spanById.get(x.stripPrefix(GroupPrefix).toInt))

  /** The span a job ran under, if any. */
  def spanOf(j: JobRec): Option[Span] =
    spanOfGroup(j.group).orElse(
      Option(execs.get(j.execId)).flatMap(x => spanOfGroup(x._3)))

  /** (module, file) of the first engine frame that caused the job. */
  def origin(j: JobRec): (String, String) = {
    val viaExec = Option(execs.get(j.execId)).toSeq.flatMap { case (d, root, _) =>
      d +: Option(execs.get(root)).map(_._1).toSeq
    }
    (j.site +: viaExec).iterator.flatMap(firstEngineFrame).nextOption()
      .getOrElse {
        val m = spanOf(j).fold("bench")(_.module)
        (m, "(" + m + ")")
      }
  }

  /** Planning milliseconds of the SQL executions that ran under `s`. */
  def planningMs(s: Span): Double = {
    val ids = subtree(s)
    execs.asScala.collect {
      case (eid, (_, _, g)) if spanOfGroup(g).exists(x => ids(x.id)) =>
        Option(execQuery.get(eid)).flatMap(q => Option(planning.get(q.longValue)))
          .fold(0.0)(_.doubleValue)
    }.sum
  }

  def subtree(s: Span): Set[Int] = {
    val kids = spans.filter(_.parent == s.id)
    kids.flatMap(subtree).toSet + s.id
  }

  def jobsIn(s: Span): Seq[JobRec] = {
    val ids = subtree(s)
    allJobs.filter(j => spanOf(j).exists(x => ids(x.id)))
  }

  /** Span time covered by at least one of its jobs, in ms. */
  def coveredMs(s: Span, js: Seq[JobRec]): Double =
    split(s, js, _ => "all").getOrElse("all", 0.0)

  /** The span's interval, cut at every job start and end; each piece is
    * shared equally among the jobs running in it and credited to
    * `key(job)`. The credited times sum to the covered time, so they add
    * up with the driver time to the span's wall time.
    */
  def split(s: Span, js: Seq[JobRec], key: JobRec => String)
  : Map[String, Double] = {
    val iv = js.map(j => (math.max(j.startMs, s.startMs),
      math.min(if (j.endMs < 0) s.endMs else j.endMs, s.endMs), key(j)))
      .filter(x => x._2 > x._1)
    val cuts = iv.flatMap(x => Seq(x._1, x._2)).distinct.sorted
    val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
    cuts.zip(cuts.drop(1)).foreach { case (a, b) =>
      val active = iv.filter(x => x._1 <= a && x._2 >= b)
      if (active.nonEmpty) {
        val share = (b - a).toDouble / active.size
        active.foreach(x => acc(x._3) += share)
      }
    }
    acc.toMap
  }

  /** The four numbers every span name reports, as medians over its
    * instances: wall ms, jobs, driver ms (wall not covered by any job) and
    * shuffle bytes written.
    */
  def spanMetrics(name: String): Map[String, Double] = {
    val inst = spans.filter(_.name == name)
    if (inst.isEmpty) return Map.empty
    val rows = inst.map { s =>
      val js = jobsIn(s)
      (s.ms, js.size.toDouble, math.max(0.0, s.ms - coveredMs(s, js)),
        js.map(_.shuffleBytes).sum.toDouble)
    }
    Map(s"$name.ms" -> Stats.median(rows.map(_._1)),
      s"$name.jobs" -> Stats.median(rows.map(_._2)),
      s"$name.driver_ms" -> Stats.median(rows.map(_._3)),
      s"$name.shuffle_bytes" -> Stats.median(rows.map(_._4)))
  }

  /** Every span, one JSON object a line, with self time (wall minus the
    * part its child spans cover) and its jobs.
    */
  def writeSpans(path: String): Unit = {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.foreach { s =>
      val kids = spans.filter(_.parent == s.id)
      val js = jobsIn(s)
      w.println(Json(mutable.LinkedHashMap(
        "id" -> s.id, "name" -> s.name, "module" -> s.module,
        "parent" -> s.parent, "op" -> s.op, "start_ms" -> s.startMs,
        "end_ms" -> s.endMs, "ms" -> s.ms,
        "self_ms" -> (s.ms - kids.map(_.ms).sum),
        "driver_ms" -> math.max(0.0, s.ms - coveredMs(s, js)),
        "jobs" -> js.map { j =>
          val (m, f) = origin(j)
          mutable.LinkedHashMap("id" -> j.id, "start_ms" -> j.startMs,
            "end_ms" -> j.endMs, "module" -> m, "file" -> f,
            "tasks" -> j.tasks, "shuffle_bytes" -> j.shuffleBytes)
        })))
    } finally w.close()
  }
}

object Tracer {
  val GroupPrefix = "perfbench-span-"

  private val Frame = """^\s*(?:at\s+)?(?:[^/\s]*/[^/\s]*/)?graft\.([A-Za-z0-9_$.]+)\(([A-Za-z0-9_]+)\.scala:\d+\)""".r

  /** (module, file) of the first `graft.` frame in a long call site. The
    * module is the package under `graft`; classes directly in `graft` map
    * to the module `graft`.
    */
  def firstEngineFrame(site: String): Option[(String, String)] =
    Option(site).toSeq.flatMap(_.split("\n")).iterator.collectFirst {
      case Frame(cls, file) =>
        val parts = cls.split('.')
        (if (parts.length > 2) parts(0) else "graft", file)
    }
}
