package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.Success
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** Records the Spark jobs a block starts — the specs' way to pin a code
  * path's job budget.
  */
object JobCount {

  /** The jobs a block started, in start order: each job's first
    * `graft.` call-site frame — taken from the SQL execution that ran
    * the job when the job's own call site has none, as for the AQE
    * stage jobs a pool thread submits — or its first call-site line
    * when neither has one; and the serialized result bytes its
    * successful tasks shipped to the driver (`taskMetrics.resultSize`).
    * Prints the frames, so `assert(jobs.count === n, jobs)` names every
    * job on a failing count.
    */
  final case class Jobs(frames: Seq[String], resultBytes: Long) {
    def count: Int = frames.size
    override def toString: String =
      s"$count job(s):" + frames.zipWithIndex.map { case (f, i) =>
        s"\n  ${i + 1}. $f" }.mkString
  }

  private val Frame = """^\s*(?:at\s+)?(?:[^/\s]*/[^/\s]*/)?graft\..*""".r

  private def engineFrame(site: String): Option[String] =
    Option(site).iterator.flatMap(_.linesIterator)
      .collectFirst { case l @ Frame() => l.trim }

  private val runs = new AtomicLong()

  /** Run `body` on the active session under a fresh job group; returns
    * its result and the jobs it started. A marker job run afterwards
    * drains the listener bus (events arrive in order), so every job of
    * `body` is recorded by then.
    */
  def during[T](body: => T): (T, Jobs) = {
    val sc = SparkSession.active.sparkContext
    val run = runs.incrementAndGet()
    val (group, marker) = (s"job-count-$run", s"job-count-marker-$run")
    // (call site, SQL execution id) per job; (details, root id) per execution
    val started = new ConcurrentLinkedQueue[(String, Long)]
    val execs = new ConcurrentHashMap[Long, (String, Long)]
    val stages = ConcurrentHashMap.newKeySet[Int]()
    val bytes = new AtomicLong()
    val drained = new CountDownLatch(1)
    val markerJobs = ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) =>
            val site = if (e.stageInfos.isEmpty) ""
              else e.stageInfos.maxBy(_.stageId).details
            started.add((site, Option(e.properties.getProperty(
              "spark.sql.execution.id")).fold(-1L)(_.toLong)))
            e.stageIds.foreach(stages.add(_))
          case Some(`marker`) => markerJobs.add(e.jobId)
          case _ => ()
        }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.reason == Success)
          bytes.addAndGet(e.taskMetrics.resultSize)
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (markerJobs.contains(e.jobId)) drained.countDown()
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          execs.put(s.executionId, (s.details, s.rootExecutionId.getOrElse(-1L)))
        case _ => ()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      def execSites(id: Long): Seq[String] = Option(execs.get(id)).toSeq
        .flatMap { case (d, root) => d +: Option(execs.get(root)).map(_._1).toSeq }
      val frames = started.toArray(Array.empty[(String, Long)]).toSeq.map {
        case (site, exec) => (site +: execSites(exec)).iterator
          .flatMap(engineFrame).nextOption()
          .getOrElse(site.linesIterator.nextOption().fold("")(_.trim))
      }
      (out, Jobs(frames, bytes.get))
    } finally sc.removeSparkListener(listener)
  }
}
