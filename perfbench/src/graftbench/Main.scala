package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}

/** What a workload sees: the session, its private directory, the seed, and
  * the recorder for samples, checks and spans. The tracer always counts
  * Spark jobs; it records spans only in a traced run.
  */
final class Ctx(val spark: SparkSession, val root: String, val seed: Long,
                val tracer: Tracer) {

  /** Latency samples (ms) per operation kind. */
  val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  /** (start, end) epoch ms of every call timed by [[timed]]. */
  val windows = mutable.ArrayBuffer[(Long, Long)]()
  /** Failed output checks of the current operation. */
  val failures = mutable.ArrayBuffer[String]()
  /** Numbers for the report block (named as in the benchmark's doc). */
  val report = mutable.LinkedHashMap[String, Any]()

  /** True while the current operation is traced. */
  var traced = false

  def sample(kind: String, ms: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer()) += ms

  /** Time the workload's primary call (a translation job, a fold call):
    * its wall time is a `kind` sample and its window counts its Spark jobs.
    */
  def timed[T](kind: String)(body: => T): T = {
    val (m0, t0) = (System.currentTimeMillis(), System.nanoTime())
    try body
    finally {
      sample(kind, (System.nanoTime() - t0) / 1e6)
      windows += ((m0, System.currentTimeMillis()))
    }
  }

  def check(what: String)(ok: => Boolean): Unit = {
    val pass = try ok catch {
      case e: Exception => failures += s"$what: threw $e"; true
    }
    if (!pass) failures += what
  }

  /** Wrap a call into a module in a span when the operation is traced. */
  def span[T](name: String, module: String)(body: => T): T =
    if (traced) tracer.span(name, module)(body) else body

  /** Materialize a lazy layer inside its own span when traced: the frame
    * is persisted and counted, so the span holds the layer's work. The
    * caller unpersists it with [[release]] at the end of the operation.
    */
  private val held = mutable.ArrayBuffer[DataFrame]()
  def layer(name: String, module: String)(df: => DataFrame): DataFrame =
    if (!traced) df else span(name, module)(materialize(df))

  /** [[layer]] without a span of its own, for use inside an open span. */
  def materialize(df: DataFrame): DataFrame =
    if (!traced) df
    else {
      val d = df.persist()
      d.count()
      held += d
      d
    }

  def release(): Unit = {
    held.foreach(_.unpersist(blocking = false))
    held.clear()
  }

  def path(name: String): String = s"$root/$name"
}

/** A closed-loop workload: one client, the next call only after the last
  * one returned.
  */
trait Workload {
  /** Inputs and base tables. */
  def setup(ctx: Ctx): Unit
  /** The untimed warm-up pass, once per run after the last set-up. */
  def warmup(ctx: Ctx): Unit
  /** One timed operation; records its own samples and checks. */
  def step(ctx: Ctx, i: Int): Unit
  /** Untimed end-of-run checks; each named check is one more operation. */
  def finish(ctx: Ctx): Seq[(String, Boolean)]
  /** Wall-time figures of the timed loop, into the report block. */
  def endToEnd(ctx: Ctx): Unit
  /** Per-layer metrics from the traced operations. */
  def perLayer(ctx: Ctx, t: Tracer): Map[String, Double]
}

object Main {

  val SetupReps = 15
  /** The first timed operation still runs partly cold (on corpus_ingest it
    * is also the first fold into a non-empty corpus), and a run's
    * operations take 7-12 s each: with two of them the median would be
    * half that cold one, with three it is a warm one.
    */
  val MinOps = 3

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, result: String, work: String,
                        traceOut: String, commit: String, source: String)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--result"), need("--work"),
      need("--trace-out"), m.getOrElse("--commit", "unknown"),
      m.getOrElse("--source", "unknown"))
  }

  def workload(name: String): () => Workload = name match {
    case "translate_csv" => () => new TranslateCsv
    case "corpus_ingest" => () => new CorpusIngest
    case other => sys.error(s"unknown workload $other")
  }

  def session(work: String, root: String, k: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$k]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.ui.showConsoleProgress", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.ext.GraftCatalog")
      .config("spark.sql.catalog.graft.warehouse", s"$root/catalog")
      // as graft.Bench runs the engine: AQE sizes cached plans' output from
      // runtime bytes (the folds persist per-batch frames)
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val make = workload(a.workload)
    val envStart = Env.sample()
    val k = math.min(4, Runtime.getRuntime.availableProcessors())

    // set-up, repeated: session start, inputs and base tables; the last
    // repetition's state is the one the warm-up and the timed loop run on
    val setupS = mutable.ArrayBuffer[Double]()
    var spark: SparkSession = null
    var wl: Workload = null
    var ctx: Ctx = null
    (0 until SetupReps).foreach { rep =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        Env.deleteTree(ctx.root)
      }
      // a collection now, so the previous repetition's garbage is not
      // collected inside this one's timing
      System.gc()
      val t0 = System.nanoTime()
      val root = s"${a.work}/rep$rep"
      spark = session(a.work, root, k)
      ctx = new Ctx(spark, root, a.seed, new Tracer(spark.sparkContext))
      wl = make()
      wl.setup(ctx)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    // the warm-up pass, once: on this engine it is a cold JVM's first
    // operation (JIT, class loading, codegen), too long to repeat and too
    // spread to gate, so it is reported beside setup_s, not inside it
    val w0 = System.nanoTime()
    wl.warmup(ctx)
    ctx.report("warmup_s") = (System.nanoTime() - w0) / 1e9
    ctx.report("cold_costs") = Env.coldCosts()
    System.gc()
    val t = ctx.tracer
    spark.sparkContext.addSparkListener(t)
    if (a.trace) spark.listenerManager.register(t)

    // the timed closed loop, for the given seconds and at least MinOps
    // operations; a traced run traces every other operation so the
    // untraced ones between them measure the tracing overhead
    var attempted = 0L
    val failedOps = mutable.ArrayBuffer[String]()
    val opMs = mutable.ArrayBuffer[Double]()
    val loopStartMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (a.seconds * 1e9).toLong
    var i = 0
    while (i < MinOps || System.nanoTime() < deadline) {
      ctx.traced = a.trace && i % 2 == 0
      t.op = i
      ctx.failures.clear()
      val s0 = System.nanoTime()
      try wl.step(ctx, i) catch {
        case e: Exception => ctx.failures += s"op $i threw: $e"
      } finally ctx.release()
      val ms = (System.nanoTime() - s0) / 1e6
      opMs += ms
      attempted += 1
      if (ctx.failures.nonEmpty) failedOps += s"op $i: " + ctx.failures.mkString("; ")
      i += 1
    }
    val loopEndMs = System.currentTimeMillis()
    ctx.traced = false

    val checks = try wl.finish(ctx) catch {
      case e: Exception => Seq(s"final checks threw: $e" -> false)
    }
    attempted += checks.size
    checks.filterNot(_._2).foreach(c => failedOps += c._1)
    val rssMb = Env.peakRssMb()

    t.drain()
    // Spark jobs and tasks of each timed primary call: on one client
    // thread, every job that starts inside the call's window is the call's
    val perCall = ctx.windows.toSeq.map { case (s, e) =>
      val js = t.allJobs.filter(j => j.startMs >= s && j.startMs <= e)
      (js.size.toDouble, js.map(_.tasks).sum.toDouble)
    }
    val metrics = mutable.LinkedHashMap[String, Double]()
    if (!a.trace) {
      metrics("setup_s") = Stats.median(setupS.toSeq)
      metrics("peak_rss_mb") = rssMb
      metrics("jobs_per_op") = Stats.median(perCall.map(_._1))
      metrics("tasks_per_op") = Stats.median(perCall.map(_._2))
      wl.endToEnd(ctx)
    } else {
      metrics ++= wl.perLayer(ctx, t)
      val loopJobs = t.allJobs.filter(j => j.startMs >= loopStartMs && j.startMs <= loopEndMs)
      val ops = math.max(1L, i.toLong)
      metrics("tasks") = loopJobs.map(_.tasks).sum.toDouble / ops
      metrics("cpu_ms") = loopJobs.map(_.cpuNs).sum / 1e6 / ops
      metrics("gc_ms") = loopJobs.map(_.gcMs).sum.toDouble / ops
      metrics("spill_bytes") = loopJobs.map(_.spillBytes).sum.toDouble / ops
      // each traced operation against the mean of its untraced
      // neighbours, so a drift along the run cancels
      val ratios = opMs.indices.filter(_ % 2 == 0).flatMap { j =>
        val nb = Seq(j - 1, j + 1).filter(opMs.indices.contains).map(opMs)
        if (nb.isEmpty) None else Some(opMs(j) / Stats.mean(nb))
      }
      if (ratios.nonEmpty) metrics("trace.overhead_share") = Stats.median(ratios) - 1.0
      t.writeSpans(a.traceOut)
      ctx.report("trace_file") = a.traceOut
      ctx.report("traced_ops") = (opMs.size + 1) / 2
    }

    ctx.report("setup_s_reps") = setupS.toSeq
    ctx.report("op_ms") = opMs.toSeq
    ctx.report("failed_share") = failedOps.size.toDouble / attempted
    ctx.report("peak_rss_mb") = rssMb
    val envEnd = Env.sample()
    spark.stop()
    Env.deleteTree(ctx.root)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "attempted" -> attempted, "failed" -> failedOps.size.toLong,
      "failures" -> failedOps.take(20).toSeq,
      "metrics" -> metrics, "report" -> ctx.report,
      "env" -> mutable.LinkedHashMap(
        "nproc" -> Runtime.getRuntime.availableProcessors(), "k" -> k,
        "jvm" -> java.lang.management.ManagementFactory.getRuntimeMXBean
          .getInputArguments.toArray.filter(_.toString.startsWith("-X")).toSeq,
        "xmx_mb" -> Runtime.getRuntime.maxMemory() / (1024 * 1024),
        "commit" -> a.commit, "source_sha256" -> a.source, "seed" -> a.seed,
        "start" -> envStart, "end" -> envEnd))
    val w = new java.io.PrintWriter(a.result, "UTF-8")
    try w.println(Json(out)) finally w.close()
  }
}

/** Facts about the machine and this JVM. */
object Env {
  private def read(p: String): Seq[String] =
    try {
      val s = scala.io.Source.fromFile(p)
      try s.getLines().toList finally s.close()
    } catch { case _: Exception => Nil }

  def sample(): Map[String, Any] = {
    val load = read("/proc/loadavg").headOption
      .flatMap(_.split(" ").headOption).map(_.toDouble).getOrElse(-1.0)
    val avail = read("/proc/meminfo").find(_.startsWith("MemAvailable:"))
      .map(_.split("\\s+")(1).toLong / 1024).getOrElse(-1L)
    Map("loadavg_1m" -> load, "mem_available_mb" -> avail)
  }

  /** Where a cold JVM spends its first seconds: JIT compile time, classes
    * loaded, whole-stage codegen compiles and their time, GC time.
    */
  def coldCosts(): Map[String, Any] = {
    import java.lang.management.ManagementFactory
    import org.apache.spark.metrics.source.CodegenMetrics
    val gen = CodegenMetrics.METRIC_COMPILATION_TIME
    Map("jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      "classes_loaded" -> ManagementFactory.getClassLoadingMXBean.getTotalLoadedClassCount,
      "codegen_compiles" -> gen.getCount,
      "codegen_ms" -> gen.getSnapshot.getMean * gen.getCount,
      "gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.toArray
        .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum)
  }

  /** The JVM's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double =
    read("/proc/self/status").find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  def deleteTree(path: String): Unit = {
    val f = new java.io.File(path)
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(c => deleteTree(c.getPath))
    f.delete()
  }
}
