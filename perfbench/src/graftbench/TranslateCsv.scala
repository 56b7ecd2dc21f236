package graftbench

import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.core.{Caches, Schemas}
import graft.functions.TextFunctions
import graft.operators.{Analysis, Batching, Reconcile}
import graft.sources.{CsvIO, JsonlIO}
import graft.translate.MockTranslator

/** The reference's whole lifecycle on a generated CSV of automotive
  * diagnostic sentences: scan, token-budget batching, request JSONL out and
  * back, the fault-injecting mock translator, response JSONL out and back,
  * parse/repair cascade, reconcile, analysis rollup, output CSV and reports.
  * One timed operation is one complete job; it touches no manifest table
  * and no streaming sink.
  */
final class TranslateCsv extends Workload {
  import TranslateCsv._

  private var csv: String = _
  private var cleanIds: Set[String] = Set.empty

  def setup(ctx: Ctx): Unit = {
    val g = Gen.translateCsv(ctx.seed, Rows)
    csv = ctx.path("input/sentences.csv")
    Gen.writeFile(csv, g.lines)
    cleanIds = g.cleanIds
  }

  /** One job; its outputs are checked with the first timed job's. */
  def warmup(ctx: Ctx): Unit = {
    runJob(ctx, "warm")
    Caches.release()
    Env.deleteTree(ctx.path("warm"))
  }

  def step(ctx: Ctx, i: Int): Unit = {
    val out = ctx.timed("job")(runJob(ctx, s"job$i"))
    verify(ctx, ctx.path(s"job$i"), out)
    Caches.release()
    Env.deleteTree(ctx.path(s"job$i"))
  }

  /** What the checks need besides the files: the rollup's class count and
    * the analysis summary's response total.
    */
  final case class JobOut(rollupClasses: Int, analysed: Option[Long])

  private def runJob(ctx: Ctx, name: String): JobOut = {
    val spark = ctx.spark
    val dir = ctx.path(name)
    val input = ctx.layer("sources.readInput", "sources") {
      CsvIO.readInput(spark, csv)
    }
    val baseCost = math.ceil(Pipeline.DefaultSystemPrompt.length / 4.0).toLong
    val assigned = ctx.layer("operators.assignBatches", "operators") {
      Batching.assignBatches(
        input.withColumn("tokens",
          TextFunctions.approxTokenCount(col("english_sentence")).cast("long")),
        Schemas.TokenBudget, baseCost)
    }
    val requests = ctx.span("sources.requestsJsonl", "sources") {
      JsonlIO.writeRequests(
        Batching.buildRequests(assigned, Pipeline.DefaultSystemPrompt),
        s"$dir/requests")
      JsonlIO.readRequests(spark, s"$dir/requests")
    }
    ctx.span("translate.translate", "translate") {
      JsonlIO.toResponseEnvelope(new MockTranslator(injectFaults = true)
          .translate(requests))
        .write.mode("overwrite").json(s"$dir/responses")
    }
    val responses = JsonlIO.readResponses(spark, s"$dir/responses")
    val tr = ctx.layer("operators.translations", "operators") {
      Reconcile.translations(responses)
    }
    val expected = assigned.select("custom_id", "pos", "description_id",
      "english_sentence")
    val (rec, miss, ext, summ) = ctx.span("operators.reconcile", "operators") {
      val rec = ctx.materialize(Reconcile.reconcile(expected, tr))
      val ext = ctx.materialize(Reconcile.extra(expected, tr))
      (rec, ctx.materialize(Reconcile.missing(rec)), ext,
        ctx.materialize(Reconcile.summary(rec, ext)))
    }
    val (rollup, analysis) = ctx.span("operators.analysis", "operators") {
      (Analysis.rollup(responses).collect(), Analysis.summary(responses).collect())
    }
    ctx.span("sources.writeOutputs", "sources") {
      CsvIO.writeOutputCsv(rec.orderBy("pos")
        .select("description_id", "english_sentence", "translated_sentence"),
        s"$dir/output")
      Pipeline.writeReports(Pipeline.Result(rec, miss, ext, summ), s"$dir/reports")
    }
    JobOut(rollup.length, analysis.headOption.map(_.getLong(0)))
  }

  /** Checks on what the job wrote, read back from disk. */
  private def verify(ctx: Ctx, dir: String, o: JobOut): Unit = {
    val spark = ctx.spark
    val out = spark.read.option("header", "true").csv(s"$dir/output")
      .toDF("description_id", "english_sentence", "translated_sentence")
    val ids = out.select("description_id").collect().map(_.getString(0))
    val counts = ids.groupBy(identity).view.mapValues(_.length).toMap
    ctx.check("every clean id exactly once in the output CSV") {
      counts.keySet == cleanIds && counts.values.forall(_ == 1)
    }
    val summary = spark.read.json(s"$dir/reports/summary").collect()
    val missing = spark.read.option("header", "true")
      .csv(s"$dir/reports/missing").count()
    ctx.check("summary: translated + missing = total = clean rows") {
      summary.length == 1 && {
        val r = summary(0)
        val total = r.getAs[Long]("total")
        total == cleanIds.size &&
          r.getAs[Long]("successful") + missing == total &&
          r.getAs[Long]("failed") == missing
      }
    }
    // the mock adds one "ghost-id" entry to every batch whose custom id
    // hashes to fault mode 3; the extra report must be exactly those
    val batches = JsonlIO.readRequests(spark, s"$dir/requests")
      .select("custom_id").collect().map(_.getString(0))
    val ghosts = batches.filter(b => faultMode(b) == 3).map(b => (b, GhostId)).toSet
    val extra = spark.read.option("header", "true").csv(s"$dir/reports/extra")
      .select("custom_id", "description_id").collect()
      .map(r => (r.getString(0), r.getString(1)))
    ctx.check("extra rows are exactly the mock's ghost ids") {
      extra.length == ghosts.size && extra.toSet == ghosts
    }
    ctx.check("analysis covers every response") {
      o.analysed.contains(batches.length.toLong) && o.rollupClasses >= 1
    }
  }

  def finish(ctx: Ctx): Seq[(String, Boolean)] = Nil

  def endToEnd(ctx: Ctx): Unit = {
    val jobs = ctx.samples("job").toSeq
    val (p, tail) = Stats.tail(jobs)
    ctx.report("translate.rows_per_s") = cleanIds.size / (Stats.median(jobs) / 1e3)
    ctx.report("translate.job_ms") = Map("p50" -> Stats.median(jobs),
      Stats.pname(p) -> tail, "n" -> jobs.size)
    ctx.report("input_rows") = Rows
  }

  def perLayer(ctx: Ctx, t: Tracer): Map[String, Double] =
    SpanNames.flatMap(t.spanMetrics).toMap
}

object TranslateCsv {
  /** Input rows, blank and corrupt rows included. */
  val Rows = 6000
  val GhostId = "ghost-id"
  val SpanNames = Seq("sources.readInput", "operators.assignBatches",
    "sources.requestsJsonl", "translate.translate", "operators.translations",
    "operators.reconcile", "operators.analysis", "sources.writeOutputs")

  /** The mock translator's fault routing, recomputed independently:
    * the first 15 hex digits of md5(custom_id), base 10, modulo 10.
    */
  def faultMode(customId: String): Int = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(customId.getBytes("UTF-8"))
    val hex = md.map(b => f"${b & 0xff}%02x").mkString
    (java.lang.Long.parseLong(hex.substring(0, 15), 16) % 10).toInt
  }
}
