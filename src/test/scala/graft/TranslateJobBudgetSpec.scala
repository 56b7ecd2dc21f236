package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import graft.core.Caches
import graft.functions.TextFunctions
import graft.operators.{Analysis, Batching, Reconcile}
import graft.sources.{CsvIO, JsonlIO}
import graft.translate.MockTranslator

/** The Spark-job budget of the reference lifecycle, CSV to CSV: every job
  * is a fixed driver cost, so the count of one warm run is pinned exactly
  * and a change that adds one has to say why. Each analysis report read
  * alone is one counting job, and the summary report over the filled
  * shared join is pinned too. The two single-reader callers of the
  * reconcile join (the folder fan-out's collect, an extra report read
  * once) are pinned: sharing the join must not cost them a job. The
  * output and the three reports must read one cached join.
  */
class TranslateJobBudgetSpec extends SparkSpec {

  private val confs = Seq("spark.sql.adaptive.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> "10MB",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true")

  private def pinned[T](body: => T): T = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val Parts = Vector("sensor", "valve", "pump", "relay", "injector",
    "throttle", "camshaft", "coolant", "brake", "harness")
  private val Faults = Vector("voltage low", "signal erratic", "circuit open",
    "stuck closed", "range exceeded", "no response")

  /** 300 data rows; every 25th is blank, every 40th has too many fields. */
  private def writeCsv(path: String): Set[String] = {
    val rows = (0 until 300).map { i =>
      val id = f"DTC-$i%04d"
      if (i % 25 == 7) (id, s"$id,\"  \"", false)
      else if (i % 40 == 11) (id, s"$id,broken,row,extra", false)
      else (id, s"$id,\"${Parts(i % Parts.size)} ${Faults(i % Faults.size)} " +
        s"detected at code $i\"", true)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path),
      ("description_id,english_sentence" +: rows.map(_._2)).mkString("", "\n", "\n"))
    rows.collect { case (id, _, true) => id }.toSet
  }

  /** The lifecycle up to the responses: batching, the request JSONL out
    * and back, the mock translator and the response JSONL out and back.
    * Returns the expected rows and the responses read back.
    */
  private def translated(csv: String, dir: String): (DataFrame, DataFrame) = {
    val input = CsvIO.readInput(spark, csv)
    val baseCost = math.ceil(Pipeline.DefaultSystemPrompt.length / 4.0).toLong
    val assigned = Batching.assignBatches(
      input.withColumn("tokens",
        TextFunctions.approxTokenCount(col("english_sentence")).cast("long")),
      budget = 400L, baseCost)
    JsonlIO.writeRequests(
      Batching.buildRequests(assigned, Pipeline.DefaultSystemPrompt), s"$dir/requests")
    val requests = JsonlIO.readRequests(spark, s"$dir/requests")
    JsonlIO.toResponseEnvelope(new MockTranslator(injectFaults = true).translate(requests))
      .write.mode("overwrite").json(s"$dir/responses")
    (assigned.select("custom_id", "pos", "description_id", "english_sentence"),
      JsonlIO.readResponses(spark, s"$dir/responses"))
  }

  /** The benchmark's operation: request and response JSONL round trips,
    * the four reconcile frames, both analysis collects, the output CSV and
    * the reports.
    */
  private def lifecycle(csv: String, dir: String): (Long, Int) = {
    val (expected, responses) = translated(csv, dir)
    val tr = Reconcile.translations(responses)
    val rec = Reconcile.reconcile(expected, tr)
    val ext = Reconcile.extra(expected, tr)
    val miss = Reconcile.missing(rec)
    val summ = Reconcile.summary(rec, ext)
    val rollup = Analysis.rollup(responses).collect()
    val analysed = Analysis.summary(responses).collect()(0).getLong(0)
    CsvIO.writeOutputCsv(rec.orderBy("pos")
      .select("description_id", "english_sentence", "translated_sentence"),
      s"$dir/output")
    Pipeline.writeReports(Pipeline.Result(rec, miss, ext, summ), s"$dir/reports")
    (analysed, rollup.length)
  }

  test("a warm CSV-to-CSV run with injected faults runs 19 Spark jobs") {
    pinned {
      val root = java.nio.file.Files.createTempDirectory("graft-translate-jobs").toString
      val clean = writeCsv(s"$root/input.csv")
      lifecycle(s"$root/input.csv", s"$root/warm")
      Caches.release()
      val ((analysed, classes), jobs) = JobCount.during(
        lifecycle(s"$root/input.csv", s"$root/run"))
      Caches.release()
      val out = spark.read.option("header", "true").csv(s"$root/run/output")
      val ids = out.select("description_id").collect().map(_.getString(0))
      assert(ids.length === clean.size && ids.toSet === clean)
      val summary = spark.read.json(s"$root/run/reports/summary").collect()
      val missing = spark.read.option("header", "true")
        .csv(s"$root/run/reports/missing").count()
      assert(summary.length === 1)
      assert(summary(0).getAs[Long]("total") === clean.size.toLong)
      assert(summary(0).getAs[Long]("failed") === missing)
      assert(missing > 0, "fault injection leaves some rows untranslated")
      val extra = spark.read.option("header", "true").csv(s"$root/run/reports/extra")
        .select("description_id").collect().map(_.getString(0))
      assert(extra.nonEmpty && extra.forall(_ == "ghost-id"))
      val batches = JsonlIO.readRequests(spark, s"$root/run/requests").count()
      assert(analysed === batches && classes >= 1)
      assert(summary(0).getAs[Long]("extra") === extra.length.toLong)
      assert(jobs.count === 19, jobs)
    }
  }

  test("a lone rollup collect and a lone summary collect run 1 Spark job each") {
    pinned {
      val root = java.nio.file.Files.createTempDirectory("graft-analysis-jobs").toString
      writeCsv(s"$root/input.csv")
      lifecycle(s"$root/input.csv", s"$root/warm")
      Caches.release()
      val responses = JsonlIO.readResponses(spark, s"$root/warm/responses")
      val (rollup, rollupJobs) = JobCount.during(Analysis.rollup(responses).collect())
      val (summary, summaryJobs) = JobCount.during(Analysis.summary(responses).collect())
      val batches = JsonlIO.readRequests(spark, s"$root/warm/requests").count()
      assert(rollup.map(_.getLong(1)).sum === batches)
      assert(summary.length === 1 && summary(0).getLong(0) === batches)
      assert(rollupJobs.count === 1, rollupJobs)
      assert(summaryJobs.count === 1, summaryJobs)
    }
  }

  test("the summary report written alone over the shared join: 3 Spark jobs") {
    pinned {
      val root = java.nio.file.Files.createTempDirectory("graft-summary-jobs").toString
      val clean = writeCsv(s"$root/input.csv")
      lifecycle(s"$root/input.csv", s"$root/warm")
      Caches.release()
      val (expected, responses) = translated(s"$root/input.csv", s"$root/run")
      val tr = Reconcile.translations(responses)
      val rec = Reconcile.reconcile(expected, tr)
      val ext = Reconcile.extra(expected, tr)
      CsvIO.writeOutputCsv(rec.orderBy("pos")
        .select("description_id", "english_sentence", "translated_sentence"),
        s"$root/run/output")
      val (_, jobs) = JobCount.during(
        Reconcile.summary(rec, ext).write.mode("overwrite").json(s"$root/run/summary"))
      val summary = spark.read.json(s"$root/run/summary").collect()
      Caches.release()
      assert(summary.length === 1)
      assert(summary(0).getAs[Long]("total") === clean.size.toLong)
      assert(summary(0).getAs[Long]("extra") > 0)
      assert(jobs.count === 3, jobs)
    }
  }

  test("the folder fan-out's single collect pays no cache fill: 5 Spark jobs") {
    pinned {
      val dir = java.nio.file.Files.createTempDirectory("graft-translate-folder").toString
      Seq("alpha" -> "A", "beta" -> "B").foreach { case (stem, p) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/$stem.csv"),
          ("description_id,english_sentence" +: (0 until 40).map(i =>
            s"$p$i,${Parts(i % Parts.size)} ${Faults(i % Faults.size)} code $i"))
            .mkString("", "\n", "\n"))
      }
      def run() = Pipeline.runFolder(spark, dir, new MockTranslator(injectFaults = true),
        budget = 300).collect()
      run()
      Caches.release()
      val (rows, jobs) = JobCount.during(run())
      Caches.release()
      assert(rows.length === 80)
      assert(jobs.count === 5, jobs)
    }
  }

  test("an extra report read once pays no cache fill: 4 Spark jobs") {
    pinned {
      // the fixture's frames are built per call, as an oracle query
      // builds them: key-only expected rows, and every fifth row also
      // answers an id its batch never asked for
      def run() = {
        val docs = spark.range(200).select(
          format_string("batch-%04d", col("id") % 20 + 1).as("custom_id"),
          col("id").cast("string").as("doc"))
        val expected = docs.select(col("custom_id"), col("doc").as("description_id"))
        val answers = docs.select(col("custom_id"), col("doc").as("description_id"),
            concat(lit("text "), col("doc")).as("translation"))
          .unionByName(docs.filter(col("doc").cast("int") % 5 === 0).select(
            col("custom_id"), concat(lit("x"), col("doc")).as("description_id"),
            concat(lit("planted "), col("doc")).as("translation")))
        Reconcile.extra(expected, answers)
          .orderBy("custom_id", "description_id").collect()
      }
      run()
      Caches.release()
      val (rows, jobs) = JobCount.during(run())
      Caches.release()
      assert(rows.map(_.getString(1)).toSet === (0 until 200 by 5).map(i => s"x$i").toSet)
      assert(jobs.count === 4, jobs)
    }
  }

  test("the output and the three reports read one persisted join; a lone extra reads none") {
    import spark.implicits._
    def caches(df: DataFrame) = df.queryExecution.withCachedData
      .collect { case m: InMemoryRelation => m.cacheBuilder }.distinct
    def frames() = (
      Seq(("b1", 0L, "1", "one"), ("b1", 1L, "2", "two")).toDF("custom_id", "pos",
        "description_id", "english_sentence"),
      Seq(("b1", "1", "eins"), ("b1", "9", "ghost")).toDF("custom_id", "description_id",
        "translation"))
    val (expected, tr) = frames()
    val rec = Reconcile.reconcile(expected, tr)
    val ext = Reconcile.extra(expected, tr)
    val readers = Seq(rec.orderBy("pos"), Reconcile.missing(rec), ext,
      Reconcile.summary(rec, ext)).map(caches)
    assert(readers.forall(_.size == 1) && readers.flatten.distinct.size == 1, readers)
    val (e2, t2) = frames()
    assert(caches(Reconcile.extra(e2, t2)).isEmpty)
    Caches.release()
  }
}
