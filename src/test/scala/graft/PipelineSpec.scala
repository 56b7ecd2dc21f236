package graft

import org.apache.spark.sql.functions._
import graft.core.Schemas
import graft.translate.MockTranslator

/** End-to-end pipeline slice (SURVEY.md §7): CSV-shaped input → batch →
  * mock translator → parse → reconcile → output, with and without injected
  * response pathologies.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private def input(n: Int) =
    (0 until n).map(i => (i.toLong, s"P$i", s"engine fault code number $i detected"))
      .toDF("pos", "description_id", "english_sentence")

  test("clean translator: every row translated, none missing, 100% rate") {
    val r = Pipeline.run(input(50), new MockTranslator(injectFaults = false),
      budget = 2000, numPartitions = 2)
    val out = r.output.collect()
    assert(out.length == 50)
    assert(!out.exists(_.getAs[String]("translated_sentence") == Schemas.FailedSentinel))
    // deterministic mock translation: tokens reversed, uppercased
    val row0 = r.output.filter(col("description_id") === "P0").head()
    assert(row0.getAs[String]("translated_sentence") ==
      "DETECTED 0 NUMBER CODE FAULT ENGINE")
    assert(r.missing.count() == 0 && r.extra.count() == 0)
    val s = r.summary.head()
    assert(s.getAs[Long]("successful") == 50 && s.getAs[Double]("success_rate") == 100.0)
  }

  test("faulty translator: sentinels appear but rows are never lost") {
    val n = 300
    val r = Pipeline.run(input(n), new MockTranslator(injectFaults = true),
      budget = 300, numPartitions = 2)
    val out = r.output.collect()
    assert(out.length == n, "every input row appears exactly once in the output")
    assert(out.map(_.getAs[String]("description_id")).distinct.length == n)
    val failed = out.count(_.getAs[String]("translated_sentence") == Schemas.FailedSentinel)
    assert(failed > 0, "fault injection should produce some failures")
    assert(failed < n / 2, "repair + fallback should recover most content")
    assert(r.missing.count() == failed)
    val s = r.summary.head()
    assert(s.getAs[Long]("total") == n)
    assert(s.getAs[Long]("successful") == n - failed)
  }

  test("extra ids are reported, not merged into the output") {
    val r = Pipeline.run(input(200), new MockTranslator(injectFaults = true),
      budget = 1200, numPartitions = 1)
    val extras = r.extra.select("description_id").as[String].collect()
    assert(extras.forall(_ == "ghost-id"))
    assert(!r.output.filter(col("description_id") === "ghost-id").isEmpty == false)
  }

  test("unicode round-trip fidelity (Telugu)") {
    val telugu = Seq(
      (0L, "21", "ఫ్యూయల్ డెలివరీ ప్రెజర్ సెన్సార్ వద్ద తక్కువ ఇంధన పీడనం"),
      (1L, "965", "ఇగ్నిషన్ రన్ యాక్ట్ సర్క్యూట్ ఓపెన్"))
      .toDF("pos", "description_id", "english_sentence")
    val r = Pipeline.run(telugu, new MockTranslator(injectFaults = false))
    val got = r.output.orderBy("pos")
      .select("translated_sentence").as[String].collect()
    assert(got(0) == "పీడనం ఇంధన తక్కువ వద్ద సెన్సార్ ప్రెజర్ డెలివరీ ఫ్యూయల్")
    assert(got(1) == "ఓపెన్ సర్క్యూట్ యాక్ట్ రన్ ఇగ్నిషన్")
  }

  test("T3 folder fan-out: per-file batching, lineage, one pass") {
    val dir = java.nio.file.Files.createTempDirectory("graft-folder").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/alpha.csv"),
      "description_id,english_sentence\nA1,first alpha sentence here\nA2,second alpha sentence here\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/beta.csv"),
      "description_id,english_sentence\nB1,only beta sentence here\n")
    val out = Pipeline.runFolder(spark, dir, new MockTranslator(), budget = 2000)
      .collect()
    assert(out.length == 3)
    val byStem = out.groupBy(_.getAs[String]("source_stem"))
    assert(byStem.keySet == Set("alpha", "beta"))
    assert(byStem("alpha").length == 2 && byStem("beta").length == 1)
    val b1 = out.find(_.getAs[String]("description_id") == "B1").get
    assert(b1.getAs[String]("translated_sentence") == "HERE SENTENCE BETA ONLY")
  }

  test("folder scan reads its CSV files by name: no file-source warning, same file set, same failures") {
    val dir = java.nio.file.Files.createTempDirectory("graft-folder-list").toString
    def write(name: String, id: String) = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/$name"),
      s"description_id,english_sentence\n$id,a sentence from $name\n")
    write("alpha.csv", "A1")
    write("beta.csv", "B1")
    // the files a `*.csv` glob read skips or never matches
    write("_staged.csv", "S1")
    write(".hidden.csv", "H1")
    write("notes.txt", "N1")
    val (ids, lines) = LogCapture.during(
        "org.apache.spark.sql.execution.datasources.DataSource",
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink") {
      graft.sources.CsvIO.readInputDir(spark, dir)
        .select("description_id").as[String].collect().sorted.toSeq
    }
    assert(lines.isEmpty, lines.mkString("\n"))
    assert(ids === Seq("A1", "B1"))
    // a missing folder and a folder without CSV files still fail
    intercept[org.apache.spark.sql.AnalysisException](
      graft.sources.CsvIO.readInputDir(spark, s"$dir/missing"))
    val empty = java.nio.file.Files.createTempDirectory("graft-folder-empty")
    java.nio.file.Files.writeString(empty.resolve("notes.txt"), "x\n")
    intercept[org.apache.spark.sql.AnalysisException](
      graft.sources.CsvIO.readInputDir(spark, empty.toString))
  }

  test("per-key batcher numbers batches per key with stem-prefixed ids") {
    val df = Seq(
      ("f1", 0L, "a", 400L), ("f1", 1L, "b", 400L), ("f1", 2L, "c", 400L),
      ("f2", 3L, "d", 400L))
      .toDF("source_stem", "pos", "description_id", "tokens")
    val assigned = graft.operators.Batching
      .assignBatchesPerKey(df, "source_stem", budget = 2300)
      .select("source_stem", "description_id", "batch_index", "custom_id")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getString(3)))
      .sortBy(_._2)
    // rowCost(400) = ceil(400*2.8)+1 = 1121; two fit in 2300, third opens batch 1
    assert(assigned(0) == ("f1", "a", 0L, "f1-batch-0001"))
    assert(assigned(1) == ("f1", "b", 0L, "f1-batch-0001"))
    assert(assigned(2) == ("f1", "c", 1L, "f1-batch-0002"))
    // f2 restarts numbering at batch-0001
    assert(assigned(3) == ("f2", "d", 0L, "f2-batch-0001"))
  }

  test("S12 report sinks write missing/extra/summary tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft-reports").toString
    val r = Pipeline.run(input(100), new MockTranslator(injectFaults = true),
      budget = 500, numPartitions = 2)
    Pipeline.writeReports(r, dir)
    val missing = spark.read.option("header", "true").csv(s"$dir/missing")
    assert(missing.count() == r.missing.count())
    val summary = spark.read.json(s"$dir/summary")
    assert(summary.count() == 1)
  }

  test("F1 tokenizer is pluggable at the pipeline seam") {
    val r1 = Pipeline.run(input(40), new MockTranslator(), budget = 1000, numPartitions = 1)
    val r2 = Pipeline.run(input(40), new MockTranslator(), budget = 1000, numPartitions = 1,
      tokenizer = graft.functions.TextFunctions.regexTokenCount)
    // a different token counter moves batch boundaries but never changes
    // the translated content
    assert(r2.output.count() == 40)
    assert(r1.output.select("translated_sentence").collect().map(_.getString(0)).toSet ==
      r2.output.select("translated_sentence").collect().map(_.getString(0)).toSet)
  }

  test("csv round trip with BOM sink") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val csv = s"$dir/in.csv"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(csv),
      "description_id,english_sentence\n21, Low fuel pressure detected \n27,\n ,blank id kept\nP1,Another fault here\n")
    val in = graft.sources.CsvIO.readInput(spark, csv)
    val rows = in.orderBy("pos").collect()
    // row 27 dropped (blank sentence); values trimmed
    assert(rows.map(_.getAs[String]("description_id")).toSeq == Seq("21", "", "P1"))
    assert(rows(0).getAs[String]("english_sentence") == "Low fuel pressure detected")
    val out = s"$dir/out"
    val r = Pipeline.runCsv(spark, csv, out, new MockTranslator())
    assert(r.output.count() == 3)
    // BOM present on part files
    val part = new java.io.File(out).listFiles().filter(_.getName.startsWith("part-")).head
    val bytes = java.nio.file.Files.readAllBytes(part.toPath).take(3)
    assert(bytes.sameElements(Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte)))
  }
}
