package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ext.ManifestTable
import graft.streaming.{Ingest, NearDupSink, StatsSink}

/** The LLM-data ingest fold: fixed-size generated micro-batches through
  * `Ingest.ingestBatchFullCommitted` (exact dedup, quality filter, PII
  * scrub, near-dup dedup, stats), with both indexes compacted every
  * [[CorpusIngest.CompactEvery]] batches, and after every batch the
  * corpus dashboard query through the SQL face (the corpus is a table of
  * the `graft` catalog). One timed operation is one fold call, plus the
  * compaction when it is due, plus the query. The corpus grows with every
  * batch, so a cost that scales with the corpus rather than the batch
  * shows as drift across the run.
  */
final class CorpusIngest extends Workload {
  import CorpusIngest._

  private var dirs: Dirs = _
  private val copyIds = mutable.ArrayBuffer[Long]()
  private val snapMs = mutable.ArrayBuffer[Double]()
  private var folded = 0
  private var docsOffered = 0L

  final case class Dirs(corpus: String, exact: String, near: String, stats: String)

  private def batchFrame(ctx: Ctx, b: Int): (DataFrame, Seq[Gen.Doc]) = {
    val docs = Gen.corpusBatch(ctx.seed, b, BatchDocs)
    val rows = new java.util.ArrayList[Row](docs.size)
    docs.foreach(d => rows.add(Row(d.id, d.text, d.lang)))
    (ctx.spark.createDataFrame(rows, Schema), docs)
  }

  private def fold(df: DataFrame, b: Int): Boolean =
    Ingest.ingestBatchFullCommitted(df, dirs.corpus, dirs.exact, dirs.near, s"b$b",
      idCol = "id", textCol = "text", statsDir = Some(dirs.stats))

  private def compact(ctx: Ctx): Unit = {
    Ingest.compactIndex(ctx.spark, dirs.exact)
    NearDupSink.compactIndex(ctx.spark, dirs.near)
  }

  /** Per-language documents and characters, read through the SQL face. */
  private def corpusQuery(ctx: Ctx): Map[String, (Long, Long)] =
    ctx.spark.sql("SELECT lang, count(*) AS n, CAST(sum(length(text)) AS BIGINT) " +
        "AS c FROM graft.corpus GROUP BY lang").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  def setup(ctx: Ctx): Unit =
    dirs = Dirs(s"${ctx.root}/catalog/corpus", ctx.path("exact_index"),
      ctx.path("near_index"), ctx.path("stats"))

  /** The run's first [[WarmBatches]] batches, a compaction and a query,
    * untimed: the timed loop starts on a warm JVM and a non-empty corpus.
    */
  def warmup(ctx: Ctx): Unit = {
    (0 until WarmBatches).foreach { b =>
      val (df, docs) = batchFrame(ctx, b)
      copyIds ++= docs.filter(_.origin == "copy").map(_.id)
      require(fold(df, b), s"warm-up batch b$b did not commit")
    }
    compact(ctx)
    require(corpusQuery(ctx).nonEmpty, "warm-up query found an empty corpus")
  }

  def step(ctx: Ctx, i0: Int): Unit = {
    val i = i0 + WarmBatches
    val (df, docs) = batchFrame(ctx, i)
    copyIds ++= docs.filter(_.origin == "copy").map(_.id)
    val t0 = System.nanoTime()
    val committed = ctx.timed("batch") {
      ctx.span("streaming.foldBatch", "streaming")(fold(df, i))
    }
    val t1 = System.nanoTime()
    if ((i + 1) % CompactEvery == 0)
      ctx.span("streaming.compactIndex", "streaming")(compact(ctx))
    val t2 = System.nanoTime()
    val byLang = ctx.span("plans.corpusQuery", "plans")(corpusQuery(ctx))
    val t3 = System.nanoTime()
    folded += 1
    docsOffered += BatchDocs
    if (t2 > t1) ctx.sample("compact", (t2 - t1) / 1e6)
    ctx.sample("query", (t3 - t2) / 1e6)
    ctx.sample("step", (t2 - t0) / 1e6)
    if (ctx.traced) {
      val s0 = System.nanoTime()
      ManifestTable.snapshot(ctx.spark, dirs.corpus)
      snapMs += (System.nanoTime() - s0) / 1e6
    }
    ctx.check(s"batch b$i committed")(committed)
    val stats = StatsSink.readCommitted(ctx.spark, dirs.stats)
      .select("lang", "n_docs", "n_chars").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    ctx.check(s"after b$i the SQL corpus query equals the stats sink")(byLang == stats)
  }

  def finish(ctx: Ctx): Seq[(String, Boolean)] = {
    val spark = ctx.spark
    val before = ManifestTable.read(spark, dirs.corpus).count()
    // crash-replay of the first batch under its own id
    val replayed = fold(batchFrame(ctx, 0)._1, 0)
    val corpus = ManifestTable.read(spark, dirs.corpus)
    val after = corpus.count()
    val dupTexts = corpus.groupBy(md5(col("text"))).count()
      .filter(col("count") > 1).count()
    import spark.implicits._
    val survivingCopies = corpus.join(copyIds.toSeq.toDF("id"), "id").count()
    def asMap(df: DataFrame) = df.select("lang", "n_docs", "n_tokens", "n_chars")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    val stats = asMap(StatsSink.readCommitted(spark, dirs.stats))
    val recount = asMap(StatsSink.batchStats(corpus.select("text", "lang")))
    ctx.report("corpus_rows") = after
    ctx.report("batches_folded") = folded + WarmBatches
    ctx.report("planted_copies") = copyIds.size
    Seq(
      s"replayed batch b0 adds zero rows ($before -> $after, committed=$replayed)" ->
        (!replayed && after == before),
      s"no md5-identical text in the corpus ($dupTexts repeated)" -> (dupTexts == 0),
      s"no planted exact copy survives ($survivingCopies survived)" -> (survivingCopies == 0),
      "StatsSink.readCommitted equals a recount of the corpus" ->
        (stats == recount && after > 0))
  }

  def endToEnd(ctx: Ctx): Unit = {
    val batches = ctx.samples("batch").toSeq
    val docsPerS = docsOffered / (ctx.samples("step").sum / 1e3)
    val (p, tail) = Stats.tail(batches)
    ctx.report("ingest.docs_per_s") = docsPerS
    ctx.report("ingest.batch_ms") = Map("p50" -> Stats.median(batches),
      Stats.pname(p) -> tail, "n" -> batches.size)
    ctx.report("ingest.query_p50_ms") = Stats.median(ctx.samples("query"))
    ctx.report("ingest.growth_ratio") = growth(batches)
    ctx.report("batch_docs") = BatchDocs
  }

  /** Median batch time of the last quarter of batches over the first. */
  private def growth(batches: Seq[Double]): Double = {
    val q = math.max(1, batches.size / 4)
    Stats.median(batches.takeRight(q)) / Stats.median(batches.take(q))
  }

  def perLayer(ctx: Ctx, t: Tracer): Map[String, Double] = {
    val m = mutable.LinkedHashMap[String, Double]()
    Seq("streaming.foldBatch", "streaming.compactIndex", "plans.corpusQuery")
      .foreach(n => m ++= t.spanMetrics(n))
    val folds = t.spans.filter(_.name == "streaming.foldBatch").toSeq
    val perFold = folds.map { s =>
      val js = t.jobsIn(s)
      val files = js.groupBy(j => t.origin(j)._2).view.mapValues(_.size).toMap
      val ms = t.split(s, js, j => t.origin(j)._2)
      val driver = math.max(0.0, s.ms - t.coveredMs(s, js))
      (files, ms, (ms.values.sum + driver) / s.ms)
    }
    Files.foreach { f =>
      m(s"file.$f.jobs") = Stats.mean(perFold.map(_._1.getOrElse(f, 0).toDouble))
      m(s"file.$f.job_ms") = Stats.mean(perFold.map(_._2.getOrElse(f, 0.0)))
    }
    // job time of one traced operation (fold, compaction, query) by module
    val ops = t.spans.filter(_.parent < 0).groupBy(_.op).values.toSeq
    val byModule = ops.map(_.flatMap(s => t.split(s, t.jobsIn(s), j => t.origin(j)._1))
      .groupMapReduce(_._1)(_._2)(_ + _))
    Seq("streaming", "ext", "plans").foreach { mod =>
      m(s"module.$mod.job_ms") = Stats.mean(byModule.map(_.getOrElse(mod, 0.0)))
    }
    val queries = t.spans.filter(_.name == "plans.corpusQuery").toSeq
    if (queries.nonEmpty) {
      m("plans.planning_ms") = Stats.median(queries.map(t.planningMs))
      m("exec_ms") = Stats.median(queries.map(s => s.ms - t.planningMs(s)))
    }
    if (snapMs.nonEmpty) m("ext.snapshot_ms") = Stats.median(snapMs)
    m("ingest.growth_ratio") = growth(ctx.samples("batch").toSeq)
    m ++= storage(ctx)
    ctx.report("foldBatch.accounted_share") = Stats.mean(perFold.map(_._3))
    ctx.report("foldBatch.jobs_by_file") = perFold.flatMap(_._1.keys).distinct.sorted
      .map(f => f -> Stats.mean(perFold.map(_._1.getOrElse(f, 0).toDouble))).toMap
    m.toMap
  }

  /** The corpus table's footprint: bytes under its directory (data,
    * manifests, blooms) over the bytes of its rows, live files, versions.
    */
  private def storage(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val snap = ManifestTable.snapshot(spark, dirs.corpus)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(dirs.corpus),
      spark.sparkContext.hadoopConfiguration)
    val onDisk = fs.getContentSummary(new org.apache.hadoop.fs.Path(dirs.corpus)).getLength
    val userBytes = ManifestTable.read(spark, dirs.corpus)
      .agg(sum(octet_length(col("text")) + octet_length(col("lang")) + 8L))
      .head().getLong(0)
    Map("storage.bytes_per_user_byte" -> onDisk.toDouble / userBytes,
      "storage.live_files" -> snap.files.size.toDouble,
      "storage.versions" -> snap.version.toDouble)
  }
}

object CorpusIngest {
  /** Documents offered per micro-batch (shares planted by Gen.corpusBatch). */
  val BatchDocs = 2000
  /** Batches folded, untimed, before the timed loop. */
  val WarmBatches = 1
  val CompactEvery = 2
  val Files = Seq("Ingest", "NearDupSink", "StatsSink", "MinHashLSH",
    "Components", "ManifestTable", "BloomSidecar")
  val Schema = StructType(Seq(StructField("id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType)))
}
