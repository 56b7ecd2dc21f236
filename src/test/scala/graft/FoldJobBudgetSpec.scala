package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.SparkPlanInfo
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.core.Measured
import graft.ext.ManifestTable
import graft.streaming.Ingest

/** The Spark-job budget of one warm micro-batch fold
  * ([[Ingest.ingestBatchFullCommitted]] with stats): every job the fold
  * starts is a fixed driver cost, so the count is pinned exactly and a
  * change that adds one has to say why. A batch measured under the
  * largest shuffle adaptive coalescing puts in one partition (1 MB by
  * default) folds on one partition ([[graft.core.Measured.oneTask]]);
  * one over it keeps the distributed plan, so the gate is pinned from
  * both sides.
  */
class FoldJobBudgetSpec extends SparkSpec {

  private val Words = Vector("oil", "fan", "gear", "pump", "fuel", "belt",
    "hub", "rim", "tire", "lamp", "door", "seat", "axle", "coil", "ring",
    "head", "cable", "relay", "fuse", "light", "panel", "valve", "brake",
    "wheel", "shaft", "plug", "chain", "motor", "spark", "water")
  private val Stop = Vector("the", "of", "and", "to", "in", "is", "for", "on")

  /** A 30-49 word document, fixed by `key`, that passes the quality
    * filter (a stopword in three, short words).
    */
  private def text(key: Long): String = {
    val r = new scala.util.Random(key)
    Seq.fill(30 + r.nextInt(20))(
      if (r.nextInt(3) == 0) Stop(r.nextInt(Stop.size)) else Words(r.nextInt(Words.size))
    ).mkString(" ")
  }

  /** `t` with its word at `at` replaced: a near-duplicate of `t`. */
  private def mutate(t: String, at: Int): String =
    t.split(" ").updated(at, "modified").mkString(" ")

  private val Langs = Vector("en", "de", "fr", "es")

  private def frame(docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map { case (id, t) =>
        Row(id, t, Langs((id % 4).toInt)) }: _*),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType),
        StructField("lang", StringType))))

  /** Two folds into fresh directories with adaptive coalescing's
    * minimum partition size at `minPartition`: the first builds both
    * indexes, the second — the one counted — carries exact copies and
    * near-duplicates of the first fold's documents, quality failures, a
    * PII share, within-batch near-duplicate pairs and fresh documents,
    * read from parquet files when `fromFiles` (as a stream's
    * micro-batch is not local rows).
    * Asserts the second batch measures `small` (a file read measures
    * only once the fold has cached it, so never up front). Returns the
    * second fold's jobs and the `Exchange` nodes its SQL executions
    * planned.
    */
  private def warmFold(minPartition: String, small: Boolean,
                       fromFiles: Boolean = false): (JobCount.Jobs, Int) = {
    val confs = Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> minPartition,
      "spark.sql.autoBroadcastJoinThreshold" -> "10MB",
      "graft.write.rebalance" -> "true",
      "graft.cc.driverMaxEdges" -> "200000")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-fold-jobs").toString
      val Seq(corpus, exact, near, stats) =
        Seq("corpus", "exact", "near", "stats").map(d => s"$root/$d")
      def fold(batch: DataFrame, id: String) =
        Ingest.ingestBatchFullCommitted(batch, corpus, exact, near, id,
          statsDir = Some(stats))
      assert(fold(frame((0L until 200L).map(i => (i, text(i)))), "b0"))
      val second = frame(
        (0L until 20L).map(i => (1000L + i, text(i))) ++
          (20L until 40L).map(i => (1000L + i, mutate(text(i), 3))) ++
          (40L until 60L).map(i => (1000L + i, s"too short $i")) ++
          (60L until 80L).map(i => (1000L + i, s"${text(i + 5000)} mail ann$i@mail.io")) ++
          (80L until 100L).flatMap(i => Seq((1000L + i, text(i + 6000)),
            (2000L + i, mutate(text(i + 6000), 5)))) ++
          (100L until 200L).map(i => (1000L + i, text(i + 7000))))
      val batch = if (!fromFiles) second else {
        second.write.parquet(s"$root/batch")
        spark.read.parquet(s"$root/batch")
      }
      assert(Measured.oneTask(batch) === (small && !fromFiles))
      val exchanges = new AtomicInteger()
      val listener = new SparkListener {
        override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
          case s: SparkListenerSQLExecutionStart =>
            def count(p: SparkPlanInfo): Int =
              (if (p.nodeName == "Exchange") 1 else 0) + p.children.map(count).sum
            exchanges.addAndGet(count(s.sparkPlanInfo))
          case _ => ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      val (committed, jobs) =
        try JobCount.during(fold(batch, "b1"))
        finally spark.sparkContext.removeSparkListener(listener)
      assert(committed)
      // copies and short documents are gone, the e-mail addresses
      // scrubbed, fresh documents kept; LSH may miss a near-duplicate,
      // but most of each planted group goes (the probe and the
      // within-batch pairs both fire)
      val kept = ManifestTable.read(spark, corpus).where("id >= 1000")
        .select("id", "text").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      def keptOf(ids: Seq[Long]) = ids.count(kept.contains)
      assert(keptOf(1000L until 1020L) === 0 && keptOf(1040L until 1060L) === 0)
      assert(keptOf(1060L until 1080L) === 20 && keptOf(1080L until 1100L) === 20 &&
        keptOf(1100L until 1200L) === 100)
      assert((1060L until 1080L).forall(kept(_).endsWith("<EMAIL>")))
      assert(keptOf(1020L until 1040L) < 10 && keptOf(2080L until 2100L) < 10)
      (jobs, exchanges.get)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The one-partition fold's jobs by call: 29 on the distributed plan
    * (3, 6, 6, 4, 6, 1, 2, 1 in this order).
    */
  private val OnePartitionSplit = "exact probe 1, MinHashLSH 4, Components 5, " +
    "near-dup probe 4, stats append 4, corpus append 1, near-dup index " +
    "append 2, exact index append 1"

  test("a warm fold with stats runs 22 Spark jobs") {
    val (jobs, _) = warmFold("1MB", small = true)
    assert(jobs.count === 22, s"$OnePartitionSplit; $jobs")
  }

  test("a warm fold over a file-read batch runs 24 Spark jobs") {
    // not measured up front, so the batch-local dedup shuffles before
    // the exact probe caches it (exact probe 3 jobs); the filled cache
    // measures small, and the rest of the fold splits as above
    val (jobs, _) = warmFold("1MB", small = true, fromFiles = true)
    assert(jobs.count === 24, s"exact probe 3, then as $OnePartitionSplit; $jobs")
  }

  test("the one-partition bound is the shuffle AQE coalesces into one partition") {
    def bound(confs: (String, String)*): Long = {
      val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try Measured.oneTaskBytes(spark)
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    val aqe = "spark.sql.adaptive.enabled" -> "true"
    val adv = "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB"
    val minSize = "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1MB"
    // parallelism first (the default): coalescing spreads anything over
    // the minimum partition size across the cores
    assert(bound(aqe, adv, minSize) === (1L << 20))
    assert(bound(aqe, adv, minSize,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false") === (64L << 20))
    assert(bound(aqe, adv, minSize,
      "spark.sql.adaptive.coalescePartitions.parallelismFirst" -> "false",
      "spark.sql.adaptive.coalescePartitions.minPartitionNum" -> "4") === (1L << 20))
    // without coalescing every shuffle keeps its partitions: nothing fits
    assert(bound(aqe, "spark.sql.adaptive.coalescePartitions.enabled" -> "false") === -1L)
    assert(bound("spark.sql.adaptive.enabled" -> "false") === -1L)
  }

  test("a batch over the one-partition bound keeps the distributed plan") {
    // 40k is under the second batch's measured bytes. The fold then
    // plans as without the one-partition rule: 29 jobs and 17 Exchange
    // nodes, the counts of the same fold at this conf before the rule
    val (jobs, exchanges) = warmFold("40k", small = false)
    assert(jobs.count === 29, jobs)
    assert(exchanges === 17, s"$exchanges Exchange nodes planned")
  }
}
