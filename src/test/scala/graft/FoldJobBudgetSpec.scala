package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import graft.ext.ManifestTable
import graft.streaming.Ingest

/** The Spark-job budget of one warm micro-batch fold
  * ([[Ingest.ingestBatchFullCommitted]] with stats): every job the fold
  * starts is a fixed driver cost, so the count is pinned exactly and a
  * change that adds one has to say why.
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

  test("a warm fold with stats runs 29 Spark jobs") {
    val confs = Seq("spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "10MB",
      "graft.write.rebalance" -> "true",
      "graft.cc.driverMaxEdges" -> "200000")
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val root = java.nio.file.Files.createTempDirectory("graft-fold-jobs").toString
      val Seq(corpus, exact, near, stats) =
        Seq("corpus", "exact", "near", "stats").map(d => s"$root/$d")
      def fold(docs: Seq[(Long, String)], id: String) =
        Ingest.ingestBatchFullCommitted(frame(docs), corpus, exact, near, id,
          statsDir = Some(stats))
      // the first fold builds both indexes
      assert(fold((0L until 200L).map(i => (i, text(i))), "b0"))
      // the second: exact copies and near-duplicates of the first fold's
      // documents, quality failures, a PII share, within-batch
      // near-duplicate pairs and fresh documents
      val second =
        (0L until 20L).map(i => (1000L + i, text(i))) ++
          (20L until 40L).map(i => (1000L + i, mutate(text(i), 3))) ++
          (40L until 60L).map(i => (1000L + i, s"too short $i")) ++
          (60L until 80L).map(i => (1000L + i, s"${text(i + 5000)} mail ann$i@mail.io")) ++
          (80L until 100L).flatMap(i => Seq((1000L + i, text(i + 6000)),
            (2000L + i, mutate(text(i + 6000), 5)))) ++
          (100L until 200L).map(i => (1000L + i, text(i + 7000)))
      val (committed, jobs) = JobCount.during(fold(second, "b1"))
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
      assert(jobs.count === 29, jobs)
    } finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
