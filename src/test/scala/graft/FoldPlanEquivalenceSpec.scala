package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.core.Measured
import graft.ext.ManifestTable
import graft.streaming.{Ingest, NearDupSink, StatsSink}

/** A fold whose batch is measured small runs on one partition; a larger
  * one keeps the distributed plan. Both plans must fold the same batches
  * into the same corpus, indexes and stats. Each case folds three
  * batches and a replay of the first twice: at the default coalescing
  * minimum partition size (one partition) and with it set below the
  * batch (distributed).
  */
class FoldPlanEquivalenceSpec extends SparkSpec {

  private val Words = Vector("oil", "fan", "gear", "pump", "fuel", "belt",
    "hub", "rim", "tire", "lamp", "door", "seat", "axle", "coil", "ring",
    "head", "cable", "relay", "fuse", "light", "panel", "valve", "brake",
    "wheel", "shaft", "plug", "chain", "motor", "spark", "water")
  private val Stop = Vector("the", "of", "and", "to", "in", "is", "for", "on")
  private val Langs = Vector("en", "de", "fr", "es")

  /** A 30-49 word document, fixed by `key`, that passes the quality
    * filter.
    */
  private def text(key: Long): String = {
    val r = new scala.util.Random(key)
    Seq.fill(30 + r.nextInt(20))(
      if (r.nextInt(3) == 0) Stop(r.nextInt(Stop.size)) else Words(r.nextInt(Words.size))
    ).mkString(" ")
  }

  private def mutate(t: String, at: Int): String =
    t.split(" ").updated(at, "modified").mkString(" ")

  /** One document: its id and text; its language follows `key`, so
    * equal texts carry equal languages (the folds' stats precondition).
    */
  private case class Doc(id: Long, key: Long, text: String)

  /** Batch `b` (ids from `b * 1000`): fresh documents, in-batch exact
    * copies and near-duplicates, e-mail and phone PII, too-short
    * documents, and for `b > 0` exact copies and near-duplicates of
    * batch `b - 1`'s fresh documents.
    */
  private def batch(b: Int): Seq[Doc] = {
    val base = b * 1000L
    def fresh(i: Long) = Doc(base + i, base + i, text(base + i))
    val fresh40 = (0L until 40L).map(fresh)
    val inCopies = (0L until 5L).map(i => fresh40(i.toInt).copy(id = base + 100 + i))
    val inNear = (5L until 10L).map(i =>
      Doc(base + 110 + i, base + i, mutate(fresh40(i.toInt).text, 4)))
    val pii = Seq(
      Doc(base + 200, base + 200, s"${text(base + 200)} mail ann$b@mail.io"),
      Doc(base + 201, base + 201, s"${text(base + 201)} call 555-123-4567"))
    val short = (0L until 3L).map(i => Doc(base + 300 + i, base + 300 + i, s"too short $i"))
    val prev = (b - 1) * 1000L
    val cross = if (b == 0) Nil else
      (10L until 15L).map(i => Doc(base + 400 + i, prev + i, text(prev + i))) ++
        (15L until 20L).map(i => Doc(base + 400 + i, prev + i, mutate(text(prev + i), 6)))
    fresh40 ++ inCopies ++ inNear ++ pii ++ short ++ cross
  }

  /** The keys whose text has more than one copy in its batch: their
    * corpus id is whichever copy the batch-local dedup kept.
    */
  private val copiedKeys: Set[Long] =
    (0 until 3).flatMap(b => (0L until 5L).map(_ + b * 1000L)).toSet

  private def frame(docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(docs.map(d =>
        Row(d.id, d.text, Langs((d.key % 4).toInt))): _*),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType),
        StructField("lang", StringType))))

  /** `body` with adaptive coalescing's minimum partition size below
    * every batch here, so no batch measures small and the folds keep
    * their distributed plans.
    */
  private def distributed[A](body: => A): A = {
    val key = "spark.sql.adaptive.coalescePartitions.minPartitionSize"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "1k")
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-fold-plan-$name").toString

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  /** Three batches and a replay of the first (a no-op), each folded by
    * `fold(frame, batchId)`; asserts the batches measure small exactly
    * when the plan is the one-partition one.
    */
  private def foldAll(small: Boolean, batches: Seq[DataFrame])(
                      fold: (DataFrame, String) => Boolean): Unit = {
    batches.zipWithIndex.foreach { case (df, b) =>
      assert(Measured.oneTask(df) === small)
      assert(fold(df, s"b$b"), s"b$b did not commit")
    }
    assert(!fold(batches.head, "b0"), "the replay of b0 committed again")
  }

  test("the full fold keeps its corpus, both indexes and stats on either plan") {
    def run(small: Boolean): Map[String, Seq[String]] = {
      val root = tmp("full")
      val Seq(corpus, exact, near, stats) =
        Seq("corpus", "exact", "near", "stats").map(d => s"$root/$d")
      foldAll(small, (0 until 3).map(b => frame(batch(b))))((df, id) =>
        Ingest.ingestBatchFullCommitted(df, corpus, exact, near, id,
          statsDir = Some(stats)))
      val docs = ManifestTable.read(spark, corpus)
      val nearRows = NearDupSink.readIndex(spark, near).get
      val keyOf = (0 until 3).flatMap(batch).map(d => d.id -> d.key).toMap
      val unique = docs.collect().filterNot(r => copiedKeys(keyOf(r.getLong(0))))
      Map(
        "corpus (text, lang)" -> rows(docs.select("text", "lang")),
        "corpus rows without in-batch copies" -> unique.map(_.mkString("|")).toSeq.sorted,
        "exact index" -> rows(Ingest.readIndex(spark, exact)),
        "near-dup index by text" -> rows(nearRows
          .join(docs, docs("id") === nearRows("corpus_id"))
          .select("band", "band_hash", "sig_idx", "text")),
        "stats" -> rows(StatsSink.readCommitted(spark, stats)))
    }
    val one = run(small = true)
    val dist = distributed(run(small = false))
    // every planted class reached the corpus or was dropped from it
    assert(one("corpus (text, lang)").exists(_.contains("<EMAIL>")))
    assert(one("corpus (text, lang)").size < (0 until 3).map(batch(_).size).sum)
    one.keys.foreach(k => assert(one(k) === dist(k), k))
  }

  test("the MinHash fold keeps its corpus, index and stats on either plan") {
    def run(small: Boolean): Map[String, Seq[String]] = {
      val root = tmp("minhash")
      val Seq(corpus, index, stats) = Seq("corpus", "index", "stats").map(d => s"$root/$d")
      // the MinHash fold takes no exact dedup: one copy of each text
      val batches = (0 until 3).map(b => frame(batch(b).groupBy(_.text).values
        .map(_.minBy(_.id)).toSeq.sortBy(_.id)))
      foldAll(small, batches)((df, id) =>
        NearDupSink.ingestBatchCommitted(df, corpus, index, id, statsDir = Some(stats)))
      Map(
        "corpus" -> rows(ManifestTable.read(spark, corpus)),
        "index" -> rows(NearDupSink.readIndex(spark, index).get),
        "stats" -> rows(StatsSink.readCommitted(spark, stats)))
    }
    val one = run(small = true)
    val dist = distributed(run(small = false))
    one.keys.foreach(k => assert(one(k) === dist(k), k))
  }

  /** `n` 8-dimensional vectors from id `lo`, a scaled copy of the first
    * (cosine 1.0), and scaled copies of `prev`'s first three vectors.
    */
  private def vectors(lo: Long, prev: Option[Long], n: Int = 20): DataFrame = {
    def vs(seed: Long) = {
      val r = new scala.util.Random(seed)
      Seq.fill(n)(Seq.fill(8)(r.nextGaussian()))
    }
    val own = vs(lo)
    val rows = own.zipWithIndex.map { case (v, i) => Row(lo + i, v) } ++
      Seq(Row(lo + n, own.head.map(_ * 1.01))) ++
      prev.toSeq.flatMap(p => vs(p).take(3).zipWithIndex.map { case (v, i) =>
        Row(lo + n + 1 + i, v.map(_ * 0.99)) })
    spark.createDataFrame(java.util.Arrays.asList(rows: _*),
      StructType(Seq(StructField("id", LongType),
        StructField("v", ArrayType(DoubleType, containsNull = false)))))
  }

  test("the embed fold keeps its corpus and index on either plan") {
    def run(small: Boolean): Map[String, Seq[String]] = {
      val root = tmp("embed")
      val Seq(corpus, index) = Seq("corpus", "index").map(d => s"$root/$d")
      val batches = (0 until 3).map(b =>
        vectors(b * 100L, if (b == 0) None else Some((b - 1) * 100L)))
      foldAll(small, batches)((df, id) =>
        NearDupSink.ingestBatchEmbedCommitted(df, corpus, index, id,
          bits = 4, dims = 8))
      Map(
        "corpus" -> rows(ManifestTable.read(spark, corpus)),
        "index" -> rows(NearDupSink.readIndex(spark, index).get))
    }
    val one = run(small = true)
    val dist = distributed(run(small = false))
    // the in-batch and cross-batch copies are gone
    assert(one("corpus").size === 60)
    one.keys.foreach(k => assert(one(k) === dist(k), k))
  }
}
