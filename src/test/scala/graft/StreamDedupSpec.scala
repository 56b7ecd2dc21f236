package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamDedup

case class SDoc(ts: Timestamp, text: String)

class StreamDedupSpec extends SparkSpec {
  import spark.implicits._

  private def at(hour: Int, min: Int = 0): Timestamp =
    Timestamp.valueOf(f"2024-01-01 $hour%02d:$min%02d:00")

  test("streaming exact dedup keeps first arrival, drops repeats in horizon") {
    implicit val sq = spark.sqlContext
    val source = MemoryStream[SDoc]
    val q = StreamDedup.dedupExactStream(source.toDS().toDF(), lateness = "1 hour")
      .writeStream.format("memory").queryName("sdedup")
      .outputMode(OutputMode.Append()).start()
    // batch 1: an in-batch duplicate of "alpha"
    source.addData(SDoc(at(0), "alpha"), SDoc(at(0, 10), "beta"),
      SDoc(at(0, 20), "alpha"))
    q.processAllAvailable()
    // batch 2: a cross-batch duplicate (within the horizon) + a new doc
    source.addData(SDoc(at(0, 30), "alpha"), SDoc(at(0, 40), "gamma"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sdedup")
      .select($"text", $"ts").as[(String, Timestamp)].collect().toSeq
    assert(rows.map(_._1).sorted === Seq("alpha", "beta", "gamma"))
    // the SURVIVING alpha is the first arrival
    assert(rows.filter(_._1 == "alpha").map(_._2) === Seq(at(0)))
  }

  test("stream dedup against a batch corpus index drops known content") {
    implicit val sq = spark.sqlContext
    import org.apache.spark.sql.functions.col
    val corpus = Seq("alpha", "beta").toDF("text")
    val index = StreamDedup.fingerprintIndex(corpus).persist()
    val source = MemoryStream[SDoc]
    val q = StreamDedup.dedupAgainstIndex(source.toDS().toDF(), index)
      .writeStream.format("memory").queryName("sidxdedup")
      .outputMode(OutputMode.Append()).start()
    source.addData(SDoc(at(2), "alpha"), SDoc(at(2, 5), "gamma"),
      SDoc(at(2, 10), "beta"), SDoc(at(2, 15), "delta"))
    q.processAllAvailable()
    q.stop()
    val kept = spark.table("sidxdedup").select(col("text"))
      .as[String].collect().toSeq.sorted
    assert(kept === Seq("delta", "gamma"))
    // batch replay of the identical function agrees
    val batch = StreamDedup.dedupAgainstIndex(
        Seq(SDoc(at(2), "alpha"), SDoc(at(2, 5), "gamma"),
          SDoc(at(2, 10), "beta"), SDoc(at(2, 15), "delta")).toDF(), index)
      .select(col("text")).as[String].collect().toSeq.sorted
    assert(batch === kept)
    index.unpersist()
  }

  test("streaming dedup matches the batch first-per-fingerprint result") {
    implicit val sq = spark.sqlContext
    val docs = Seq(
      SDoc(at(1), "x"), SDoc(at(1, 5), "y"), SDoc(at(1, 10), "x"),
      SDoc(at(1, 15), "z"), SDoc(at(1, 20), "y"), SDoc(at(1, 25), "w"))
    val batch = docs.groupBy(_.text).map { case (_, ds) => ds.minBy(_.ts.getTime) }
      .map(d => (d.text, d.ts)).toSet
    val source = MemoryStream[SDoc]
    val q = StreamDedup.dedupExactStream(source.toDS().toDF())
      .writeStream.format("memory").queryName("sdedup2")
      .outputMode(OutputMode.Append()).start()
    source.addData(docs: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sdedup2")
      .select($"text", $"ts").as[(String, Timestamp)].collect().toSet
    assert(streamed === batch)
  }

  test("ingest pipeline: dedup -> quality -> scrub runs identically stream and batch") {
    implicit val sq = spark.sqlContext
    val already = Seq((100L,
      "the well formed corpus document that was ingested before with the " +
        "usual mixture of a the and of to make it pass every quality rule"))
    val arriving = Seq(
      (100L, already.head._2),                           // exact dup of the corpus -> dropped
      (101L, "the fresh document is about a river and a forest with the sun " +
        "over the hills and a long road to the valley by the old mill"),  // kept, clean
      (102L, "short junk"),                              // quality-dropped
      (103L, "the second fresh document is about the sea and the wind in the " +
        "sails of a boat mail me at sailor@ships.example.net for the log")) // kept, scrubbed
    val idx = graft.streaming.StreamDedup.fingerprintIndex(
      already.toDF("id", "text")).persist()
    val source = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.pipeline(
        source.toDS().toDF("id", "text"), idx)
      .writeStream.format("memory").queryName("ingest")
      .outputMode(OutputMode.Append()).start()
    source.addData(arriving: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("ingest").select("id", "text")
      .as[(Long, String)].collect().toMap
    assert(streamed.keySet === Set(101L, 103L))
    assert(streamed(103L).contains("<EMAIL>") && !streamed(103L).contains("@"))
    // batch replay of the identical pipeline function
    val batch = graft.streaming.Ingest.pipeline(arriving.toDF("id", "text"), idx)
      .select("id", "text").as[(Long, String)].collect().toMap
    assert(streamed === batch)
    idx.unpersist()
  }

  test("index maintenance is O(batch): each batch appends one segment of survivor fingerprints") {
    // VERDICT r8 #1: the r8 index rewrote union.distinct of the WHOLE
    // accumulated index per micro-batch (O(corpus) shuffle+write). The
    // segmented layout must write only the batch's survivors.
    val root = java.nio.file.Files.createTempDirectory("graft-seg").toString
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    // the segment store is manifest-committed: data files live under
    // segments/data, named by the manifest
    def segFiles() = {
      val d = new java.io.File(s"$index/segments/data")
      if (!d.exists()) Set.empty[String]
      else d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    def rowsIn(files: Set[String]): Long =
      if (files.isEmpty) 0L
      else spark.read.parquet(
        files.map(f => s"$index/segments/data/$f").toSeq: _*).count()
    def mk(id: Long, tail: String) = (id,
      s"the corpus document tagged $tail is about a river and a forest " +
        "with the sun over the hills and a road to the valley by the old mill")
    graft.streaming.Ingest.ingestBatchCommitted(
      Seq(mk(1, "one"), mk(2, "two"), mk(3, "three")).toDF("id", "text"),
      corpus, index, "b0")
    val after1 = segFiles()
    assert(rowsIn(after1) === 3L)
    // batch 2: two repeats of known content + one new doc — the NEW
    // segment files hold exactly the 1 survivor fingerprint, not 4
    graft.streaming.Ingest.ingestBatchCommitted(
      Seq(mk(10, "one"), mk(11, "two"), mk(4, "four")).toDF("id", "text"),
      corpus, index, "b1")
    val newSeg = segFiles() -- after1
    assert(rowsIn(newSeg) === 1L,
      "per-batch index write must be O(batch survivors), not O(corpus)")
    assert(graft.streaming.Ingest.readIndex(spark, index).count() === 4L)
    assert(graft.ext.ManifestTable.read(spark, corpus).count() === 4L)
    // every live segment file carries its per-file fp bloom (batch 2 ran
    // bloom-routed: two known docs were candidates, the fresh one took
    // the map-side path), and no routing layer is written beside them
    def everyLiveSegmentBloomed() = {
      val snap = graft.ext.ManifestTable.snapshot(spark, s"$index/segments")
      snap.files.nonEmpty && snap.files.forall(f =>
        ParquetBlooms.has(spark, s"$index/segments", f, "fp"))
    }
    assert(everyLiveSegmentBloomed())
    assert(!new java.io.File(s"$index/bloom").exists())
    // periodic maintenance folds segments and rebuilds their blooms
    // without changing semantics
    val (nin, nout) = graft.streaming.Ingest.compactIndex(spark, index)
    assert(nin >= 2 && nout === 1)
    assert(everyLiveSegmentBloomed())
    assert(graft.streaming.Ingest.readIndex(spark, index).count() === 4L)
    // post-compaction, known content still dedups away entirely
    graft.streaming.Ingest.ingestBatchCommitted(
      Seq(mk(20, "four")).toDF("id", "text"), corpus, index, "b2")
    assert(graft.ext.ManifestTable.read(spark, corpus).count() === 4L)
  }

  test("point probes read the exact index pruned to matching segments") {
    // VERDICT r10 #4: the candidate anti-join used to scan EVERY segment
    // ever appended; the manifest-backed store prunes the read to the
    // segments whose stats/blooms admit a candidate fingerprint
    val root = java.nio.file.Files.createTempDirectory("graft-prune").toString
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    def mk(id: Long, tail: String) = (id,
      s"the corpus document tagged $tail is about a river and a forest " +
        "with the sun over the hills and a road to the valley by the old mill")
    (0 until 3).foreach { b =>
      graft.streaming.Ingest.ingestBatchCommitted(
        Seq(mk(b * 10L, s"alpha$b"), mk(b * 10L + 1, s"beta$b"))
          .toDF("id", "text"), corpus, index, s"b$b")
    }
    // cluster the segments on fp: each compacted file covers a
    // near-disjoint fingerprint range, so a point probe prunes on stats
    // alone — deterministically
    graft.streaming.Ingest.compactIndex(spark, index, targetFileBytes = 1024L)
    val seg = s"$index/segments"
    val snap = graft.ext.ManifestTable.snapshot(spark, seg)
    assert(snap.files.size >= 2, "fixture must span multiple segment files")
    def md5hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val (kept, total) = graft.ext.ManifestTable.pruneInfo(spark, seg,
      graft.ext.ManifestTable.inPredicate("fp", Seq(md5hex(mk(0, "alpha0")._2))))
    assert(total === snap.files.size && kept === 1,
      s"selective probe must read 1 of $total segment files, read $kept")
    // and the pruned path changes nothing semantically: a replay of that
    // known text still dedups away entirely
    graft.streaming.Ingest.ingestBatchCommitted(
      Seq((99L, mk(0, "alpha0")._2)).toDF("id", "text"), corpus, index, "b3")
    assert(graft.ext.ManifestTable.read(spark, corpus).count() === 6L)
    assert(graft.streaming.Ingest.readIndex(spark, index).count() === 6L)
  }

  test("full training ingest sink: exact + quality + scrub + near-dup across micro-batches") {
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-full").toString
    val (corpus, exactIdx, nearIdx) =
      (s"$root/corpus", s"$root/exact", s"$root/near")
    val a = (1L, "the first document is about a river and a forest with the " +
      "sun over the hills and a long road to the valley by the old mill")
    val c = (3L, "the third document is about a market in the town square " +
      "where the people sell bread and fruit in the morning so mail a note " +
      "to trader@mart.io for the full list")
    val source = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.pipelineToCorpusFullCommitted(
      source.toDS().toDF("id", "text"), corpus, exactIdx, nearIdx,
      runPrefix = "run", checkpointDir = Some(s"$root/cp"))
    // batch 1: clean unique A, quality junk, PII-bearing C
    source.addData(a, (2L, "short junk"), c)
    q.processAllAvailable()
    // batch 2: exact repeat of A (exact index kills it), a drop-8
    // near-mutation of A (the SIGNATURE probe kills it), fresh D
    source.addData((10L, a._2), (11L, a._2.substring(0, a._2.length - 8)),
      (12L, "the fourth document concerns mountain trails and river " +
        "crossings on the long hike to the northern ridge camp by the lake"))
    q.processAllAvailable()
    // batch 3: raw repeat of PII-bearing C — the exact index keys ARRIVAL
    // text, so it dies at stage 1 even though the corpus stores it scrubbed
    source.addData((13L, c._2))
    q.processAllAvailable()
    q.stop()
    def state() = graft.ext.ManifestTable.read(spark, corpus)
      .select("id", "text").as[(Long, String)].collect().sortBy(_._1).toSeq
    val after = state()
    assert(after.map(_._1) === Seq(1L, 3L, 12L))
    assert(after.count(_._2.contains("<EMAIL>")) === 1)
    // batch 2's content again under a FRESH batch id (a re-sent batch,
    // not a replayed epoch): the manifest cannot absorb it, so the
    // content itself must dedup — exact index, then signature probe
    graft.streaming.Ingest.ingestBatchFullCommitted(
      Seq((10L, a._2), (11L, a._2.substring(0, a._2.length - 8)),
        (12L, "the fourth document concerns mountain trails and river " +
          "crossings on the long hike to the northern ridge camp by the lake"))
        .toDF("id", "text"), corpus, exactIdx, nearIdx, "resend-1")
    assert(state() === after)
  }

  test("committed full sink behind writeStream: epoch-keyed batch ids, manifest-committed corpus") {
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-fullcommit-st").toString
    val (corpus, exactIdx, nearIdx) =
      (s"$root/corpus", s"$root/exact", s"$root/near")
    val a = (1L, "the first document is about a river and a forest with the " +
      "sun over the hills and a long road to the valley by the old mill")
    val b = (2L, "the second document is about the sea and the wind in " +
      "the sails of a boat on the long way home to the island harbor")
    val c = (3L, "the third document concerns mountain trails and river " +
      "crossings on the long hike to the northern ridge camp by the lake")
    val source = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.pipelineToCorpusFullCommitted(
      source.toDS().toDF("id", "text"), corpus, exactIdx, nearIdx,
      runPrefix = "run", checkpointDir = Some(s"$root/cp"))
    source.addData(a, b)
    q.processAllAvailable()          // epoch 0 → batch id "run-0"
    source.addData(c, (10L, a._2))   // exact repeat of A dies at stage 1
    q.processAllAvailable()          // epoch 1 → batch id "run-1"
    q.stop()
    def state() = graft.ext.ManifestTable.read(spark, corpus)
      .select("id").as[Long].collect().toSeq.sorted
    val after = state()
    assert(after === Seq(1L, 2L, 3L))
    // crash-replay of epoch 1 through the batch API under its
    // epoch-keyed id: the corpus MANIFEST absorbs it (returns false) —
    // effectively-once by commit protocol, not merely by content dedup
    assert(!graft.streaming.Ingest.ingestBatchFullCommitted(
      Seq(c, (10L, a._2)).toDF("id", "text"),
      corpus, exactIdx, nearIdx, "run-1"))
    assert(state() === after)
  }

  test("self-maintaining corpus: micro-batches dedup against earlier ones; replay appends nothing") {
    implicit val sq = spark.sqlContext
    val root = java.nio.file.Files.createTempDirectory("graft-corpus").toString
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    val docA = (1L, "the first document is about a river and a forest with " +
      "the sun over the hills and a road to the valley by the old mill")
    val docB = (2L, "the second document is about the sea and the wind in " +
      "the sails of a boat on the long way home to the island harbor")
    val docC = (3L, "the third document is about a market in the town square " +
      "where the people sell bread and fruit in the morning light so mail " +
      "a note to trader@mart.io")
    val source = MemoryStream[(Long, String)]
    val q = graft.streaming.Ingest.pipelineToCorpusCommitted(
      source.toDS().toDF("id", "text"), corpus, index,
      runPrefix = "run", checkpointDir = Some(s"$root/cp"))
    // batch 1: A and B, plus an in-batch exact duplicate of A
    source.addData(docA, docB, (10L, docA._2))
    q.processAllAvailable()
    // batch 2: a repeat of A (must dedup against batch 1) and fresh C —
    // C carries PII, so its corpus text differs from its arrival text
    source.addData((11L, docA._2), docC)
    q.processAllAvailable()
    // batch 3: a repeat of PII-bearing C must dedup even though the
    // CORPUS stores only the scrubbed form (the index keys arrival text)
    source.addData((12L, docC._2))
    q.processAllAvailable()
    q.stop()
    def corpusTexts() = graft.ext.ManifestTable.read(spark, corpus)
      .select("text").as[String].collect().sorted.toSeq
    val after = corpusTexts()
    assert(after.size === 3, s"expected A,B,C once each, got ${after.size}")
    assert(after.count(_.contains("<EMAIL>")) === 1)
    assert(graft.streaming.Ingest.readIndex(spark, index).count() === 3)
    // the second micro-batch's content again under a fresh batch id: its
    // fingerprints are already in the index, so re-ingesting appends
    // nothing even though the manifest has never seen this id
    graft.streaming.Ingest.ingestBatchCommitted(
      Seq((11L, docA._2), docC).toDF("id", "text"), corpus, index, "resend-1")
    assert(corpusTexts() === after)
    assert(graft.streaming.Ingest.readIndex(spark, index).count() === 3)
  }

  test("committed ingest: corpus exactly-once by batch id, index self-heals on replay") {
    val root = java.nio.file.Files.createTempDirectory("graft-ingcommit").toString
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    def doc(id: Long, seed: String) = (id,
      s"the $seed document is about a river and a forest with the sun " +
        s"over the hills and a road to the valley by the old mill")
    def corpusRows() = graft.ext.ManifestTable.read(spark, corpus)
      .select("id").as[Long].collect().toSeq.sorted
    assert(graft.streaming.Ingest.ingestBatchCommitted(
      Seq(doc(1, "first"), doc(2, "second")).toDF("id", "text"),
      corpus, index, "b0"))
    // crash window: batch b1's corpus rows COMMIT but the process dies
    // before the index append — simulated by committing the scrubbed
    // survivors directly under b1's id
    graft.ext.ManifestTable.append(
      Seq(doc(3, "third")).toDF("id", "text")
        .withColumn("text", graft.ext.TextAnalysis.scrubPii($"text")),
      corpus, "b1")
    assert(graft.streaming.Ingest.readIndex(spark, index).count() === 2)
    // replay of b1: survivors re-emerge from dedup (fingerprints absent),
    // the corpus append no-ops on the absorbed id — NOT at-least-once —
    // and the index append backfills the missing fingerprints
    assert(!graft.streaming.Ingest.ingestBatchCommitted(
      Seq(doc(3, "third")).toDF("id", "text"), corpus, index, "b1"))
    assert(corpusRows() === Seq(1L, 2L, 3L))
    assert(graft.streaming.Ingest.readIndex(spark, index).count() === 3)
    // a SECOND replay is a full no-op: content dedup empties the batch
    assert(!graft.streaming.Ingest.ingestBatchCommitted(
      Seq(doc(3, "third")).toDF("id", "text"), corpus, index, "b1"))
    assert(corpusRows() === Seq(1L, 2L, 3L))
    assert(graft.streaming.Ingest.readIndex(spark, index).count() === 3)
    // fresh content under a fresh id still commits
    assert(graft.streaming.Ingest.ingestBatchCommitted(
      Seq(doc(4, "fourth")).toDF("id", "text"), corpus, index, "b2"))
    assert(corpusRows() === Seq(1L, 2L, 3L, 4L))
  }

  test("committed ingest + committed stats: every crash window replays to consistent totals") {
    val root = java.nio.file.Files.createTempDirectory("graft-ingcstats").toString
    val (corpus, index, stats) = (s"$root/corpus", s"$root/index", s"$root/stats")
    def doc(id: Long, seed: String, lang: String) = (id,
      s"the $seed document is about a river and a forest with the sun " +
        s"over the hills and a road to the valley by the old mill", lang)
    def totals() = graft.streaming.StatsSink.readCommitted(spark, stats)
      .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(graft.streaming.Ingest.ingestBatchCommitted(
      Seq(doc(1, "first", "en"), doc(2, "second", "de")).toDF("id", "text", "lang"),
      corpus, index, "b0", statsDir = Some(stats)))
    // crash window: b1's STATS commit but the corpus commit dies —
    // simulated by committing the scrubbed survivors' stats under b1
    graft.streaming.StatsSink.appendCommitted(
      Seq(doc(3, "third", "en")).toDF("id", "text", "lang"), stats, "b1")
    // replay: identical survivors re-emerge, stats no-op on the
    // absorbed id, the corpus catches up — totals stay consistent
    assert(graft.streaming.Ingest.ingestBatchCommitted(
      Seq(doc(3, "third", "en")).toDF("id", "text", "lang"),
      corpus, index, "b1", statsDir = Some(stats)))
    assert(totals() === Seq(("de", 1L), ("en", 2L)))
    val fromCorpus = graft.ext.ManifestTable.read(spark, corpus)
      .groupBy("lang").count()
      .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(totals() === fromCorpus)
    // full replay of b1: both stores absorbed the id — nothing moves
    assert(!graft.streaming.Ingest.ingestBatchCommitted(
      Seq(doc(3, "third", "en")).toDF("id", "text", "lang"),
      corpus, index, "b1", statsDir = Some(stats)))
    assert(totals() === Seq(("de", 1L), ("en", 2L)) && totals() === fromCorpus)
  }

  test("committed FULL chain: stats-first ordering replays every crash window to consistent totals") {
    // VERDICT r10 #7: the simple committed sink argues the stats →
    // corpus → index ordering; this walks the same windows through the
    // COMPLETE chain (exact dedup → quality → scrub → near-dup, both
    // indexes), where the near-dup index commits before the exact one.
    val root = java.nio.file.Files.createTempDirectory("graft-fullcommit").toString
    val (corpus, exactIdx, nearIdx, stats) =
      (s"$root/corpus", s"$root/exact", s"$root/near", s"$root/stats")
    // four DISSIMILAR texts: the full chain's near-dup stage must keep
    // all of them (single-seed-word variants of one template would be
    // near-dups of each other and correctly collapse to one)
    val texts = Map(
      1L -> ("the first document is about a river and a forest with the " +
        "sun over the hills and a long road to the valley by the old mill"),
      2L -> ("the second document is about the sea and the wind in the " +
        "sails of a boat on the long way home to the island harbor"),
      3L -> ("the third document is about a market in the town square " +
        "where the people sell bread and fruit in the morning light"),
      4L -> ("the fourth document concerns mountain trails and river " +
        "crossings on the long hike to the northern ridge camp by the lake"))
    def doc(id: Long, seed: String, lang: String) = (id, texts(id), lang)
    def df(rows: Seq[(Long, String, String)]) = rows.toDF("id", "text", "lang")
    def totals() = graft.streaming.StatsSink.readCommitted(spark, stats)
      .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    def corpusLangs() = graft.ext.ManifestTable.read(spark, corpus)
      .groupBy("lang").count()
      .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(graft.streaming.Ingest.ingestBatchFullCommitted(
      df(Seq(doc(1, "first", "en"), doc(2, "second", "de"))),
      corpus, exactIdx, nearIdx, "b0", statsDir = Some(stats)))
    assert(totals() === corpusLangs())
    // window 1: b1's STATS commit, the process dies before the corpus
    // commit — simulated by committing the survivors' stats under b1
    graft.streaming.StatsSink.appendCommitted(
      df(Seq(doc(3, "third", "en"))), stats, "b1")
    // replay: the chain recomputes identical survivors, stats no-op on
    // the absorbed id, corpus and both indexes catch up
    assert(graft.streaming.Ingest.ingestBatchFullCommitted(
      df(Seq(doc(3, "third", "en"))),
      corpus, exactIdx, nearIdx, "b1", statsDir = Some(stats)))
    assert(totals() === Seq(("de", 1L), ("en", 2L)))
    assert(totals() === corpusLangs())
    // window 2: b2 commits stats + corpus + NEAR-dup index, dies before
    // the exact-index append — simulated by running the committed
    // near-dup tail directly on the scrubbed survivors
    graft.streaming.NearDupSink.ingestBatchCommitted(
      df(Seq(doc(4, "fourth", "de")))
        .withColumn("text", graft.ext.TextAnalysis.scrubPii($"text")),
      corpus, nearIdx, "b2", statsDir = Some(stats))
    val exactBefore = graft.streaming.Ingest.readIndex(spark, exactIdx).count()
    // replay of b2: rows re-emerge at stage 1 (exact fp missing), the
    // near-dup probe drops them est-1.0 against their OWN signatures,
    // stats/corpus no-op on the absorbed id — and the exact index
    // BACKFILLS from the pre-near-dup survivors
    assert(!graft.streaming.Ingest.ingestBatchFullCommitted(
      df(Seq(doc(4, "fourth", "de"))),
      corpus, exactIdx, nearIdx, "b2", statsDir = Some(stats)))
    assert(graft.streaming.Ingest.readIndex(spark, exactIdx).count()
      === exactBefore + 1)
    assert(totals() === Seq(("de", 2L), ("en", 2L)))
    assert(totals() === corpusLangs())
    // a third replay vanishes at stage 1 — full no-op, totals frozen
    assert(!graft.streaming.Ingest.ingestBatchFullCommitted(
      df(Seq(doc(4, "fourth", "de"))),
      corpus, exactIdx, nearIdx, "b2", statsDir = Some(stats)))
    assert(totals() === Seq(("de", 2L), ("en", 2L)) && totals() === corpusLangs())
  }

  test("composed stats: ingest-maintained totals track corpus content and survive replay") {
    val root = java.nio.file.Files.createTempDirectory("graft-ingstats").toString
    val (corpus, index, stats) = (s"$root/corpus", s"$root/index", s"$root/stats")
    def doc(id: Long, seed: String, lang: String) = (id,
      s"the $seed document is about a river and a forest with the sun " +
        s"over the hills and a road to the valley by the old mill", lang)
    val b0 = Seq(doc(1, "first", "en"), doc(2, "second", "de"))
    val b1 = Seq(doc(3, "third", "en"), (4L, b0.head._2, "en")) // 4 = exact dup of 1
    Seq(b0, b1).zipWithIndex.foreach { case (b, i) =>
      graft.streaming.Ingest.ingestBatchCommitted(b.toDF("id", "text", "lang"),
        corpus, index, s"b$i", statsDir = Some(stats))
    }
    def totals() = graft.streaming.StatsSink.readCommitted(spark, stats)
      .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // stats describe the CORPUS (survivors), not arrivals: the dup of 1
    // never lands, so en counts 2, de counts 1 — exactly the corpus
    val fromCorpus = graft.ext.ManifestTable.read(spark, corpus)
      .groupBy("lang").count()
      .orderBy("lang").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(totals() === fromCorpus)
    assert(totals() === Seq(("de", 1L), ("en", 2L)))
    // batch 1 re-sent under a fresh id: zero survivors → an empty stats
    // segment — the composed stats inherit the fold's content dedup,
    // not only the manifest's batch-id idempotence
    graft.streaming.Ingest.ingestBatchCommitted(b1.toDF("id", "text", "lang"),
      corpus, index, "resend-1", statsDir = Some(stats))
    assert(totals() === Seq(("de", 1L), ("en", 2L)))
  }
}
