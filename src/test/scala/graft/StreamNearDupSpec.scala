package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, min}
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.StreamNearDup

class StreamNearDupSpec extends SparkSpec {
  import spark.implicits._

  // Word-rich texts so the 32-bit simhash has signal; `mut` drops one
  // trailing word — a hamming-small mutation, not a guarantee, so the
  // fixture asserts against the BATCH probe (same code path), plus the
  // planted pairs that banding provably catches (exact dup → hamming 0).
  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2L, "pack my box with five dozen liquor jugs for the long trip home"),
    (3L, "how vexingly quick daft zebras jump over fences in the old zoo"),
    (4L, "sphinx of black quartz judge my vow said the tired museum guide"))

  private val probes = Seq(
    (101L, "the quick brown fox jumps over the lazy dog near the river bank"), // exact dup of 1
    (102L, "pack my box with five dozen liquor jugs for the long trip"),       // near dup of 2
    (103L, "completely unrelated telemetry payload about orbital mechanics data"))

  test("stream probe flags near-dups of the indexed corpus; exact dup at hamming 0") {
    implicit val sq = spark.sqlContext
    val index = StreamNearDup.buildIndex(corpus.toDF("id", "text"), "id", "text")
      .persist()
    val source = MemoryStream[(Long, String)]
    val q = StreamNearDup.probe(
        source.toDS().toDF("id", "text"), index, "id", "text")
      .writeStream.format("memory").queryName("sneardup")
      .outputMode(OutputMode.Append()).start()
    source.addData(probes: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sneardup")
      .as[(Long, Long, Long)].collect().toSet
    // the exact duplicate is provably caught, at hamming 0
    assert(streamed.contains((101L, 1L, 0L)))
    // each flagged pair is within the verify threshold
    assert(streamed.forall(_._3 <= 3))
    // stream == batch replay of the identical probe function
    val batch = StreamNearDup.probe(
        probes.toDF("id", "text"), index, "id", "text")
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed === batch)
    index.unpersist()
  }

  test("probe emits one row per (probe, corpus) pair even when all bands agree") {
    val index = StreamNearDup.buildIndex(corpus.toDF("id", "text"), "id", "text")
    val allBandsAgree = StreamNearDup.probe(
        Seq((9L, corpus.head._2)).toDF("id", "text"), index, "id", "text")
      .as[(Long, Long, Long)].collect().toSeq
    assert(allBandsAgree === Seq((9L, 1L, 0L)))
  }

  test("minhash stream probe flags near-dups; exact dup estimates 1.0") {
    implicit val sq = spark.sqlContext
    val index = StreamNearDup.buildMinHashIndex(
        corpus.toDF("id", "text"), "id", "text")
      .persist()
    val source = MemoryStream[(Long, String)]
    val q = StreamNearDup.probeMinHash(
        source.toDS().toDF("id", "text"), index, "id", "text")
      .writeStream.format("memory").queryName("smhprobe")
      .outputMode(OutputMode.Append()).start()
    source.addData(probes: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("smhprobe")
      .as[(Long, Long, Double)].collect().toSet
    // the exact duplicate agrees in every signature position
    assert(streamed.contains((101L, 1L, 1.0)))
    // every emitted estimate clears the verify threshold
    assert(streamed.forall(_._3 >= 0.5))
    // stream == batch replay of the identical probe function
    val batch = StreamNearDup.probeMinHash(
        probes.toDF("id", "text"), index, "id", "text")
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed === batch)
    index.unpersist()
  }

  test("embedding stream probe flags cosine-close vectors; exact dup at cos 1.0") {
    implicit val sq = spark.sqlContext
    // 8-dim vectors, two planted relations: 201 == 1 exactly, 202 ≈ 2
    // (one component nudged), 203 orthogonal-ish to everything
    val vecCorpus = Seq(
      (1L, Seq(1.0, 0.0, 0.5, 0.0, 0.25, 0.0, 0.0, 0.0)),
      (2L, Seq(0.0, 1.0, 0.0, 0.5, 0.0, 0.25, 0.0, 0.0)),
      (3L, Seq(0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0, 1.0)))
    val vecProbes = Seq(
      (201L, Seq(1.0, 0.0, 0.5, 0.0, 0.25, 0.0, 0.0, 0.0)),
      (202L, Seq(0.0, 1.0, 0.02, 0.5, 0.0, 0.25, 0.0, 0.0)),
      (203L, Seq(-1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 1.0)))
    val index = StreamNearDup.buildEmbedIndex(
        vecCorpus.toDF("id", "v"), "id", "v", bits = 4, dims = 8)
      .persist()
    val source = MemoryStream[(Long, Seq[Double])]
    val q = StreamNearDup.probeEmbed(
        source.toDS().toDF("id", "v"), index, "id", "v", bits = 4, dims = 8)
      .writeStream.format("memory").queryName("sembprobe")
      .outputMode(OutputMode.Append()).start()
    source.addData(vecProbes: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.table("sembprobe")
      .as[(Long, Long, Double)].collect().toSet
    // the exact duplicate vector is found at cosine exactly 1.0
    assert(streamed.contains((201L, 1L, 1.0)))
    // every emitted pair clears the verify threshold; the orthogonal
    // probe matched nothing
    assert(streamed.forall(_._3 >= 0.9))
    assert(!streamed.exists(_._1 == 203L))
    // one row per (probe, corpus) pair even when both tables agree
    assert(streamed.toSeq.map(p => (p._1, p._2)).distinct.size === streamed.size)
    // stream == batch replay of the identical probe function
    val batch = StreamNearDup.probeEmbed(
        vecProbes.toDF("id", "v"), index, "id", "v", bits = 4, dims = 8)
      .as[(Long, Long, Double)].collect().toSet
    assert(streamed === batch)
    index.unpersist()
  }

  test("non-numeric id fails loudly at the operator boundary, not silently as an empty index") {
    // VERDICT r9 #3: a string id used to cast("long") to null, the
    // semi-join dropped every row, and dedup quietly stopped deduping
    val strDocs = Seq(("doc-a", "some words here"), ("doc-b", "other words here"))
      .toDF("id", "text")
    val vecDocs = Seq(("doc-a", Seq(1.0f, 0.0f))).toDF("id", "v")
    for (thrown <- Seq(
      intercept[IllegalArgumentException](
        StreamNearDup.buildIndex(strDocs, "id", "text")),
      intercept[IllegalArgumentException](
        StreamNearDup.probe(strDocs, corpus.toDF("id", "text"), "id", "text")),
      intercept[IllegalArgumentException](
        StreamNearDup.buildMinHashIndex(strDocs, "id", "text")),
      intercept[IllegalArgumentException](
        StreamNearDup.buildEmbedIndex(vecDocs, "id", "v", bits = 2, dims = 2))))
      assert(thrown.getMessage.contains("must be numeric"))
    // the sink folds hit the same guard before touching corpus or index
    val dir = java.nio.file.Files.createTempDirectory("graft-ndsink-strid").toString
    // guarded AT the sink boundary (VERDICT r10 #3), not only
    // transitively via the row builders — both entry points
    for (err <- Seq(
      intercept[IllegalArgumentException](
        graft.streaming.NearDupSink.ingestBatchCommitted(strDocs,
          s"$dir/corpus", s"$dir/index", "b0")),
      intercept[IllegalArgumentException](
        graft.streaming.NearDupSink.ingestBatchEmbedCommitted(vecDocs,
          s"$dir/ecorpus", s"$dir/eindex", "b0", bits = 2, dims = 2))))
      assert(err.getMessage.contains("must be numeric"))
    assert(!new java.io.File(s"$dir/corpus").exists())
    assert(!new java.io.File(s"$dir/ecorpus").exists())
  }

  test("probe rejects a maxHamming the banding cannot certify") {
    val index = StreamNearDup.buildIndex(corpus.toDF("id", "text"), "id", "text")
    intercept[IllegalArgumentException] {
      StreamNearDup.probe(probes.toDF("id", "text"), index, "id", "text",
        bands = 4, maxHamming = 4)
    }
  }

  test("near-dup corpus sink: within-batch keep-one, cross-batch probe drop, O(batch) segments, replay no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndsink").toString
    val (corpusDir, indexDir) = (s"$root/corpus", s"$root/index")
    val a = "the quick brown fox jumps over the lazy dog while the cat naps " +
      "under the warm sun near the old red barn"
    val d = "completely different content about databases indexing and the " +
      "storage engines that compact parquet files for analytics workloads"
    val e = "another unique story concerning mountain trails and river " +
      "crossings on the long hike to the northern ridge camp"
    val b0 = Seq((1L, a), (2L, a.substring(0, a.length - 8)), (3L, d))
      .toDF("id", "text")
    val b1 = Seq((10L, a.substring(0, a.length - 4)), (11L, e))
      .toDF("id", "text")
    assert(graft.streaming.NearDupSink.ingestBatchCommitted(
      b0, corpusDir, indexDir, "b0"))
    def corpusIds() = graft.ext.ManifestTable.read(spark, corpusDir)
      .select("id").as[Long].collect().sorted.toSeq
    // within-batch: the near-dup pair (1, 2) collapses to the MIN id
    assert(corpusIds() === Seq(1L, 3L))
    // manifest-committed segment store: data files under segments/data
    def segRows() = graft.streaming.NearDupSink.readIndex(spark, indexDir).get
    val files1 = new java.io.File(s"$indexDir/segments/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet
    assert(segRows().count() === 2L * 4)  // bands × survivors
    assert(graft.streaming.NearDupSink.ingestBatchCommitted(
      b1, corpusDir, indexDir, "b1"))
    // cross-batch: 10 is a near-dup of indexed 1 (signature-estimate
    // probe) and drops; fresh 11 survives
    assert(corpusIds() === Seq(1L, 3L, 11L))
    // O(batch): the new segment holds only survivor 11's band rows
    val newFiles = new java.io.File(s"$indexDir/segments/data").listFiles()
      .map(_.getName).filter(_.endsWith(".parquet")).toSet -- files1
    assert(spark.read.parquet(
        newFiles.map(f => s"$indexDir/segments/data/$f").toSeq: _*).count() === 4L)
    // every live segment file carries its per-file band_hash bloom, and
    // no routing layer is written beside them
    def everyLiveSegmentBloomed() = {
      val snap = graft.ext.ManifestTable.snapshot(spark,
        s"$indexDir/segments")
      snap.files.nonEmpty && snap.files.forall(f =>
        ParquetBlooms.has(spark, s"$indexDir/segments", f, "band_hash"))
    }
    assert(everyLiveSegmentBloomed())
    assert(!new java.io.File(s"$indexDir/bloom").exists())
    // batch 1's content re-sent under a fresh id appends nothing — to
    // the corpus or the index: identical signatures estimate jaccard 1.0
    // against their own indexed copies
    val segsBefore = segRows().count()
    graft.streaming.NearDupSink.ingestBatchCommitted(
      b1, corpusDir, indexDir, "resend-1")
    assert(corpusIds() === Seq(1L, 3L, 11L))
    assert(segRows().count() === segsBefore)
    val (nin, nout) = graft.streaming.NearDupSink.compactIndex(spark, indexDir)
    assert(nin >= 2 && nout === 1 && everyLiveSegmentBloomed())
    // post-compaction the probe still sees everything
    graft.streaming.NearDupSink.ingestBatchCommitted(
      Seq((20L, a)).toDF("id", "text"), corpusDir, indexDir, "b2")
    assert(corpusIds() === Seq(1L, 3L, 11L))
    // VERDICT r10 #4: re-cluster into small band_hash-ranged files — a
    // selective band-hash probe then reads a strict subset of segments
    val (_, nout2) = graft.streaming.NearDupSink.compactIndex(
      spark, indexDir, targetFileBytes = 1024L)
    assert(nout2 >= 2, "fixture must span multiple segment files")
    val minHash = segRows().agg(min(col("band_hash"))).head.getString(0)
    val (kp, tot) = graft.ext.ManifestTable.pruneInfo(
      spark, s"$indexDir/segments",
      graft.ext.ManifestTable.inPredicate("band_hash", Seq(minHash)))
    assert(tot === nout2 && kp === 1,
      s"selective probe must read 1 of $tot segment files, read $kp")
  }

  test("near-dup sink statsDir: stats track corpus content; committed variant replays to a no-op") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndstats").toString
    val a = "the quick brown fox jumps over the lazy dog while the cat naps " +
      "under the warm sun near the old red barn"
    val e = "another unique story concerning mountain trails and river " +
      "crossings on the long hike to the northern ridge camp"
    // stats describe exactly the fold's survivors — the near-dup of `a`
    // (id 2) is dropped from corpus AND stats — and land under the batch
    // id, so a replay of the same batch id leaves them untouched (no
    // double count)
    val b0 = Seq((1L, a, "en"), (2L, a.substring(0, a.length - 8), "en"),
      (3L, e, "de")).toDF("id", "text", "lang")
    graft.streaming.NearDupSink.ingestBatchCommitted(b0, s"$root/ccorpus",
      s"$root/cindex", "b0", statsDir = Some(s"$root/cstats"))
    def cstats() = graft.streaming.StatsSink
      .readCommitted(spark, s"$root/cstats")
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(cstats() === Seq(("de", 1L), ("en", 1L)))
    val corpusLangs = graft.ext.ManifestTable.read(spark, s"$root/ccorpus")
      .groupBy("lang").count().orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(cstats() === corpusLangs)
    graft.streaming.NearDupSink.ingestBatchCommitted(b0, s"$root/ccorpus",
      s"$root/cindex", "b0", statsDir = Some(s"$root/cstats"))
    assert(cstats() === Seq(("de", 1L), ("en", 1L)))
  }

  test("committed near-dup sink: corpus exactly-once by batch id, signature index self-heals") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndcommit").toString
    val (corpusDir, indexDir) = (s"$root/corpus", s"$root/index")
    val a = "the quick brown fox jumps over the lazy dog while the cat naps " +
      "under the warm sun near the old red barn"
    val e = "another unique story concerning mountain trails and river " +
      "crossings on the long hike to the northern ridge camp"
    def corpusIds() = graft.ext.ManifestTable.read(spark, corpusDir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(graft.streaming.NearDupSink.ingestBatchCommitted(
      Seq((1L, a)).toDF("id", "text"), corpusDir, indexDir, "b0"))
    // crash window: batch b1's corpus rows commit, index append dies —
    // simulated by committing the survivors directly under b1's id
    graft.ext.ManifestTable.append(
      Seq((2L, e)).toDF("id", "text"), corpusDir, "b1")
    def segCount() =
      graft.streaming.NearDupSink.readIndex(spark, indexDir).get.count()
    assert(segCount() === 4L) // only b0's signatures landed
    // replay of b1: survivor re-emerges (signatures missing), corpus
    // no-ops on the absorbed id, index backfills
    assert(!graft.streaming.NearDupSink.ingestBatchCommitted(
      Seq((2L, e)).toDF("id", "text"), corpusDir, indexDir, "b1"))
    assert(corpusIds() === Seq(1L, 2L))
    assert(segCount() === 8L)
    // second replay converges to a full no-op: est-1.0 probe drops it
    assert(!graft.streaming.NearDupSink.ingestBatchCommitted(
      Seq((2L, e)).toDF("id", "text"), corpusDir, indexDir, "b1"))
    assert(corpusIds() === Seq(1L, 2L))
    assert(segCount() === 8L)
  }

  test("committed near-dup sink on batches past the point-probe key bound") {
    // 4 bands x 300 docs = ~1200 band hashes per batch, past
    // BloomSidecar.PointProbeMaxKeys (1024) — the benchmark's batch shape,
    // which the small fixtures above never reach
    val root = java.nio.file.Files.createTempDirectory("graft-ndbig").toString
    val (corpusDir, indexDir) = (s"$root/corpus", s"$root/index")
    val rnd = new scala.util.Random(17)
    def doc(): Seq[String] = Seq.fill(60 + rnd.nextInt(20))(s"w${rnd.nextInt(5000)}")
    val texts0 = Seq.fill(300)(doc())
    val b0 = texts0.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
      .toDF("id", "text")
    // b1: 280 fresh docs plus 20 planted near-dups of b0 docs (last word
    // replaced: one 3-shingle of ~70 differs)
    val planted = (0 until 20).map(i =>
      (1000L + i, (texts0(i * 7).init :+ "zzplanted").mkString(" ")))
    val fresh = (0 until 280).map(i => (2000L + i, doc().mkString(" ")))
    val b1 = (planted ++ fresh).toDF("id", "text")
    val keys = StreamNearDup.buildMinHashIndex(b1, "id", "text")
      .select("band_hash").distinct().count()
    assert(keys > graft.streaming.BloomSidecar.PointProbeMaxKeys,
      s"fixture must exceed the point-probe bound, has $keys band hashes")
    def corpusIds() = graft.ext.ManifestTable.read(spark, corpusDir)
      .select("id").as[Long].collect().toSet
    def segCount() =
      graft.streaming.NearDupSink.readIndex(spark, indexDir).get.count()
    assert(graft.streaming.NearDupSink.ingestBatchCommitted(
      b0, corpusDir, indexDir, "b0"))
    assert(corpusIds() === (0L until 300L).toSet)
    assert(graft.streaming.NearDupSink.ingestBatchCommitted(
      b1, corpusDir, indexDir, "b1"))
    // planted near-dups drop against the index, every fresh doc lands
    assert(corpusIds() === (0L until 300L).toSet ++ fresh.map(_._1))
    val segs = segCount()
    assert(segs === 4L * 580)
    // replay: every survivor's band hashes are bloom-positive now (more
    // than the point-probe bound, so the probe reads the full index) and
    // each probes est 1.0 against its own indexed copy — nothing lands,
    // not even index rows
    assert(!graft.streaming.NearDupSink.ingestBatchCommitted(
      b1, corpusDir, indexDir, "b1"))
    assert(corpusIds().size === 580)
    assert(segCount() === segs)
  }

  test("committed embed sink: corpus exactly-once by batch id, bucket index self-heals") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndecommit").toString
    val (corpusDir, indexDir) = (s"$root/corpus", s"$root/index")
    def vec(seed: Int): Seq[Double] =
      (0 until 64).map(j => math.sin(seed * 64 + j).abs + 0.01)
    def batchOf(rows: (Long, Seq[Double])*) =
      rows.toSeq.toDF("id", "v")
    def corpusIds() = graft.ext.ManifestTable.read(spark, corpusDir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(graft.streaming.NearDupSink.ingestBatchEmbedCommitted(
      batchOf((1L, vec(1))), corpusDir, indexDir, "b0"))
    // crash window: b1's corpus commits, bucket-index append dies
    graft.ext.ManifestTable.append(batchOf((2L, vec(2))), corpusDir, "b1")
    def segCount() =
      graft.streaming.NearDupSink.readIndex(spark, indexDir).get.count()
    assert(segCount() === 2L) // only b0's bucket rows (tables=2)
    // replay: vector re-emerges (bucket rows missing), corpus no-ops,
    // index backfills; second replay cosines 1.0 and converges
    assert(!graft.streaming.NearDupSink.ingestBatchEmbedCommitted(
      batchOf((2L, vec(2))), corpusDir, indexDir, "b1"))
    assert(corpusIds() === Seq(1L, 2L) && segCount() === 4L)
    assert(!graft.streaming.NearDupSink.ingestBatchEmbedCommitted(
      batchOf((2L, vec(2))), corpusDir, indexDir, "b1"))
    assert(corpusIds() === Seq(1L, 2L) && segCount() === 4L)
  }

  test("embed near-dup sink: cosine fold with within-batch and cross-batch drops") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndembed").toString
    val (corpusDir, indexDir) = (s"$root/corpus", s"$root/index")
    val base = Seq(0.9, 0.1, 0.2, 0.05, 0.3, 0.15, 0.25, 0.1)
    def scaled(f: Double) = base.map(_ * f)
    val ortho = Seq(-0.1, 0.8, -0.3, 0.4, -0.2, 0.5, -0.4, 0.3)
    val b0 = Seq((1L, base), (2L, scaled(1.01)), (3L, ortho)).toDF("id", "v")
    graft.streaming.NearDupSink.ingestBatchEmbedCommitted(b0, corpusDir,
      indexDir, "b0", bits = 4, dims = 8)
    def ids() = graft.ext.ManifestTable.read(spark, corpusDir)
      .select("id").as[Long].collect().sorted.toSeq
    // scaled copy is cosine 1.0 to base -> within-batch keep-one keeps 1
    assert(ids() === Seq(1L, 3L))
    // cross-batch: 10 ~ base drops via the bucket probe; the NEGATED
    // vector lands in complementary buckets in every table and survives
    val b1 = Seq((10L, base.map(_ + 0.001)), (11L, base.map(-_))).toDF("id", "v")
    graft.streaming.NearDupSink.ingestBatchEmbedCommitted(b1, corpusDir,
      indexDir, "b1", bits = 4, dims = 8)
    assert(ids() === Seq(1L, 3L, 11L))
    // re-sent under a fresh id, b1 appends nothing (identical vector,
    // cosine 1.0 to its copy)
    graft.streaming.NearDupSink.ingestBatchEmbedCommitted(b1, corpusDir,
      indexDir, "resend-1", bits = 4, dims = 8)
    assert(ids() === Seq(1L, 3L, 11L))
  }

  test("embed index compaction clusters on its declared bk key and keeps the fold exact") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndembedc").toString
    val (corpusDir, indexDir) = (s"$root/corpus", s"$root/index")
    val seg = s"$indexDir/segments"
    val base = Seq(0.9, 0.1, 0.2, 0.05, 0.3, 0.15, 0.25, 0.1)
    val ortho = Seq(-0.1, 0.8, -0.3, 0.4, -0.2, 0.5, -0.4, 0.3)
    val b0 = Seq((1L, base), (3L, ortho)).toDF("id", "v")
    val b1 = Seq((11L, base.map(-_))).toDF("id", "v")
    def fold(b: org.apache.spark.sql.DataFrame, id: String) =
      graft.streaming.NearDupSink.ingestBatchEmbedCommitted(b, corpusDir,
        indexDir, id, bits = 4, dims = 8)
    def ids() = graft.ext.ManifestTable.read(spark, corpusDir)
      .select("id").as[Long].collect().sorted.toSeq
    assert(fold(b0, "b0") && fold(b1, "b1"))
    assert(ids() === Seq(1L, 3L, 11L))
    // the caller names no key: compaction clusters on the index's one
    // declared bloom column
    assert(graft.ext.ManifestTable.snapshot(spark, seg).bloomCols === Seq("bk"))
    val (nin, nout) = graft.streaming.NearDupSink.compactIndex(spark, indexDir)
    assert(nin >= 2 && nout === 1)
    val snap = graft.ext.ManifestTable.snapshot(spark, seg)
    assert(snap.files.forall(f => ParquetBlooms.has(spark, seg, f, "bk")))
    assert(graft.ext.ManifestTable.keyGate(spark, seg, snap, "bk").isDefined)
    // a replay of b0 is refused, and the planted near-dup of `base` still
    // drops against the compacted index
    assert(!fold(b0, "b0"))
    assert(fold(Seq((20L, base.map(_ + 0.001))).toDF("id", "v"), "b2"))
    assert(ids() === Seq(1L, 3L, 11L))
  }

  test("a first fold on an empty index caches the batch once: no re-cache warning, both folds commit") {
    val root = java.nio.file.Files.createTempDirectory("graft-ndcache").toString
    val docs = Seq((1L, "one cached frame per fold keeps the block manager honest"),
      (2L, "an empty index routes every survivor straight to the corpus"))
      .toDF("id", "text")
    val vecs = Seq((1L, Seq(0.9, 0.1, 0.2, 0.05, 0.3, 0.15, 0.25, 0.1)),
      (2L, Seq(-0.1, 0.8, -0.3, 0.4, -0.2, 0.5, -0.4, 0.3))).toDF("id", "v")
    val (committed, lines) =
      LogCapture.during("org.apache.spark.sql.execution.CacheManager") {
        (graft.streaming.NearDupSink.ingestBatchCommitted(docs,
            s"$root/corpus", s"$root/index", "b0"),
          graft.streaming.NearDupSink.ingestBatchEmbedCommitted(vecs,
            s"$root/vcorpus", s"$root/vindex", "b0", bits = 4, dims = 8))
      }
    assert(!lines.exists(_.contains("Asked to cache already cached data")),
      lines.mkString("\n"))
    assert(committed === ((true, true)))
    Seq("corpus", "vcorpus").foreach { c =>
      assert(graft.ext.ManifestTable.read(spark, s"$root/$c").count() === 2L)
    }
  }
}
