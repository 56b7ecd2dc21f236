package graft

import graft.ext.ManifestTable
import graft.streaming.{BloomSidecar, Ingest}

class BloomSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def mkDir(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-bloom-$tag").toString

  // short common words: 26 words at a mean length of ~3.1 clear every
  // default quality rule, so each batch's distinct texts all land
  private def batch(lo: Int, n: Int = 40) = (lo until lo + n)
    .map(i => (i.toLong, s"doc $i is one of the many short notes we keep " +
      "in the set so that the test has a real body of text to read"))
    .toDF("id", "text")

  test("a 4-batch ingest fold pays O(1) bloom reads per batch, not O(#segments)") {
    val root = mkDir("ingest")
    val corpus = s"$root/corpus"
    val index = s"$root/index"
    def corpusRows() = ManifestTable.read(spark, corpus).count()
    val n0 = ManifestTable.bloomFilesOpened.get()
    (0 until 4).foreach { b =>
      Ingest.ingestBatchCommitted(batch(b * 40), corpus, index, s"b$b")
      if (b == 0) assert(corpusRows() === 40L, "batch 0 must land its rows")
    }
    // each batch lands one segment, whose bloom is read once, by the
    // footer harvest of its own landing write; no probe reads one again
    // (uncached, batches 1-3 would add 1+2+3 = 6 reads)
    assert(ManifestTable.bloomFilesOpened.get() === n0 + 4,
      s"expected 4 bloom reads across 4 batches, got ${ManifestTable.bloomFilesOpened.get() - n0}")
    assert(corpusRows() === 160L)
    // and the fold still deduplicates: batch 2's content re-sent under a
    // fresh batch id appends nothing
    Ingest.ingestBatchCommitted(batch(80), corpus, index, "resend-2")
    assert(corpusRows() === 160L)
  }

  test("an index segment without its per-file bloom turns the gate off, and its keys still dedup") {
    val root = mkDir("unbloomed")
    val (corpus, index) = (s"$root/corpus", s"$root/index")
    val seg = s"$index/segments"
    // a segment holding the fingerprints of content the corpus has never
    // seen, appended before the index declares its `fp` bloom (the
    // table's first append names no bloom column), so it carries none
    val unseen = batch(100, 5)
    ManifestTable.append(unseen.select(
        org.apache.spark.sql.functions.md5($"text").as("fp")),
      seg, "raw")
    val raw = ManifestTable.snapshot(spark, seg).files.last
    Ingest.ingestBatchCommitted(batch(0), corpus, index, "b0")
    assert(ManifestTable.snapshot(spark, seg).bloomCols === Seq("fp"))
    assert(!ParquetBlooms.has(spark, seg, raw, "fp"))
    assert(ManifestTable.keyGate(spark, seg,
      ManifestTable.snapshot(spark, seg), "fp").isEmpty)
    // the bloomed segment alone would reject every one of these rows; a
    // gate that read the missing bloom as "absent" would let them land
    Ingest.ingestBatchCommitted(unseen, corpus, index, "b1")
    assert(ManifestTable.read(spark, corpus).count() === 40L)
  }

  test("a batch with no indexed key reads no index file") {
    CountingFs.install(spark)
    val index = "cfile:///tmp/graft_test/bloom_gate_index"
    org.apache.hadoop.fs.FileSystem.get(new java.net.URI(index),
        spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(index), true)
    val corpus = mkDir("gate") + "/corpus"
    Ingest.ingestBatchCommitted(batch(0), corpus, index, "b0")
    val seg = s"$index/segments"
    val before = ManifestTable.snapshot(spark, seg).files.toSet
    assert(before.nonEmpty)
    val fresh = batch(1000, 5)
      .select(org.apache.spark.sql.functions.md5($"text").as("fp"))
    CountingFs.reset()
    assert(BloomSidecar.probe(spark, index, fresh, "fp").isEmpty)
    Ingest.ingestBatchCommitted(batch(1000, 5), corpus, index, "b1")
    assert(CountingFs.opensUnder(
      new java.net.URI(seg).getPath + "/data/", before) === 0L)
    assert(ManifestTable.read(spark, corpus).count() === 45L)
  }
}
