package graft

import graft.streaming.BloomSidecar

class BloomSidecarSpec extends SparkSpec {
  import spark.implicits._

  private def mkDir(tag: String) =
    java.nio.file.Files.createTempDirectory(s"graft-bloom-$tag").toString

  test("readCached opens each sidecar file once: list-only on no change, incremental on append, rebuild on fold") {
    val dir = mkDir("cache")
    BloomSidecar.write(spark,
      dir, BloomSidecar.build(Seq("a", "b").toDF("k"), "k"))
    val n0 = BloomSidecar.filesOpened.get()
    val f1 = BloomSidecar.readCached(spark, dir).get
    assert(BloomSidecar.filesOpened.get() === n0 + 1)
    // unchanged directory: pure listing, zero opens, same filter object
    val f2 = BloomSidecar.readCached(spark, dir).get
    assert(BloomSidecar.filesOpened.get() === n0 + 1)
    assert(f2 eq f1)
    // append a second sidecar: exactly ONE new open (incremental merge),
    // and the cached union now covers the new keys
    BloomSidecar.write(spark,
      dir, BloomSidecar.build(Seq("c").toDF("k"), "k"))
    val f3 = BloomSidecar.readCached(spark, dir).get
    assert(BloomSidecar.filesOpened.get() === n0 + 2)
    assert(f3.mightContainString("c") && f3.mightContainString("a"))
    // fold rewrites the file set (delete + merged write): the subset
    // check fails and the cache rebuilds from the single folded file
    BloomSidecar.fold(spark, dir)  // opens the 2 files itself
    val nAfterFold = BloomSidecar.filesOpened.get()
    val f4 = BloomSidecar.readCached(spark, dir).get
    assert(BloomSidecar.filesOpened.get() === nAfterFold + 1)
    assert(f4.mightContainString("a") && f4.mightContainString("c"))
  }

  test("a 4-batch ingest fold pays O(1) sidecar opens per batch, not O(#segments)") {
    val root = mkDir("ingest")
    val corpus = s"$root/corpus"
    val index = s"$root/index"
    // short common words: 26 words at a mean length of ~3.1 clear every
    // default quality rule, so each batch's 40 distinct texts all land
    def batch(lo: Int) = (lo until lo + 40)
      .map(i => (i.toLong, s"doc $i is one of the many short notes we keep " +
        "in the set so that the test has a real body of text to read"))
      .toDF("id", "text")
    def corpusRows() = graft.ext.ManifestTable.read(spark, corpus).count()
    val n0 = BloomSidecar.filesOpened.get()
    (0 until 4).foreach { b =>
      graft.streaming.Ingest.ingestBatchCommitted(
        batch(b * 40), corpus, index, s"b$b")
      if (b == 0) assert(corpusRows() === 40L, "batch 0 must land its rows")
    }
    // batch 0 finds no sidecar; batches 1-3 each open exactly the ONE
    // sidecar appended since their previous call (the uncached cost
    // would be 0+1+2+3 = 6 opens)
    assert(BloomSidecar.filesOpened.get() === n0 + 3,
      s"expected 3 opens across 4 batches, got ${BloomSidecar.filesOpened.get() - n0}")
    assert(corpusRows() === 160L)
    // and the fold still deduplicates: batch 2's content re-sent under a
    // fresh batch id appends nothing
    graft.streaming.Ingest.ingestBatchCommitted(batch(80), corpus, index, "resend-2")
    assert(corpusRows() === 160L)
  }

  test("SidecarBloomSpec: the append's bloom pass builds the routing sidecar in the same job") {
    import org.apache.spark.sql.functions.col
    val dir = mkDir("sidecar-append") + "/t"
    var got: Option[org.apache.spark.util.sketch.BloomFilter] = None
    var calls = 0
    val committed = graft.ext.ManifestTable.append(
      Seq("k1", "k2", "k3").toDF("fp"), dir, "b0",
      bloomCols = Seq("fp"),
      sidecarBloom = Some(graft.ext.ManifestTable.SidecarBloomSpec(
        col("fp"), BloomSidecar.ExpectedItems, BloomSidecar.Fpp,
        bf => { got = Some(bf); calls += 1 })))
    assert(committed)
    assert(calls === 1)
    val bf = got.get
    assert(Seq("k1", "k2", "k3").forall(bf.mightContainString))
    // fixed geometry: must merge with a standard sidecar filter
    bf.mergeInPlace(org.apache.spark.util.sketch.BloomFilter.create(
      BloomSidecar.ExpectedItems, BloomSidecar.Fpp))
    // per-file blooms were built by the same pass
    val snap = graft.ext.ManifestTable.snapshot(spark, dir)
    assert(snap.files.nonEmpty)
  }

  test("SidecarBloomSpec: a fully-empty staged batch still sinks an (empty) filter") {
    import org.apache.spark.sql.functions.col
    val dir = mkDir("sidecar-empty") + "/t"
    var calls = 0
    var empt: Option[org.apache.spark.util.sketch.BloomFilter] = None
    graft.ext.ManifestTable.append(
      Seq("seed").toDF("fp").filter(col("fp") === "nope"), dir, "b0",
      bloomCols = Seq("fp"),
      sidecarBloom = Some(graft.ext.ManifestTable.SidecarBloomSpec(
        col("fp"), BloomSidecar.ExpectedItems, BloomSidecar.Fpp,
        bf => { empt = Some(bf); calls += 1 })))
    assert(calls === 1)
    assert(!empt.get.mightContainString("seed"))
  }
}
