package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ext.TextAnalysis

/** Streaming NEAR-duplicate probe — the approximate sibling of
  * [[StreamDedup]] (which is exact-only) and the last member of the dedup
  * family: flag documents arriving on a stream that are near-duplicates
  * of an already-indexed batch corpus.
  *
  * Design (Spark-first): the corpus is distilled ONCE into a static
  * SimHash band index ([[buildIndex]]); the stream side is pure stateless
  * column work — simhash each arriving document, explode its `bands` bit
  * slices, stream-static equi-join on (band, bval), verify candidates
  * with the exact [[TextAnalysis.hammingDist32]], and dedup multi-band
  * agreements with the same first-agreeing-band filter as the batch
  * `simhashNearDup` (both signatures ride on the joined row, so the
  * filter is per-row — no distinct(), no state store). Because no
  * operator holds state, nothing grows with stream length; run in
  * Append (or Update) output mode — Complete requires an aggregation
  * and Spark rejects it for stateless stream-static joins. The same
  * `probe` function applied to a batch frame is the replay oracle
  * (`stream_near_dup_replay`).
  *
  * Scale notes: the index holds one row per (distinct signature, band) —
  * 4 rows of ~30 bytes per distinct signature at the default — so a
  * billion-distinct-signature corpus indexes at ~120 GB spread across
  * executors, joined by Spark as an ordinary shuffled equi-join; persist
  * it (`index.persist()`) so the per-microbatch join does not rescan the
  * corpus parquet, and for small corpora mark it `broadcast(...)` to make
  * each microbatch join map-side. By pigeonhole, candidate generation is
  * EXACT for hamming <= bands-1 (default 4 bands / maxHamming 3): a
  * probe within the threshold of an indexed doc shares at least one
  * 8-bit slice and cannot be missed.
  */
object StreamNearDup {

  private def bitSlice(sh: Column, b: Int, width: Int): Column =
    shiftright(sh, b * width).bitwiseAND((1L << width) - 1)

  private def bandStructs(sh: Column, bands: Int, width: Int): Column =
    array((0 until bands).map(b => struct(
      lit(b).as("band"), bitSlice(sh, b, width).as("bval"))): _*)

  /** Build the static band index over a batch corpus: the corpus
    * collapses to its DISTINCT signatures (ids ride along as a sorted
    * list, so identical-signature clusters cost one row), each exploded
    * into its `bands` (band, bval) slices. Columns:
    * (band, bval, sh_idx, ids).
    */
  def buildIndex(corpus: DataFrame, idCol: String, textCol: String,
                 bands: Int = 4): DataFrame = {
    graft.core.Ids.requireNumericId(corpus, idCol, "StreamNearDup.buildIndex")
    require(32 % bands == 0, s"bands must divide 32, got $bands")
    val width = 32 / bands
    // Null text never pairs: filter the CHEAP column (pushes into the
    // parquet scan), not the computed signature — any isnotnull(sh)
    // filter, explicit or constraint-inferred, gets substituted through
    // the projection and re-evaluates simhash on every row in a second
    // stage. simhash is null only for null text, so post-filter the
    // coalesce sentinel can never fire; its job is to make the column
    // NON-NULLABLE so InferFiltersFromConstraints has nothing to infer
    // from the join/group keys (observed in PLANS.md before this fix).
    corpus
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        coalesce(TextAnalysis.simhash32(col(textCol)), lit(0L)).as("sh_idx"))
      .groupBy("sh_idx").agg(sort_array(collect_list(col("id"))).as("ids"))
      .select(col("sh_idx"), col("ids"),
        explode(bandStructs(col("sh_idx"), bands, width)).as("bb"))
      .select(col("bb.band").as("band"), col("bb.bval").as("bval"),
        col("sh_idx"), col("ids"))
  }

  /** Probe `docs` — a STREAMING frame (stream-static join) or a batch
    * frame (oracle replay; identical plan shape) — against an index from
    * [[buildIndex]] built with the same `bands`. Emits one row per
    * (probe document, indexed near-duplicate):
    * (probe_id, corpus_id, hamming).
    */
  def probe(docs: DataFrame, index: DataFrame, idCol: String,
            textCol: String, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    graft.core.Ids.requireNumericId(docs, idCol, "StreamNearDup.probe")
    require(32 % bands == 0, s"bands must divide 32, got $bands")
    require(maxHamming <= bands - 1,
      s"banding is only exact for maxHamming <= bands-1 (got $maxHamming/$bands)")
    val width = 32 / bands
    // Cheap-column null filter + non-nullable signature, same rationale
    // as buildIndex: keep constraint inference from rebuilding an
    // expensive isnotnull(simhash(text)) filter stage.
    val probes = docs
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("probe_id"),
        coalesce(TextAnalysis.simhash32(col(textCol)), lit(0L)).as("sh_p"))
      .select(col("probe_id"), col("sh_p"),
        explode(bandStructs(col("sh_p"), bands, width)).as("bb"))
      .select(col("probe_id"), col("sh_p"),
        col("bb.band").as("band"), col("bb.bval").as("bval"))
    // A probe agreeing with an indexed signature in several bands joins
    // once per agreeing band; keeping only the FIRST agreeing band dedups
    // exactly-once statelessly (cf. TextAnalysis.simhashNearDup).
    val firstAgreeingBand = (0 until bands).foldRight(lit(bands)) { (b, rest) =>
      when(bitSlice(col("sh_p"), b, width) === bitSlice(col("sh_idx"), b, width),
        lit(b)).otherwise(rest)
    }
    probes
      .join(index, Seq("band", "bval"))
      .filter(col("band") === firstAgreeingBand)
      .withColumn("hamming",
        TextAnalysis.hammingDist32(col("sh_p"), col("sh_idx")))
      .filter(col("hamming") <= maxHamming)
      .select(col("probe_id"), explode(col("ids")).as("corpus_id"),
        col("hamming").cast("long").as("hamming"))
  }

  // ------------------------------------------------- MinHash variant

  /** (id, sig, band, band_hash) rows — signature banding shared by the
    * MinHash index and probe sides; band_hash is
    * [[graft.ext.MinHashLSH.bandHash]], the batch LSH's own bucket key,
    * NON-nullable by construction — no isnotnull(signature(...))
    * constraint can be inferred into a second evaluation stage. The
    * isnotnull(text) filter below fully removes the null-signature case
    * (signature is null only for null text); the slice-equality filter
    * in [[probeMinHash]] is defense-in-depth only, not a load-bearing
    * guard.
    */
  private def minhashBandRows(docs: DataFrame, idCol: String,
                              textCol: String, numHashes: Int, bands: Int,
                              shingleFn: Column => Column): DataFrame = {
    graft.core.Ids.requireNumericId(docs, idCol, "StreamNearDup (MinHash rows)")
    val rpb = numHashes / bands
    require(bands * rpb == numHashes, "bands must divide numHashes")
    docs
      // cheap source-column filter (pushes into the scan): without it,
      // every null-text row — null signature, concat_ws('') — collapses
      // onto the single md5('') band hash, a quadratic hot key in the
      // probe join that the slice filter only discards AFTER the shuffle
      .filter(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("id"),
        graft.ext.MinHashLSH.signature(shingleFn(col(textCol)), numHashes)
          .as("sig"))
      .select(col("id"), col("sig"),
        explode(array((0 until bands).map { b =>
          struct(lit(b).as("band"),
            graft.ext.MinHashLSH.bandHash(col("sig"), b, rpb).as("band_hash"))
        }: _*)).as("bb"))
      .select(col("id"), col("sig"),
        col("bb.band").as("band"), col("bb.band_hash").as("band_hash"))
  }

  /** Build the static MinHash band index over a batch corpus: one row per
    * (document, band) carrying the full signature (~8 bytes × numHashes
    * per doc — bounded; no shingles, no text). Columns:
    * (band, band_hash, corpus_id, sig_idx).
    */
  def buildMinHashIndex(corpus: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16, bands: Int = 4,
                        shingleFn: Column => Column =
                          graft.ext.MinHashLSH.wordShingles(_, 3)): DataFrame =
    minhashBandRows(corpus, idCol, textCol, numHashes, bands, shingleFn)
      .select(col("band"), col("band_hash"),
        col("id").as("corpus_id"), col("sig").as("sig_idx"))

  /** Probe `docs` — streaming (stream-static join) or batch (oracle
    * replay) — against a [[buildMinHashIndex]] index built with the same
    * parameters. Candidates come from signature-band equality (for any
    * pair with true Jaccard ≥ (1/bands)-probability banding bound, the
    * standard LSH guarantee); verification is the classic MinHash
    * ESTIMATE — the fraction of agreeing signature positions, an
    * unbiased estimator of Jaccard — computed from the two signatures
    * already on the joined row, so the stream side never needs shingles
    * or corpus text. Multi-band agreements dedup via the
    * first-agreeing-SLICE filter (stateless, cf. [[probe]]); a band-hash
    * md5 collision between unequal slices fails every slice comparison
    * and self-filters. Emits (probe_id, corpus_id, est_jaccard).
    *
    * Skew note: a band hash shared by MANY index rows (boilerplate-heavy
    * corpora) makes this join skewed on that key — AQE's skew-join split
    * (on by default) re-plans it at runtime; upstream, the same corpora
    * should cap hot buckets at pair-generation time
    * ([[graft.ext.MinHashLSH.DefaultMaxBucketSize]]) so the index never
    * accumulates an unbounded bucket in the first place.
    */
  def probeMinHash(docs: DataFrame, index: DataFrame, idCol: String,
                   textCol: String, numHashes: Int = 16, bands: Int = 4,
                   minEstJaccard: Double = 0.5,
                   shingleFn: Column => Column =
                     graft.ext.MinHashLSH.wordShingles(_, 3)): DataFrame =
    probeMinHashRows(
      minhashBandRows(docs, idCol, textCol, numHashes, bands, shingleFn)
        .select(col("id").as("probe_id"), col("sig").as("sig_p"),
          col("band"), col("band_hash")),
      index, numHashes, bands, minEstJaccard)

  /** [[probeMinHash]] over PREBUILT probe band rows
    * (probe_id, sig_p, band, band_hash) — the seam that lets a caller
    * who already materialized the batch's band rows (e.g.
    * [[NearDupSink.ingestBatchCommitted]], which needs them again for the segment
    * append) probe without a second shingle+signature pass. Index-shaped
    * rows ([[buildMinHashIndex]]) convert by renaming
    * corpus_id→probe_id, sig_idx→sig_p.
    */
  def probeMinHashRows(probes: DataFrame, index: DataFrame,
                       numHashes: Int = 16, bands: Int = 4,
                       minEstJaccard: Double = 0.5): DataFrame = {
    val rpb = numHashes / bands
    require(bands * rpb == numHashes, "bands must divide numHashes")
    def sliceEq(b: Int): Column =
      slice(col("sig_p"), b * rpb + 1, rpb) ===
        slice(col("sig_idx"), b * rpb + 1, rpb)
    val firstAgreeingSlice = (0 until bands).foldRight(lit(bands)) { (b, rest) =>
      when(sliceEq(b), lit(b)).otherwise(rest)
    }
    val agreeing = (0 until numHashes).map(i =>
      when(col("sig_p").getItem(i) === col("sig_idx").getItem(i), 1)
        .otherwise(0)).reduce(_ + _)
    probes
      .join(index, Seq("band", "band_hash"))
      .filter(col("band") === firstAgreeingSlice)
      .withColumn("est_jaccard", agreeing / lit(numHashes.toDouble))
      .filter(col("est_jaccard") >= minEstJaccard)
      .select(col("probe_id"), col("corpus_id"), col("est_jaccard"))
  }

  // ------------------------------------------------ embedding variant

  /** (id, v, bks, tbl, bk) rows — each vector's `tables` independent
    * hyperplane-LSH bucket ids ([[graft.ext.Similarity.bucket]], family
    * t at planeOffset t*bits), exploded to one row per table. Shared by
    * the index and probe sides; the full bucket array rides along for
    * the stateless first-agreeing-table dedup.
    */
  private def embedBucketRows(docs: DataFrame, idCol: String, vecCol: String,
                              bits: Int, dims: Int, tables: Int): DataFrame = {
    graft.core.Ids.requireNumericId(docs, idCol, "StreamNearDup (embed rows)")
    docs
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"))
      .withColumn("bks", array((0 until tables).map(t =>
        graft.ext.Similarity.bucket(col("v"), bits, dims,
          planeOffset = t * bits)): _*))
      .select(col("id"), col("v"), col("bks"), posexplode(col("bks")))
      .withColumnRenamed("pos", "tbl")
      .withColumnRenamed("col", "bk")
  }

  /** Build the static hyperplane-LSH index over a batch vector corpus —
    * the cosine-family sibling of [[buildIndex]]/[[buildMinHashIndex]],
    * completing the streaming near-dup family across all three distance
    * families (hamming, Jaccard, cosine). One row per (vector, table):
    * the row carries the vector and its bucket array so the stream side
    * verifies with EXACT cosine and dedups multi-table agreements
    * without a second corpus join (the MinHash index's
    * signatures-ride-along principle; ~8·dims B + tables·8 B per row).
    * Columns: (tbl, bk, corpus_id, v_idx, bks_idx).
    */
  def buildEmbedIndex(corpus: DataFrame, idCol: String, vecCol: String,
                      bits: Int = 6, dims: Int = 64,
                      tables: Int = 2): DataFrame =
    embedBucketRows(corpus, idCol, vecCol, bits, dims, tables)
      .select(col("tbl"), col("bk"), col("id").as("corpus_id"),
        col("v").as("v_idx"), col("bks").as("bks_idx"))

  /** Probe `docs` — streaming (stream-static join) or batch (oracle
    * replay) — against a [[buildEmbedIndex]] index built with the same
    * parameters. Candidates come from bucket equality in any of the
    * `tables` hyperplane families; verification is exact cosine between
    * the probe vector and the indexed vector already on the joined row;
    * multi-table agreements dedup via the stateless first-agreeing-table
    * filter (cf. [[graft.ext.Similarity.embedNearDup]]'s batch form).
    * Emits (probe_id, corpus_id, cos4).
    */
  def probeEmbed(docs: DataFrame, index: DataFrame, idCol: String,
                 vecCol: String, bits: Int = 6, dims: Int = 64,
                 tables: Int = 2, minCos: Double = 0.9): DataFrame =
    probeEmbedRows(
      embedBucketRows(docs, idCol, vecCol, bits, dims, tables)
        .select(col("id").as("probe_id"), col("v").as("v_p"),
          col("bks").as("bks_p"), col("tbl"), col("bk")),
      index, tables, minCos)

  /** [[probeEmbed]] over PREBUILT probe bucket rows
    * (probe_id, v_p, bks_p, tbl, bk) — same single-pass seam as
    * [[probeMinHashRows]]; index-shaped rows ([[buildEmbedIndex]])
    * convert by renaming corpus_id→probe_id, v_idx→v_p, bks_idx→bks_p.
    */
  def probeEmbedRows(probes: DataFrame, index: DataFrame,
                     tables: Int = 2, minCos: Double = 0.9): DataFrame = {
    val firstAgreeingTable = (0 until tables).foldRight(lit(tables)) { (t, rest) =>
      when(col("bks_p").getItem(t) === col("bks_idx").getItem(t), lit(t))
        .otherwise(rest)
    }
    probes
      .join(index, Seq("tbl", "bk"))
      .filter(col("tbl") === firstAgreeingTable)
      .withColumn("cos", graft.ext.Similarity.cosine(col("v_p"), col("v_idx")))
      .filter(col("cos") >= minCos)
      .select(col("probe_id"), col("corpus_id"), round(col("cos"), 4).as("cos4"))
  }
}
