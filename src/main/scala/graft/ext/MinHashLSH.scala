package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MinHash + banded LSH near-duplicate detection for training-data
  * pipelines (north-star brief; not in the reference). Design follows the
  * classic shingle → minhash → band → bucket-join shape (Broder '97;
  * Leskovec et al., "Mining of Massive Datasets" ch. 3).
  *
  * Everything is a deterministic Column expression over a portable 60-bit
  * hash (first 15 hex chars of md5), so a SQL oracle can replay the exact
  * signatures — no JVM-specific hashing.
  *
  * Scale design: candidate generation NEVER does an all-pairs join. Docs
  * explode to (band, bandHash) keys — b rows per doc — and candidates are
  * the within-bucket pairs of a self-equi-join on that key (shuffle keyed
  * by band hash, so co-bucketed docs land together). Exact Jaccard
  * verification then touches only candidate pairs. At 100 TB: band-key
  * cardinality ~ docs×b spread uniformly by md5, no hot keys unless true
  * duplicate clusters exist (those are the rows you want together anyway);
  * a giant duplicate cluster can be capped with a per-bucket limit before
  * the pair join.
  */
object MinHashLSH {

  /** Distinct character k-shingles of a text column.
    *
    * Runs as the native [[graft.plans.CharShingles]] expression (one JVM
    * loop per row): the composed form below materializes an interpreted
    * `transform` element per CHARACTER of text — ~7× more elements than
    * word shingles — which made `ngram_jaccard` (two shingle sides per
    * row) the slowest query of the whole bench. [[shinglesSpec]] stays as
    * the SQL-replayable specification, pinned by a parity test.
    */
  def shingles(text: Column, k: Int = 5): Column = {
    graft.plans.GraftFunctions.ensureRegistered(
      org.apache.spark.sql.SparkSession.active)
    call_function("graft_char_shingles", text, lit(k))
  }

  /** The composed-Column specification of [[shingles]]. */
  def shinglesSpec(text: Column, k: Int = 5): Column =
    array_distinct(transform(
      sequence(lit(1), greatest(length(text) - (k - 1), lit(1))),
      i => text.substr(i, lit(k))))

  /** The exact per-row computation of [[graft.plans.CharShingles]]:
    * every k-character window at positions 1..max(len−k+1, 1) (SQL
    * substr semantics, so texts shorter than k yield their single
    * truncated window and "" yields [""]), first-occurrence-distinct —
    * identical to the composed form.
    */
  def charShinglesJvm(text: org.apache.spark.unsafe.types.UTF8String,
                      k: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val len = text.numChars()
    val m = math.max(len - k + 1, 1)
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i < m) {
      // substringSQL is 1-based and clamps at the end — exactly substr(i, k).
      // Each window SHARES the input UTF8String's backing buffer (no copy —
      // that's most of this loop's speed vs the composed form). Safe under
      // Spark's contract that consumers copy into UnsafeRow before the
      // source row is recycled; a consumer holding the array across rows
      // without copying would need .clone() per window here.
      seen.add(text.substringSQL(i + 1, k))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray(Array.empty[AnyRef]))
  }

  /** Distinct word n-gram shingles. For word-based text these are ~7×
    * fewer per document than character shingles at equal-or-better
    * selectivity, which directly divides the per-document hashing cost.
    *
    * Runs as the native [[graft.plans.WordShingles]] expression (one JVM
    * loop per row); [[wordShinglesSpec]] is the equivalent composed
    * Column form kept as the SQL-replayable specification.
    */
  def wordShingles(text: Column, n: Int = 3): Column = {
    graft.plans.GraftFunctions.ensureRegistered(
      org.apache.spark.sql.SparkSession.active)
    call_function("graft_word_shingles", text, lit(n))
  }

  /** The composed-Column specification of [[wordShingles]] (interpreted
    * higher-order functions — correct but per-element slow; the oracle
    * and the parity spec pin the native expression against it).
    */
  def wordShinglesSpec(text: Column, n: Int = 3): Column = {
    val toks = split(trim(text), "\\s+")
    array_distinct(transform(
      sequence(lit(1), greatest(size(toks) - (n - 1), lit(1))),
      i => concat_ws(" ", slice(toks, i, lit(n)))))
  }

  /** The exact per-row computation of [[graft.plans.WordShingles]]:
    * whitespace-split the trimmed text, emit the `max(len - n + 1, 1)`
    * n-gram windows (short texts yield their single sub-n window), keep
    * first-occurrence-distinct — identical to the composed form.
    */
  def wordShinglesJvm(text: org.apache.spark.unsafe.types.UTF8String,
                      n: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val toks = text.toString.trim.split("\\s+", -1)
    val m = math.max(toks.length - n + 1, 1)
    val seen = new java.util.LinkedHashSet[org.apache.spark.unsafe.types.UTF8String]()
    var i = 0
    while (i < m) {
      val end = math.min(i + n, toks.length)
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString))
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      seen.toArray(Array.empty[AnyRef]))
  }

  /** Portable 60-bit hash: first 15 hex chars of md5("<seed>:<s>"). */
  def hash60(seed: Int, s: Column): Column =
    conv(substring(md5(concat(lit(seed.toString), lit(":"), s)), 1, 15), 16, 10)
      .cast("long")

  /** Universal-hash family over a Mersenne prime: h_i(x) = (a_i·x+b_i)
    * mod (2^31−1). One md5 per SHINGLE (28-bit base), then each of the n
    * signature rows is integer multiply-add-mod — 16× fewer md5 calls
    * than hashing every (seed, shingle) pair, and every op is plain
    * 64-bit arithmetic any SQL engine replays exactly (x < 2^28 and
    * a_i < 2^31 keep products under 2^59, no overflow).
    */
  val HashP: Long = 2147483647L
  def aCoef(i: Int): Long = (2654435761L + i.toLong * 40503L) % HashP
  def bCoef(i: Int): Long = i.toLong * 1000003L % HashP

  /** 28-bit base hash of one shingle: first 7 hex chars of its md5. */
  def baseHash(s: Column): Column =
    conv(substring(md5(s), 1, 7), 16, 10).cast("long")

  /** Base-hash array of a shingle array (computed once per document). */
  def baseHashes(sh: Column): Column = transform(sh, s => baseHash(s))

  /** MinHash signature over precomputed base hashes: ONE fold over the
    * shingle hashes with the n running minima as the accumulator array —
    * each element updates all n rows via an indexed transform (the a_i/b_i
    * coefficients are computed from the index with the same formulas as
    * aCoef/bCoef). One traversal of the hash array instead of n.
    */
  def signatureFromHashes(hb: Column, numHashes: Int): Column =
    aggregate(
      hb,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => transform(acc, (m, i) => {
        val iL = i.cast("long")
        val a = (lit(2654435761L) + iL * 40503L) % HashP
        val b = (iL * 1000003L) % HashP
        least(m, (h * a + b) % HashP)
      }))

  /** MinHash signature of a shingle-set column, via the native
    * [[graft.plans.MinHashSignature]] expression: Spark's higher-order
    * functions (`aggregate`/`transform`) evaluate interpreted per
    * element, which made the signature the floor of the near-dup bench;
    * the expression runs the identical math (md5 28-bit base hash +
    * universal-hash minima) as ONE tight JVM loop per row inside
    * whole-stage codegen. [[signatureFromHashes]] remains the
    * SQL-replayable specification — the `minhash_signature` oracle row
    * proves the two agree bit-for-bit.
    */
  def signature(sh: Column, numHashes: Int = 8): Column = {
    graft.plans.GraftFunctions.ensureRegistered(
      org.apache.spark.sql.SparkSession.active)
    call_function("graft_minhash_sig", sh, lit(numHashes))
  }

  /** The exact per-row computation of [[MinHashSignature]]; shared by its
    * interpreted and codegen paths.
    */
  def signatureJvm(shingles: org.apache.spark.sql.catalyst.util.ArrayData,
                   numHashes: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val minima = new Array[Long](numHashes)
    java.util.Arrays.fill(minima, Long.MaxValue)
    val aArr = new Array[Long](numHashes)
    val bArr = new Array[Long](numHashes)
    var i = 0
    while (i < numHashes) { aArr(i) = aCoef(i); bArr(i) = bCoef(i); i += 1 }
    val md = md5Digest.get()
    var j = 0
    val n = shingles.numElements()
    while (j < n) {
      // null elements are skipped, matching the composed spec: a null
      // shingle gives a null base hash, and the least(m, null) fold step
      // in signatureFromHashes keeps the accumulator (ADVICE r3).
      if (shingles.isNullAt(j)) { j += 1 }
      else {
      md.reset()
      val d = md.digest(shingles.getUTF8String(j).getBytes)
      // first 7 hex chars of the md5 == the top 28 bits of the digest —
      // identical to conv(substring(md5(s),1,7),16,10) in baseHash
      val h = ((d(0) & 0xffL) << 20) | ((d(1) & 0xffL) << 12) |
        ((d(2) & 0xffL) << 4) | ((d(3) & 0xffL) >>> 4)
      i = 0
      while (i < numHashes) {
        val v = (h * aArr(i) + bArr(i)) % HashP
        if (v < minima(i)) minima(i) = v
        i += 1
      }
      j += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(minima)
  }

  private val md5Digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Exact Jaccard similarity of two shingle-set columns. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** (band, bandHash, id) rows: the signature cut into `bands` bands of
    * `rowsPerBand` values, each band hashed to one bucket key. Shingle
    * arrays are NOT carried — only the 3 join columns — so the band
    * shuffle moves ~50 bytes per row regardless of document size.
    *
    * Parameter choice matters for skew: with few rows per band, low-
    * entropy corpora (small vocabularies) make unrelated documents share
    * the corpus-wide minimum shingle hash and collapse into giant buckets
    * (quadratic pair blowup). 4 rows per band keeps the false-candidate
    * probability at j^4 per band, so buckets stay near-dup-only.
    */
  /** The (id, sh) shingle frame — the ONE place shingling happens; every
    * downstream stage (signatures, verify) reuses this frame.
    */
  def shingleFrame(df: DataFrame, idCol: String, textCol: String,
                   shingleFn: Column => Column = wordShingles(_, 3)): DataFrame =
    df.select(col(idCol), shingleFn(col(textCol)).as("sh"))

  def bandRows(df: DataFrame, idCol: String, textCol: String,
               numHashes: Int = 16, bands: Int = 4,
               shingleFn: Column => Column = wordShingles(_, 3)): DataFrame =
    bandRowsFromShingles(shingleFrame(df, idCol, textCol, shingleFn), idCol,
      numHashes, bands)

  /** Band rows from a prebuilt (id, sh) frame. */
  def bandRowsFromShingles(sh: DataFrame, idCol: String,
                           numHashes: Int = 16, bands: Int = 4): DataFrame = {
    val rowsPerBand = numHashes / bands
    require(bands * rowsPerBand == numHashes, "bands must divide numHashes")
    sh.withColumn("sig", signature(col("sh"), numHashes))
      .select(col(idCol),
        posexplode(array((0 until bands).map(b =>
          bandHash(col("sig"), b, rowsPerBand)): _*)))
      .withColumnRenamed("pos", "band")
      .withColumnRenamed("col", "band_hash")
  }

  /** The bucket key of signature band `b`: md5 over the '-'-joined
    * string forms of its `rowsPerBand` signature values. The ONE
    * band-hash definition — the batch band rows above and the
    * streaming index ([[graft.streaming.StreamNearDup]]) both call it,
    * so their buckets agree. concat_ws skips nulls, so the key is never
    * null.
    */
  def bandHash(sig: Column, b: Int, rowsPerBand: Int): Column =
    md5(concat_ws("-", (0 until rowsPerBand).map(r =>
      sig.getItem(b * rowsPerBand + r).cast("string")): _*))

  /** Production default for `maxBucketSize` on the [[nearDupPairs]] /
    * [[graft.ext.Components.nearDupKeep]] paths: a 10 000-id bucket
    * expands to ~5×10⁷ in-bucket pairs — already hours of verify work if
    * it recurs — while real near-dup CLUSTERS (boilerplate, templates,
    * mirrored sites) routinely exceed it and are exactly the degenerate
    * quadratic an adversarial 100 TB corpus would exploit. Dropped
    * buckets are reported through the audit sink, never silent.
    */
  val DefaultMaxBucketSize = 10000

  /** Colliding LSH buckets — one row per (band, band_hash) holding ≥ 2
    * documents, ids sorted. Output-scale, not corpus-scale: singleton
    * buckets (the vast majority) are filtered before this frame exists,
    * so persisting it is cheap and lets candidate pairs AND the dropped-
    * bucket audit derive from one band-row pass.
    */
  def collidingBuckets(bandRows: DataFrame, idCol: String): DataFrame =
    bandRows
      .groupBy("band", "band_hash")
      .agg(sort_array(collect_list(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)

  private def pairsFromBuckets(buckets: DataFrame,
                               maxBucketSize: Int): DataFrame =
    buckets
      .filter(size(col("ids")) <= maxBucketSize)
      .select(explode(flatten(transform(col("ids"), (x, i) =>
        transform(slice(col("ids"), i + lit(2), size(col("ids"))), y =>
          struct(x.as("a"), y.as("b")))))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .distinct()

  /** Candidate pairs (a < b) sharing at least one LSH bucket. Instead of
    * a self-join (which would execute the signature subplan twice), docs
    * are grouped per bucket and the within-bucket pairs are expanded from
    * the collected id list — one shuffle on the band key, signatures
    * computed once. Buckets are near-dup clusters by construction (4-row
    * bands), so the in-bucket quadratic expansion is bounded.
    *
    * @param maxBucketSize cap on ids per bucket: larger buckets are
    *        DROPPED before pair expansion, bounding the worst case on
    *        adversarial corpora (e.g. millions of identical documents
    *        collapsing into one bucket → quadratic blowup) at the price of
    *        missing pairs inside dropped buckets. Int.MaxValue = no cap.
    *        Use [[droppedBuckets]] to audit what a cap discards.
    */
  def candidatePairsFromBands(bandRows: DataFrame, idCol: String,
                              maxBucketSize: Int = Int.MaxValue): DataFrame =
    pairsFromBuckets(collidingBuckets(bandRows, idCol), maxBucketSize)

  def candidatePairs(df: DataFrame, idCol: String, textCol: String,
                     numHashes: Int = 16, bands: Int = 4,
                     shingleFn: Column => Column = wordShingles(_, 3),
                     maxBucketSize: Int = Int.MaxValue): DataFrame =
    candidatePairsFromBands(
      bandRows(df, idCol, textCol, numHashes, bands, shingleFn), idCol,
      maxBucketSize)

  /** Buckets a `maxBucketSize` cap would discard: (band, band_hash, n_ids).
    * The audit trail for capped runs — log or sink this alongside the
    * candidate pairs so dropped near-dup clusters are visible, not silent.
    */
  def droppedBuckets(df: DataFrame, idCol: String, textCol: String,
                     maxBucketSize: Int, numHashes: Int = 16, bands: Int = 4,
                     shingleFn: Column => Column = wordShingles(_, 3)): DataFrame =
    bandRows(df, idCol, textCol, numHashes, bands, shingleFn)
      .groupBy("band", "band_hash")
      .agg(count(lit(1)).as("n_ids"))
      .filter(col("n_ids") > maxBucketSize)

  /** Default audit sink for capped runs: one aggregate over the
    * (cached, output-scale) colliding-bucket frame; logs a WARN with the
    * dropped bucket/member counts when anything was discarded, stays
    * silent otherwise. In [[nearDupPairs]] it is that frame's FIRST
    * action, so it also pays the band-row pass and the bucket shuffle
    * that build the cache — 5 jobs in the benchmark's fold on a 2000-doc
    * micro-batch, where it is also the first action on the fold's
    * survivors and fills their cache.
    * Swap in a custom sink to persist the audit frame
    * (`_.write.parquet(...)`) or to throw on any drop.
    */
  val logDroppedSink: DataFrame => Unit = { dropped =>
    val r = dropped
      .agg(count(lit(1)).as("n"), coalesce(sum("n_ids"), lit(0L)).as("ids"))
      .head()
    if (r.getLong(0) > 0)
      org.slf4j.LoggerFactory.getLogger(MinHashLSH.getClass).warn(
        s"nearDupPairs: dropped ${r.getLong(0)} hot LSH bucket(s) holding " +
          s"${r.getLong(1)} member ids (over maxBucketSize); pairs inside " +
          "them are NOT emitted — raise maxBucketSize or pre-collapse " +
          "exact duplicates if these clusters matter")
  }

  /** Near-duplicate pairs: LSH candidates verified by exact Jaccard.
    *
    * Plan shape (reworked in r7): the corpus-sized pass is band-row
    * generation alone — shingle → signature → 4 band rows of ~50 bytes,
    * streaming through whole-stage codegen with NOTHING corpus-sized ever
    * persisted (the previous shape cached the full shingle frame, a
    * 5-10x blowup of the text itself — the single biggest memory/IO cost
    * at scale). Only output-scale frames persist: the colliding-bucket
    * frame (singleton buckets filtered out before it materializes),
    * which the audit, the candidate pairs and the candidate ids all
    * read. The candidate pairs and the candidate shingles each feed one
    * plan and are not cached (a cache costs a job of its own to fill).
    * The verify step re-shingles JUST the candidate documents by semi-
    * joining the input down to candidate ids first, so the repeated
    * shingling work — like the shingle-array shuffle — is output-sized,
    * not corpus-sized.
    * Shingling a candidate doc twice costs microseconds (one
    * native-codegen loop); caching every doc's shingles costs a second
    * copy of the corpus.
    *
    * The bucket cap defaults ON ([[DefaultMaxBucketSize]]; r7 verdict #3:
    * a production path must not quadratic on an adversarial corpus unless
    * explicitly told to) and anything it discards is reported through
    * `droppedSink` — eagerly, as the cached bucket frame's first action
    * (so it also builds that cache; the later pair and verify steps
    * re-read it), so a capped run is never silently incomplete. Pass
    * `maxBucketSize = Int.MaxValue` to disable the cap.
    */
  def nearDupPairs(df: DataFrame, idCol: String, textCol: String,
                   threshold: Double, numHashes: Int = 16, bands: Int = 4,
                   shingleFn: Column => Column = wordShingles(_, 3),
                   maxBucketSize: Int = DefaultMaxBucketSize,
                   droppedSink: DataFrame => Unit = logDroppedSink): DataFrame = {
    val buckets = graft.core.Caches.persist(
      collidingBuckets(
        bandRows(df, idCol, textCol, numHashes, bands, shingleFn), idCol))
    droppedSink(buckets
      .filter(size(col("ids")) > maxBucketSize)
      .select(col("band"), col("band_hash"),
        size(col("ids")).cast("long").as("n_ids")))
    val cand = pairsFromBuckets(buckets, maxBucketSize)
    // cand's id set, read off the capped buckets: every member of a
    // bucket of 2..maxBucketSize ids is in one of its pairs. At most one
    // row per band row, never one per pair, so the semi-join's right
    // side stays input-sized without a distinct (and its shuffle stage)
    val candIds = buckets.filter(size(col("ids")) <= maxBucketSize)
      .select(explode(col("ids")).as(idCol))
    // candidate-only shingles, read by BOTH verify sides of the one plan
    // below; not cached, since a cache costs a job of its own to fill
    val shCand = shingleFrame(df.join(candIds, Seq(idCol), "left_semi"),
      idCol, textCol, shingleFn)
    cand
      .join(shCand.select(col(idCol).as("a"), col("sh").as("sh_a")), Seq("a"))
      .join(shCand.select(col(idCol).as("b"), col("sh").as("sh_b")), Seq("b"))
      .withColumn("jac", jaccard(col("sh_a"), col("sh_b")))
      .filter(col("jac") >= threshold)
      .select(col("a"), col("b"), round(col("jac"), 4).as("jaccard"))
  }
}
